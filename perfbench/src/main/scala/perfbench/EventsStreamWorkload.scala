package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.streaming.EventsStream

/** `EventsStream.tumblingCounts` and `dedupedEvents` drained with
  * `Trigger.AvailableNow` over a file stream made from a table of real
  * events (`source`, the test corpus's `events`). One operation is one
  * micro-batch. */
final class EventsStreamWorkload(source: Path, triggerFiles: Int) {
  import EventsStreamWorkload._
  /** Three micro-batches per query. */
  private val streamFiles = 3 * triggerFiles

  private var files: Path = _
  private var expectedCounts: Seq[String] = Nil
  private var expectedDeduped: Seq[String] = Nil

  def generate(spark: SparkSession, dir: Path, seed: Long): Unit = {
    val rnd = new Random(seed)
    val base = graft.Tables.normalizeEventTime(spark.read.parquet(source.toString))
      .select(schema.fieldNames.map(org.apache.spark.sql.functions.col): _*)
      .orderBy("ts", "event_id").collect()
      .map(r => r -> toMicros(r.getTimestamp(1)))
    val events = base.length
    val start = base.head._2
    val span = base.last._2 - start
    // file of each event: in time order. In the last batch a seeded share
    // arrives late, stamped with a time from the first batch (a day or more
    // behind the watermark, so dropped); a share is delivered twice in the
    // same file (at-least-once delivery)
    val lastBatch = streamFiles - triggerFiles
    val firstBatchSpan = span / streamFiles * triggerFiles
    val perFile = Array.fill(streamFiles)(Vector.newBuilder[(Row, Long)])
    base.zipWithIndex.foreach { case ((r, us), i) =>
      val f = (i.toLong * streamFiles / events).toInt
      val x = rnd.nextDouble()
      if (f >= lastBatch && x < LateShare) {
        val old = start + (rnd.nextDouble() * (firstBatchSpan - 86400L * 1000000L)).toLong
        perFile(f) += Row.fromSeq(r.toSeq.updated(1, micros(old))) -> old
      } else {
        perFile(f) += r -> us
        if (x > 1 - DupShare) perFile(f) += r -> us
      }
    }
    val batches = perFile.map(b => rnd.shuffle(b.result()))
    files = Files.createDirectories(dir.resolve("stream"))
    val all = batches.zipWithIndex.flatMap { case (b, f) => b.map { case (r, _) =>
      Row.fromSeq(r.toSeq :+ f) } }
    spark.createDataFrame(spark.sparkContext.parallelize(all.toSeq, 4), schema.add("file", IntegerType))
      .repartition(streamFiles, org.apache.spark.sql.functions.col("file"))
      .write.partitionBy("file").parquet(dir.resolve("staged").toString)
    // flatten to one parquet file per stream file; modification times fix
    // the order the file source picks them up in
    (0 until streamFiles).foreach { f =>
      val src = Files.list(dir.resolve("staged").resolve(s"file=$f"))
      val part = try src.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get() finally src.close()
      val dst = files.resolve(f"events-$f%03d.parquet")
      Files.move(part, dst)
      dst.toFile.setLastModified(1700000000000L + f * 1000L)
    }
    Workload.deleteTree(dir.resolve("staged"))
    val (counts, deduped) = simulate(batches.toSeq.map(_.toSeq), triggerFiles)
    expectedCounts = counts; expectedDeduped = deduped
  }

  def pass(ctx: PassCtx): Unit = {
    val spark = ctx.spark
    run(ctx, "tumbling_counts", expectedCounts) { ev => EventsStream.tumblingCounts(ev) }
    run(ctx, "deduped_events", expectedDeduped) { ev => EventsStream.dedupedEvents(ev, Seq("event_id")) }
    spark.catalog.dropTempView("tumbling_counts"); spark.catalog.dropTempView("deduped_events")
  }

  private def run(ctx: PassCtx, q: String, want: Seq[String])(
      plan: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    val spark = ctx.spark
    val ckpt = Files.createTempDirectory(ctx.scratch, q)
    ctx.batches(q) {
      val src = graft.Tables.normalizeEventTime(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", triggerFiles).parquet(files.toString))
      val query = ctx.tracer.span("plan", "plan") { plan(src) }.writeStream
        .format("memory").queryName(q).outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      ctx.tracer.span("stream", "exec") { query.awaitTermination() }
      val progress = query.recentProgress.toSeq.filter(_.numInputRows > 0)
      val got = ctx.unclocked { spark.table(q).collect().toSeq.map(r => SurveyEtl.canon(r.toSeq)) }
      val problems = SurveyEtl.diff(want, got)
      problems.foreach(p => ctx.failures += s"$q: $p")
      (problems.isEmpty, progress)
    }
    Workload.deleteTree(ckpt)
  }
}

object EventsStreamWorkload {
  val LateShare = 0.02
  val DupShare = 0.01
  val LatenessMicros: Long = 2L * 3600L * 1000000L
  val WindowMicros: Long = 3600L * 1000000L

  val schema: StructType = StructType(Seq(StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("props", StringType)))

  private def toMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  private def micros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt); t
  }

  /** Replays the stream batch by batch under the watermark rule: a batch
    * drops rows older than the watermark set by the batches before it
    * (max event time minus the 2 h lateness); append mode emits a window
    * once the final watermark has passed its end. */
  def simulate(files: Seq[Seq[(Row, Long)]], triggerFiles: Int): (Seq[String], Seq[String]) = {
    var wm = Long.MinValue; var maxTs = Long.MinValue
    val kept = Seq.newBuilder[(Row, Long)]
    files.grouped(triggerFiles).foreach { batch =>
      val rows = batch.flatten
      rows.foreach { case e @ (_, us) => if (us >= wm) kept += e }
      maxTs = math.max(maxTs, rows.map(_._2).max)
      wm = maxTs - LatenessMicros
    }
    val live = kept.result()
    val counts = live.groupBy { case (r, us) => (Math.floorDiv(us, WindowMicros), r.getString(3)) }
      .toSeq.filter { case ((w, _), _) => (w + 1) * WindowMicros <= wm }
      .map { case ((w, t), rs) =>
        val cents = rs.map { case (r, _) => math.floor(r.getDouble(4) * 100 + 0.5).toLong }.sum
        SurveyEtl.canon(Seq(micros(w * WindowMicros), micros((w + 1) * WindowMicros), t,
          rs.size.toLong, cents / 100.0))
      }
    val deduped = live.groupBy(_._1.getLong(0)).values.map(_.head._1)
      .map(r => SurveyEtl.canon(r.toSeq)).toSeq
    (counts, deduped)
  }

  def progressOf(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
}
