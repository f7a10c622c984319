package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** What a workload needs from the run: the session, the tracer, and the
  * operation ledger of the pass in progress. */
final class PassCtx(val spark: SparkSession, val tracer: Tracer,
    val inputs: Path, val scratch: Path, val plant: Option[String]) {
  /** (operation, latency) of every operation run. */
  val latencies = mutable.ArrayBuffer.empty[(String, Double)]
  val ledger = new Ledger
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  /** Traced runs: each operation's own ledger. */
  val opLedgers = mutable.ArrayBuffer.empty[(String, Ledger)]
  /** Time spent checking outputs outside any operation; excluded from
    * the pass's wall time. */
  var checkS = 0.0

  /** One operation: timed, traced when tracing is on, and counted. An
    * exception fails the operation; `body` returns false when its output
    * is wrong. */
  def op(name: String)(body: => Boolean): Option[Ledger] = {
    attempted += 1
    val (ok, secs, l) = tracer.op(name) {
      try body catch { case e: Throwable =>
        failures += s"$name: ${e.toString.take(300)}"; false
      }
    }
    latencies += name -> secs
    if (!ok) {
      failed += 1
      if (!failures.lastOption.exists(_.startsWith(name + ":")))
        failures += s"$name: wrong output"
    }
    l.foreach { led =>
      ledger.addAll(led)
      opLedgers += name -> led
      led.add("op.wall_s", secs)
    }
    l
  }

  /** A streaming query whose operations are its micro-batches, timed by
    * Spark itself (`triggerExecution` of each batch's progress). */
  def batches(name: String)(body: => (Boolean, Seq[StreamingQueryProgress])): Unit = {
    val (res, _, l) = tracer.op(name) {
      try Some(body) catch { case e: Throwable =>
        failures += s"$name: ${e.toString.take(300)}"; None
      }
    }
    val progress = res.fold(Seq.empty[StreamingQueryProgress])(_._2)
    attempted += math.max(1, progress.size)
    latencies ++= progress.map(p =>
      s"$name/batch${p.batchId}" -> EventsStreamWorkload.progressOf(p, "triggerExecution"))
    if (!res.exists(_._1)) failed += 1
    l.foreach { led =>
      def sum(k: String) = progress.map(EventsStreamWorkload.progressOf(_, k)).sum
      led.add("streaming.batches", progress.size)
      led.add("streaming.trigger_s", sum("triggerExecution"))
      led.add("streaming.add_batch_s", sum("addBatch"))
      led.add("streaming.latest_offset_s", sum("latestOffset"))
      led.add("streaming.wal_commit_s", sum("walCommit"))
      val state = progress.lastOption.toSeq.flatMap(_.stateOperators)
      led.max("streaming.state_rows", state.map(_.numRowsTotal).sum.toDouble)
      led.max("streaming.state_bytes", state.map(_.memoryUsedBytes).sum.toDouble)
      led.add("streaming.late_rows_dropped",
        progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble)
      ledger.addAll(led)
      opLedgers += name -> led
      led.add("op.wall_s", progress.map(EventsStreamWorkload.progressOf(_, "triggerExecution")).sum)
    }
  }

  /** Driver work inside an operation that is the benchmark's, not the
    * program's (reading back results); excluded from the pass time. */
  def unclocked[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally checkS += (System.nanoTime() - t0) / 1e9
  }

  /** Output checks that run outside the operations they check. */
  def check(name: String)(body: => Seq[String]): Unit = {
    val t0 = System.nanoTime()
    val problems = try body catch { case e: Throwable => Seq(e.toString.take(300)) }
    checkS += (System.nanoTime() - t0) / 1e9
    if (problems.nonEmpty) {
      failed += problems.size
      failures ++= problems.map(p => s"$name: $p")
    }
  }
}

/** The survey pipelines and the events stream: every source, pipeline,
  * sink and streaming call the program makes, and no query builder. */
final class Etl(benchDir: Path) extends Workload {
  val name = "etl"
  // a pass takes about 10 s: three would not fit the run budget
  // (README.md, "Sizing")
  override val minPasses = 2
  private val survey = new SurveyEtl(2000)
  private val stream = new EventsStreamWorkload(
    Queries.corpus(benchDir, "sf0.01").resolve("events.parquet"), 2)
  private var client = ""
  override def info: Seq[(String, String)] = Seq("limesurveyclient_export" -> client)
  def generate(spark: SparkSession, dir: Path, seed: Long): Unit = {
    survey.generate(spark, dir, seed); stream.generate(spark, dir, seed)
    client = survey.clientExtract()
  }
  def pass(ctx: PassCtx): Unit = { survey.pass(ctx); stream.pass(ctx) }
}

trait Workload {
  def name: String
  /** Timed passes a run makes at the least, whatever `--seconds` says;
    * `wall_s` is their median. */
  val minPasses: Int = 3
  /** Writes the workload's inputs for `seed` under `dir`. */
  def generate(spark: SparkSession, dir: Path, seed: Long): Unit
  /** Runs every operation of the workload once. */
  def pass(ctx: PassCtx): Unit
  /** Findings of the set-up for the run's description line. */
  def info: Seq[(String, String)] = Nil
}

object Workload {
  def all(benchDir: Path): Map[String, Workload] =
    Seq(new QueryWorkload(benchDir), new Etl(benchDir)).map(w => w.name -> w).toMap

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  /** JSON string literal. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
