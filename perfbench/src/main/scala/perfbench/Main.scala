package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up, warm up, then run passes of one workload in
  * a closed loop for the requested seconds. Invoked by `run.py`.
  *
  *   --workload NAME --seed N --seconds S --trace 0|1 --work DIR
  *   --bench-dir DIR [--plant fail|wrong|delay]
  *
  * Writes the result line to `DIR/result.json` and, when traced, the
  * spans and per-operation ledgers to `DIR/trace.json`. */
object Main {
  /** The session profile graft.Bench measures with. */
  def profile(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  def session(cores: Int, work: Path): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
    val s = profile(cores).foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val benchDir = Paths.get(a("bench-dir")).toAbsolutePath
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val plant = a.get("plant")
    val workload = Workload.all(benchDir)(a("workload"))
    // half the processors run tasks; the other half stay free for the
    // driver thread, JIT compilation and GC, which otherwise compete with
    // the tasks for the same cores (README.md, "Session profile")
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() / 2)
    Files.createDirectories(work)

    // set-up: the session start, the inputs, and one untimed warm pass (the
    // first pass pays class loading, code generation and JIT compilation)
    val ts = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - ts) / 1e9
    val tg = System.nanoTime()
    val inputs = Files.createDirectories(work.resolve("inputs"))
    workload.generate(spark, inputs, seed)
    val generateS = (System.nanoTime() - tg) / 1e9
    val tracer = new Tracer(spark, cores)
    val scratch = Files.createDirectories(work.resolve("scratch"))
    def newPass() = new PassCtx(spark, tracer, inputs, scratch, plant)

    val tw = System.nanoTime()
    val warm = newPass()
    workload.pass(warm)
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + generateS + warmS

    // closed loop: whole passes until the time is up, at least the
    // workload's minPasses. A traced run makes two passes, traced then
    // untraced: the traced pass gives the layer metrics, and its wall time
    // over the untraced one's gives the tracing overhead.
    val passes = mutable.ArrayBuffer.empty[(PassCtx, Double, Boolean)]
    val loop0 = System.nanoTime()
    while (if (traced) passes.size < 2
        else passes.size < workload.minPasses || (System.nanoTime() - loop0) / 1e9 < seconds) {
      val tracedPass = traced && passes.isEmpty
      tracer.setEnabled(tracedPass)
      val ctx = newPass()
      val t0 = System.nanoTime()
      workload.pass(ctx)
      passes += ((ctx, (System.nanoTime() - t0) / 1e9 - ctx.checkS, tracedPass))
    }
    tracer.setEnabled(false)

    val all = warm +: passes.map(_._1)
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    all.flatMap(_.failures).distinct.take(20).foreach(f => System.err.println(s"[perfbench] FAILED $f"))

    val plain = passes.filterNot(_._3)
    val lat = plain.flatMap(_._1.latencies.map(_._2)).sorted.toSeq
    val (tailPct, tailV) = tail(lat)
    val wallS = median(plain.map(_._2).toSeq)

    val retainedMb = retainedHeapMb()

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(("setup_s", setupS, "s"), ("wall_s", wallS, "s"),
        ("retained_heap_mb", retainedMb, "MB"))
      else layerMetrics(passes.filter(_._3).map(_._1).toSeq, cores,
        median(passes.filter(_._3).map(_._2).toSeq) / wallS)
    val errorRate = failed.toDouble / math.max(1, attempted)
    val correct = failed == 0
    val line = "{\"correct\": " + correct + ", \"attempted\": " + attempted +
      ", \"failed\": " + failed + ", \"metrics\": {" + metrics.map { case (k, v, u) =>
        Workload.json(k) + ": {\"value\": " + num(v) + ", \"unit\": " + Workload.json(u) + "}"
      }.mkString(", ") + "}}"
    val info = s"""{"workload": ${Workload.json(workload.name)}, "seed": $seed, "traced": $traced,
      |"error_rate": ${num(errorRate)}, "passes": ${plain.size}, "samples": ${lat.size},
      |"op_p50_s": ${num(percentile(lat, 50))}, "op_tail_s": ${num(tailV)},
      |"tail_percentile": ${num(tailPct)}, "session_s": ${num(sessionS)},
      |"inputs_s": ${num(generateS)}, "warm_pass_s": ${num(warmS)}, "pass_s": [${plain.map(p => num(p._2)).mkString(", ")}],
      |"operations_s": {${plain.lastOption.toSeq.flatMap(_._1.latencies).map { case (k, v) =>
        Workload.json(k) + ": " + num(v) }.mkString(", ")}}, ${workload.info.map { case (k, v) => Workload.json(k) + ": " + Workload.json(v) + ", " }.mkString}"profile": {${profile(cores).map { case (k, v) =>
        Workload.json(k) + ": " + Workload.json(v) }.mkString(", ")}}}""".stripMargin.replace("\n", " ")
    Files.write(work.resolve("info.json"), info.getBytes(StandardCharsets.UTF_8))
    if (traced) Files.write(work.resolve("trace.json"),
      traceJson(tracer, passes.filter(_._3).map(_._1).toSeq).getBytes(StandardCharsets.UTF_8))
    Files.write(work.resolve("result.json"), line.getBytes(StandardCharsets.UTF_8))
    // every result is on disk; stopping the session waits on cleanup the
    // run does not need, so the process ends here
    System.out.flush(); System.err.flush()
    Runtime.getRuntime.halt(0)
  }

  /** Driver heap still in use after full collections: the heap pools'
    * usage as of the last GC. Spark's cleaner releases shuffle and
    * broadcast state for objects the first collection found unreachable,
    * so collect a few times with pauses between. */
  def retainedHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile of sorted samples. */
  def percentile(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.size - 1, math.max(0, math.ceil(p / 100 * sorted.size).toInt - 1)))

  /** The highest percentile that has at least ten samples above it: the
    * sample of rank n - 10, percentile 100 (n - 10) / n. With ten samples
    * or fewer, the maximum (percentile 100). */
  def tail(sorted: Seq[Double]): (Double, Double) = {
    val n = sorted.size
    if (n <= 10) 100.0 -> sorted.lastOption.getOrElse(0.0)
    else 100.0 * (n - 10) / n -> sorted(n - 11)
  }

  val layerNames: Seq[(String, String)] = Seq(
    "sparkentry.build_s" -> "s", "sparkentry.build_jobs" -> "count", "sparkentry.build_gap_s" -> "s",
    "plans.analysis_s" -> "s", "plans.optimization_s" -> "s", "plans.planning_s" -> "s",
    "exec.s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_s" -> "s", "exec.core_util" -> "ratio", "exec.serial_stage_s" -> "s",
    "exec.skew_max_over_median" -> "ratio", "exec.gap_s" -> "s",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.skipped_stage_ratio" -> "ratio",
    "exec.task_retries" -> "count",
    "tables.scan_rows" -> "count", "tables.scan_bytes" -> "bytes",
    "storage.pinned_blocks" -> "count", "storage.pinned_bytes" -> "bytes",
    "sources.rpc_s" -> "s", "sources.rpc_calls" -> "count", "sources.export_bytes" -> "bytes",
    "sources.spool_s" -> "s",
    "pipelines.build_s" -> "s", "pipelines.jobs" -> "count",
    "sinks.csv_s" -> "s", "sinks.warehouse_s" -> "s", "sinks.jdbc_s" -> "s",
    "sinks.rows_written" -> "count", "sinks.bytes_written" -> "bytes", "sinks.files_written" -> "count",
    "streaming.batches" -> "count", "streaming.trigger_s" -> "s", "streaming.add_batch_s" -> "s",
    "streaming.latest_offset_s" -> "s", "streaming.wal_commit_s" -> "s",
    "streaming.state_rows" -> "count", "streaming.state_bytes" -> "bytes",
    "streaming.late_rows_dropped" -> "count",
    "trace.overhead_ratio" -> "ratio", "trace.reconcile_residual_s" -> "s",
    "trace.reconcile_failures" -> "count")

  /** Per-pass layer metrics: the mean over the traced passes. */
  def layerMetrics(traced: Seq[PassCtx], cores: Int, overhead: Double): Seq[(String, Double, String)] = {
    val sum = new Ledger
    traced.foreach(p => sum.addAll(p.ledger))
    val n = traced.size.toDouble
    def per(k: String) = if (Ledger.maxKeys(k)) sum(k) else sum(k) / n
    layerNames.map { case (k, u) =>
      val v = k match {
        case "exec.core_util" =>
          if (sum("exec.s") > 0) sum("exec.task_s") / (sum("exec.s") * cores) else 0.0
        case "exec.skipped_stage_ratio" =>
          if (sum("exec.stage_slots") > 0) sum("exec.skipped_stages") / sum("exec.stage_slots") else 0.0
        case "trace.overhead_ratio" => overhead
        case _ => per(k)
      }
      (k, v, u)
    }
  }

  private def traceJson(t: Tracer, traced: Seq[PassCtx]): String = {
    val spans = t.spans.map(s => s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, """ +
      s""""name": ${Workload.json(s.name)}, "layer": ${Workload.json(s.layer)}, """ +
      s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    val ops = traced.flatMap(_.opLedgers).map { case (name, l) =>
      s"""{"op": ${Workload.json(name)}, "layers": {""" + l.v.map { case (k, v) =>
        Workload.json(k) + ": " + num(v) }.mkString(", ") + "}}"
    }
    "{\"spans\": [" + spans.mkString(",\n") + "],\n\"operations\": [" + ops.mkString(",\n") + "]}"
  }
}
