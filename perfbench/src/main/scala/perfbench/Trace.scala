package perfbench

import scala.collection.mutable

import org.apache.spark.perfbenchshim.BusShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region: name, start, end, parent and the operation it belongs
  * to. `layer` names the program layer whose public function the span
  * wraps (see README.md, "Per-layer metrics"). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    layer: String, startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Layer metrics of one operation (or the sum over a pass). */
final class Ledger {
  val v: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, x: Double): Unit = v(k) = v.getOrElse(k, 0.0) + x
  def max(k: String, x: Double): Unit = v(k) = math.max(v.getOrElse(k, 0.0), x)
  def apply(k: String): Double = v.getOrElse(k, 0.0)
  def addAll(o: Ledger): Unit = o.v.foreach { case (k, x) =>
    if (Ledger.maxKeys(k)) max(k, x) else add(k, x)
  }
}
object Ledger {
  /** Peaks rather than totals. */
  val maxKeys: Set[String] = Set("exec.skew_max_over_median",
    "storage.pinned_blocks", "storage.pinned_bytes", "streaming.state_rows",
    "streaming.state_bytes", "trace.reconcile_residual_s")
}

/** Job/stage/task records from Spark's public listener API. */
final class JobListener extends SparkListener {
  final case class Job(id: Int, group: String, startMs: Long, stageIds: Seq[Int],
      var endMs: Long = -1L)
  final class Stage {
    var tasks = 0; var submitted = false; var startMs = 0L; var endMs = 0L
    var runMs = 0L; var retries = 0
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var inRows = 0L; var inBytes = 0L; var outRows = 0L; var outBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.HashMap.empty[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.JobGroup))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, g, e.time, e.stageIds)
    e.stageIds.foreach(s => stages.getOrElseUpdate(s, new Stage))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.submitted = true; s.tasks = e.stageInfo.numTasks
      s.startMs = e.stageInfo.submissionTime.getOrElse(0L)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.endMs = e.stageInfo.completionTime.getOrElse(s.startMs)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      if (e.taskInfo.attemptNumber > 0 || !e.taskInfo.successful) s.retries += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime; s.taskMs += m.executorRunTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inRows += m.inputMetrics.recordsRead; s.inBytes += m.inputMetrics.bytesRead
        s.outRows += m.outputMetrics.recordsWritten
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }
  /** Removes and returns everything recorded so far. */
  def take(): (Seq[Job], Map[Int, Stage]) = synchronized {
    val j = jobs.values.toSeq; val s = stages.toMap
    jobs.clear(); stages.clear(); (j, s)
  }
}

/** Planning phases of every Dataset action that ran, read from the
  * `QueryExecution` Spark actually executed. */
final class PlanListener extends QueryExecutionListener {
  val phases = mutable.ArrayBuffer.empty[(String, Map[String, Long])]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { phases += funcName -> Tracer.phasesOf(qe) }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  def take(): Seq[(String, Map[String, Long])] = synchronized {
    val r = phases.toList; phases.clear(); r
  }
}

/** Spans, job groups and per-operation ledgers. With tracing off only the
  * operation clock runs: no listener, no job groups, no bus drains. */
final class Tracer(spark: SparkSession, val cores: Int) {
  private val sc = spark.sparkContext
  private val jobsL = new JobListener
  private val plansL = new PlanListener
  private var on = false
  // epoch-ms clock of the listener events, mapped onto nanoTime
  private val ms0 = System.currentTimeMillis(); private val ns0 = System.nanoTime()
  private def toMs(ns: Long): Double = ms0 + (ns - ns0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextOp = 0

  def setEnabled(b: Boolean): Unit = {
    if (b && !on) {
      BusShim.drain(sc)
      sc.addSparkListener(jobsL); spark.listenerManager.register(plansL)
    } else if (!b && on) {
      BusShim.drain(sc)
      sc.removeSparkListener(jobsL); spark.listenerManager.unregister(plansL)
      jobsL.take(); plansL.take()
    }
    on = b
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id),
        stack.headOption.fold(-1)(_.op), name, layer, System.nanoTime())
      spans += s; stack = s :: stack
      val prev = sc.getLocalProperty(Tracer.JobGroup)
      sc.setLocalProperty(Tracer.JobGroup, s"pb-${s.id}")
      try body
      finally {
        s.endNs = System.nanoTime(); stack = stack.tail
        sc.setLocalProperty(Tracer.JobGroup, prev)
      }
    }

  /** Runs one operation. Returns its wall time, and, when tracing, its
    * ledger. */
  def op[T](name: String)(body: => T): (T, Double, Option[Ledger]) = {
    val id = nextOp; nextOp += 1
    if (!on) {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9, None)
    } else {
      val root = Span(spans.size, -1, id, name, "op", System.nanoTime())
      spans += root; stack = root :: Nil
      val prev = sc.getLocalProperty(Tracer.JobGroup)
      sc.setLocalProperty(Tracer.JobGroup, s"pb-${root.id}")
      val r = try body finally {
        root.endNs = System.nanoTime(); stack = Nil
        sc.setLocalProperty(Tracer.JobGroup, prev)
      }
      (r, root.seconds, Some(ledgerOf(root)))
    }
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  private val execLayers = Set("exec", "sink", "spool")

  private def ledgerOf(root: Span): Ledger = {
    BusShim.drain(sc)
    val (jobs, stages) = jobsL.take()
    val qes = plansL.take()
    val opSpans = spans.filter(s => s.id == root.id || s.op == root.op).toSeq
    val byGroup = opSpans.map(s => s"pb-${s.id}" -> s).toMap
    // a job belongs to the span that set its group; jobs started from
    // threads Spark owns (broadcast builds, stream batches) carry another
    // group and go to the innermost span open when they started
    def spanOf(j: JobListener#Job): Span = byGroup.getOrElse(j.group,
      opSpans.filter(s => toMs(s.startNs) <= j.startMs + 1 && j.startMs <= toMs(s.endNs) + 1)
        .sortBy(s => s.endNs - s.startNs).headOption.getOrElse(root))
    def layerOf(s: Span): String = {
      var cur = s
      while (cur.layer == "op" || cur.layer == "plan") {
        if (cur.parent < 0) return "exec"
        cur = spans(cur.parent)
      }
      cur.layer
    }
    val l = new Ledger
    val jobLayer = jobs.map(j => j -> layerOf(spanOf(j)))
    def iv(js: Seq[JobListener#Job]) =
      js.map(j => (j.startMs.toDouble, math.max(j.endMs, j.startMs).toDouble))
    val buildJobs = jobLayer.collect { case (j, "build") => j }
    val execJobs = jobLayer.collect { case (j, ly) if ly != "build" && ly != "pipeline" => j }
    val pipeJobs = jobLayer.collect { case (j, "pipeline") => j }
    def spansIn(layer: String) = opSpans.filter(_.layer == layer)
    val buildS = spansIn("build").map(_.seconds).sum
    l.add("sparkentry.build_s", buildS)
    l.add("sparkentry.build_jobs", buildJobs.size)
    l.add("sparkentry.build_gap_s", buildS - union(iv(buildJobs)) / 1e3)

    // planning: the final Dataset's QueryExecution when the workload
    // handed it over (queries), otherwise every Dataset action that ran
    val ph = finalPhases.getOrElse(qes.map(_._2).foldLeft(Map.empty[String, Long]) {
      (a, m) => m.foldLeft(a) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) }
    })
    finalPhases = None
    l.add("plans.analysis_s", ph.getOrElse("analysis", 0L) / 1e3)
    l.add("plans.optimization_s", ph.getOrElse("optimization", 0L) / 1e3)
    l.add("plans.planning_s", ph.getOrElse("planning", 0L) / 1e3)

    val execS = union(iv(execJobs)) / 1e3
    l.add("exec.s", execS)
    l.add("exec.jobs", execJobs.size)
    val ex = execJobs.flatMap(j => j.stageIds.flatMap(stages.get)).distinct
    val ran = ex.filter(_.submitted)
    l.add("exec.stages", ran.size)
    l.add("exec.tasks", ran.map(_.tasks).sum)
    val taskS = ran.map(_.runMs).sum / 1e3
    l.add("exec.task_s", taskS)
    l.add("exec.serial_stage_s", ran.filter(_.tasks == 1).map(s => (s.endMs - s.startMs) / 1e3).sum)
    ran.filter(_.taskMs.size >= 4).foreach { s =>
      val sorted = s.taskMs.sorted
      val med = sorted(sorted.size / 2)
      if (med > 0) l.max("exec.skew_max_over_median", sorted.last.toDouble / med)
    }
    val execSpanS = opSpans.filter(s => execLayers(s.layer)).map(_.seconds).sum
    val execSpanJobs = jobLayer.collect { case (j, ly) if execLayers(ly) => j }
    l.add("exec.gap_s", math.max(0.0, execSpanS - union(iv(execSpanJobs)) / 1e3))
    l.add("exec.shuffle_read_bytes", ran.map(_.shuffleRead).sum.toDouble)
    l.add("exec.shuffle_write_bytes", ran.map(_.shuffleWrite).sum.toDouble)
    l.add("exec.spill_bytes", ran.map(_.spill).sum.toDouble)
    l.add("exec.stage_slots", ex.size)
    l.add("exec.skipped_stages", ex.size - ran.size)
    l.add("exec.task_retries", ran.map(_.retries).sum)
    // the whole operation's scans, builder jobs included
    val all = stages.values.filter(_.submitted)
    l.add("tables.scan_rows", all.map(_.inRows).sum.toDouble)
    l.add("tables.scan_bytes", all.map(_.inBytes).sum.toDouble)
    val sinkStages = jobLayer.collect { case (j, "sink") => j }
      .flatMap(j => j.stageIds.flatMap(stages.get)).distinct
    l.add("sinks.rows_written", sinkStages.map(_.outRows).sum.toDouble)
    l.add("sinks.bytes_written", sinkStages.map(_.outBytes).sum.toDouble)
    l.add("pipelines.build_s", spansIn("pipeline").map(_.seconds).sum)
    l.add("pipelines.jobs", pipeJobs.size)
    l.add("sources.rpc_s", spansIn("rpc").map(_.seconds).sum)
    l.add("sources.spool_s", spansIn("spool").map(_.seconds).sum)
    l.add("sinks.csv_s", opSpans.filter(_.name == "csv").map(_.seconds).sum)
    l.add("sinks.warehouse_s", opSpans.filter(_.name == "warehouse").map(_.seconds).sum)
    l.add("sinks.jdbc_s", opSpans.filter(_.name == "jdbc").map(_.seconds).sum)
    // checkpoint and persist blocks the operation left pinned
    val info = sc.getRDDStorageInfo
    l.max("storage.pinned_blocks", info.map(_.numCachedPartitions).sum.toDouble)
    l.max("storage.pinned_bytes", info.map(i => i.memSize + i.diskSize).sum.toDouble)
    // reconciliation (query operations): builder + final-plan phases +
    // action must account for the operation's wall time
    if (spansIn("build").nonEmpty) {
      val residual = root.seconds - (buildS + (ph.getOrElse("optimization", 0L) +
        ph.getOrElse("planning", 0L)) / 1e3 + spansIn("exec").map(_.seconds).sum)
      l.max("trace.reconcile_residual_s", math.abs(residual))
      if (math.abs(residual) > Tracer.reconcileTolerance(root.seconds))
        l.add("trace.reconcile_failures", 1)
    }
    l
  }

  private var finalPhases: Option[Map[String, Long]] = None
  /** The query workloads hand over the QueryExecution that ran. */
  def finalPlan(qe: QueryExecution): Unit = if (on) finalPhases = Some(Tracer.phasesOf(qe))
}

object Tracer {
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroup = "spark.jobGroup.id"

  def phasesOf(qe: QueryExecution): Map[String, Long] =
    qe.tracker.phases.map { case (k, p) => k -> p.durationMs }

  /** Planning phases are recorded in whole milliseconds (two of them),
    * and span edges add a few microseconds: 10 ms plus 2% of the
    * operation. */
  def reconcileTolerance(wallS: Double): Double = 0.010 + 0.02 * wallS
}
