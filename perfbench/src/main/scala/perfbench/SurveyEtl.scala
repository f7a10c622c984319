package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.Base64

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.pipelines.SurveyPipelines
import graft.sinks.Sinks
import graft.sources.{LimeSurveyClient, Readers, Transports}
import graft.sources.v2.{LimeSurveySource, SourceConf}

/** The reference's three survey pipelines end to end: JSON-RPC extract
  * from a file-backed survey server, spool write and re-read, transform,
  * dated-key CSV, and two overlapping warehouse loads (plus two JDBC
  * loads into embedded Derby for orders-shipped). */
final class SurveyEtl(nResponses: Int) {
  import SurveyEtl._

  private var inputs: Path = _
  private var expected: Map[String, Seq[Seq[Any]]] = Map.empty

  def generate(spark: SparkSession, dir: Path, seed: Long): Unit = {
    inputs = dir
    expected = surveys.zipWithIndex.map { case (s, i) =>
      val rnd = new Random(seed * 1000003L + i)
      val responses = Seq.tabulate(nResponses)(k => s.gen(rnd, k))
      val export = responses.zipWithIndex.map { case (r, k) =>
        "{" + Workload.json((k + 1).toString) + ":" +
          r.map { case (f, v) => Workload.json(f) + ":" + Workload.json(v) }
            .mkString("{", ",", "}") + "}"
      }.mkString("{\"responses\":[", ",", "]}")
      val server = Files.createDirectories(dir.resolve("server").resolve(s.table))
      Files.write(server.resolve("get_session_key.json"),
        """{"id":1,"result":"bench-session","error":null}""".getBytes(StandardCharsets.UTF_8))
      Files.write(server.resolve("export_responses.json"), ("{\"id\":2,\"result\":" +
        Workload.json(Base64.getEncoder.encodeToString(export.getBytes(StandardCharsets.UTF_8))) +
        ",\"error\":null}").getBytes(StandardCharsets.UTF_8))
      s.table -> s.expect(responses)
    }.toMap
    // first connection creates the database: set-up, not load time
    java.sql.DriverManager.getConnection(derbyUrl).close()
  }

  /** The repo's JSON-RPC client for the extract,
    * `LimeSurveyClient.exportResponsesJson`, tried once on the first
    * survey's export: "ok", or the class of what it threw (README.md,
    * "Known defects"). Recorded on the run's description line, not as an
    * operation: it fails on the code the benchmark was added with, and a
    * run must not fail. */
  def clientExtract(): String = try {
    val s = surveys.head
    new LimeSurveyClient("file", "bench", "bench",
      new Transports.FileServerTransport(inputs.resolve("server").resolve(s.table).toString))
      .exportResponsesJson(s.surveyId)
    "ok"
  } catch { case e: Throwable => e.getClass.getName }

  private def derbyUrl = s"jdbc:derby:${inputs.resolve("derby")};create=true"

  def pass(ctx: PassCtx): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val out = Files.createTempDirectory(ctx.scratch, "etl")
    val wh = out.resolve("warehouse").toString
    dropDerbyTables()
    surveys.foreach { s =>
      var exportDf: DataFrame = null
      var exportLen = 0L
      ctx.op(s"${s.table}/extract") {
        // the connector's export fetch: LimeSurveyClient.exportResponsesJson
        // overflows the stack on exports past a few KB (README.md, "Known
        // defects"), so the workload extracts through the other client
        val json = t.span("rpc", "rpc") {
          LimeSurveySource.fetchResponsesJson(SourceConf(Map(
            "transport" -> s"file:${inputs.resolve("server").resolve(s.table)}",
            "surveyId" -> s.surveyId.toString)), Nil)
        }
        exportDf = Readers.surveyExportFromJson(spark, json)
        exportLen = json.length
        json.nonEmpty
      }.foreach { l =>
        l.add("sources.rpc_calls", 1); ctx.ledger.add("sources.rpc_calls", 1)
        l.add("sources.export_bytes", exportLen); ctx.ledger.add("sources.export_bytes", exportLen)
      }
      val spool = out.resolve("spool").resolve(s.table).toString
      var shaped: DataFrame = null
      ctx.op(s"${s.table}/spool") {
        t.span("spool", "spool") { Readers.writeSpool(exportDf, spool) }
        true
      }
      val csvPath = out.resolve("csv").toString
      var written = ""
      sinkOp(ctx, s"${s.table}/csv",
          out.resolve("csv").resolve("limesurvey").resolve(s"${s.table}_$DateKey.csv")) {
        shaped = t.span("pipeline", "pipeline") {
          s.pipeline(Readers.surveyExport(spark, spool), lit(UpdatedTs))
        }
        written = t.span("csv", "sink") { Sinks.csvDatedKey(shaped, csvPath, s.table, DateKey) }
      }
      // load 1 covers the month, load 2 re-extracts from mid-month: the
      // second load deletes and rewrites the overlapping half
      sinkOp(ctx, s"${s.table}/load1", out.resolve("warehouse").resolve(s.table)) {
        t.span("warehouse", "sink") { Sinks.replaceWhere(shaped, wh, s.table, "date_sent", Cutoff1) }
      }
      sinkOp(ctx, s"${s.table}/load2", out.resolve("warehouse").resolve(s.table)) {
        t.span("warehouse", "sink") {
          Sinks.replaceWhere(shaped.filter(col("date_sent") >= Cutoff2), wh, s.table,
            "date_sent", Cutoff2)
        }
      }
      if (s.jdbc) {
        sinkOp(ctx, s"${s.table}/jdbc1", out.resolve("none")) {
          t.span("jdbc", "sink") { Sinks.jdbcReplaceWhere(shaped, derbyUrl, s.table, "date_sent", Cutoff1) }
        }
        sinkOp(ctx, s"${s.table}/jdbc2", out.resolve("none")) {
          t.span("jdbc", "sink") {
            Sinks.jdbcReplaceWhere(shaped.filter(col("date_sent") >= Cutoff2), derbyUrl,
              s.table, "date_sent", Cutoff2)
          }
        }
      }
      val want = expected(s.table)
      ctx.check(s"${s.table}/warehouse") {
        diff(want.map(canon), spark.read.parquet(s"$wh/${s.table}").select(s.columns.map(col): _*)
          .collect().toSeq.map(r => canon(r.toSeq)))
      }
      ctx.check(s"${s.table}/csv") {
        diff(want.map(csvCanon), spark.read.option("header", true).csv(written)
          .select(s.columns.map(col): _*).collect().toSeq.map(r => csvCanon(r.toSeq)))
      }
      if (s.jdbc) ctx.check(s"${s.table}/jdbc") { diff(want.map(canon), readDerby(s)) }
    }
    Workload.deleteTree(out)
  }

  /** A sink operation; in traced runs also counts the data files the sink
    * left under `dir`. */
  private def sinkOp(ctx: PassCtx, name: String, dir: Path)(body: => Unit): Unit =
    ctx.op(name) { body; true }.foreach { l =>
      val files = if (!Files.exists(dir)) 0L else {
        val st = Files.walk(dir)
        try st.filter(p => p.getFileName.toString.startsWith("part-")).count()
        finally st.close()
      }
      l.add("sinks.files_written", files)
      ctx.ledger.add("sinks.files_written", files)
    }

  private def dropDerbyTables(): Unit = {
    val c = java.sql.DriverManager.getConnection(derbyUrl)
    try surveys.filter(_.jdbc).foreach { s =>
      val rs = c.getMetaData.getTables(null, null, s.table.toUpperCase, null)
      val exists = try rs.next() finally rs.close()
      if (exists) { val st = c.createStatement(); try st.executeUpdate(s"DROP TABLE ${s.table}") finally st.close() }
    } finally c.close()
  }

  private def readDerby(s: Survey): Seq[String] = {
    val c = java.sql.DriverManager.getConnection(derbyUrl)
    try {
      val st = c.createStatement()
      val rs = st.executeQuery(s.columns.map(x => "\"" + x.toUpperCase + "\"")
        .mkString("SELECT ", ", ", s" FROM ${s.table}"))
      val b = Seq.newBuilder[String]
      while (rs.next()) b += canon(s.columns.indices.map(i => rs.getObject(i + 1) match {
        case d: java.lang.Double => d.doubleValue
        case o => o
      }))
      st.close(); b.result()
    } finally c.close()
  }
}

object SurveyEtl {
  val UpdatedTs = "2024-04-01 00:00:00"
  val DateKey = "20240401"
  val Cutoff1 = "2024-03-01 00:00:00"
  val Cutoff2 = "2024-03-16 00:00:00"

  type Response = Seq[(String, String)]

  final case class Survey(table: String, surveyId: Int, jdbc: Boolean,
      columns: Seq[String], gen: (Random, Int) => Response,
      expect: Seq[Response] => Seq[Seq[Any]],
      pipeline: (DataFrame, org.apache.spark.sql.Column) => DataFrame)

  private def stamp(r: Random): String =
    f"2024-03-${1 + r.nextInt(31)}%02d ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"

  /** Leaves out a field (the export omits null answers) with probability p. */
  private def maybe(r: Random, p: Double, kv: (String, String)): Option[(String, String)] =
    if (r.nextDouble() < p) None else Some(kv)

  private val validGrades = Seq("A1", "A2", "A3", "A4", "A5")
  private def grade(r: Random): String = {
    val x = r.nextDouble()
    if (x < 0.85) validGrades(r.nextInt(5))
    else Seq("A6", "A0", "B3", "great", "")(r.nextInt(5))
  }

  /** `regexp_replace(v, pattern, "")` then `try_cast(... AS DOUBLE)`. */
  private def stripCast(v: String, strip: String): Any = {
    val s = v.replaceAll(strip, "")
    if (s.matches("[0-9]+")) s.toDouble else null
  }

  // order numbers repeat (keep-last), sometimes with an equal datestamp
  private var lastOrders = Vector.empty[(String, String)]
  private def orderAndDate(r: Random, k: Int): (String, String) = {
    if (k == 0) lastOrders = Vector.empty
    val x = r.nextDouble()
    val od = if (lastOrders.nonEmpty && x < 0.12) lastOrders(r.nextInt(lastOrders.size))
      else if (lastOrders.nonEmpty && x < 0.25)
        (lastOrders(r.nextInt(lastOrders.size))._1, stamp(r))
      else (s"BR${100000 + k}", stamp(r))
    lastOrders = lastOrders :+ od
    od
  }

  private def common(r: Random, k: Int): Response = {
    val (order, date) = orderAndDate(r, k)
    Seq(maybe(r, 0.02, "id" -> (k + 1).toString), maybe(r, 0.03, "datestamp" -> date),
      maybe(r, 0.03, "q03" -> (if (r.nextDouble() < 0.02) "" else s"user${r.nextInt(5000)}@example.com")),
      maybe(r, 0.03, "q06" -> order), maybe(r, 0.05, "startlanguage" -> Seq("pt", "en", "es")(r.nextInt(3))),
      maybe(r, 0.05, "submitdate" -> stamp(r)), maybe(r, 0.05, "lastpage" -> (1 + r.nextInt(4)).toString),
      maybe(r, 0.05, "startdate" -> stamp(r)), maybe(r, 0.05, "q12" -> Seq("mail", "store", "pickup")(r.nextInt(3))),
      maybe(r, 0.05, "q22" -> s"R$order")).flatten
  }

  private def get(r: Response, f: String): String = r.find(_._1 == f).map(_._2).orNull

  val surveys: Seq[Survey] = Seq(
    Survey("orders_shipped", 101, jdbc = true,
      Seq("id_answer", "date_sent", "grade", "email", "order_number", "updated_ts"),
      (r, k) => common(r, k) ++ maybe(r, 0.05, "q01" -> grade(r)),
      rs => {
        val kept = rs.zipWithIndex.filter { case (x, _) =>
          Seq("id", "datestamp", "q01", "q03", "q06").forall(get(x, _) != null)
        }
        // keep-last per order number: latest datestamp, ties to the
        // later position in the export
        kept.groupBy(x => get(x._1, "q06")).values
          .map(_.maxBy { case (x, pos) => (get(x, "datestamp"), pos) }._1)
          .filter(x => validGrades.contains(get(x, "q01")))
          .map(x => Seq(get(x, "id"), get(x, "datestamp"), stripCast(get(x, "q01"), "A"),
            get(x, "q03"), get(x, "q06"), UpdatedTs)).toSeq
      },
      SurveyPipelines.ordersShipped),
    Survey("nps", 102, jdbc = false,
      Seq("id_answer", "date_sent", "last_page", "language", "start_date",
        "last_action_date", "nps", "email", "cohort", "updated_ts"),
      (r, k) => common(r, k) ++ maybe(r, 0.05, "q01" -> {
        val x = r.nextDouble()
        if (x < 0.6) s"A${r.nextInt(11)}" else if (x < 0.92) s"N${r.nextInt(11)}"
        else Seq("X5", "", "ten", "A")(r.nextInt(4))
      }),
      rs => rs.zipWithIndex.filter { case (x, _) => get(x, "q03") != null && get(x, "q01") != null }
        .map { case (x, k) => Seq((k + 1).toString, get(x, "submitdate"), get(x, "lastpage"),
          get(x, "startlanguage"), get(x, "startdate"), get(x, "datestamp"),
          stripCast(get(x, "q01"), "A|N"), get(x, "q03"), get(x, "q06"), UpdatedTs) },
      SurveyPipelines.nps),
    Survey("returns", 103, jdbc = false,
      Seq("id_answer", "date_sent", "grade", "email", "order_number",
        "return_order_number", "language", "updated_ts", "return_channel"),
      (r, k) => common(r, k) ++ maybe(r, 0.05, "q01" -> grade(r)),
      rs => rs.filter(x => Seq("id", "datestamp", "q01", "q03", "q06", "q12", "q22",
          "startlanguage").forall(get(x, _) != null))
        .map(x => Seq(get(x, "id"), get(x, "datestamp"), stripCast(get(x, "q01"), "A"),
          get(x, "q03"), get(x, "q06"), get(x, "q22"), get(x, "startlanguage"), UpdatedTs,
          get(x, "q12"))),
      SurveyPipelines.returns)
  )

  def canon(row: Seq[Any]): String = row.map(Fingerprint.cell).mkString("\u001f")

  /** CSV reads back as strings, and null and empty both read as null. */
  def csvCanon(row: Seq[Any]): String = row.map {
    case null | "" => "\\N"
    case d: Double => d.toString
    case v => v.toString
  }.mkString("\u001f")

  def diff(want: Seq[String], got: Seq[String]): Seq[String] = {
    val w = want.groupBy(identity).view.mapValues(_.size).toMap
    val g = got.groupBy(identity).view.mapValues(_.size).toMap
    val missing = w.filter { case (k, n) => g.getOrElse(k, 0) < n }.keys
    val extra = g.filter { case (k, n) => w.getOrElse(k, 0) < n }.keys
    if (missing.isEmpty && extra.isEmpty) Nil
    else Seq(s"${want.size} rows expected, ${got.size} found; ${missing.size} missing " +
      s"(e.g. ${missing.headOption.getOrElse("")}), ${extra.size} unexpected " +
      s"(e.g. ${extra.headOption.getOrElse("")})")
  }
}
