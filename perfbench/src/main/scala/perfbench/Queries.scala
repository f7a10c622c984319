package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import com.fasterxml.jackson.databind.ObjectMapper

object Queries {
  /** A builder that runs eager checkpoint jobs while it constructs the
    * DataFrame: connected components, one round of jobs per iteration
    * (ROADMAP item 3). Its cost is per-round jobs and the driver gaps
    * between them, which a small corpus keeps and a large one buries. */
  val iterative: Seq[String] = Seq("q195_entities")
  val iterativeScale = "sf0.001"

  /** The reference's §2 operators and the relational generalizations:
    * builders that run no job. */
  val oneshot: Seq[String] =
    graft.SparkEntry.queries.keys.filter(_.matches("q(0[1-9]|1[0-9]|2[0-3])_.*")).toSeq.sorted
  val oneshotScale = "sf0.01"

  /** The repo's seed-42 test corpora, copied byte for byte (`data/`). */
  def corpus(benchDir: Path, scale: String): Path = benchDir.resolve("data").resolve(scale)

  /** `fingerprints.json`: per corpus scale, per query, the fingerprint of
    * the DuckDB oracle's result (tools/fingerprints.py). */
  def fingerprints(benchDir: Path, scale: String): Map[String, Fingerprint.Fp] = {
    val root = new ObjectMapper().readTree(Files.readAllBytes(benchDir.resolve("fingerprints.json")))
    val node = root.path(scale)
    val b = Map.newBuilder[String, Fingerprint.Fp]
    node.fieldNames().forEachRemaining { q =>
      val f = node.get(q)
      b += q -> Fingerprint.Fp(f.get("columns").asText(), f.get("rows").asLong(),
        java.lang.Long.parseUnsignedLong(f.get("sum").asText(), 16))
    }
    b.result()
  }
}

/** Runs declared queries over the repo's test corpora: the iterative
  * builder over sf0.001 and the one-shot queries over sf0.01, in one order
  * shuffled by the seed. One operation is one query: the builder call,
  * forcing the final plan, and executing it to a fingerprint that is
  * compared with the oracle's. */
final class QueryWorkload(benchDir: Path) extends Workload {
  val name = "queries"
  private val sets = Seq(Queries.iterativeScale -> Queries.iterative,
    Queries.oneshotScale -> Queries.oneshot)
  private lazy val expected = sets.flatMap { case (scale, qs) =>
    val fps = Queries.fingerprints(benchDir, scale)
    qs.map(q => q -> fps.get(q))
  }.toMap
  private var order: Seq[(String, String)] = Nil

  def generate(spark: SparkSession, dir: Path, seed: Long): Unit =
    order = new scala.util.Random(seed).shuffle(sets.flatMap { case (scale, qs) =>
      qs.map(_ -> Queries.corpus(benchDir, scale).toString) })

  def pass(ctx: PassCtx): Unit = {
    val t = ctx.tracer
    val sc = ctx.spark.sparkContext
    order.zipWithIndex.foreach { case ((q, dir), i) =>
      ctx.op(q) {
        val built = t.span("build", "build") {
          if (ctx.plant.contains("delay")) Thread.sleep(250)
          if (ctx.plant.contains("fail") && i == 0)
            throw new RuntimeException("planted failure")
          graft.SparkEntry.queries(q)(ctx.spark, dir)
        }
        val df = if (ctx.plant.contains("wrong") && i == 0) built.union(built.limit(1))
          else built
        t.span("plan", "plan") { df.queryExecution.executedPlan }
        val fp = t.span("exec", "exec") { Fingerprint.of(df) }
        t.finalPlan(df.queryExecution)
        val ok = expected(q).contains(fp)
        if (!ok) ctx.failures += s"$q: fingerprint $fp, oracle ${expected(q)}"
        ok
      }
      // free the checkpoint blocks the builder pinned, as graft.Bench does
      // between queries (outside the operation's clock)
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
  }
}
