package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

/** Order-independent fingerprint of a query result, comparable with the
  * one `tools/fingerprints.py` derives from the query's DuckDB oracle SQL.
  *
  * Canonical form follows `tools/compare.py` (columns sorted by lower-case
  * name, every cell canonicalised, rows compared as a multiset), with one
  * change that makes it reproducible outside Python: a double is written
  * as the hex of its IEEE-754 bits instead of Python's `repr`, which is
  * the same equality. Each row's canonical string is hashed with MD5; the
  * fingerprint is (row count, sum of the first 8 digest bytes mod 2^64).
  * The reduction runs inside the job that computes the result, so the
  * check adds no extra pass over the data. */
object Fingerprint {
  final case class Fp(columns: String, rows: Long, sum: Long)

  def cell(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "true" else "false"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case f: Float => dbl(f.toDouble)
    case d: Double => dbl(d)
    case d: java.math.BigDecimal =>
      if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString
    case s: String => s
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      cell(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case other => throw new IllegalArgumentException(
      s"non-scalar result cell ${other.getClass.getName} cannot be fingerprinted")
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "NaN" else f"${java.lang.Double.doubleToRawLongBits(d)}%016x"

  def rowHash(md: MessageDigest, r: Row, order: Array[Int]): Long = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < order.length) {
      if (i > 0) sb.append('\u001f')
      sb.append(cell(r.get(order(i))))
      i += 1
    }
    val d = md.digest(sb.toString.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** Runs `df` to completion and reduces its rows to a fingerprint.
    * Executes `df.queryExecution.executedPlan` itself (`Dataset.rdd` would
    * plan a second, deserializing query), so the plan that was planned is
    * the plan that runs, once. */
  def of(df: DataFrame): Fp = {
    val names = df.columns.map(_.toLowerCase(java.util.Locale.ROOT))
    val order = names.indices.sortBy(names(_)).toArray
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      val md = MessageDigest.getInstance("MD5")
      var n = 0L; var s = 0L
      it.foreach { r => n += 1; s += rowHash(md, toRow(r).asInstanceOf[Row], order) }
      Iterator((n, s))
    }.collect()
    Fp(names.sorted.mkString(","), parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
