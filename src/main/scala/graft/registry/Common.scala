package graft.registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Tables
import graft.operators.Similarity

/** Helpers shared by more than one query family. */
private[registry] object Common {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** sum over exact integer cents: order-independent, bit-equal to DuckDB. */
  def sumCents(c: String): org.apache.spark.sql.Column =
    sum(round(col(c) * 100).cast("long"))

  /** SQL fragment: the SRP bucket-code expression over a DOUBLE[] column
    * `e`, mirrored from [[Similarity.srpCode]] (same md5-derived sign
    * literals, same 9-d.p. rounding before the sign test).
    */
  def srpCodeSql(numPlanes: Int, dim: Int = 64): String =
    (0 until numPlanes).map { p =>
      val signs = Similarity.planeSigns(p, dim).map(s => s"$s.0").mkString("[", ",", "]")
      s"(CASE WHEN round(list_dot_product(e, $signs::DOUBLE[]), 9) > 0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)"
    }.mkString("\n    + ")

  /** DuckDB mirror of Spark's `round(x, n)`: Spark rounds the SHORTEST
    * DECIMAL REPR of the double half-away-from-zero (BigDecimal.valueOf),
    * DuckDB's plain round(double) rounds the exact binary value — they
    * disagree when the shortest repr lands on an n-decimal halfway point.
    * Round-tripping through VARCHAR reproduces the repr; scale 20 holds
    * every repr digit at these magnitudes (see the w1_pct_change note).
    */
  def roundSql(e: String, n: Int): String =
    s"CAST(round(CAST(CAST($e AS VARCHAR) AS DECIMAL(38,20)), $n) AS DOUBLE)"
}
