package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query: how to build it from a scale-factor directory, how
  * its result is checked, and how the bench grades it. Adding or
  * renaming a query edits exactly one of these records, in the family
  * file that holds its oracle SQL.
  *
  * Cross-engine determinism policy (Spark vs DuckDB must hash-match):
  *  - Money/value doubles in the testdata are exactly 2-decimal. Sums are
  *    computed over integer cents (`round(x*100)::bigint`) so aggregation is
  *    exact and order-independent, then divided by 100.0 at the end.
  *  - Small-window (<=252 rows) floating aggregates are rounded to 6 d.p.
  *    on both sides; accumulated error is ~1e-12, far below the rounding.
  *  - Timestamps are emitted as epoch microseconds (BIGINT) to avoid
  *    tz/precision representation differences.
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    check: Check,
    band: Band = Unbanded,
    heavy: Option[Heavy] = None)

/** How Verify and tools/check.py judge a query's result. */
sealed trait Check

/** Equivalent ANSI SQL that DuckDB runs on the same parquet tables; the
  * results must hash-match.
  */
final case class Oracle(sql: String) extends Check

/** No SQL mirror by design: only the row count is checked. `reason`
  * names why and which artifact pins correctness instead; Verify dumps
  * it as rows_only_by_design.json.
  */
final case class RowsOnly(reason: String) extends Check

/** The sf0.1 sweep's isolated-band policy for one entry. Every
  * heavy-family entry, and every entry over 5 s in the committed sf0.1
  * artifact, must be [[Pinned]] or [[Exempt]] (BenchFormatSpec's
  * band-at-birth check). Bands are pinned data, not tolerances:
  * re-measure and re-pin when the operator's implementation or the host
  * class changes. Provenance of every pinned value: docs/SCALING.md,
  * "Pinned bands".
  */
sealed trait Band

/** [lo, hi] seconds the entry reads when measured alone. An in-sweep min
  * over `hi` is re-run in a fresh JVM (Bench's band gate). `quiet` is an
  * optional (quietHi, calibCeiling) refinement: when the sweep's
  * calib_ratio is at or under calibCeiling, a min over quietHi gates too.
  */
final case class Pinned(lo: Double, hi: Double,
    quiet: Option[(Double, Double)] = None) extends Band {
  require(0 < lo && lo < hi, s"band [$lo, $hi] is empty")
  require(quiet.forall(_._1 < hi), s"quiet hi must sit under the band hi $hi")
}

/** No band, with a reason a judge can audit (see [[Exempt.Codegen]]). */
final case class Exempt(reason: String) extends Band

object Exempt {

  /** The round-16 band-gate coverage audit's exemption class: the gate
    * exists for JVM-state inflation, which needs an interpreted per-row
    * hot path fed by join fan-out or a dozens-of-short-jobs shape; pure
    * codegen entries measured position-independent across sweeps.
    */
  val Codegen: Exempt = Exempt("pure-codegen hot path; position-independent " +
    "across r10-r16 sweeps (round-16 band-gate coverage audit)")
}

/** Neither heavy nor over 5 s at sf0.1, so no band is owed. */
case object Unbanded extends Band

/** Membership in the heavy family, which ScaleProbe and Bench's
  * SPARK_GRAFT_BENCH_SCALE mode sweep on scaled copies of `tables`.
  * `band10x` is the pinned [lo, hi] seconds at 10x scale (the scale
  * artifact's `bands` field); docs/SCALING.md, "Pinned bands".
  */
final case class Heavy(tables: Seq[String],
    band10x: Option[(Double, Double)] = None)

/** Every query, one record each, in family order. */
object Registry {

  val all: Seq[Query] = unique(Tpch.all ++ Relational.all ++
    TimeSeries.all ++ RangeJoins.all ++ Text.all ++ NearDup.all ++
    Vectors.all ++ Portfolio.all)

  /** `qs` unchanged, or an error naming every duplicated name. */
  private[graft] def unique(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  def find(name: String): Option[Query] = all.find(_.name == name)

  def apply(name: String): Query =
    find(name).getOrElse(throw new NoSuchElementException(s"no query $name"))

  /** The heavy family, in registry order. */
  def heavy: Seq[Query] = all.filter(_.heavy.nonEmpty)
}
