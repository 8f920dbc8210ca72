package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data curation.
  *
  * `sample(fraction)` with a seed is NOT reproducible across engines (and
  * changes with partitioning); these operators decide membership from the
  * md5-derived hash of a key column instead — the same
  * [[Dedup.hash60]] family, so a DuckDB oracle reproduces the exact row
  * set, reruns are stable, and adding/removing other rows never flips a
  * row's membership (the property that makes hash sampling the standard
  * at corpus scale: samples are consistent across pipeline versions).
  */
object Sampling {

  private val Buckets = 1000000L

  /** Membership bucket in [0, 1e6): uniform over the key's hash. */
  def bucket(key: Column): Column = Dedup.hash60("sample", key.cast("string")) % Buckets

  /** Deterministic weighted sample WITHOUT replacement of `n` rows
    * (Efraimidis & Spirakis 2006, A-Res): each row draws a reproducible
    * uniform u from its key's hash and ranks by u^(1/weight) — rows with
    * twice the weight are twice as likely to make the cut. Ranking uses
    * the monotone-equivalent ln(u)/weight, ROUNDED to 9 d.p. with the key
    * as tie-break, so an independent engine reproduces the exact row set.
    *
    * Scale shape: the sort key is a narrow per-row expression and the
    * top-n runs as TakeOrderedAndProject (per-partition heads, one merge
    * of n·partitions rows) — no global sort, no shuffle of the corpus.
    * Zero/negative weights are excluded (they can never win a draw).
    *
    * `keyCol` MUST be unique: rows sharing a key draw the same u (their
    * selection correlates perfectly) and tie identically in the final
    * order, so the cut among them is arbitrary — both the A-Res
    * independence assumption and the cross-engine reproducibility
    * guarantee hold only for unique keys.
    *
    * @return the sampled rows plus (`_wskey`, `rank`).
    */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: Column,
      n: Int): DataFrame = {
    require(n > 0, "sample size must be positive")
    // u = (h+1)/2^60 in (0, 1]; the long->double cast rounds identically
    // under IEEE on any engine
    val u = (Dedup.hash60("ws", col(keyCol).cast("string")).cast("double") + 1.0) /
      lit((1L << 60).toDouble)
    val key = round(log(u) / weightCol.cast("double"), 9)
    val top = df.filter(weightCol > 0)
      .withColumn("_wskey", key)
      .orderBy(col("_wskey").desc, col(keyCol).asc)
      .limit(n)
    // rank assigned after the top-n cut: the window spans n rows, not df
    top.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("_wskey").desc, col(keyCol).asc)).cast("long"))
  }

  /** Per-stratum hash sample: a row is kept when its key's [[bucket]]
    * falls below its stratum's fraction of the bucket space (strata
    * absent from `rates` get `defaultFraction`) — a deterministic,
    * engine-portable Bernoulli sample. The rates map is a literal CASE
    * expression: no join, no shuffle, a narrow scan-side filter.
    */
  def stratifiedSample(df: DataFrame, keyCol: String, stratumCol: Column,
      rates: Map[String, Double], defaultFraction: Double): DataFrame = {
    require((defaultFraction +: rates.values.toSeq).forall(f => f >= 0.0 && f <= 1.0),
      "fractions must be in [0,1]")
    val threshold = rates.toSeq.sortBy(_._1).foldLeft(
      lit((defaultFraction * Buckets).toLong)) { case (acc, (s, f)) =>
      when(stratumCol === s, lit((f * Buckets).toLong)).otherwise(acc)
    }
    df.filter(bucket(col(keyCol)) < threshold)
  }

  /** Deterministic train/val/test (or any n-way) split assignment: each
    * row lands in the first split whose cumulative fraction covers its
    * hash bucket. Fractions must sum to 1. Membership is a pure per-row
    * expression of the key — no shuffle, stable under reruns and corpus
    * growth, and the same document NEVER migrates between train and eval
    * when upstream filters change (the property that matters for
    * decontamination: a row's split is a function of its key alone).
    */
  def splitAssign(key: Column, splits: Seq[(String, Double)]): Column = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val cum = splits.scanLeft(0.0)(_ + _._2).tail.map(f => (f * Buckets).toLong)
    val b = bucket(key)
    splits.init.zip(cum.init).foldRight(lit(splits.last._1): Column) {
      case (((name, _), hi), acc) => when(b < hi, name).otherwise(acc)
    }
  }

  /** Cap the number of rows kept per group (the per-domain / per-source
    * cap every curation pipeline applies so one crawl domain cannot
    * dominate the training mix): within each group, rows are ranked by
    * the md5 hash of their key (stable lottery, key as tie-break) and
    * only the first `n` survive.
    *
    * Scale shape (round 12 — the a13/w13 decomposition applied a third
    * time): the obvious `row_number` over `partitionBy(group)` puts a
    * hot group's ENTIRE row set through one task's sort. Instead the
    * hash is range-bucketed by its top bits (buckets are monotone in
    * hash order), a per-(group, bucket) partial-agg spine cumulates
    * counts in bucket order, buckets wholly past the cap drop BEFORE
    * any sort, and the survivors rank inside their bucket only —
    * `cum_prev + local_rank <= n` keeps exactly the rows the global
    * rank would (bucket ranges partition the hash order), with the
    * per-group sort split `buckets` ways and bounded by the pre-filter
    * to ~cap + one bucket's width. The spine is #groups × buckets rows
    * — broadcast-sized.
    */
  def capPerGroup(df: DataFrame, keyCol: String, groupCol: String,
      n: Int, buckets: Int = 1024): DataFrame = {
    require(n > 0, "cap must be positive")
    require(buckets > 0 && (buckets & (buckets - 1)) == 0 && buckets <= (1 << 20),
      "buckets must be a power of two (hash-prefix ranges)")
    val tmp = Seq("_caph", "_capb", "_capp", "_caprk")
    require(!df.columns.exists(tmp.contains), s"input must not contain $tmp")
    // hash60 is [0, 2^60): top-bit buckets are contiguous hash ranges
    val shift = 60 - java.lang.Long.numberOfTrailingZeros(buckets.toLong).toInt
    val withH = df
      .withColumn("_caph", Dedup.hash60("cap", col(keyCol).cast("string")))
      .withColumn("_capb", shiftright(col("_caph"), shift))
    val spine = graft.expr.Windows
      .valueSpine(withH.select(col(groupCol), col("_capb")),
        Seq(groupCol), "_capb", ascending = true)
      .select(col(groupCol), col("_capb"), col("cum_prev").as("_capp"))
      .filter(col("_capp") < n) // buckets at/past the crossing never sort
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col("_capb"))
      .orderBy(col("_caph").asc, col(keyCol).asc)
    withH
      .join(broadcast(spine), Seq(groupCol, "_capb"))
      .withColumn("_caprk", row_number().over(wLocal))
      .filter(col("_capp") + col("_caprk") <= n)
      // the using-join moved groupCol to the front: restore the caller's
      // schema exactly (column order is part of the operator's contract)
      .select(df.columns.map(col): _*)
  }

  /** Per-group keep *thresholds* for temperature-based source mixing
    * (the multilingual-LM rebalance: sample source i with probability
    * ∝ p_i^(1/τ), so τ>1 flattens the mix toward rare sources). The
    * per-row keep rate is q_i/p_i ∝ p_i^(1/τ − 1), normalized so the
    * rarest source keeps everything — a pure DOWN-sampling of the head,
    * never an upsample (no row duplication).
    *
    * Returns one row per group: `(group, n_total, rate, thr)` where
    * `thr = round(rate·1e6)` is the hash-bucket threshold. Only the
    * group-count aggregate touches the corpus; the power/normalize math
    * runs on the tiny per-group frame (single-partition windows over
    * #groups rows). Thresholds are integral buckets, so an independent
    * engine reproduces the exact row set despite libm `pow` differing in
    * the last ulp.
    */
  def temperatureThresholds(df: DataFrame, groupCol: String,
      temperature: Double): DataFrame = {
    require(temperature > 0, "temperature must be positive")
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.groupBy(groupCol).agg(count(lit(1)).as("n_total"))
      .withColumn("_raw",
        pow(col("n_total").cast("double") / sum("n_total").over(all),
          1.0 / temperature - 1.0))
      .withColumn("rate", col("_raw") / max("_raw").over(all))
      .withColumn("thr", round(col("rate") * Buckets, 0).cast("long"))
      .drop("_raw")
  }

  /** Apply [[temperatureThresholds]]: keep a row iff its key's hash
    * bucket falls under its group's threshold. One corpus-size
    * broadcast join (the thresholds frame is #groups rows) plus the
    * narrow filter — membership is a function of (key, group rates)
    * alone, so reruns and engine ports keep identical rows.
    */
  def temperatureSample(df: DataFrame, keyCol: String, groupCol: String,
      temperature: Double): DataFrame = {
    val thr = temperatureThresholds(df, groupCol, temperature)
      .select(col(groupCol), col("thr"))
    df.join(org.apache.spark.sql.functions.broadcast(thr), groupCol)
      .filter(Dedup.hash60("temp", col(keyCol).cast("string")) % Buckets < col("thr"))
      .drop("thr")
  }
}
