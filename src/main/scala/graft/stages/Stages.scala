package graft.stages

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.algo.{PortfolioOpt, RollingOls, Universe}
import graft.expr.{Ewma, Windows}

/** The reference's analytics pipeline, stage by stage, on Spark frames.
  * Each stage is a pure DataFrame transform: inputs in, outputs out —
  * persistence (the Lake create/append/optimize triple) stays at the
  * pipeline edge, mirroring the reference flows' structure.
  *
  * Stage-to-reference mapping:
  *  - returns           ← `pipelines/returns_flow.py:13-24`
  *  - factor model      ← `pipelines/factor_model_flow.py:13-104`
  *  - factor covariance ← `pipelines/factor_covariances_flow.py:11-46`
  *  - reversal          ← `pipelines/reversal_flow.py:13-58`
  *  - benchmark         ← `pipelines/benchmark_flow.py:12-31`
  *  - betas             ← `pipelines/betas_flow.py:14-72`
  *  - universe          ← `pipelines/universe_flow.py:82-134`
  *  - portfolio         ← `pipelines/portfolio_weights_flow.py:17-60`
  */
object Stages {

  /** W1: prices → simple returns per ticker; first row per ticker drops
    * (reference `returns_flow.py:14-24`).
    */
  def returns(prices: DataFrame): DataFrame = {
    val w = Windows.series(Seq("ticker"), Seq("date"))
    prices
      .select(col("ticker"), col("date"),
        Windows.pctChange("close", w).as("return"))
      .na.drop(Seq("return"))
      .withColumn("year", year(col("date")))
      .select("ticker", "date", "year", "return")
  }

  /** J1 + W6: per-ticker rolling 252-day OLS of stock returns on the
    * factor ETF returns; tickers with < window rows are absent; residual
    * = r − (α + Σ βf·rf) (reference `factor_model_flow.py:13-73`).
    * Returns the regression panel with alpha/beta/residual columns.
    */
  def factorRegression(stockReturns: DataFrame, etfReturns: DataFrame): DataFrame = {
    val etfWide = etfReturns.groupBy("date")
      .pivot("ticker", Variables.Factors)
      .agg(first("return"))
    val joined = stockReturns.join(broadcast(etfWide), Seq("date"), "left")
      .na.drop(Variables.Factors.map(f => f))
    val fitted = RollingOls.fit(joined, Seq("ticker"), Seq("date"),
      "return", Variables.Factors, Variables.Window)
    val predicted = Variables.Factors
      .map(f => col(f) * col(s"beta_$f"))
      .reduce(_ + _) + col("alpha")
    fitted
      .filter(col("alpha").isNotNull)
      .withColumn("residual", col("return") - predicted)
  }

  /** R3+R5+W4: long-form smoothed loadings (reference
    * `factor_model_flow.py:76-90`).
    */
  def factorLoadings(regression: DataFrame): DataFrame = {
    val long = regression
      .select(col("ticker") +: col("date") +:
        Variables.Factors.map(f => col(s"beta_$f").as(f)): _*)
      .unpivot(Array(col("ticker"), col("date")),
        Variables.Factors.map(col).toArray, "factor", "raw_loading")
    Ewma.ewmaMean(long, Seq("ticker", "factor"), Seq("date"), "raw_loading",
        Variables.HalfLife, "loading")
      .withColumn("year", year(col("date")))
      .select("ticker", "date", "year", "factor", "loading")
  }

  /** W3+W4: rolling residual std → EWMA smoothing (reference
    * `factor_model_flow.py:93-104`).
    */
  def idioVol(regression: DataFrame): DataFrame = {
    val w = Windows.series(Seq("ticker"), Seq("date"))
    val withStd = regression.withColumn("raw_vol",
      Windows.rollingStd("residual", w, Variables.Window))
    Ewma.ewmaMean(withStd, Seq("ticker"), Seq("date"), "raw_vol",
        Variables.HalfLife, "idio_vol")
      .filter(col("idio_vol").isNotNull)
      .withColumn("year", year(col("date")))
      .select("ticker", "date", "year", "idio_vol")
  }

  /** W5+W4: all factor-pair rolling covariances, EWMA-smoothed (reference
    * `factor_covariances_flow.py:11-46`); avoids the pandas pivot by
    * self-joining the long form.
    */
  def factorCovariances(etfReturns: DataFrame): DataFrame = {
    val l = etfReturns.select(col("date"), col("ticker").as("factor_1"), col("return").as("r1"))
    val r = etfReturns.select(col("date"), col("ticker").as("factor_2"), col("return").as("r2"))
    val pairs = l.join(r, "date")
    val w = Windows.series(Seq("factor_1", "factor_2"), Seq("date"))
    val rolled = pairs.withColumn("raw_cov",
      Windows.rollingCovar("r1", "r2", w, Variables.Window))
      .na.drop(Seq("raw_cov"))
    Ewma.ewmaMean(rolled, Seq("factor_1", "factor_2"), Seq("date"), "raw_cov",
        Variables.HalfLife, "covariance")
      .withColumn("year", year(col("date")))
      .select("date", "year", "factor_1", "factor_2", "covariance")
  }

  /** W2: 21-day reversal signal (reference `reversal_flow.py:13-31`). */
  def reversalSignals(stockReturns: DataFrame): DataFrame = {
    val w = Windows.series(Seq("ticker"), Seq("date"))
    stockReturns
      .withColumn("value",
        Windows.rollingLog1pSum("return", w, Variables.ReversalLookback))
      .na.drop(Seq("value"))
      .withColumn("signal", lit(Variables.SignalName))
      .withColumn("year", year(col("date")))
      .select("ticker", "date", "year", "signal", "value")
  }

  /** A6: cross-sectional z-scores over the WHOLE input frame — per-date
    * only when the caller pre-filters to one date, exactly like the
    * reference (`reversal_flow.py:34-45`; see SURVEY §2.4 A6).
    */
  def scores(signals: DataFrame): DataFrame =
    graft.expr.Windows.zscoreGlobal(signals, "value", "score")
      .select("ticker", "date", "year", "signal", "score")

  /** alpha = IC · score · idio_vol (reference `reversal_flow.py:48-58`).
    * Left join: the reference keeps scored tickers with no idio_vol row,
    * landing them in `alphas` with a null alpha.
    */
  def alphas(scores: DataFrame, idioVol: DataFrame): DataFrame =
    scores.join(idioVol.select("ticker", "date", "idio_vol"), Seq("date", "ticker"), "left")
      .withColumn("alpha", lit(Variables.IC) * col("score") * col("idio_vol"))
      .select("ticker", "date", "year", "signal", "alpha")

  /** W9+A2: equal-weight benchmark and its return (reference
    * `benchmark_flow.py:12-31`).
    */
  def benchmarkWeights(universeReturns: DataFrame): DataFrame =
    universeReturns
      .withColumn("weight", Windows.equalWeight(Seq("date")))
      .withColumn("year", year(col("date")))
      .select("ticker", "date", "year", "weight")

  def benchmarkReturns(weights: DataFrame, returns: DataFrame): DataFrame =
    weights.join(returns.select("ticker", "date", "return"), Seq("date", "ticker"))
      .groupBy("date")
      .agg(sum(col("return") * col("weight")).as("return"))

  /** W7: rolling single-factor benchmark beta (reference
    * `betas_flow.py:14-72`), EWMA-smoothed.
    */
  def betas(stockReturns: DataFrame, benchmarkReturns: DataFrame): DataFrame = {
    val joined = stockReturns.join(
      broadcast(benchmarkReturns.withColumnRenamed("return", "benchmark_return")),
      Seq("date"), "left").na.drop(Seq("benchmark_return"))
    val fitted = RollingOls.fit(joined, Seq("ticker"), Seq("date"),
        "return", Seq("benchmark_return"), Variables.Window)
      .filter(col("alpha").isNotNull)
      .withColumnRenamed("beta_benchmark_return", "raw_beta")
    Ewma.ewmaMean(fitted, Seq("ticker"), Seq("date"), "raw_beta",
        Variables.HalfLife, "beta")
      .withColumn("year", year(col("date")))
      .select("ticker", "date", "year", "beta")
  }

  /** W10: point-in-time universe from current constituents + change log
    * (reference `universe_flow.py:82-134`).
    */
  def universe(changes: DataFrame, current: DataFrame, calendar: DataFrame): DataFrame =
    Universe.pointInTime(changes, "ticker", "date", Seq("seq"), "action",
        current, calendar)
      .withColumn("year", year(col("date")))
      .select("date", "year", "ticker")

  /** L1-L8: per-date calibrated portfolio optimization (reference
    * `portfolio_weights_flow.py:17-60`). Both frames project one solver
    * output, passed through `cache` first: a caller that writes both
    * caches it there, so the per-date QP fan-out runs once, not once per
    * frame.
    */
  def portfolio(
      alphas: DataFrame, loadings: DataFrame, factorCov: DataFrame,
      idioVol: DataFrame, benchmark: DataFrame,
      cache: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val out = cache(PortfolioOpt.optimalWeights(
      // the reference reads alphas through a not-null filter
      // (`utils/data.py:57-63`) — null-alpha rows exist in the table since
      // the alphas stage left-joins idio_vol, but never reach the optimizer
      alphas.filter(col("alpha").isNotNull).select("date", "ticker", "alpha"),
      loadings.select("date", "ticker", "factor", "loading"),
      factorCov.select("date", "factor_1", "factor_2", "covariance"),
      idioVol.select("date", "ticker", "idio_vol"),
      benchmark.select("date", "ticker", "weight"),
      Variables.TargetActiveRisk))
    val weights = out
      .withColumn("year", year(col("date")))
      .select("ticker", "date", "year", "weight")
    val metrics = out.select(col("date"), col("lambda"), col("active_risk")).distinct()
    (weights, metrics)
  }
}
