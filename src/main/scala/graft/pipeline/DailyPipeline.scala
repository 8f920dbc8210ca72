package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.{Lake, TableMeta}
import graft.stages.{Stages, Variables}

/** Orchestration of the reference's daily DAG (`pipelines/__main__.py:22-37`):
  *
  *   calendar → universe → prices → returns → factor_model →
  *   factor_covariances → reversal → benchmark → betas → portfolio_weights
  *
  * Two execution modes, exactly like the reference:
  *  - `backfill`: full-history recompute, `replace` tables (reference
  *    `*_backfill_flow` entry points)
  *  - `daily(asOf)`: guard that `asOf` is a market day, recompute only a
  *    trailing `2*WINDOW` slice, keep `date == asOf` rows, append +
  *    optimize (reference `factor_model_flow.py:177-199` et al.)
  *
  * Persistence runs through the Lake create/append/optimize triple; all
  * analytics are the pure transforms in [[graft.stages.Stages]].
  */
class DailyPipeline(spark: SparkSession, lake: Lake) {
  import spark.implicits._

  private val D = DateType; private val S = StringType
  private val I = IntegerType; private val F = DoubleType

  private def tm(name: String, cols: (String, DataType)*)(pk: String*)(part: String*) =
    TableMeta(name, StructType(cols.map { case (n, t) => StructField(n, t) }),
      part.toSeq, pk.toSeq)

  val tables: Seq[TableMeta] = Seq(
    tm("calendar", "date" -> D)("date")(),
    tm("universe", "date" -> D, "year" -> I, "ticker" -> S)("date", "ticker")("year"),
    tm("stock_returns", "ticker" -> S, "date" -> D, "year" -> I, "return" -> F)("ticker", "date")("year"),
    tm("etf_returns", "ticker" -> S, "date" -> D, "year" -> I, "return" -> F)("ticker", "date")("year"),
    tm("factor_loadings", "ticker" -> S, "date" -> D, "year" -> I, "factor" -> S, "loading" -> F)("date", "ticker", "factor")("year"),
    tm("idio_vol", "ticker" -> S, "date" -> D, "year" -> I, "idio_vol" -> F)("date", "ticker")("year"),
    tm("factor_covariances", "date" -> D, "year" -> I, "factor_1" -> S, "factor_2" -> S, "covariance" -> F)("date", "factor_1", "factor_2")("year"),
    tm("signals", "ticker" -> S, "date" -> D, "year" -> I, "signal" -> S, "value" -> F)("ticker", "date", "signal")("year"),
    tm("scores", "ticker" -> S, "date" -> D, "year" -> I, "signal" -> S, "score" -> F)("ticker", "date", "signal")("year"),
    tm("alphas", "ticker" -> S, "date" -> D, "year" -> I, "signal" -> S, "alpha" -> F)("ticker", "date", "signal")("year"),
    tm("benchmark_weights", "ticker" -> S, "date" -> D, "year" -> I, "weight" -> F)("date", "ticker")("year"),
    tm("benchmark_returns", "date" -> D, "return" -> F)("date")(),
    tm("betas", "ticker" -> S, "date" -> D, "year" -> I, "beta" -> F)("date", "ticker")("year"),
    tm("portfolio_weights", "ticker" -> S, "date" -> D, "year" -> I, "weight" -> F)("date", "ticker")("year"),
    tm("portfolio_metrics", "date" -> D, "lambda" -> F, "active_risk" -> F)("date")(),
    tm("portfolio_history", "timestamp" -> TimestampType, "equity" -> F)("timestamp")(),
    tm("stock_history", "ticker" -> S, "timestamp" -> TimestampType, "open" -> F,
      "high" -> F, "low" -> F, "close" -> F, "volume" -> F, "vwap" -> F,
      "trade_count" -> F)("timestamp", "ticker")(),
    tm("etf_history", "ticker" -> S, "timestamp" -> TimestampType, "open" -> F,
      "high" -> F, "low" -> F, "close" -> F, "volume" -> F, "vwap" -> F,
      "trade_count" -> F)("timestamp", "ticker")())

  /** S8/S12: minute-bar history upsert for one market date (reference
    * `pipelines/history_flow.py:63-101`).
    */
  def writeHistory(table: String, bars: DataFrame): Unit = {
    val m = tables.find(_.name == table).get
    lake.append(table, bars.select(m.schema.fieldNames.map(col).toIndexedSeq: _*))
    lake.optimize(table)
  }

  def initTables(mode: String = "skip"): Unit = tables.foreach(t => lake.create(t, mode))

  /** Calendar stage (S5): business days over [start, end]. */
  def writeCalendar(start: LocalDate, end: LocalDate): Unit = {
    val days = Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(end))
      .filter(_.getDayOfWeek.getValue <= 5).map(java.sql.Date.valueOf).toSeq
    lake.create(tables.find(_.name == "calendar").get, "replace")
    lake.append("calendar", days.toDF("date"))
  }

  /** The reference's "was yesterday a market day" guard
    * (`pipelines/utils/calendar.py:8-12`).
    */
  def isMarketDay(d: LocalDate): Boolean =
    lake.table("calendar").filter(col("date") === java.sql.Date.valueOf(d)).count() > 0

  /** Full-history backfill from price tables already in the lake. */
  def backfill(stockPrices: DataFrame, etfPrices: DataFrame): Unit = {
    withCache { cache =>
      val sr = cache(Stages.returns(stockPrices))
      val er = cache(Stages.returns(etfPrices))
      replace("stock_returns", sr)
      replace("etf_returns", er)

      val reg = cache(Stages.factorRegression(sr, er))
      replace("factor_loadings", Stages.factorLoadings(reg))
      replace("idio_vol", Stages.idioVol(reg))
      replace("factor_covariances", Stages.factorCovariances(er))

      val sig = cache(Stages.reversalSignals(sr))
      replace("signals", sig)
      val sc = Stages.scores(sig)
      replace("scores", sc)
      replace("alphas", Stages.alphas(sc, lake.table("idio_vol")))

      val bw = Stages.benchmarkWeights(sr.select("ticker", "date"))
      replace("benchmark_weights", bw)
      val br = Stages.benchmarkReturns(bw, sr)
      replace("benchmark_returns", br)
      replace("betas", Stages.betas(sr, br))

      val (w, m) = Stages.portfolio(
        lake.table("alphas"), lake.table("factor_loadings"),
        lake.table("factor_covariances"), lake.table("idio_vol"),
        lake.table("benchmark_weights"))
      replace("portfolio_weights", w)
      replace("portfolio_metrics", m)
    }
  }

  /** Runs one step with a `cache` that registers each frame it caches;
    * every one is released when the step ends, dependents first (dropping
    * a frame another cached plan reads would make Spark re-plan that
    * one). Without this every step of a long-lived session leaves its
    * frames in the cache, and each later query's cache lookup walks them.
    */
  private def withCache(step: (DataFrame => DataFrame) => Unit): Unit = {
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try step { df => cached += df; df.cache() }
    finally cached.reverseIterator.foreach(_.unpersist())
  }

  private def replace(name: String, df: DataFrame): Unit = {
    lake.create(tables.find(_.name == name).get, "replace")
    lake.append(name, df)
  }

  /** Incremental daily run: trailing 2*WINDOW recompute, `date == asOf`
    * upsert — the reference's daily semantics (SURVEY §2.10).
    */
  def daily(asOf: LocalDate, stockPrices: DataFrame, etfPrices: DataFrame): Unit = {
    if (!isMarketDay(asOf)) return
    val asOfD = java.sql.Date.valueOf(asOf)
    val lookback = lake.table("calendar")
      .filter(col("date") <= asOfD)
      .orderBy(col("date").desc).limit(Variables.Window * 2)
      .agg(min("date")).collect().head.getDate(0)

    def trailing(df: DataFrame) = df.filter(col("date").between(lookback, asOfD))

    withCache { cache =>
      val sr = cache(Stages.returns(trailing(stockPrices)))
      val er = cache(Stages.returns(trailing(etfPrices)))
      upsert("stock_returns", sr.filter(col("date") === asOfD))
      upsert("etf_returns", er.filter(col("date") === asOfD))

      val reg = cache(Stages.factorRegression(sr, er))
      upsert("factor_loadings", Stages.factorLoadings(reg).filter(col("date") === asOfD))
      upsert("idio_vol", Stages.idioVol(reg).filter(col("date") === asOfD))
      upsert("factor_covariances",
        Stages.factorCovariances(er).filter(col("date") === asOfD))

      // daily scores are a single-date cross-section (SURVEY §2.4 A6 fork)
      val sig = cache(Stages.reversalSignals(sr))
      upsert("signals", sig.filter(col("date") === asOfD))
      val sc = Stages.scores(sig.filter(col("date") === asOfD))
      upsert("scores", sc)
      upsert("alphas",
        Stages.alphas(sc, lake.table("idio_vol").filter(col("date") === asOfD)))

      val bw = Stages.benchmarkWeights(
        sr.filter(col("date") === asOfD).select("ticker", "date"))
      upsert("benchmark_weights", bw)
      upsert("benchmark_returns",
        Stages.benchmarkReturns(bw, sr.filter(col("date") === asOfD)))
      upsert("betas", Stages.betas(sr, lake.table("benchmark_returns"))
        .filter(col("date") === asOfD))

      val (w, m) = Stages.portfolio(
        lake.table("alphas").filter(col("date") === asOfD),
        lake.table("factor_loadings").filter(col("date") === asOfD),
        lake.table("factor_covariances").filter(col("date") === asOfD),
        lake.table("idio_vol").filter(col("date") === asOfD),
        lake.table("benchmark_weights").filter(col("date") === asOfD))
      upsert("portfolio_weights", w)
      upsert("portfolio_metrics", m)
    }
  }

  private def upsert(name: String, df: DataFrame): Unit = {
    lake.append(name, df)
    lake.optimize(name) // last-write-wins on the lake's ingest stamp
  }
}
