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
  * One stage graph with two bindings of the rows it keeps and the write
  * it makes, like the reference's two modes over the same transforms:
  *  - `backfill`: the full history, each table written once by
  *    [[Lake.replace]] (reference `*_backfill_flow` entry points)
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

  private def meta(name: String): TableMeta = tables.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"DailyPipeline has no table named '$name'"))

  /** S8/S12: minute-bar history upsert for one market date (reference
    * `pipelines/history_flow.py:63-101`).
    */
  def writeHistory(table: String, bars: DataFrame): Unit =
    upsert(table, bars.select(meta(table).schema.fieldNames.map(col).toIndexedSeq: _*))

  def initTables(mode: String = "skip"): Unit = tables.foreach(t => lake.create(t, mode))

  /** Calendar stage (S5): business days over [start, end]. */
  def writeCalendar(start: LocalDate, end: LocalDate): Unit = {
    val days = Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(end))
      .filter(_.getDayOfWeek.getValue <= 5).map(java.sql.Date.valueOf).toSeq
    replace("calendar", days.toDF("date"))
  }

  /** Full-history backfill from price tables already in the lake. */
  def backfill(stockPrices: DataFrame, etfPrices: DataFrame): Unit =
    run(stockPrices, etfPrices, identity, replace)

  /** Incremental daily run: trailing 2*WINDOW recompute, `date == asOf`
    * upsert — the reference's daily semantics (SURVEY §2.10). One calendar
    * query gives both the reference's "was yesterday a market day" guard
    * (`pipelines/utils/calendar.py:8-12`) and the lookback: over the
    * trailing 2*WINDOW calendar dates up to `asOf`, `asOf` is a market day
    * exactly when it is the latest, and the lookback starts at the first.
    */
  def daily(asOf: LocalDate, stockPrices: DataFrame, etfPrices: DataFrame): Unit = {
    val asOfD = java.sql.Date.valueOf(asOf)
    val span = lake.table("calendar")
      .filter(col("date") <= asOfD)
      .orderBy(col("date").desc).limit(Variables.Window * 2)
      .agg(min("date"), max("date")).collect().head
    if (Option(span.getDate(1)).exists(_.toLocalDate == asOf)) {
      val lookback = span.getDate(0)
      def trailing(df: DataFrame) = df.filter(col("date").between(lookback, asOfD))
      run(trailing(stockPrices), trailing(etfPrices), _.filter(col("date") === asOfD), upsert)
    }
  }

  /** The stage graph, once for both modes: `at` keeps the rows each table
    * holds (of a computed frame, or of a stored table a later stage reads)
    * and `write` persists them. Writing `sr`/`er` materializes their
    * cache before `reg`/`sig` are cached, so those two are planned on the
    * returns' real sizes, not estimates.
    */
  private def run(stockPrices: DataFrame, etfPrices: DataFrame,
      at: DataFrame => DataFrame, write: (String, DataFrame) => Unit): Unit =
    withCache { cache =>
      def stored(name: String) = at(lake.table(name))
      val sr = cache(Stages.returns(stockPrices))
      val er = cache(Stages.returns(etfPrices))
      write("stock_returns", at(sr))
      write("etf_returns", at(er))

      val reg = cache(Stages.factorRegression(sr, er))
      write("factor_loadings", at(Stages.factorLoadings(reg)))
      write("idio_vol", at(Stages.idioVol(reg)))
      write("factor_covariances", at(Stages.factorCovariances(er)))

      // scores z-score the rows `at` keeps: the whole history in the
      // backfill, one date's cross-section daily (SURVEY §2.4 A6 fork)
      val sig = cache(Stages.reversalSignals(sr))
      write("signals", at(sig))
      val sc = Stages.scores(at(sig))
      write("scores", sc)
      write("alphas", Stages.alphas(sc, stored("idio_vol")))

      val bw = Stages.benchmarkWeights(at(sr).select("ticker", "date"))
      write("benchmark_weights", bw)
      write("benchmark_returns", Stages.benchmarkReturns(bw, at(sr)))
      // the stored table: a daily step computes one date's benchmark
      // return, and the betas' regression needs the trailing window of them
      write("betas", at(Stages.betas(sr, lake.table("benchmark_returns"))))

      val (w, m) = Stages.portfolio(stored("alphas"), stored("factor_loadings"),
        stored("factor_covariances"), stored("idio_vol"), stored("benchmark_weights"), cache)
      write("portfolio_weights", w)
      write("portfolio_metrics", m)
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

  private def replace(name: String, df: DataFrame): Unit = lake.replace(meta(name), df)

  private def upsert(name: String, df: DataFrame): Unit = {
    lake.append(name, df)
    lake.optimize(name) // last-write-wins on the lake's ingest stamp
  }
}
