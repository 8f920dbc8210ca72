package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Lake
import graft.connect.FixtureBarSource
import graft.pipeline.DailyPipeline
import graft.stages.Variables

/** One unit of timed work. `run(traced)` is the only timed call; `check`
  * and `sabotage` run after it, outside the timed region. `check` returns
  * the failed output checks (empty when the op's outputs are correct).
  */
final case class Op(label: String, units: Long, run: Boolean => Unit,
    check: () => Seq[String], sabotage: () => Unit)

/** A workload: inputs and pre-built state made in `prepare`, then ops. */
abstract class Workload(val spark: SparkSession, val work: Path, val tracer: Option[Tracer]) {
  def prepare(): Unit
  /** The run's k-th op, counting warm-up ops. */
  def op(k: Int): Op
  /** Untimed, unchecked ops before the timed ones: the cold op and as many
    * more as it takes to be within about 10% of later ops (README,
    * "Warm-up").
    */
  def warmOps: Int
  /** Whether timed ops are scaled by the host-speed probe (`Calibration`). */
  def calibrated: Boolean = true
  /** Runs after warm-up, before the first timed op. */
  def beforeTimed(): Unit = ()
  /** Directory whose size is reported as the lake footprint. */
  def lakeDir: Path = work.resolve("lake")
  protected def span[T](traced: Boolean, name: String)(body: => T): T =
    tracer match {
      case Some(t) if traced => t.span(name)(body)
      case _ => body
    }
}

object Workload {
  val names = Seq("nightly_daily", "query_mix")

  def apply(name: String, spark: SparkSession, work: Path, seed: Long,
      tiny: Boolean, tracer: Option[Tracer], cache: Path): Workload = name match {
    case "nightly_daily" => new NightlyDaily(spark, work, seed, tiny, tracer, cache)
    case "query_mix" => new QueryMix(spark, work, seed, tracer, cache)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The production nightly job: a lake backfilled through market day B, then
  * one `DailyPipeline.daily` per op over the following market days. Inputs
  * are fixture bars for `nTickers` stocks and the five factor ETFs.
  *
  * The history through B comes from a fixed data seed, so the pre-built lake
  * is the same for every run seed: it is built once per checkout by the
  * program's own backfill into `cache` and copied into the run's work
  * directory. The run seed makes the new market data after B: fresh
  * fixture bars, rescaled per ticker to continue from B's close.
  */
final class NightlyDaily(spark: SparkSession, work: Path, seed: Long, tiny: Boolean,
    tracer: Option[Tracer], cache: Path) extends Workload(spark, work, tracer) {
  import NightlyDaily._
  val nTickers: Int = if (tiny) 6 else 10
  private val reserve = 30 // market days after B, for warm-up and timed steps
  private val base = marketDays(marketDays.size - reserve - 1)
  private val baseD = java.sql.Date.valueOf(base)
  private var stats: Map[String, (Long, Long, Long, LocalDate)] = Map.empty
  private lazy val plainLake = new Lake(spark, lakeDir.toString)
  private lazy val plain = new DailyPipeline(spark, plainLake)
  private lazy val traced = new DailyPipeline(spark,
    new TracedLake(spark, lakeDir.toString, tracer.get))

  private def bars(seed: Long, tickers: Seq[String]): DataFrame =
    new FixtureBarSource(seed).dailyBars(spark, tickers, start, end)

  /** History bars through B, then the run seed's bars rescaled per ticker
    * to continue from B's close. Built on the driver: the bars are small.
    */
  private def continued(tickers: Seq[String]): DataFrame = {
    val hist = bars(DataSeed, tickers).collect()
    val fresh = bars(seed, tickers).collect()
    val schema = bars(seed, tickers).schema
    def closeAtB(rows: Array[Row]) = rows.collect {
      case r if r.getDate(1).toLocalDate == base => r.getString(0) -> r.getDouble(5)
    }.toMap
    val (h, f) = (closeAtB(hist), closeAtB(fresh))
    val prices = Set("open", "high", "low", "close", "vwap").map(schema.fieldIndex)
    require(schema.fieldIndex("close") == 5 && schema.fieldIndex("date") == 1)
    val later = fresh.filter(_.getDate(1).toLocalDate.isAfter(base)).map { r =>
      val k = h(r.getString(0)) / f(r.getString(0))
      Row.fromSeq(r.toSeq.zipWithIndex.map {
        case (v: Double, i) if prices(i) => v * k
        case (v, _) => v
      })
    }
    val rows = hist.filterNot(_.getDate(1).toLocalDate.isAfter(base)) ++ later
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }
  lazy val stock: DataFrame = continued(Inputs.tickers(nTickers)).cache()
  lazy val etf: DataFrame = continued(Variables.Factors).cache()

  /** Backfills the history through B into `cache` (once), then copies it
    * into the run's lake.
    */
  def prepare(): Unit = {
    stock.count(); etf.count()
    if (!Files.exists(cache.resolve("_complete"))) {
      Fs.delete(cache)
      val p = new DailyPipeline(spark, new Lake(spark, cache.toString))
      def upTo(df: DataFrame) = df.filter(col("date") <= baseD)
      p.initTables("replace")
      p.writeCalendar(start, end)
      p.backfill(upTo(stock), upTo(etf))
      Files.writeString(cache.resolve("_complete"), base.toString)
    }
    Fs.delete(lakeDir)
    Fs.copy(cache, lakeDir)
  }

  override def warmOps: Int = 1
  override def beforeTimed(): Unit = stats = tableStats()

  def op(k: Int): Op = {
    require(k < reserve, s"nightly_daily ran out of market days after $reserve steps")
    val day = marketDays(marketDays.size - reserve + k)
    Op("daily", nTickers.toLong,
      t => span(t, "pipeline.daily")((if (t) traced else plain).daily(day, stock, etf)),
      () => check(day),
      // a duplicate row of the day's portfolio weights breaks the weight
      // sum and the primary key, which the check must report
      () => plainLake.append("portfolio_weights", plainLake.table("portfolio_weights")
        .filter(col("date") === java.sql.Date.valueOf(day)).limit(1)))
  }

  /** Per upserted table: (rows, distinct primary keys, distinct dates, last
    * date), all tables in one query.
    */
  private def tableStats(): Map[String, (Long, Long, Long, LocalDate)] =
    upserted.map { t =>
      val pk = plainLake.meta(t).primaryKeys
      plainLake.table(t).select(lit(t).as("t"),
        concat_ws("|", pk.map(c => col(c).cast("string")): _*).as("k"), col("date"))
    }.reduce(_ unionByName _)
      .groupBy("t").agg(count(lit(1)), count_distinct(col("k")),
        count_distinct(col("date")), max(col("date")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.getDate(4)).map(_.toLocalDate).orNull))).toMap

  /** No duplicate primary key, and exactly one new date (the step's day) in
    * every upserted table; on the step's day weights sum to 1, none negative
    * or NaN, and no NaN lambda or active risk.
    */
  private def check(day: LocalDate): Seq[String] = {
    val now = tableStats()
    val tables = upserted.flatMap { t =>
      val (rows, keys, dates, last) = now(t)
      val (_, _, prevDates, _) = stats(t)
      Seq(
        if (rows != keys) Some(s"$t: ${rows - keys} duplicate primary keys") else None,
        if (dates != prevDates + 1 || last != day)
          Some(s"$t: step $day added ${dates - prevDates} dates (last $last)") else None
      ).flatten
    }
    stats = now
    val d = java.sql.Date.valueOf(day)
    val w = plainLake.table("portfolio_weights").filter(col("date") === d)
    val bad = w.groupBy("date").agg(sum("weight").as("s"),
        sum(when(col("weight") < 0 || isnan(col("weight")) || col("weight").isNull, 1)
          .otherwise(0)).as("neg"))
      .filter(abs(col("s") - 1.0) > 1e-6 || col("neg") > 0 || isnan(col("s")))
      .count()
    val m = plainLake.table("portfolio_metrics").filter(col("date") === d)
      .filter(isnan(col("lambda")) || isnan(col("active_risk")) ||
        col("lambda").isNull || col("active_risk").isNull).count()
    val nDates = w.select("date").distinct().count()
    tables ++ Seq(
      if (bad > 0) Some(s"portfolio_weights: sum != 1, negative or NaN weights on $day") else None,
      if (m > 0) Some(s"portfolio_metrics: $m rows with NaN lambda or active_risk") else None,
      if (nDates == 0) Some(s"portfolio_weights: no weights on $day") else None).flatten
  }
}

object NightlyDaily {
  val DataSeed = 20240628L
  val start: LocalDate = LocalDate.of(2022, 1, 3)
  val end: LocalDate = LocalDate.of(2024, 6, 28)
  val marketDays: Seq[LocalDate] = Iterator.iterate(start)(_.plusDays(1))
    .takeWhile(!_.isAfter(end)).filter(_.getDayOfWeek.getValue <= 5).toSeq
  /** The tables a daily step upserts. */
  val upserted = Seq("stock_returns", "etf_returns", "factor_loadings", "idio_vol",
    "factor_covariances", "signals", "scores", "alphas", "benchmark_weights",
    "benchmark_returns", "betas", "portfolio_weights", "portfolio_metrics")
}

/** A fixed list of the program's named queries over generated tables; an
  * op is one pass over the list. The tables come from a fixed data seed, so
  * their results can be pinned: they are written once per checkout into
  * `cache` and only read. The run seed permutes the query order of each
  * pass.
  */
final class QueryMix(spark: SparkSession, work: Path, seed: Long, tracer: Option[Tracer],
    cache: Path) extends Workload(spark, work, tracer) {
  override def lakeDir: Path = work.resolve("lake-unused")
  // uncalibrated: README, "Calibration"
  override def calibrated: Boolean = false
  override def warmOps: Int = 3
  lazy val pins: Map[String, (Long, String)] = QueryMix.readPins()

  def prepare(): Unit =
    if (!Files.exists(cache.resolve("_complete"))) {
      Fs.delete(cache)
      Inputs.writeStarSchema(spark, cache, QueryMix.DataSeed, QueryMix.Scale, QueryMix.tables)
      Files.writeString(cache.resolve("_complete"), QueryMix.Scale.toString)
    }

  /** One pass over the query list, in an order drawn from the run seed. */
  def op(k: Int): Op = {
    val order = new scala.util.Random(seed * 1000003L + k).shuffle(QueryMix.queries)
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Array[Row]]
    Op("pass", order.size.toLong,
      t => span(t, "query_mix.pass")(order.foreach { q =>
        results(q) = span(t, s"query.$q")(QueryMix.run(spark, q, cache.toString))
      }),
      () => results.toSeq.flatMap { case (q, rows) => QueryMix.verify(q, rows, pins) },
      () => results(order.head) = results(order.head).dropRight(1))
  }
}

object QueryMix {
  val queries = Seq("j13b_range_join_topk", "d5b_neardup_embcos", "d6b_dedup_clusters_dist")
  val tables = Set("orders", "lineitem", "documents", "embeddings")
  val DataSeed = 20240628L
  val Scale = 1.0 // TPC-H sf0.01 in size (Inputs.writeStarSchema)
  val PinFile = "perfbench/pins/query_mix.tsv"

  /** Runs one query to completion and returns its rows. SQL conf the query
    * changes is restored, and the caches it leaves are dropped.
    */
  def run(spark: SparkSession, name: String, dir: String): Array[Row] = {
    val before = spark.conf.getAll
    try graft.SparkEntry.queries(name)(spark, dir).collect()
    finally {
      val after = spark.conf.getAll
      after.keysIterator.filterNot(before.contains).foreach(spark.conf.unset)
      before.foreach { case (k, v) => if (!after.get(k).contains(v)) spark.conf.set(k, v) }
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
  }

  /** Order-insensitive digest: SHA-256 over the sorted rendered rows, with
    * doubles rounded to 12 significant digits so the last-bit order of a
    * floating sum does not change it.
    */
  def digest(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "NULL"
      case d: Double => new java.math.BigDecimal(d).round(new java.math.MathContext(12))
        .stripTrailingZeros().toPlainString
      case f: Float => render(f.toDouble)
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case other => other.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  def verify(name: String, rows: Array[Row], pins: Map[String, (Long, String)]): Seq[String] =
    pins.get(name) match {
      case None => Seq(s"$name: no pinned result")
      case Some((n, d)) =>
        val got = digest(rows)
        if (rows.length != n || got != d)
          Seq(s"$name: ${rows.length} rows digest $got, pinned $n rows digest $d")
        else Nil
    }

  def readPins(): Map[String, (Long, String)] =
    scala.io.Source.fromFile(PinFile).getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2))).toMap
}
