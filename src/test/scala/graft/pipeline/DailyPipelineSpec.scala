package graft.pipeline

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.catalog.Lake
import graft.connect.FixtureBarSource
import graft.stages.Variables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

class DailyPipelineSpec extends SparkSpec {
  import DailyPipelineSpec.{end, upserted}

  private def fixture() = DailyPipelineSpec.fixture(spark)

  /** One daily step on `end` into a lake with only the calendar, run with
    * an empty cache.
    */
  private def dailyStep(): (Path, Lake) = {
    val (root, lake, pipe, stock, etf) = fixture()
    spark.sharedState.cacheManager.clearCache()
    pipe.daily(end, stock, etf)
    (root, lake)
  }

  test("daily releases the frames it caches") {
    // a long-lived session runs one step per market day: every cached
    // frame a step leaves behind is walked by every later cache lookup
    val (_, lake) = dailyStep()
    // the step ran to the end (weights are its last output) ...
    assert(lake.table("portfolio_weights")
      .filter(col("date") === java.sql.Date.valueOf(end)).count() > 0)
    // ... and left nothing in the cache
    assert(spark.sharedState.cacheManager.isEmpty,
      "daily left cached frames behind")
  }

  test("daily leaves no `_pending` or `_optimize_tmp`") {
    val (root, _) = dailyStep()
    val left = for (t <- upserted; f <- Seq("_optimize_tmp", "_pending")
      if Files.exists(root.resolve(s"$t/$f"))) yield s"$t/$f"
    assert(left.isEmpty, s"rewrites still outstanding after daily: $left")
  }

  test("a daily step after a backfill adds exactly its date to every upserted table") {
    val (root, lake, pipe, stock, etf) = fixture()
    val b = end.minusDays(1) // the market day before `end`
    def upTo(df: DataFrame) = df.filter(col("date") <= java.sql.Date.valueOf(b))
    pipe.backfill(upTo(stock), upTo(etf))
    // the backfill leaves no rewrite for the step
    val pending = upserted.filter(t => Files.exists(root.resolve(s"$t/_pending")))
    assert(pending.isEmpty, s"tables holding _pending after the backfill: $pending")
    def dates(t: String) =
      lake.table(t).select("date").distinct().collect().map(_.getDate(0).toLocalDate).toSet
    val marketDays = dates("calendar")
    val before = upserted.map(t => t -> dates(t)).toMap
    pipe.daily(end, stock, etf)
    upserted.foreach { t =>
      // every market day from the table's first through b
      val first = before(t).minByOption(_.toEpochDay).getOrElse(b)
      val gaps = marketDays.filter(d => !d.isBefore(first) && !d.isAfter(b)) -- before(t)
      val backfilled = before(t).size > 1 && gaps.isEmpty && !before(t).exists(_.isAfter(b))
      assert(backfilled, s"$t: the backfill is not every market day from $first through $b")
      val after = dates(t)
      val (added, lost) = (after -- before(t), before(t) -- after)
      assert(added == Set(end) && lost.isEmpty, s"$t: the step added $added and lost $lost")
      val rows = lake.table(t)
      val keys = rows.select(lake.meta(t).primaryKeys.map(col): _*).distinct()
      assert(rows.count() == keys.count(), s"$t: duplicate primary keys")
    }
    val total = lake.table("portfolio_weights")
      .filter(col("date") === java.sql.Date.valueOf(end)).agg(sum("weight")).head().getDouble(0)
    assert(math.abs(total - 1.0) < 1e-6, s"weights on $end sum to $total")
  }

  test("daily on a day that is not a market day writes nothing") {
    val (root, lake, pipe, stock, etf) = fixture()
    // a Saturday, and a day before the calendar's first
    Seq(LocalDate.of(2024, 3, 23), LocalDate.of(2021, 12, 31)).foreach { d =>
      pipe.daily(d, stock, etf)
      upserted.foreach { t =>
        assert(lake.table(t).count() == 0, s"$t: rows written for $d")
        assert(!Files.exists(root.resolve(s"$t/_pending")), s"$t: appended for $d")
      }
    }
  }

  test("20 daily steps after a backfill keep part files bounded and keys unique") {
    val (root, lake, pipe, stock, etf) = fixture()
    val steps = lake.table("calendar").select("date").collect()
      .map(_.getDate(0).toLocalDate).sortBy(_.toEpochDay).takeRight(20)
    val b = java.sql.Date.valueOf(steps.head.minusDays(1))
    pipe.backfill(stock.filter(col("date") <= b), etf.filter(col("date") <= b))
    /** Part files per partition directory of every upserted table. */
    def partFiles(): Map[Path, Set[Path]] = upserted.flatMap { t =>
      val s = Files.walk(root.resolve(s"$t/data"))
      try s.iterator.asScala.filter(_.getFileName.toString.startsWith("part-")).toList
      finally s.close()
    }.groupBy(_.getParent).map { case (d, fs) => d -> fs.toSet }
    steps.foreach { d =>
      val before = partFiles()
      pipe.daily(d, stock, etf)
      partFiles().foreach { case (dir, fs) =>
        // the step's own append may land on a partition at the bound
        val added = (fs -- before.getOrElse(dir, Set.empty)).size
        assert(fs.size <= Lake.MaxPartFiles + added,
          s"$d: ${root.relativize(dir)} holds ${fs.size} part files, $added new")
      }
    }
    upserted.foreach { t =>
      val rows = lake.table(t)
      val keys = rows.select(lake.meta(t).primaryKeys.map(col): _*).distinct()
      assert(rows.count() == keys.count(), s"$t: duplicate primary keys")
      assert(rows.filter(col("date") >= java.sql.Date.valueOf(steps.head))
        .select("date").distinct().count() == steps.length, s"$t: a step's date is missing")
    }
  }

  test("writeHistory names a table the pipeline does not declare") {
    val lake = new Lake(spark, Files.createTempDirectory("graft_daily").toString)
    val e = intercept[IllegalArgumentException](
      new DailyPipeline(spark, lake).writeHistory("no_such_table", spark.range(1).toDF()))
    assert(e.getMessage.contains("no_such_table"))
  }
}

object DailyPipelineSpec {

  val end: LocalDate = LocalDate.of(2024, 3, 29)

  /** The tables a daily step upserts. */
  val upserted = Seq("stock_returns", "etf_returns", "factor_loadings", "idio_vol",
    "factor_covariances", "signals", "scores", "alphas", "benchmark_weights",
    "benchmark_returns", "betas", "portfolio_weights", "portfolio_metrics")

  /** A fresh lake with the calendar written, its pipeline, and the
    * fixture's stock and ETF bars through `end`.
    */
  def fixture(spark: SparkSession): (Path, Lake, DailyPipeline, DataFrame, DataFrame) = {
    val root = Files.createTempDirectory("graft_daily")
    val lake = new Lake(spark, root.toString)
    val pipe = new DailyPipeline(spark, lake)
    val source = new FixtureBarSource(7L)
    val start = LocalDate.of(2022, 1, 3)
    pipe.initTables("replace")
    pipe.writeCalendar(start, end)
    val stock = source.dailyBars(spark, Seq("AAA", "BBB", "CCC"), start, end)
    val etf = source.dailyBars(spark, Variables.Factors, start, end)
    (root, lake, pipe, stock, etf)
  }
}
