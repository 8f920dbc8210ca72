package graft.pipeline

import java.nio.file.{Files, Path}
import java.time.LocalDate

import graft.SparkSpec
import graft.catalog.Lake
import graft.connect.FixtureBarSource
import graft.stages.Variables
import org.apache.spark.sql.functions._

class DailyPipelineSpec extends SparkSpec {

  private val end = LocalDate.of(2024, 3, 29)

  /** A fresh lake with the calendar written, and one daily step on `end`
    * run with an empty cache.
    */
  private def dailyStep(): (Path, Lake) = {
    val root = Files.createTempDirectory("graft_daily")
    val lake = new Lake(spark, root.toString)
    val pipe = new DailyPipeline(spark, lake)
    val source = new FixtureBarSource(7L)
    val start = LocalDate.of(2022, 1, 3)
    pipe.initTables("replace")
    pipe.writeCalendar(start, end)
    val stock = source.dailyBars(spark, Seq("AAA", "BBB", "CCC"), start, end)
    val etf = source.dailyBars(spark, Variables.Factors, start, end)
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

  test("daily returns only after every rewrite it queued has landed") {
    val (root, _) = dailyStep()
    val upserted = Seq("stock_returns", "etf_returns", "factor_loadings", "idio_vol",
      "factor_covariances", "signals", "scores", "alphas", "benchmark_weights",
      "benchmark_returns", "betas", "portfolio_weights", "portfolio_metrics")
    val left = for (t <- upserted; f <- Seq("_optimize_tmp", "_pending")
      if Files.exists(root.resolve(s"$t/$f"))) yield s"$t/$f"
    assert(left.isEmpty, s"rewrites still outstanding after daily: $left")
  }
}
