package graft.pipeline

import java.time.LocalDate

import graft.SparkSpec
import graft.catalog.Lake
import graft.connect.FixtureBarSource
import graft.stages.Variables
import org.apache.spark.sql.functions._

class DailyPipelineSpec extends SparkSpec {

  test("daily releases the frames it caches") {
    // a long-lived session runs one step per market day: every cached
    // frame a step leaves behind is walked by every later cache lookup
    val lake = new Lake(spark,
      java.nio.file.Files.createTempDirectory("graft_daily").toString)
    val pipe = new DailyPipeline(spark, lake)
    val source = new FixtureBarSource(7L)
    val start = LocalDate.of(2022, 1, 3)
    val end = LocalDate.of(2024, 3, 29)
    pipe.initTables("replace")
    pipe.writeCalendar(start, end)
    val stock = source.dailyBars(spark, Seq("AAA", "BBB", "CCC"), start, end)
    val etf = source.dailyBars(spark, Variables.Factors, start, end)
    spark.sharedState.cacheManager.clearCache()
    pipe.daily(end, stock, etf)
    // the step ran to the end (weights are its last output) ...
    assert(lake.table("portfolio_weights")
      .filter(col("date") === java.sql.Date.valueOf(end)).count() > 0)
    // ... and left nothing in the cache
    assert(spark.sharedState.cacheManager.isEmpty,
      "daily left cached frames behind")
  }
}
