package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** How much Spark work a nightly step does, pinned as exact job counts on
  * the DailyPipelineSpec fixture. A backfill that leaves a table for its
  * next upsert to rewrite makes the first daily step after it run that
  * rewrite's jobs too, so that step would start more jobs than a steady one.
  */
class NightlyWorkSpec extends SparkSpec {

  /** Spark jobs `body` starts on this thread, tagged `tag` by a local
    * property.
    */
  private def jobs(tag: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(NightlyWorkSpec.key) == tag)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(NightlyWorkSpec.key, tag)
    try {
      body
      assert(ListenerDrain.drain(sc, 30000), "listener bus did not drain")
      n.get
    } finally {
      sc.setLocalProperty(NightlyWorkSpec.key, null)
      sc.removeSparkListener(listener)
    }
  }

  test("the first daily step after a backfill starts as many Spark jobs as a steady step") {
    val (_, lake, pipe, stock, etf) = DailyPipelineSpec.fixture(spark)
    val Array(b, first, steady) = lake.table("calendar").select("date").collect()
      .map(_.getDate(0).toLocalDate).sortBy(_.toEpochDay).takeRight(3)
    val upTo = java.sql.Date.valueOf(b)
    pipe.backfill(stock.filter(col("date") <= upTo), etf.filter(col("date") <= upTo))
    val firstJobs = jobs("first")(pipe.daily(first, stock, etf))
    val steadyJobs = jobs("steady")(pipe.daily(steady, stock, etf))
    assert((firstJobs, steadyJobs) == (NightlyWorkSpec.stepJobs, NightlyWorkSpec.stepJobs),
      s"first step $firstJobs jobs, steady step $steadyJobs, pinned ${NightlyWorkSpec.stepJobs}")
  }
}

object NightlyWorkSpec {
  private val key = "graft.nightlywork.tag"

  /** The jobs of one daily step that rewrites nothing. */
  private val stepJobs = 42
}
