package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** How much Spark work a nightly step does, pinned as exact job, stage and
  * task counts on the DailyPipelineSpec fixture. A backfill that leaves a
  * table for its next upsert to rewrite makes the first daily step after it
  * run that rewrite's jobs too, so that step would start more jobs than a
  * steady one.
  */
class NightlyWorkSpec extends SparkSpec {
  import NightlyWorkSpec.Work

  /** Spark jobs, submitted stages and their tasks that `body` starts on
    * this thread, tagged `tag` by a local property.
    */
  private def work(tag: String)(body: => Unit): Work = {
    val sc = spark.sparkContext
    val (jobs, stages, tasks) = (new AtomicInteger, new AtomicInteger, new AtomicInteger)
    def tagged(p: java.util.Properties) = p != null && p.getProperty(NightlyWorkSpec.key) == tag
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tagged(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (tagged(e.properties)) {
          stages.incrementAndGet()
          tasks.addAndGet(e.stageInfo.numTasks)
        }
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(NightlyWorkSpec.key, tag)
    try {
      body
      assert(ListenerDrain.drain(sc, 30000), "listener bus did not drain")
      Work(jobs.get, stages.get, tasks.get)
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
    val firstWork = work("first")(pipe.daily(first, stock, etf))
    val steadyWork = work("steady")(pipe.daily(steady, stock, etf))
    assert((firstWork, steadyWork) == (NightlyWorkSpec.stepWork, NightlyWorkSpec.stepWork),
      s"first step $firstWork, steady step $steadyWork, pinned ${NightlyWorkSpec.stepWork}")
  }
}

object NightlyWorkSpec {
  private val key = "graft.nightlywork.tag"

  private final case class Work(jobs: Int, stages: Int, tasks: Int)

  /** The work of one daily step that rewrites nothing. */
  private val stepWork = Work(jobs = 38, stages = 39, tasks = 76)
}
