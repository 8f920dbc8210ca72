package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.graftconf.ScopedConf

import graft.{PropertySpec, SparkSpec}
import CcStrategy.{Auto, Hybrid, Propagation, Star}

/** How much Spark work each distributed CC strategy does, pinned as exact
  * job, stage and task counts on PropertySpec's lollipop graph. The answers are
  * pinned elsewhere; this pins the cost, so a change that adds one action
  * per level (or drops a persist and recomputes a level) fails here even
  * when every label is still right.
  */
class CcWorkSpec extends SparkSpec {

  /** Jobs, submitted stages and their tasks for the jobs this thread
    * starts while a local property carries `tag` (skipped stages are
    * never submitted). Tasks pin the loop's shuffle width too.
    */
  private final class Counter(tag: String) extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    private def mine(p: java.util.Properties): Boolean =
      p != null && p.getProperty(CcWorkSpec.key) == tag
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (mine(e.properties)) jobs.incrementAndGet()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (mine(e.properties)) {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks)
      }
  }

  /** (jobs, stages, tasks) of one forced-distributed canonicalize plus the
    * collect of its result, at session width 2.
    */
  private def work(strategy: CcStrategy, tag: String): (Int, Int, Int) = {
    val s = ScopedConf.session(spark, "spark.sql.shuffle.partitions" -> "2")
    val pairs = s.createDataFrame(PropertySpec.lollipopPairs).toDF("a", "b")
    val nodes = s.createDataFrame(PropertySpec.lollipopNodes.map(Tuple1(_)))
      .toDF("doc_id")
    val sc = spark.sparkContext
    val counter = new Counter(tag)
    sc.addSparkListener(counter)
    sc.setLocalProperty(CcWorkSpec.key, tag)
    try {
      Dedup.canonicalize(nodes, "doc_id", pairs, strategy, localEdgeLimit = 0L)
        .collect()
      assert(ListenerDrain.drain(sc, 30000), "listener bus did not drain")
      (counter.jobs.get, counter.stages.get, counter.tasks.get)
    } finally {
      sc.setLocalProperty(CcWorkSpec.key, null)
      sc.removeSparkListener(counter)
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("every distributed CC strategy runs a pinned number of jobs, stages and tasks") {
    val expected = Seq[(String, CcStrategy, (Int, Int, Int))](
      ("propagation", Propagation(), (62, 62, 66)),
      ("warm-start fallback", Propagation(maxIter = 3), (27, 27, 32)),
      ("star", Star(), (71, 71, 104)),
      ("hybrid-2", Hybrid(2, 8), (56, 56, 74)),
      ("hybrid-forest", Hybrid(20), (71, 71, 104)),
      ("auto", Auto(), (45, 45, 49)))
    val runs = for (rep <- 1 to 2; (name, strategy, want) <- expected)
      yield (name, rep, want, work(strategy, s"$name#$rep"))
    val wrong = runs.filter { case (_, _, want, got) => got != want }
    assert(wrong.isEmpty, wrong.map { case (name, rep, want, got) =>
      s"$name (run $rep): (jobs, stages, tasks) $got, pinned $want" }.mkString("; "))
  }
}

object CcWorkSpec {
  private val key = "graft.ccwork.tag"
}
