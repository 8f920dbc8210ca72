package graft.tools

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The probes' shared rep discipline: which rep min-of-reps reports, what
  * it reports when nothing succeeded, and that the task-metrics listener
  * counts a query's shuffle.
  */
class ProbeSessionSpec extends SparkSpec {

  private def oneExchange(): Unit = {
    spark.range(0, 20000, 1, 4).groupBy(col("id") % 10).count().collect()
    ()
  }

  private def withProbe[T](body: ProbeSession => T): T = {
    val probe = new ProbeSession(spark)
    try body(probe) finally spark.sparkContext.removeSparkListener(probe.metrics)
  }

  test("min-of-reps reports the fastest successful rep's seconds and task metrics") {
    withProbe { probe =>
      oneExchange() // warm: the timed shuffle rep must beat the sleep
      // rep 1 throws, rep 2 is slow, rep 3 is fast: the fast rep's
      // metrics are reported, never the slow rep's or a sum
      def reps(slow: () => Unit, fast: () => Unit) = {
        var i = 0
        probe.minOfReps(3, "[spec]") {
          i += 1
          i match {
            case 1 => throw new IllegalStateException("rep 1 fails")
            case 2 => slow()
            case _ => fast()
          }
        }
      }
      val fastShuffle = reps(() => Thread.sleep(3000), () => oneExchange())
      assert(fastShuffle._1 > 0 && fastShuffle._1 < 3.0, fastShuffle)
      assert(fastShuffle._2 > 0, s"the fast rep's shuffle was lost: $fastShuffle")
      val fastIdle = reps(() => { oneExchange(); Thread.sleep(3000) }, () => ())
      assert(fastIdle._1 >= 0 && fastIdle._1 < 3.0, fastIdle)
      assert(fastIdle._2 == 0.0 && fastIdle._4 == 0.0,
        s"the slow rep's metrics leaked into the fast one: $fastIdle")

      // fastest orders by the result's own seconds, not the wall clock
      var j = 0
      val best = probe.fastest(3, "[spec]") { j += 1; j }(j => Seq(0.0, 5.0, 1.0, 2.0)(j))
      assert(best.map(_.result).contains(2))
      assert(best.map(_.sec).contains(1.0))
    }
  }

  test("min-of-reps reports -1s when every rep throws and rejects reps = 0") {
    withProbe { probe =>
      var runs = 0
      val failed = probe.minOfReps(2, "[spec]") {
        runs += 1; throw new IllegalStateException("always")
      }
      assert(runs == 2)
      assert(failed == ((-1.0, -1.0, -1.0, -1.0)))
      assert(probe.fastest(2, "[spec]")(throw new IllegalStateException("x"))(
        (_: Int) => 0.0).isEmpty)
      val e = intercept[IllegalArgumentException](
        probe.minOfReps(0, "[spec]") { runs += 1 })
      assert(e.getMessage.contains("reps must be >= 1"))
      assert(runs == 2, "reps = 0 must fail before running anything")
    }
  }

  test("the task-metrics listener counts a one-exchange query's shuffle after a drain") {
    val metrics = new ProbeSession.TaskMetrics
    spark.sparkContext.addSparkListener(metrics)
    try {
      oneExchange()
      assert(org.apache.spark.graftbench.ListenerDrain.drain(spark.sparkContext, 10000))
      val (shuffleMb, spillMb, peakMb) = metrics.snapMb()
      assert(shuffleMb > 0, "no shuffle bytes counted")
      assert(spillMb >= 0 && peakMb >= 0)
      metrics.reset()
      assert(metrics.snapMb() == ((0.0, 0.0, 0.0)))
    } finally spark.sparkContext.removeSparkListener(metrics)
  }
}
