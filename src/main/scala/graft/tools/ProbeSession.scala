package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The measurement probes' one session and one rep discipline
  * (ScaleProbe, StreamScaleProbe, CcProbe): the session they run on, the
  * task-metrics listener, the settle between reps and the min-of-reps
  * loop, so a change to any of them reaches every probe at once.
  *
  * The session honours the round-12 executor contract:
  *   - `SPARK_GRAFT_MASTER=local-cluster[n,cores,memMB]` puts real
  *     executor JVMs and socket exchanges under the probe; default is
  *     in-process `local[cpus]`.
  *   - Executor processes inherit neither the launcher's classpath nor
  *     the JDK17 add-opens, so `SPARK_GRAFT_EXECUTOR_CLASSPATH` /
  *     `SPARK_GRAFT_EXECUTOR_OPTS` / `SPARK_GRAFT_EXECUTOR_MEM` are
  *     passed through explicitly.
  *   - The classpath must be ABSOLUTE, asserted here: executors resolve
  *     a relative `extraClassPath` against their WORKER dir, the app
  *     classes silently vanish, and the failure mode is not a clean
  *     ClassNotFound — codegen-inlined expressions keep working while
  *     plans whose expressions reach executors un-inlined die with
  *     SerializedLambda→MapPartitionsRDD.f ClassCastExceptions (the
  *     round-12 half-day incident, docs/SCALING.md caveats).
  */
final class ProbeSession(val spark: SparkSession) {
  import ProbeSession._

  val metrics = new TaskMetrics
  spark.sparkContext.addSparkListener(metrics)

  /** Runs `run` `reps` times, settling after each rep, and returns the
    * fastest successful one by `sec` of its result, with its task
    * metrics; None iff every rep threw (each failure is logged under
    * `label`). Metrics are read behind a listener-bus drain so a rep's
    * async task-end events are counted before the next rep's reset.
    */
  def fastest[R](reps: Int, label: String)(run: => R)(sec: R => Double): Option[Rep[R]] = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    (1 to reps).flatMap { _ =>
      metrics.reset()
      val out =
        try Some(run)
        catch { case e: Throwable => System.err.println(s"$label FAILED: $e"); None }
      org.apache.spark.graftbench.ListenerDrain.drain(spark.sparkContext, 5000)
      val (sh, sp, pk) = metrics.snapMb()
      settle()
      out.map(r => Rep(r, sec(r), sh, sp, pk))
    }.minByOption(_.sec)
  }

  /** (sec, shuffle MB, spill MB, peak task MB) of the fastest successful
    * rep of `run`, timed by wall clock; -1s iff every rep failed.
    */
  def minOfReps(reps: Int, label: String)(run: => Unit): (Double, Double, Double, Double) =
    fastest(reps, label) {
      val t0 = System.nanoTime(); run; (System.nanoTime() - t0) / 1e9
    }(identity).fold((-1.0, -1.0, -1.0, -1.0))(r =>
      (r.sec, r.shuffleMb, r.spillMb, r.peakTaskMb))
}

object ProbeSession {

  /** A probe session at `parts` shuffle partitions: graft extensions,
    * UTC, AQE on, UI off, plus `extra` configs, on the master and
    * executor env above.
    */
  def apply(cpus: String, parts: String, extra: (String, String)*): ProbeSession = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val classpath = sys.env.get("SPARK_GRAFT_EXECUTOR_CLASSPATH")
    classpath.foreach { cp =>
      require(new java.io.File(cp).isAbsolute,
        s"SPARK_GRAFT_EXECUTOR_CLASSPATH must be absolute, got: $cp")
    }
    val confs = Seq(
      "spark.sql.extensions" -> classOf[graft.expr.catalyst.GraftExtensions].getName,
      "spark.sql.shuffle.partitions" -> parts,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false") ++
      classpath.map("spark.executor.extraClassPath" -> _) ++
      sys.env.get("SPARK_GRAFT_EXECUTOR_OPTS").map("spark.executor.extraJavaOptions" -> _) ++
      sys.env.get("SPARK_GRAFT_EXECUTOR_MEM").map("spark.executor.memory" -> _) ++
      extra
    val spark = confs.foldLeft(SparkSession.builder().master(master)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new ProbeSession(spark)
  }

  /** The fastest rep: its result, seconds and task-metric trio in MB. */
  final case class Rep[+R](result: R, sec: Double, shuffleMb: Double,
      spillMb: Double, peakTaskMb: Double)

  /** Task-metric trio since the last `reset`: cluster-wide shuffle-write
    * and disk-spill sums plus the max single-task execution-memory
    * high-water mark (a sum would overstate peaks that never coexist).
    * This turns "the super-linear top segment is the shared heap, not
    * the plan" from an argument into a column of data: a memory-pressure
    * segment shows spill/peak climbing with scale, a plan defect shows
    * shuffle climbing super-linearly. Delivery is asynchronous: read it
    * after a [[org.apache.spark.graftbench.ListenerDrain]] drain. Also
    * graft.Bench's per-rep task metrics.
    */
  final class TaskMetrics extends SparkListener {
    private val shuffle = new java.util.concurrent.atomic.AtomicLong
    private val spill = new java.util.concurrent.atomic.AtomicLong
    private val peak = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
        peak.accumulateAndGet(m.peakExecutionMemory, Math.max(_, _))
      }
    }
    def reset(): Unit = { shuffle.set(0); spill.set(0); peak.set(0) }
    def snapMb(): (Double, Double, Double) =
      (shuffle.get / 1e6, spill.get / 1e6, peak.get / 1e6)
  }

  /** Between timed regions only, never inside one: the GC lets
    * ContextCleaner reclaim the shuffle files and broadcasts the previous
    * run abandoned, so a later run does not pay its neighbour's cleanup;
    * the pause lets that cleanup and listener delivery drain.
    */
  def settle(): Unit = { System.gc(); Thread.sleep(250) }
}
