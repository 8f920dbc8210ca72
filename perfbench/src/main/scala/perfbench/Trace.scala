package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import graft.catalog.Lake

/** Engine counters, summed over every task, job and write the session ran. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleWriteB: Long = 0, fetchWaitMs: Long = 0, spillB: Long = 0,
    inputB: Long = 0, outRows: Long = 0, outB: Long = 0, files: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWriteB - o.shuffleWriteB, fetchWaitMs - o.fetchWaitMs,
    spillB - o.spillB, inputB - o.inputB, outRows - o.outRows, outB - o.outB,
    files - o.files)
}

/** Job interval in epoch milliseconds, tagged with the span that started it. */
final case class JobRun(id: Int, start: Long, var end: Long, span: Int)

/** Counts the session's jobs, stages, tasks and written files; every field
  * is guarded by `this`. Files come from the write commands' "number of
  * written files" SQL metric, posted as a driver accumulator update.
  */
final class EngineListener extends SparkListener {
  private var c = Counters()
  private val jobs = ArrayBuffer.empty[JobRun]
  private val fileMetricIds = scala.collection.mutable.Set.empty[Long]

  def counters: Counters = synchronized(c)
  def jobRuns: Seq[JobRun] = synchronized(jobs.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Tag)))
    jobs += JobRun(e.jobId, e.time, -1L, tag.map(_.toInt).getOrElse(-1))
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.reverseIterator.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1) else c.copy(
      tasks = c.tasks + 1,
      runMs = c.runMs + m.executorRunTime,
      cpuNs = c.cpuNs + m.executorCpuTime,
      gcMs = c.gcMs + m.jvmGCTime,
      shuffleWriteB = c.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten,
      fetchWaitMs = c.fetchWaitMs + m.shuffleReadMetrics.fetchWaitTime,
      spillB = c.spillB + m.diskBytesSpilled,
      inputB = c.inputB + m.inputMetrics.bytesRead,
      outRows = c.outRows + m.outputMetrics.recordsWritten,
      outB = c.outB + m.outputMetrics.bytesWritten)
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => register(s.sparkPlanInfo)
    case s: SparkListenerSQLAdaptiveExecutionUpdate => register(s.sparkPlanInfo)
    case u: SparkListenerDriverAccumUpdates => synchronized {
      val n = u.accumUpdates.collect { case (id, v) if fileMetricIds(id) => v }.sum
      c = c.copy(files = c.files + n)
    }
    case _ =>
  }
  private def register(p: SparkPlanInfo): Unit = synchronized {
    p.metrics.filter(_.name == "number of written files").foreach(fileMetricIds += _.accumulatorId)
    p.children.foreach(register)
  }
}

/** One timed call at a layer boundary; times are `System.nanoTime`. `c` is
  * the engine counter delta over the span (taken after draining the
  * listener bus at both ends, so it holds exactly the span's own jobs).
  * [outerStart, outerEnd] adds the two drains, which the parent's self
  * time must not count as its own work.
  */
final case class Span(id: Int, name: String, table: String, parent: Int,
    op: Int, start: Long, end: Long, outerStart: Long, outerEnd: Long, c: Counters) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder for the traced run. Spans are written out once,
  * when the run ends. The Spark jobs a span starts carry its id in the
  * `perfbench.span` local property, which the listener records.
  */
final class Tracer(spark: SparkSession) {
  val listener = new EngineListener
  spark.sparkContext.addSparkListener(listener)

  val spans = ArrayBuffer.empty[Span]
  var op = -1
  private var stack = List.empty[Int]
  private var nextId = 0
  // nanoTime ↔ epoch-millisecond anchor, to line spans up with job times
  val nano0: Long = System.nanoTime()
  val epochMs0: Long = System.currentTimeMillis()
  def epochMs(nano: Long): Double = epochMs0 + (nano - nano0) / 1e6

  def snapshot(): Counters = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    listener.counters
  }

  def span[T](name: String, table: String = "")(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val sc = spark.sparkContext
    val prevTag = sc.getLocalProperty(Tracer.Tag)
    val o0 = System.nanoTime()
    val c0 = snapshot()
    stack = id :: stack
    sc.setLocalProperty(Tracer.Tag, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Tracer.Tag, prevTag)
      val c1 = snapshot()
      spans += Span(id, name, table, parent, op, t0, t1, o0, System.nanoTime(), c1 - c0)
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
  }
}

object Tracer { val Tag = "perfbench.span" }

/** The program's lake with each public call wrapped in a `catalog.*` span. */
final class TracedLake(spark: SparkSession, root: String, t: Tracer)
    extends Lake(spark, root) {
  override def append(name: String, df: DataFrame): Unit =
    t.span("catalog.append", name)(super.append(name, df))
  override def optimize(name: String, orderCol: String): Unit =
    t.span("catalog.optimize", name)(super.optimize(name, orderCol))
  override def table(name: String): DataFrame =
    t.span("catalog.table", name)(super.table(name))
}
