package graft.catalog

import java.nio.file.Path
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** The write-behind queue behind [[Lake.optimize]]: queued rewrites run
  * FIFO on one daemon thread, and the registry maps each table directory
  * to its queued rewrite. Both are JVM-wide, so every `Lake` instance over
  * the same root waits on the same rewrite before touching the table.
  */
private[catalog] object Compactor {

  private val thread = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "graft-lake-compactor")
    t.setDaemon(true)
    t
  }

  private val queued = new ConcurrentHashMap[Path, CompletableFuture[Unit]]()

  /** Queues `rewrite` for `table`. It runs with the caller's active
    * session and a copy of the caller's local properties taken now (job
    * group, scheduler pool, any tag), not with whatever the pool thread
    * inherited when it was created.
    */
  def submit(spark: SparkSession, table: Path)(rewrite: => Unit): Unit =
    queued.put(table, SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], thread)(rewrite))

  /** Blocks until `table`'s queued rewrite (if any) has finished. A failed
    * rewrite is rethrown as the exception its body threw, once: the entry
    * is dropped when it is reported.
    */
  def await(table: Path): Unit = Option(queued.get(table)).foreach { f =>
    try f.get()
    catch { case e: ExecutionException => throw e.getCause }
    finally if (f.isDone) queued.remove(table, f)
  }

  /** [[await]] on every table under `root`. The first failure is thrown
    * after all have finished, with any later ones attached as suppressed.
    */
  def awaitUnder(root: Path): Unit = {
    val failures = queued.keySet.asScala.toSeq.filter(_.startsWith(root))
      .flatMap(t => scala.util.Try(await(t)).failed.toOption)
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }
}
