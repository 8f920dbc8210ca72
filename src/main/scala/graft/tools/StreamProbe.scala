package graft.tools

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.StreamBenchShapes

/** Diagnostic main for the streaming bench entries: replays one StreamOps
  * operator through the same replay `graft.Bench` uses
  * (`StreamBenchShapes.replay`: bounded MemoryStream, ~10 real
  * micro-batches, noop sink) and prints the per-batch
  * `StreamingQueryProgress` duration breakdown plus every state
  * operator's custom metrics — the data needed to attribute wall-clock
  * between query planning, state-store load/commit, and the actual work.
  *
  * Knobs (env): SPARK_GRAFT_SF_DIR, SPARK_GRAFT_STATE_STORE
  * (rocksdb|hdfs), SPARK_GRAFT_CPUS (threads), SPARK_GRAFT_PARTS
  * (shuffle/state partitions; default = cpus), SPARK_GRAFT_PROBE_OP
  * (rollup|sessionize|neardedup|intervaljoin), SPARK_GRAFT_BATCHES
  * (default 10).
  *
  * Not part of any pipeline or bench artifact — a profiling tool only.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val parts = sys.env.getOrElse("SPARK_GRAFT_PARTS", cpus)
    val stateStore = sys.env.getOrElse("SPARK_GRAFT_STATE_STORE", "rocksdb")
    val op = sys.env.getOrElse("SPARK_GRAFT_PROBE_OP", "rollup")
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_BATCHES", "10").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", classOf[graft.expr.catalyst.GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // measurement-only knob: "false" disables the no-new-data micro-batch
    // that advances the watermark after each data batch, pricing that
    // half of the commit protocol explicitly. NOT for the bench — late
    // state would only evict on the next data batch, changing semantics.
    sys.env.get("SPARK_GRAFT_NO_DATA_BATCHES").foreach(v =>
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", v))
    if (stateStore == "rocksdb") {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // measurement override (Bench always runs changelog commits):
      // "false" reverts to full-snapshot-upload commits (the e6
      // lever-table axis, docs/STREAM_ATTRIBUTION.md round 17)
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        sys.env.getOrElse("SPARK_GRAFT_CHANGELOG", "true"))
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
      // attribution knob (default matches the bench shape): "false"
      // gives each store its own unbounded cache — isolates shared-
      // block-cache mutex contention in per-commit metrics collection
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage",
        sys.env.getOrElse("SPARK_GRAFT_BOUNDED_MEM", "true"))
    }

    implicit val eventEnc: Encoder[graft.streaming.StreamOps.Event] =
      Encoders.product[graft.streaming.StreamOps.Event]
    implicit val docEnc: Encoder[graft.streaming.StreamOps.Doc] =
      Encoders.product[graft.streaming.StreamOps.Doc]
    implicit val clickEnc: Encoder[(Long, java.sql.Timestamp)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP)
    implicit val buyEnc: Encoder[(Long, java.sql.Timestamp, Double)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP,
        Encoders.scalaDouble)

    // per-batch progress lines shared by both replay shapes: wall-clock
    // (of the whole drain — a drain covers the data batch AND the
    // watermark-advance batch for watermarked operators), the driver's
    // durationMs phase breakdown, then EVERY state operator
    // (stream-stream joins surface their symmetric-hash state here; its
    // commitTimeMs/stateMemory is the per-batch fixed cost under test).
    // ALL batches new since the previous drain are printed, not just
    // the last one — the data batch (puts, removed=0) and the
    // watermark batch (rows=0, removals) have different cost profiles
    // and attributing commit time needs both visible.
    var lastReported = -1L
    def report(q: StreamingQuery, batchSec: Double): Unit = {
      val fresh = q.recentProgress.filter(_.batchId > lastReported)
      fresh.foreach { p =>
        val dur = p.durationMs
        val soStr = p.stateOperators.map { s =>
          val custom = {
            import scala.jdk.CollectionConverters._
            s.customMetrics.asScala.filter(_._2 != 0L)
              .map { case (k, v) => s"$k=$v" }.toSeq.sorted.mkString(" ")
          }
          s"op=${s.operatorName} stateRows=${s.numRowsTotal} " +
            s"updated=${s.numRowsUpdated} removed=${s.numRowsRemoved} " +
            s"commitMs=${s.commitTimeMs} custom[$custom]"
        }.mkString(" | ")
        val wall = if (p.batchId == fresh.last.batchId) f"${batchSec}%6.2fs" else "      "
        println(f"batch=${p.batchId}%3d drain=$wall " +
          s"durationMs=${dur} rows=${p.numInputRows} $soStr")
      }
      fresh.lastOption.foreach(p => lastReported = p.batchId)
    }

    // TOTAL covers the whole replay — query start, feed, stop and
    // checkpoint cleanup — the same span the bench wall-clocks
    def timed(run: => Unit): Unit = {
      val t0 = System.nanoTime()
      run
      println(f"TOTAL ${(System.nanoTime() - t0) / 1e9}%.2fs " +
        s"op=$op store=$stateStore parts=$parts cpus=$cpus batches=$nBatches")
    }

    // each op collects only its own input (all lazy): a neardedup probe
    // must not pay an events-table collect, nor rollup a documents one.
    // All inputs/parameters come from StreamBenchShapes — the one
    // definition site shared with graft.Bench, so this probe provably
    // attributes the same query the bench wall-clocks.
    lazy val eventRows: IndexedSeq[graft.streaming.StreamOps.Event] =
      StreamBenchShapes.loadEvents(spark, sfDir)
    lazy val docRows: IndexedSeq[graft.streaming.StreamOps.Doc] =
      StreamBenchShapes.loadDocs(spark, sfDir)
    lazy val clickRows: IndexedSeq[(Long, java.sql.Timestamp)] =
      StreamBenchShapes.clicksOf(eventRows)
    lazy val buyRows: IndexedSeq[(Long, java.sql.Timestamp, Double)] =
      StreamBenchShapes.buysOf(eventRows)

    def replay[T: Encoder](rows: IndexedSeq[T], mk: Dataset[T] => Dataset[_]): Unit =
      timed(StreamBenchShapes.replay(spark, rows, nBatches, mk, report)((_, _) => ()))
    op match {
      case "rollup" =>
        replay(eventRows,
          (ds: Dataset[graft.streaming.StreamOps.Event]) =>
            graft.streaming.StreamOps.hourlyRollup(ds.toDF()))
      case "sessionize" =>
        replay(eventRows,
          (ds: Dataset[graft.streaming.StreamOps.Event]) =>
            graft.streaming.StreamOps.sessionize(ds))
      case "neardedup" =>
        replay(docRows,
          (ds: Dataset[graft.streaming.StreamOps.Doc]) =>
            graft.streaming.StreamOps.streamingNearDedup(ds))
      case "intervaljoin" =>
        timed(StreamBenchShapes.replay2(spark, clickRows, buyRows, nBatches,
          StreamBenchShapes.intervalJoinQuery, report)((_, _) => ()))
      case other => sys.error(s"unknown SPARK_GRAFT_PROBE_OP $other")
    }
    spark.stop()
  }
}
