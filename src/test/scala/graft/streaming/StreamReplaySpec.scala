package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.SparkSpec
import graft.tools.StreamScaleProbe

/** The one feed-then-drain replay and state store behind Bench's
  * streaming entries and StreamScaleProbe: chunking, lockstep feeding,
  * checkpoint cleanup, the probe's per-batch report and the store's conf.
  */
class StreamReplaySpec extends SparkSpec {
  import spark.implicits._

  private def checkpointOf(q: StreamingQuery): Path = Paths.get(
    new org.apache.hadoop.fs.Path(
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.resolvedCheckpointRoot)
      .toUri.getPath)

  test("a 1-input replay of N rows in k chunks runs k data batches and removes its checkpoint") {
    var drains = 0
    var ckpt: Path = null
    val log = new StreamScaleProbe.BatchLog
    val (batches, rows, progress, stats) = StreamBenchShapes.replay(spark, (1 to 12), 4,
      (ds: Dataset[Int]) => ds.map(_ * 2),
      (q: StreamingQuery, sec: Double) => {
        assert(sec >= 0)
        drains += 1
        ckpt = checkpointOf(q)
        assert(Files.isDirectory(ckpt))
        log.onDrain(q, sec)
      }) { (q, sec) =>
      val data = q.recentProgress.filter(_.numInputRows > 0)
      (data.length, data.map(_.numInputRows).sum,
        q.recentProgress.toSeq, StreamScaleProbe.statsOf(q, sec, log))
    }
    assert(drains == 4)
    assert(batches == 4 && rows == 12)
    assert(!Files.exists(ckpt), s"checkpoint $ckpt left behind")
    // the probe's stats count the batches that ran, and its report has
    // one line per batch run, in batch-id order, each drain's wall on its
    // last batch (an idle trigger's entry repeats the next batch's id)
    val batchIds = progress.filter(_.durationMs.containsKey("addBatch")).map(_.batchId)
    assert(batchIds.length >= 4 && batchIds == progress.map(_.batchId).distinct)
    assert(stats.batches == batchIds.length)
    val Line = """batch=\s*(\d+) drain=(.{7}) durationMs=\{.*\} rows=(\d+) .*""".r
    val parsed = stats.batchLines.map {
      case Line(id, wall, n) => (id.toLong, wall.trim.nonEmpty, n.toLong)
      case other => fail(s"unparseable batch line: $other")
    }
    assert(parsed.map(_._1) == batchIds)
    assert(parsed.map(_._3).sum == 12)
    assert(parsed.count(_._2) == drains)
  }

  test("the state store conf differs between the bench and the probes only in the row counter") {
    val bench = org.apache.spark.sql.graftconf.ScopedConf.session(spark)
    val probe = org.apache.spark.sql.graftconf.ScopedConf.session(spark)
    StreamBenchShapes.useStateStore(bench, trackRows = false)
    StreamBenchShapes.useStateStore(probe, trackRows = true)
    val p = "spark.sql.streaming.stateStore."
    // the graded bench streaming shape, as literals
    Seq(bench, probe).foreach { s =>
      assert(s.conf.get(p + "providerClass") ==
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      assert(s.conf.get(p + "rocksdb.changelogCheckpointing.enabled") == "true")
      assert(s.conf.get(p + "rocksdb.boundedMemoryUsage") == "true")
    }
    assert(bench.conf.get(p + "rocksdb.trackTotalNumberOfRows") == "false")
    assert(probe.conf.get(p + "rocksdb.trackTotalNumberOfRows") == "true")
    val (b, q) = (bench.conf.getAll, probe.conf.getAll)
    assert((b.keySet ++ q.keySet).filter(k => b.get(k) != q.get(k)) ==
      Set(p + "rocksdb.trackTotalNumberOfRows"))
    assert(StreamBenchShapes.stateStore == "rocksdb")
  }

  test("a 2-input replay feeds both sides in lockstep and rejects unequal lengths") {
    val l = (1 to 6).map(_.toLong)
    val r = (1 to 6).map(_.toString)
    var drains = 0
    val rows = StreamBenchShapes.replay2(spark, l, r, 3,
      (a: Dataset[Long], b: Dataset[String]) => a.map(_.toString).union(b),
      (_: StreamingQuery, _: Double) => drains += 1) {
      (q, _) => q.recentProgress.map(_.numInputRows).sum
    }
    // one drain per chunk PAIR (the running query may split a pair's two
    // feeds across micro-batches, but both land before the drain returns)
    assert(drains == 3 && rows == 12)
    val e = intercept[IllegalArgumentException](
      StreamBenchShapes.replay2(spark, l, r.take(5), 3,
        (a: Dataset[Long], b: Dataset[String]) => a.toDF()) { (_, _) => () })
    assert(e.getMessage.contains("lockstep") && e.getMessage.contains("6 vs 5"))
  }

  test("a query that throws mid-replay still has its checkpoint removed") {
    var ckpt: Path = null
    var drains = 0
    val boom = (ds: Dataset[Int]) => ds.map { x =>
      if (x == 10) throw new IllegalStateException("boom at 10"); x
    }
    intercept[StreamingQueryException](
      StreamBenchShapes.replay(spark, (1 to 12), 4, boom,
        (q: StreamingQuery, _: Double) => { drains += 1; ckpt = checkpointOf(q) }) {
        (_, _) => fail("the replay must not reach its end hook")
      })
    // chunks [1-3], [4-6], [7-9] drained; [10-12] threw
    assert(drains == 3)
    assert(ckpt != null && !Files.exists(ckpt), s"checkpoint $ckpt left behind")
  }
}
