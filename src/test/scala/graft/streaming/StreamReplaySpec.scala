package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.SparkSpec

/** The one feed-then-drain replay behind Bench's streaming entries and
  * both streaming probes: chunking, lockstep feeding and checkpoint
  * cleanup.
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
    val (batches, rows) = StreamBenchShapes.replay(spark, (1 to 12), 4,
      (ds: Dataset[Int]) => ds.map(_ * 2),
      (q: StreamingQuery, sec: Double) => {
        assert(sec >= 0)
        drains += 1
        ckpt = checkpointOf(q)
        assert(Files.isDirectory(ckpt))
      }) { (q, _) =>
      val data = q.recentProgress.filter(_.numInputRows > 0)
      (data.length, data.map(_.numInputRows).sum)
    }
    assert(drains == 4)
    assert(batches == 4 && rows == 12)
    assert(!Files.exists(ckpt), s"checkpoint $ckpt left behind")
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
