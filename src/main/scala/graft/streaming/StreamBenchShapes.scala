package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Single definition site for the replay inputs, the query parameters and
  * the replay itself, shared by `graft.Bench`'s streaming entries,
  * `graft.tools.StreamProbe` and `graft.tools.StreamScaleProbe`. The
  * probes exist to attribute per-batch cost for EXACTLY the query the
  * bench wall-clocks; that attribution is only trustworthy while all of
  * them derive inputs, parameters and the feed-then-drain loop here —
  * hand-kept copies could drift silently, leaving a probe explaining a
  * different query than the bench times.
  *
  * All loaders `.collect()` to driver rows by design: the replays feed a
  * bounded `MemoryStream`, and every caller forces the collect OUTSIDE
  * their timed regions.
  */
object StreamBenchShapes {

  /** Buys are the click stream shifted forward by this lag (a
    * click→purchase attribution shape for the e6 interval join).
    */
  val buyShiftMs: Long = 600000L

  /** e6 interval-join event-time bounds: a buy matches a click from up
    * to `joinLookback` before it, and a click matches a buy up to
    * `joinLookahead` after it (see `StreamOps.intervalJoin`).
    */
  val joinLookback = "30 minutes"
  val joinLookahead = "10 minutes"

  def loadEvents(spark: SparkSession, sfDir: String): IndexedSeq[StreamOps.Event] =
    graft.catalog.Tables.load(spark, sfDir, "events")
      .select("user_id", "event_id", "ts", "value").collect().map { r =>
        StreamOps.Event(r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3))
      }.toIndexedSeq

  /** The documents table carries no timestamp — the near-dup replay
    * synthesizes a deterministic 1-second event-time spacing so the
    * 1-hour state horizon and watermark advance realistically.
    */
  def loadDocs(spark: SparkSession, sfDir: String): IndexedSeq[StreamOps.Doc] =
    graft.catalog.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect().zipWithIndex.map { case (r, i) =>
        StreamOps.Doc(r.getLong(0),
          new java.sql.Timestamp(1700000000000L + i * 1000L),
          if (r.isNullAt(1)) null else r.getString(1))
      }.toIndexedSeq

  /** e6 left input: events as "clicks". Sorted by event time — arrival
    * order drives the watermark, and time-ordered arrival is what
    * exercises steady-state growth AND expiry; random arrival would slam
    * the watermark to near-max in chunk 1 and drop the rest as late
    * rows, measuring nothing.
    */
  def clicksOf(events: IndexedSeq[StreamOps.Event]): IndexedSeq[(Long, java.sql.Timestamp)] =
    events.map(e => (e.user_id, e.ts)).sortBy(_._2.getTime)

  /** e6 right input: the same events shifted +[[buyShiftMs]] with their
    * value as the purchase amount, event-time-sorted (same rationale as
    * [[clicksOf]]).
    */
  def buysOf(events: IndexedSeq[StreamOps.Event]): IndexedSeq[(Long, java.sql.Timestamp, Double)] =
    events.map(e =>
        (e.user_id, new java.sql.Timestamp(e.ts.getTime + buyShiftMs), e.value))
      .sortBy(_._2.getTime)

  /** The e6 stream-stream interval-join query over the two replay inputs. */
  def intervalJoinQuery(
      clicks: Dataset[(Long, java.sql.Timestamp)],
      buys: Dataset[(Long, java.sql.Timestamp, Double)]): DataFrame =
    StreamOps.intervalJoin(
      clicks.toDF("c_user", "c_ts"),
      buys.toDF("b_user", "b_ts", "amount"),
      "c_user", "b_user", "c_ts", "b_ts",
      joinLookback, joinLookahead)

  /** Replays `rows` through `mk` into the noop sink: `rows` is cut into
    * chunks of `rows.length / chunks` (at least 1) rows, and each chunk is
    * fed and then drained before the next one. Feeding everything before
    * the first drain would collapse the replay into one micro-batch and
    * skip the per-batch state-store load/commit and watermark advance the
    * replay exists to measure; watermarked operators run a second,
    * no-new-data batch per drain that advances the watermark and evicts
    * state, and that batch is part of the measurement.
    *
    * `onDrain` sees the query and the drain's seconds after every drain;
    * `atEnd` sees it and the seconds since the first feed once the last
    * drain is done, before the query stops. The replay owns a fresh
    * checkpoint dir and deletes it whether or not the query fails, so a
    * run leaks no state-store files.
    */
  def replay[T: Encoder, R](spark: SparkSession, rows: IndexedSeq[T],
      chunks: Int, mk: Dataset[T] => Dataset[_],
      onDrain: (StreamingQuery, Double) => Unit = (_, _) => ())(
      atEnd: (StreamingQuery, Double) => R): R = {
    val in = MemoryStream[T](implicitly[Encoder[T]], spark.sqlContext)
    drive(mk(in.toDS()), chunked(rows, chunks).map(b => () => { in.addData(b); () }),
      onDrain, atEnd)
  }

  /** The two-input replay for stream-stream joins: both sides advance in
    * lockstep (a left chunk and a right chunk per drain), so both
    * watermarks move together and join-state expiry happens inside the
    * measurement instead of buffering one whole side. Equal lengths are a
    * precondition: a side that ran out early would stop its watermark,
    * and under min-of-watermarks expiry the other side's join state would
    * stop expiring for the rest of the run.
    */
  def replay2[A: Encoder, B: Encoder, R](spark: SparkSession,
      left: IndexedSeq[A], right: IndexedSeq[B], chunks: Int,
      mk: (Dataset[A], Dataset[B]) => Dataset[_],
      onDrain: (StreamingQuery, Double) => Unit = (_, _) => ())(
      atEnd: (StreamingQuery, Double) => R): R = {
    require(left.length == right.length,
      s"replay2 drives both watermarks in lockstep; got ${left.length} vs ${right.length}")
    val li = MemoryStream[A](implicitly[Encoder[A]], spark.sqlContext)
    val ri = MemoryStream[B](implicitly[Encoder[B]], spark.sqlContext)
    val feeds = chunked(left, chunks).zip(chunked(right, chunks)).map {
      case (lb, rb) => () => { li.addData(lb); ri.addData(rb); () }
    }
    drive(mk(li.toDS(), ri.toDS()), feeds, onDrain, atEnd)
  }

  private def chunked[T](rows: IndexedSeq[T], chunks: Int): Seq[IndexedSeq[T]] =
    rows.grouped(math.max(1, rows.length / chunks)).toSeq

  private def drive[R](query: Dataset[_], feeds: Seq[() => Unit],
      onDrain: (StreamingQuery, Double) => Unit,
      atEnd: (StreamingQuery, Double) => R): R = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_replay_ckpt")
    try {
      val q = query.writeStream.format("noop")
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try {
        val t0 = System.nanoTime()
        feeds.foreach { feed =>
          val tb = System.nanoTime()
          feed()
          q.processAllAvailable()
          onDrain(q, (System.nanoTime() - tb) / 1e9)
        }
        atEnd(q, (System.nanoTime() - t0) / 1e9)
      } finally q.stop()
    } finally graft.catalog.Fs.deleteRecursively(ckpt)
  }
}
