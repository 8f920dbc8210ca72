package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._
  import StreamOps._

  private def ts(m: Long): Timestamp = new Timestamp(1704067200000L + m * 60000L)

  test("sessionize closes a session when the gap exceeds 30 minutes") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = sessionize(input.toDS()).writeStream
      .format("memory").queryName("sess").outputMode("append")
.start()
    input.addData(
      Event(7L, 1L, ts(0), 1.50), Event(7L, 2L, ts(10), 2.50),
      Event(7L, 3L, ts(60), 4.00)) // 50-min gap -> new session
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sess").as[Session].collect()
    // first session closed by the gap; second still open in state
    assert(out.length == 1)
    assert(out(0).n_events == 2 && math.abs(out(0).sum_value - 4.0) < 1e-12)
    assert(out(0).session_id == 1)
  }

  test("bounded-state sessionize: timeout eviction keeps ids monotonic, never reused") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    // timestampIds mode: a processing-time timeout can only fire on wall
    // clock inside a running query, so the extracted transition function
    // is driven directly through TestGroupState
    val gapUs = 30L * 60L * 1000000L
    val update = StreamOps.sessionUpdate(gapUs, Some("10 minutes"), true) _
    val noWm = Optional.empty[Long]()

    // batch 1: one event opens a session (nothing emitted yet)
    val s0 = TestGroupState.create[SessionState](Optional.empty(),
      GroupStateTimeout.ProcessingTimeTimeout, 1000L, noWm, false)
    assert(update(7L, Iterator(Event(7L, 1L, ts(0), 1.5)), s0).isEmpty)
    assert(s0.exists && s0.get.n == 1)

    // timeout fires: the open session flushes AND the key is REMOVED —
    // no dormant marker survives (the bounded-state contract)
    val s1 = TestGroupState.create[SessionState](Optional.of(s0.get),
      GroupStateTimeout.ProcessingTimeTimeout, 2000L, noWm, true)
    val flushed = update(7L, Iterator.empty, s1).toSeq
    assert(flushed.length == 1 && flushed.head.n_events == 1)
    assert(s1.isRemoved, "dormant marker must not survive a timeout in timestampIds mode")
    val firstId = flushed.head.session_id

    // re-arrival AFTER eviction: fresh state, yet the new session id is
    // strictly larger (start-us ids) — monotonic, no (user, id) reuse
    val s2 = TestGroupState.create[SessionState](Optional.empty(),
      GroupStateTimeout.ProcessingTimeTimeout, 3000L, noWm, false)
    assert(update(7L, Iterator(Event(7L, 2L, ts(120), 2.0)), s2).isEmpty)
    assert(s2.get.sessionId > firstId,
      s"id ${s2.get.sessionId} must exceed flushed id $firstId")

    // gap-closed sessions inside one batch also carry distinct
    // monotonic start-us ids
    val s3 = TestGroupState.create[SessionState](Optional.empty(),
      GroupStateTimeout.ProcessingTimeTimeout, 4000L, noWm, false)
    val out3 = update(8L, Iterator(
      Event(8L, 1L, ts(0), 1.0), Event(8L, 2L, ts(10), 1.0),
      Event(8L, 3L, ts(60), 1.0)), s3).toSeq
    assert(out3.length == 1 && out3.head.n_events == 2)
    assert(s3.get.sessionId > out3.head.session_id)
  }

  test("sessionize: a cross-batch straggler inside the open session cannot regress its end") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    // in-batch rows are sorted, so an end-regressing event is only
    // reachable across micro-batches; a regressed end would mis-measure
    // the next gap and split one real session in two
    val gapUs = 30L * 60L * 1000000L
    val update = StreamOps.sessionUpdate(gapUs, None, false) _
    val noWm = Optional.empty[Long]()

    // batch 1: events at t=0 and t=10min -> open session ending 10min
    val s0 = TestGroupState.create[SessionState](Optional.empty(),
      GroupStateTimeout.NoTimeout, 1000L, noWm, false)
    assert(update(7L, Iterator(
      Event(7L, 1L, ts(0), 1.0), Event(7L, 2L, ts(10), 1.0)), s0).isEmpty)
    val end1 = s0.get.end

    // batch 2: straggler at t=2min (inside the session), then t=34min.
    // 34min is 24min after the TRUE end (10min) -> same session; against
    // a regressed end of 2min it would read 32min > 30min and split.
    val s1 = TestGroupState.create[SessionState](Optional.of(s0.get),
      GroupStateTimeout.NoTimeout, 2000L, noWm, false)
    val out = update(7L, Iterator(
      Event(7L, 3L, ts(2), 1.0), Event(7L, 4L, ts(34), 1.0)), s1).toSeq
    assert(out.isEmpty, s"straggler must not split the session: $out")
    assert(s1.get.n == 4 && s1.get.end > end1)
  }

  test("sessionize is invariant to micro-batch splits of an in-order stream") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    // the general form of the straggler case: for ANY contiguous split of
    // a time-ordered event stream, the emitted sessions and final open
    // state must equal the single-batch run — micro-batch boundaries are
    // an execution detail, not a semantic input
    val gapUs = 30L * 60L * 1000000L
    val update = StreamOps.sessionUpdate(gapUs, None, false) _
    val noWm = Optional.empty[Long]()
    val rnd = new scala.util.Random(20260813L)

    def run(batches: Seq[Seq[Event]]): (Seq[Session], Option[SessionState]) = {
      var st: Option[SessionState] = None
      val emitted = scala.collection.mutable.ArrayBuffer[Session]()
      batches.foreach { b =>
        val gs = TestGroupState.create[SessionState](
          st.map(Optional.of[SessionState]).getOrElse(Optional.empty[SessionState]()),
          GroupStateTimeout.NoTimeout, 0L, noWm, false)
        emitted ++= update(1L, b.iterator, gs).toSeq
        st = if (gs.exists) Some(gs.get) else None
      }
      (emitted.toSeq, st)
    }

    (1 to 8).foreach { round =>
      var tMin = 0L
      val events = (1 to 30).map { i =>
        // mostly short steps, occasionally over the 30-min gap
        tMin += (if (rnd.nextInt(4) == 0) 31L + rnd.nextInt(60) else rnd.nextInt(10).toLong)
        Event(1L, i.toLong, ts(tMin), rnd.nextInt(100) / 10.0)
      }
      val single = run(Seq(events))
      val cuts = (Seq(0, events.size) ++ Seq.fill(rnd.nextInt(4))(rnd.nextInt(events.size)))
        .distinct.sorted
      val batches = cuts.sliding(2).collect { case Seq(a, b) if b > a => events.slice(a, b) }.toSeq
      val split = run(batches)
      assert(split == single, s"round $round cuts $cuts")
    }
  }

  test("RocksDB state-store provider takes effect and preserves session semantics") {
    // the Bench streaming entries run on RocksDB + changelog
    // checkpointing; this pins that the session conf is actually honored
    // by a keyed-state query (observable via rocksdb custom metrics in
    // the progress report) and that results match the default provider
    implicit val sc = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val changelogKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(changelogKey, "true")
    try {
      val input = MemoryStream[Event]
      val q = sessionize(input.toDS()).writeStream
        .format("memory").queryName("rocks_sess").outputMode("append")
        .start()
      input.addData(
        Event(7L, 1L, ts(0), 1.50), Event(7L, 2L, ts(10), 2.50),
        Event(7L, 3L, ts(60), 4.00))
      q.processAllAvailable()
      val custom = q.lastProgress.stateOperators.head.customMetrics
      q.stop()
      import scala.jdk.CollectionConverters._
      assert(custom.keySet().asScala.exists(_.toLowerCase.contains("rocksdb")),
        s"expected rocksdb state-store metrics, got: ${custom.keySet()}")
      val out = spark.table("rocks_sess").as[Session].collect()
      assert(out.length == 1 && out(0).n_events == 2 && out(0).session_id == 1)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
      spark.conf.unset(changelogKey)
    }
  }

  test("hourlyRollup over a stream matches the batch expression") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = hourlyRollup(input.toDF()).writeStream
      .format("memory").queryName("roll").outputMode("append")
.start()
    input.addData(
      Event(1L, 1L, ts(5), 1.00), Event(2L, 2L, ts(20), 2.00),
      Event(1L, 3L, ts(65), 4.00),
      Event(1L, 4L, ts(600), 0.5)) // far-future row advances the watermark
    q.processAllAvailable()
    q.stop()
    val out = spark.table("roll").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    val h0 = 1704067200000000L
    assert(out(h0)._1 == 2 && math.abs(out(h0)._2 - 3.0) < 1e-12)
    assert(out(h0 + 3600000000L)._1 == 1)
  }

  test("intervalJoin: stream-stream attribution matches the batch join") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val buys = MemoryStream[(Long, Timestamp, Double)]
    val q = StreamOps.intervalJoin(
        clicks.toDS().toDF("c_user", "c_ts"),
        buys.toDS().toDF("b_user", "b_ts", "amount"),
        "c_user", "b_user", "c_ts", "b_ts", "30 minutes", "10 minutes")
      .writeStream.format("memory").queryName("attr").outputMode("append")
      .start()
    // batch 1: click at t0 for users 1 and 2
    clicks.addData((1L, ts(0)), (2L, ts(0)))
    q.processAllAvailable()
    // batch 2: buys across the horizon boundary + wrong-user buy
    buys.addData((1L, ts(10), 5.0), (1L, ts(45), 7.0), (3L, ts(10), 9.0))
    q.processAllAvailable()
    // batch 3: a second click re-opens attribution for a later buy
    clicks.addData((1L, ts(40)))
    buys.addData((2L, ts(29), 3.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("attr")
      .select("c_user", "c_ts", "b_ts", "amount").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getDouble(3)))
      .toSet
    // matches: (1, t0)->buy@10 (within 30m), (1, t40)->buy@45, (2, t0)->buy@29;
    // NOT (1,t0)->buy@45 (past horizon), NOT user 3 (no click)
    assert(out == Set(
      (1L, ts(0), ts(10), 5.0),
      (1L, ts(40), ts(45), 7.0),
      (2L, ts(0), ts(29), 3.0)))
  }

  test("streamingNearDedup drops re-delivered doc ids (at-least-once source)") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = StreamOps.streamingNearDedup(input.toDS(), maxDist = 3)
      .writeStream.format("memory").queryName("redeliver").outputMode("append")
      .start()
    val a = Doc(1L, ts(0), "alpha beta gamma delta epsilon zeta")
    val b = Doc(2L, ts(1), "alpha beta gamma delta epsilon zeta")
    input.addData(a)
    q.processAllAvailable()
    input.addData(a, b) // a re-delivered alongside the new near-dup b
    q.processAllAvailable()
    input.addData(b) // and b re-delivered later
    q.processAllAvailable()
    q.stop()
    val out = spark.table("redeliver").as[NearPair].collect()
    assert(out.toSeq == Seq(NearPair(1L, 2L, 0L))) // once, not thrice
  }

  test("streamingNearDedup emits exactly the batch simHashPairs set") {
    implicit val sc = spark.sqlContext
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "pi")
    // clusters of near-identical docs (exact copies + one-word edits)
    // among unrelated noise docs
    val docs = (0L until 60L).map { i =>
      val base = (i % 12).toInt
      val words = Vector.tabulate(10)(j => vocab((base * 3 + j * 2) % vocab.size))
      val text = (i / 12) match {
        case 0 | 1 => words.mkString(" ") // two exact copies per cluster
        case 2     => words.updated(4, "edited").mkString(" ")
        case _     => Vector.fill(10)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      Doc(i, ts(i % 7), text)
    }
    val input = MemoryStream[Doc]
    val q = StreamOps.streamingNearDedup(input.toDS(), maxDist = 3)
      .writeStream.format("memory").queryName("neardup").outputMode("append")
      .start()
    val (b1, b2) = docs.splitAt(30) // cluster members straddle the batches
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("neardup").as[NearPair].collect()
      .map(p => (p.a, p.b, p.hamming)).toSet
    val batch = graft.operators.Dedup.simHashPairs(
        docs.toDF("doc_id", "ts", "text"), "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty) // the clusters must actually collide
    assert(streamed == batch)
    // exactly-once: no pair appeared twice across its shared chunks
    val all = spark.table("neardup").as[NearPair].collect()
    assert(all.length == all.toSet.size)
  }
}
