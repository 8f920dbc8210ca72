package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming forms of the engine's time-series operators. The
  * reference is batch-only (SURVEY §2.10) — these are the north-star
  * streaming variants: the same logical computations expressed over
  * unbounded input with watermarks and keyed state.
  *
  * Batch/streaming parity: `hourlyRollup` uses the identical expressions
  * as the batch `e1_hourly_rollup` query; `Sessionize` reproduces the
  * `e2_sessionize` gap semantics with `flatMapGroupsWithState`;
  * `streamingNearDedup` emits the batch `simHashPairs` set online.
  */
object StreamOps {

  /** Tumbling-window rollup with a watermark — the streaming form of the
    * batch hourly rollup (same aggregate expressions; late rows beyond the
    * watermark are dropped instead of recomputed).
    */
  def hourlyRollup(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct("user_id").as("n_users_approx"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("sum_value"))
      .select(unix_micros(col("window.start")).as("hour_us"),
        col("n_events"), col("n_users_approx"), col("sum_value"))

  final case class Event(user_id: Long, event_id: Long, ts: Timestamp, value: Double)
  final case class SessionState(
      sessionId: Long, start: Long, end: Long, n: Long, sumCents: Long)
  final case class Session(
      user_id: Long, session_id: Long, n_events: Long,
      start_us: Long, end_us: Long, sum_value: Double)

  /** Gap-based sessionization (30-min inactivity) with keyed state —
    * unbounded keys, O(1) state per key. When `idleTimeout` is set, keys
    * that stay quiet get their open session flushed on a processing-time
    * timeout (production mode); without it, open sessions flush only when
    * a later event closes them (deterministic test mode).
    *
    * State-size contract, default (counter-id) mode: a timeout flush
    * leaves a dormant (n = 0) marker holding the session counter —
    * removing it would restart session_id at 1 and emit duplicate
    * (user_id, session_id) keys — so total state grows with the number
    * of DISTINCT users ever seen (one small fixed-size record each),
    * not with event volume, and is never evicted. That is the trade for
    * dense 1,2,3… session ids (the batch-parity shape `e2_sessionize`
    * verifies).
    *
    * Bounded-state mode (`timestampIds = true`): session ids are the
    * session-START microsecond instead of a per-user counter. The gap
    * rule makes a user's session starts strictly increasing, so ids
    * stay monotonic and are never reused WITHOUT any persisted counter
    * — which means a timeout flush can REMOVE state outright (no
    * dormant marker), leaving only currently-open sessions in the
    * store. State is then bounded by concurrent-active users, not by
    * all users ever seen: the right mode for unbounded key churn
    * (anonymous visitor ids). Ids are sparse, not dense — consumers
    * needing 1,2,3… use the default mode. Delivery caveat (same class
    * as streamingNearDedup's horizon contract): id uniqueness holds for
    * events that arrive while their session's state is live; once a
    * timeout evicts the key, an at-least-once REDELIVERY of an old
    * event (or a straggler stamped at/before a flushed session's start)
    * opens a fresh session whose start-us id can equal or precede an
    * already-emitted one. Exactly-once, watermark-respecting delivery —
    * or the counter mode's permanent marker — is what rules that out.
    *
    * Event-time eviction (`eventTimeWatermark = Some(delay)`): instead of
    * a processing-time idle timer, the session's close is scheduled at
    * event time `end + gap` — once the watermark passes it, NO on-time
    * event can extend the session (every event at/after the watermark is
    * more than `gap` past `end`), so the flush is exactly the gap rule,
    * not a wall-clock heuristic, and Spark's watermark filter drops the
    * late stragglers that the processing-time mode's delivery caveat is
    * about. This is the deterministic form — a replay produces identical
    * flushes regardless of wall-clock speed — and the mode the state-
    * scale probe measures. Combined with `timestampIds = true` it gives
    * the bounded-state shape: state holds exactly the sessions still
    * open at the current watermark (concurrent-active users), with keys
    * removed outright at flush. Mutually exclusive with `idleTimeout`
    * (one eviction clock per query).
    */
  def sessionize(
      events: Dataset[Event],
      gapMinutes: Long = 30,
      idleTimeout: Option[String] = None,
      timestampIds: Boolean = false,
      eventTimeWatermark: Option[String] = None): Dataset[Session] = {
    require(idleTimeout.isEmpty || eventTimeWatermark.isEmpty,
      "idleTimeout (processing-time) and eventTimeWatermark (event-time) " +
        "are exclusive eviction clocks — pick one")
    import events.sparkSession.implicits._
    val timeoutConf =
      if (eventTimeWatermark.isDefined) GroupStateTimeout.EventTimeTimeout()
      else if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    val src = eventTimeWatermark
      .map(w => events.withWatermark("ts", w)).getOrElse(events)
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(
        sessionUpdate(gapMinutes * 60L * 1000000L, idleTimeout, timestampIds,
          eventTimeWatermark.isDefined))
  }

  /** The per-key state transition of [[sessionize]], extracted so specs
    * can drive the timeout path deterministically through
    * `TestGroupState` (a processing-time timeout inside a running query
    * cannot be triggered without wall-clock waiting).
    */
  private[streaming] def sessionUpdate(
      gapUs: Long, idleTimeout: Option[String], timestampIds: Boolean,
      eventTimeGap: Boolean = false)(
      userId: Long, rows: Iterator[Event],
      state: GroupState[SessionState]): Iterator[Session] = {
    def emit(s: SessionState): Session =
      Session(userId, s.sessionId, s.n, s.start, s.end, s.sumCents / 100.0)

    // batch-parity conversions: unix_micros keeps the microsecond part
    // (Timestamp.getTime drops sub-millis — they live in getNanos), and
    // Spark's round() is BigDecimal HALF_UP (away from zero), which
    // math.round (floor(x+0.5)) gets wrong for negative .5 boundaries
    def eventUs(e: Event): Long =
      Math.floorDiv(e.ts.getTime, 1000L) * 1000000L + e.ts.getNanos / 1000L
    def eventCents(e: Event): Long =
      java.math.BigDecimal.valueOf(e.value * 100)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    def fresh(prevId: Long, us: Long, cents: Long): SessionState =
      SessionState(if (timestampIds) us else prevId + 1, us, us, 1, cents)

    var closed = List.empty[Session]
    var cur = state.getOption.orNull
    if (state.hasTimedOut) {
      val out = if (cur != null && cur.n > 0) List(emit(cur)) else Nil
      if (timestampIds) state.remove() // ids need no counter — drop the key
      else if (cur != null)
        // flush the open session but KEEP the counter as a dormant
        // (n = 0) marker: removing state would restart session_id at 1
        // and emit duplicate (user_id, session_id) keys. The marker is
        // O(1) per user.
        state.update(SessionState(cur.sessionId, 0L, 0L, 0L, 0L))
      return out.iterator
    }
    rows.toSeq.sortBy(e => (eventUs(e), e.event_id)).foreach { e =>
      val us = eventUs(e)
      val cents = eventCents(e)
      if (cur == null) cur = fresh(0L, us, cents)
      else if (cur.n == 0) // dormant marker left by a counter-mode flush
        cur = fresh(cur.sessionId, us, cents)
      else if (us - cur.end > gapUs) {
        closed ::= emit(cur)
        cur = fresh(cur.sessionId, us, cents)
      } else cur = cur.copy(
        // max, not us: a cross-batch straggler stamped INSIDE the open
        // session (us < cur.end; in-batch order is sorted so this is
        // only reachable across micro-batches) must not regress the
        // session end — a regressed end would mis-measure the next gap
        // and split one real session in two
        end = math.max(cur.end, us), n = cur.n + 1,
        sumCents = cur.sumCents + cents)
    }
    if (cur != null) state.update(cur)
    if (cur != null && cur.n > 0) {
      if (eventTimeGap)
        // close at event time end+gap: once the watermark passes it, no
        // on-time event can extend the session, so the timeout IS the
        // gap rule. The max() guards the strictly-after-watermark
        // requirement on the boundary batch (an event AT the watermark
        // whose end+gap lands exactly on it).
        state.setTimeoutTimestamp(math.max(
          Math.floorDiv(cur.end, 1000L) + Math.floorDiv(gapUs, 1000L),
          state.getCurrentWatermarkMs + 1L))
      else idleTimeout.foreach(state.setTimeoutDuration)
    }
    closed.reverse.iterator
  }

  final case class Doc(doc_id: Long, ts: Timestamp, text: String)
  final case class SigEntry(id: Long, sig: Long, tsMs: Long)
  final case class BucketSigs(entries: Seq[SigEntry])
  final case class DocSigChunk(
      doc_id: Long, ts: Timestamp, simhash: Long, chunk: Int, ckey: Long)
  final case class NearPair(a: Long, b: Long, hamming: Long)

  /** Streaming NEAR-dup detection — the online form of the batch
    * [[graft.operators.Dedup.simHashPairs]]: each arriving document's
    * 60-bit SimHash (the per-row `simhash_row` expression; an
    * aggregation could not precede keyed state in one streaming query)
    * is banded into the same 4×15-bit chunks, and per (chunk, ckey)
    * bucket the keyed state holds the signatures seen inside the
    * watermark horizon. A new document compares against exactly its
    * buckets' state — the banding bounds comparisons the same way the
    * batch band self-join bounds join width.
    *
    * Emission is exactly-once per pair WITHIN the state horizon: of a
    * pair's shared chunks, only the FIRST reports it (both signatures
    * are in hand, so each bucket decides locally and deterministically),
    * and a re-delivered id still present in bucket state is dropped.
    * Pair orientation is (min id, max id); `hamming <= maxDist` matches
    * the batch threshold exactly, so on any bounded replay the emitted
    * pair set equals the batch operator's (asserted by spec).
    *
    * State is bounded two ways: entries older than the horizon are
    * evicted (and idle buckets time out entirely), and a bucket holds at
    * most `maxPerBucket` signatures (FIFO) — the streaming analogue of
    * the batch hot-band treatment; overflow of a degenerate bucket
    * trades recall for bounded state, never unbounded memory. Eviction
    * weakens BOTH directions of the guarantee, deliberately: a pair
    * whose first shared chunk was evicted is missed, not re-routed; and
    * a document re-delivered AFTER its entry was horizon- or
    * FIFO-evicted looks new again, so pairs it formed earlier can be
    * re-emitted. Under an at-least-once source the pair stream is
    * therefore itself at-least-once past the horizon — consumers that
    * need set semantics dedupe on (a, b) downstream (the batch
    * `canonicalize` step does this inherently; its edge set is
    * insensitive to duplicate pairs).
    */
  def streamingNearDedup(docs: Dataset[Doc], maxDist: Int = 3,
      watermark: String = "1 hour", maxPerBucket: Int = 1024): Dataset[NearPair] = {
    import docs.sparkSession.implicits._
    val horizonMs = parseDurationMs(watermark)

    def chunkKey(sig: Long, c: Int): Long = (sig >> (15 * c)) & 32767L
    def firstSharedChunk(sa: Long, sb: Long): Int = {
      var c = 0
      while (c < 4) {
        if (chunkKey(sa, c) == chunkKey(sb, c)) return c
        c += 1
      }
      -1
    }

    def update(key: (Int, Long), rows: Iterator[DocSigChunk],
        state: GroupState[BucketSigs]): Iterator[NearPair] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      // deterministic intra-batch order; the emitted pair SET is order-
      // independent, the tie-break just pins which side was "stored"
      val batch = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
      if (batch.isEmpty) return Iterator.empty
      val newestMs = batch.map(_.ts.getTime).max
      // deque for the batch loop: an immutable Seq would copy all
      // maxPerBucket entries on every append in a hot bucket; ArrayDeque
      // appends and FIFO-evicts in O(1)
      val entries = scala.collection.mutable.ArrayDeque.from(
        state.getOption.map(_.entries).getOrElse(Seq.empty)
          .filter(_.tsMs >= newestMs - horizonMs))
      val out = scala.collection.mutable.ListBuffer[NearPair]()
      batch.foreach { r =>
        // an id already in state is a re-delivery (at-least-once source)
        // — comparing or re-appending it would duplicate emissions and
        // burn bucket capacity, so it is dropped entirely
        if (!entries.exists(_.id == r.doc_id)) {
          entries.foreach { e =>
            val d = java.lang.Long.bitCount(e.sig ^ r.simhash)
            if (d <= maxDist && firstSharedChunk(e.sig, r.simhash) == r.chunk)
              out += NearPair(math.min(e.id, r.doc_id),
                math.max(e.id, r.doc_id), d.toLong)
          }
          entries.append(SigEntry(r.doc_id, r.simhash, r.ts.getTime))
          if (entries.length > maxPerBucket) entries.removeHead() // FIFO cap
        }
      }
      state.update(BucketSigs(entries.toSeq))
      state.setTimeoutTimestamp(newestMs + horizonMs)
      out.iterator
    }

    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("ts"),
        call_function("simhash_row", split(col("text"), " ")).as("simhash"))
      .selectExpr("doc_id", "ts", "simhash",
        s"stack(4, ${(0 until 4).map(c => s"$c, (simhash >> ${15 * c}) & 32767").mkString(", ")}) as (chunk, ckey)")
      .as[DocSigChunk]
      .withWatermark("ts", watermark)
      .groupByKey(r => (r.chunk, r.ckey))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }

  /** Parses the `"N unit"` duration strings used by watermarks. */
  private def parseDurationMs(s: String): Long = {
    val parts = s.trim.split("\\s+")
    require(parts.length == 2,
      s"duration must be a single '<n> <unit>' pair, got '$s' " +
        "(multi-unit interval strings are not supported here even though " +
        "withWatermark itself would accept them)")
    val Array(n, unit) = parts
    val base = unit.toLowerCase.stripSuffix("s") match {
      case "millisecond" => 1L
      case "second" => 1000L
      case "minute" => 60000L
      case "hour" => 3600000L
      case "day" => 86400000L
      case u => throw new IllegalArgumentException(s"unsupported duration unit $u")
    }
    n.toLong * base
  }

  /** Watermarked stream-stream interval join — the attribution shape:
    * each left event matches right events with the same key whose
    * event time falls in `[leftTime, leftTime + upper]` (e.g. purchases
    * within 30 minutes of a click).
    *
    * Both sides carry a watermark and the join condition bounds
    * right-time against left-time from BOTH directions, which is what
    * lets Spark expire buffered state: a left row can be dropped once
    * the right watermark passes `leftTime + upper`, a right row once the
    * left watermark passes `rightTime`. Without the two-sided bound the
    * state store grows without limit — the classic stream-join mistake.
    *
    * Column names must be disjoint between the two inputs (standard for
    * stream-stream joins, where output carries both sides' columns).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      upper: String, watermark: String): DataFrame = {
    require(left.columns.intersect(right.columns).isEmpty,
      "stream-stream join inputs must have disjoint column names")
    val l = left.withWatermark(leftTime, watermark)
    val r = right.withWatermark(rightTime, watermark)
    l.join(r, expr(
      s"""$leftKey = $rightKey AND
         |$rightTime >= $leftTime AND
         |$rightTime <= $leftTime + INTERVAL $upper""".stripMargin))
  }
}
