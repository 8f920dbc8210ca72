package graft.tools

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{StreamBenchShapes, StreamOps}

/** Dynamic scaling probe for the STREAMING family — the sibling of
  * [[ScaleProbe]] (which covers the batch paths). Turns the streaming
  * 100 TB claims from spec-asserted design into measured curves:
  *
  *   - `e3_volume` / `e5_volume`: the bench's e3 sessionize and e5
  *     near-dedup replays at 1x/3x/10x/... EVENT VOLUME, time-extended —
  *     copies of the base stream appended end-to-end in event time (same
  *     user/doc arrival density per hour). Compute (summed addBatch)
  *     should scale ~linearly in rows; STATE should stay ~flat, because
  *     state is bounded by what is concurrently live (open sessions /
  *     signatures inside the 1h horizon), not by events-ever-seen.
  *   - `e3_users`: the same sessionize replay with copies overlaid in
  *     the SAME time window under offset user ids — concurrent-active
  *     users xN at constant wall span. State should scale ~linearly
  *     with the concurrency, which is the other half of the claim:
  *     state follows concurrent-active keys in BOTH directions.
  *   - `e4_volume` / `e6_volume`: the remaining bench entries under the
  *     same time-extended growth — e4's tumbling-window aggregation
  *     (state = open windows, bounded by the window/watermark span) and
  *     e6's stream-stream interval join (two-input lockstep replay;
  *     state = rows buffered inside the two-sided watermark horizon).
  *     With e3/e5 these give every Bench streaming entry a measured
  *     volume curve.
  *   - `session_churn`: the designed contrast measured directly — W
  *     cohorts of K users each, active in disjoint time windows
  *     (users-ever-seen = W*K grows; concurrent-active = K constant),
  *     replayed one cohort per micro-batch through BOTH sessionize
  *     modes. Bounded mode (`timestampIds` + event-time watermark):
  *     state rows must stay ~K as W grows. Counter mode (the dense-id
  *     trade, documented in [[StreamOps.sessionize]]): state rows grow
  *     as W*K dormant markers. The probe prints both curves; the spec
  *     (`StreamStateBoundSpec`) pins the same contrast at test size.
  *
  * Replay discipline is `graft.Bench`'s streaming section's, through the
  * same `StreamBenchShapes.replay` and state store: bounded MemoryStream
  * in ~10 real micro-batches (one per cohort for churn), noop sink,
  * state partitions = `Bench.deploymentStreamParts`, inputs
  * collected/synthesized OUTSIDE the timed region. The 1x points of
  * e3/e4/e5/e6 are the bench's four streaming entries. Doc text is
  * salted per copy exactly like ScaleProbe's batch copies (cross-copy
  * exact replicas would pair every doc with its N-1 clones: an xN^2
  * emission cliff that measures the synthetic replication, not
  * scaling).
  *
  * Per run the probe reports wall seconds, summed addBatch ms, summed
  * state-commit ms, max and final state rows, and max state bytes; per
  * axis it fits the ln-ln exponent of compute and of max state rows vs
  * scale. One JSON line on stdout; the committed analysis lives in
  * docs/SCALING.md's streaming section. On stderr, each point's
  * reported rep also gets one line per micro-batch ([[BatchLog]]): the
  * per-batch attribution docs/STREAM_ATTRIBUTION.md is built from.
  *
  * Knobs (env): SPARK_GRAFT_SF_DIR (base, default sf0.1),
  * SPARK_GRAFT_STREAM_SCALE_COPIES (default "3,10"; empty runs the 1x
  * points alone), SPARK_GRAFT_STREAM_SCALE_REPS (default 2),
  * SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_CHURN_COHORTS (default
  * "5,50"), SPARK_GRAFT_CHURN_USERS (cohort size, default 500),
  * SPARK_GRAFT_STREAM_SCALE_AXES (the artifact sections to run, default
  * all of [[sections]]),
  * SPARK_GRAFT_STREAM_SCALE_SPAN_BATCHES=1 (batch COUNT scales with the
  * copies at constant event-time span per batch — the trigger-interval
  * << horizon deployment shape; REQUIRED for any state-peak claim, else
  * the peak measures rows-per-batch, not the horizon),
  * SPARK_GRAFT_MASTER=local-cluster[n,cores,memMB] for real executor
  * JVMs (with SPARK_GRAFT_EXECUTOR_CLASSPATH — ABSOLUTE, asserted —
  * SPARK_GRAFT_EXECUTOR_OPTS for the JDK17 add-opens list, and
  * SPARK_GRAFT_EXECUTOR_MEM; see [[ProbeSession]]).
  *
  * A measurement tool, not part of any pipeline or the bench artifact.
  */
object StreamScaleProbe {

  /** Per-replay measurement: wall seconds, driver-phase sums over every
    * micro-batch, and the state-size curve extremes.
    */
  final case class RunStats(
      wallSec: Double, addBatchMs: Long, commitMs: Long,
      batches: Int, maxStateRows: Long, finalStateRows: Long,
      maxStateBytes: Long, batchLines: Seq[String])

  /** The artifact's sections, in run order; SPARK_GRAFT_STREAM_SCALE_AXES
    * names a subset.
    */
  val sections: Seq[String] = Seq("e3_volume", "e5_volume", "e3_users",
    "e4_volume", "e6_volume", "session_churn")

  /** One replay's per-batch lines, fed by `replay`'s `onDrain` hook: a
    * line for EVERY batch run since the previous drain, because a
    * watermarked operator's data batch (puts, removed=0) and its
    * watermark batch (rows=0, removals) have different cost profiles and
    * attributing commit time needs both. An idle trigger's progress
    * entry (no `addBatch`; it repeats the id of the batch that runs
    * next) gets no line, so each batch id gets exactly one. A line
    * carries the drain's wall clock (on the drain's last batch; a drain
    * covers both batches), the driver's `durationMs` phases, and every
    * state operator's rows, `commitTimeMs` and non-zero custom metrics
    * (stream-stream joins surface their symmetric-hash state here).
    */
  private[graft] final class BatchLog {
    private var last = -1L
    private val lines = scala.collection.mutable.ArrayBuffer[String]()

    def onDrain(q: StreamingQuery, drainSec: Double): Unit = take(q, Some(drainSec))

    /** Every line so far, including batches that finished after the last drain. */
    def all(q: StreamingQuery): Seq[String] = { take(q, None); lines.toSeq }

    private def take(q: StreamingQuery, drainSec: Option[Double]): Unit = {
      val fresh = q.recentProgress
        .filter(p => p.batchId > last && StreamBenchShapes.ranBatch(p))
      fresh.foreach { p =>
        val ops = p.stateOperators.map { s =>
          import scala.jdk.CollectionConverters._
          val custom = s.customMetrics.asScala.filter(_._2 != 0L)
            .map { case (k, v) => s"$k=$v" }.toSeq.sorted.mkString(" ")
          s"op=${s.operatorName} stateRows=${s.numRowsTotal} " +
            s"updated=${s.numRowsUpdated} removed=${s.numRowsRemoved} " +
            s"commitMs=${s.commitTimeMs} custom[$custom]"
        }.mkString(" | ")
        val wall = drainSec.filter(_ => p eq fresh.last)
          .fold("       ")(d => f"$d%6.2fs")
        lines += f"batch=${p.batchId}%3d drain=$wall " +
          s"durationMs=${p.durationMs} rows=${p.numInputRows} $ops"
      }
      fresh.lastOption.foreach(p => last = p.batchId)
    }
  }

  private[graft] def statsOf(q: StreamingQuery, wallSec: Double,
      log: BatchLog): RunStats = {
    val ps = q.recentProgress
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress,
        k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val rows = ps.map(_.stateOperators.map(_.numRowsTotal).sum)
    RunStats(
      wallSec,
      ps.map(dur(_, "addBatch")).sum,
      ps.flatMap(_.stateOperators).map(_.commitTimeMs).sum,
      ps.count(StreamBenchShapes.ranBatch),
      if (rows.isEmpty) 0L else rows.max,
      rows.lastOption.getOrElse(0L),
      if (ps.isEmpty) 0L
      else ps.map(_.stateOperators.map(_.memoryUsedBytes).sum).max,
      log.all(q))
  }

  /** Salts every whitespace token with a per-copy suffix — the driver-side
    * twin of ScaleProbe's `saltTokens` (same rationale, same suffix shape).
    */
  private[tools] def saltText(text: String, i: Int): String =
    if (i == 0 || text == null) text
    else text.split(" ", -1).map(t => if (t.isEmpty) t else t + "_c" + i)
      .mkString(" ")

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val parts = graft.Bench.deploymentStreamParts
    val reps = graft.Bench.intAtLeast(sys.env, "SPARK_GRAFT_STREAM_SCALE_REPS", 1).getOrElse(2)
    val copies = sys.env.getOrElse("SPARK_GRAFT_STREAM_SCALE_COPIES", "3,10")
      .split(',').toSeq.map(_.trim).filter(_.nonEmpty).map(_.toInt)
      .filter(_ > 1).sorted
    val churnCohorts = sys.env.getOrElse("SPARK_GRAFT_CHURN_COHORTS", "5,50")
      .split(',').toSeq.map(_.trim).filter(_.nonEmpty).map(_.toInt).sorted
    val churnUsers = graft.Bench.intAtLeast(sys.env, "SPARK_GRAFT_CHURN_USERS", 1).getOrElse(500)
    val axes = sys.env.get("SPARK_GRAFT_STREAM_SCALE_AXES").fold(sections.toSet) { v =>
      val named = v.split(',').toSeq.map(_.trim).filter(_.nonEmpty).toSet
      val unknown = named -- sections
      require(unknown.isEmpty, s"SPARK_GRAFT_STREAM_SCALE_AXES: unknown " +
        s"${unknown.mkString(",")}; sections are ${sections.mkString(",")}")
      named
    }

    // SPARK_GRAFT_MASTER=local-cluster[n,cores,memMB] puts REAL executor
    // JVMs under the streaming replays — per-executor RocksDB instances,
    // changelog/state traffic over real sockets — the streaming analog
    // of the batch probe's round-12 exchange datum.
    val probe = ProbeSession(cpus, parts.toString,
      // the churn axis runs up to ~2*W batches; sums over recentProgress
      // must cover ALL of them or addBatch/commit under-report silently
      "spark.sql.streaming.numRecentProgressUpdates" -> "2000")
    val spark = probe.spark
    // the probe READS numRowsTotal: the row counter is the datum here
    StreamBenchShapes.useStateStore(spark, trackRows = true)

    implicit val eventEnc: Encoder[StreamOps.Event] =
      Encoders.product[StreamOps.Event]
    implicit val docEnc: Encoder[StreamOps.Doc] = Encoders.product[StreamOps.Doc]
    implicit val clickEnc: Encoder[(Long, java.sql.Timestamp)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP)
    implicit val buyEnc: Encoder[(Long, java.sql.Timestamp, Double)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP,
        Encoders.scalaDouble)
    // the bench's replay (StreamBenchShapes): stats cover the feed, from
    // the first chunk to the last drain
    def replay[T: Encoder](rows: IndexedSeq[T], nBatches: Int,
        mk: Dataset[T] => Dataset[_]): RunStats = {
      val log = new BatchLog
      StreamBenchShapes.replay(spark, rows, nBatches, mk, log.onDrain)(statsOf(_, _, log))
    }
    def replay2[A: Encoder, B: Encoder](lRows: IndexedSeq[A],
        rRows: IndexedSeq[B], nBatches: Int,
        mk: (Dataset[A], Dataset[B]) => Dataset[_]): RunStats = {
      val log = new BatchLog
      StreamBenchShapes.replay2(spark, lRows, rRows, nBatches, mk, log.onDrain)(
        statsOf(_, _, log))
    }

    /** The min-wall rep of `n` reps of a replay, with its per-batch lines
      * on stderr; state-size fields come from that rep too (deterministic
      * across reps, so the choice only matters for bytes). A point whose
      * every rep failed stops the probe.
      */
    def best(label: String, n: Int)(run: => RunStats): RunStats = {
      val s = probe.fastest(n, s"[sscale] $label")(run)(_.wallSec)
        .getOrElse(sys.error(s"$label: every rep failed")).result
      s.batchLines.foreach(l => System.err.println(s"[sscale] $label $l"))
      s
    }

    // ---- base inputs (outside every timed region) ----
    val baseEvents = StreamBenchShapes.loadEvents(spark, sfDir)
    val baseDocs = StreamBenchShapes.loadDocs(spark, sfDir)
    val evMin = baseEvents.map(_.ts.getTime).min
    val evMax = baseEvents.map(_.ts.getTime).max
    // copy i shifted one full span + 2h: the margin exceeds the 30-min
    // gap, so no session straddles a copy seam and per-copy structure is
    // exactly the base's
    val evSpanMs = (evMax - evMin) + 2L * 3600L * 1000L
    val docSpanMs = baseDocs.length * 1000L + 2L * 3600L * 1000L
    val idStride = 10_000_000L
    val userStride = 1_000_000L
    require(baseEvents.map(_.user_id).max < userStride &&
      baseEvents.map(_.event_id).max < idStride &&
      baseDocs.map(_.doc_id).max < idStride,
      "base id ranges exceed copy strides — raise the strides for this base SF")

    def timeExtendedEvents(n: Int): IndexedSeq[StreamOps.Event] =
      (0 until n).flatMap(i => baseEvents.map(e => e.copy(
        event_id = e.event_id + i * idStride,
        ts = new java.sql.Timestamp(e.ts.getTime + i * evSpanMs))))
    def userOverlaidEvents(n: Int): IndexedSeq[StreamOps.Event] =
      // per base row, its n user-offset copies consecutively: base time
      // order is preserved while the same wall span carries n times the
      // events and n times the concurrent-active users
      baseEvents.flatMap(e => (0 until n).map(i => e.copy(
        user_id = e.user_id + i * userStride,
        event_id = e.event_id + i * idStride)))
    def timeExtendedDocs(n: Int): IndexedSeq[StreamOps.Doc] =
      (0 until n).flatMap(i => baseDocs.map(d => d.copy(
        doc_id = d.doc_id + i * idStride,
        ts = new java.sql.Timestamp(d.ts.getTime + i * docSpanMs),
        text = saltText(d.text, i))))

    // cohort w: users w*K..w*K+K-1, 4 events each inside window w; windows
    // are 90 min apart (> gap 30m + watermark delay 1m), so cohort w's
    // sessions are all evictable once cohort w+1's events arrive
    def churnEvents(w: Int, k: Int): IndexedSeq[StreamOps.Event] = {
      val t0 = 1700000000000L
      (0 until w).flatMap { c =>
        (0 until k).flatMap { u =>
          (0 until 4).map { e =>
            StreamOps.Event(c.toLong * k + u, (c.toLong * k + u) * 8 + e,
              new java.sql.Timestamp(
                t0 + c * 90L * 60000L + e * 60000L + u % 7), u / 100.0)
          }
        }
      }
    }

    val sessionizeBench =
      (ds: Dataset[StreamOps.Event]) => StreamOps.sessionize(ds)
    val sessionizeBounded =
      (ds: Dataset[StreamOps.Event]) => StreamOps.sessionize(ds,
        timestampIds = true, eventTimeWatermark = Some("1 minute"))
    val neardedup =
      (ds: Dataset[StreamOps.Doc]) => StreamOps.streamingNearDedup(ds)

    // warmup (not timed): small replays compile the streaming plans
    replay(baseEvents.take(2000), 3, sessionizeBench)
    replay(baseDocs.take(300), 3, neardedup)
    if (axes("e6_volume")) {
      val warmEvents = baseEvents.take(1000)
      replay2(StreamBenchShapes.clicksOf(warmEvents),
        StreamBenchShapes.buysOf(warmEvents), 2,
        StreamBenchShapes.intervalJoinQuery)
    }
    ProbeSession.settle()

    // span-batches mode: batch COUNT scales with the copies (batch SIZE
    // and event-time span per batch stay constant) — the deployment
    // shape where trigger interval << state horizon, so intra-batch
    // state peaks are horizon-bounded instead of batch-span-bounded.
    // The default (fixed 10 batches) matches the bench replay and the
    // batch probe's same-query-more-data discipline.
    val spanBatches =
      sys.env.get("SPARK_GRAFT_STREAM_SCALE_SPAN_BATCHES").contains("1")
    // one per-scale loop for EVERY axis: builds rows, picks the batch
    // count (span-batches or fixed 10), reports LABELED stderr lines per
    // point — four visually identical unlabeled logs were
    // misattributable across axes
    def runScales[T](label: String, mkRows: Int => T, count: T => Int,
        runOne: (T, Int) => RunStats): Seq[(Int, RunStats)] =
      if (!axes(label)) Seq.empty
      else (1 +: copies).map { n =>
        val rows = mkRows(n)
        val s = best(f"$label%-9s ${n}%3dx", reps)(
          runOne(rows, if (spanBatches) 10 * n else 10))
        System.err.println(f"[sscale] $label%-9s ${n}%3dx rows=${count(rows)}%8d " +
          f"wall=${s.wallSec}%7.2fs addBatch=${s.addBatchMs}%7dms " +
          f"commit=${s.commitMs}%7dms stateRowsMax=${s.maxStateRows}%8d " +
          f"stateMB=${s.maxStateBytes / 1e6}%8.1f")
        (n, s)
      }

    val volumeE3 = runScales[IndexedSeq[StreamOps.Event]]("e3_volume",
      timeExtendedEvents, _.length, (r, b) => replay(r, b, sessionizeBench))
    // e5 is the only entry with a nonzero state-rows exponent (banded
    // signatures accumulate with distinct content): probe its deep-scale
    // points (×30/×100) with SPARK_GRAFT_STREAM_SCALE_AXES=e5_volume
    val volumeE5 = runScales[IndexedSeq[StreamOps.Doc]]("e5_volume",
      timeExtendedDocs, _.length, (r, b) => replay(r, b, neardedup))
    val usersE3 = runScales[IndexedSeq[StreamOps.Event]]("e3_users",
      userOverlaidEvents, _.length, (r, b) => replay(r, b, sessionizeBench))
    // e4 volume: the windowed-aggregation state shape (hourly tumbling
    // windows + watermark). State rows = open windows, bounded by the
    // window/watermark span — flat under time-extension in span-batches
    // mode, batch-span-bounded otherwise (same artifact family as e5)
    val volumeE4 = runScales[IndexedSeq[StreamOps.Event]]("e4_volume",
      timeExtendedEvents, _.length, (r, b) => replay(r, b,
        (ds: Dataset[StreamOps.Event]) => StreamOps.hourlyRollup(ds.toDF())))

    // e6 volume axis: the stream-stream interval join (the bench's
    // heaviest streaming entry) over time-extended click/buy copies —
    // same users, same arrival density, xN the wall span. Join state is
    // the rows buffered inside the watermark horizon on each side, so
    // at constant density it should stay ~flat while compute tracks
    // rows. Inputs/parameters come from StreamBenchShapes (the one
    // definition site shared with the bench), so this measures exactly
    // the query the bench wall-clocks.
    lazy val baseClicks = StreamBenchShapes.clicksOf(baseEvents)
    lazy val baseBuys = StreamBenchShapes.buysOf(baseEvents)
    def timeExtendedClicks(n: Int): IndexedSeq[(Long, java.sql.Timestamp)] =
      (0 until n).flatMap(i => baseClicks.map { case (u, ts) =>
        (u, new java.sql.Timestamp(ts.getTime + i * evSpanMs)) })
    def timeExtendedBuys(n: Int): IndexedSeq[(Long, java.sql.Timestamp, Double)] =
      (0 until n).flatMap(i => baseBuys.map { case (u, ts, v) =>
        (u, new java.sql.Timestamp(ts.getTime + i * evSpanMs), v) })
    val volumeE6 = runScales[(IndexedSeq[(Long, java.sql.Timestamp)],
        IndexedSeq[(Long, java.sql.Timestamp, Double)])]("e6_volume",
      n => (timeExtendedClicks(n), timeExtendedBuys(n)), _._1.length,
      { case ((lc, rc), b) => replay2(lc, rc, b, StreamBenchShapes.intervalJoinQuery) })

    // churn: one micro-batch per cohort; reps=1 — the state-row curve is
    // deterministic and is the datum (wall time is secondary here)
    val churn: Seq[(String, Int, RunStats)] =
      if (!axes("session_churn")) Seq.empty
      else churnCohorts.flatMap { w =>
        Seq("bounded" -> sessionizeBounded, "counter" -> sessionizeBench)
          .map { case (mode, op) =>
            val rows = churnEvents(w, churnUsers)
            val s = best(f"churn $mode%7s cohorts=$w%3d", 1)(replay(rows, w, op))
            System.err.println(f"[sscale] churn $mode%7s cohorts=$w%3d " +
              f"usersEver=${w * churnUsers}%7d stateRowsFinal=${s.finalStateRows}%7d " +
              f"stateRowsMax=${s.maxStateRows}%7d wall=${s.wallSec}%6.2fs")
            (mode, w, s)
          }
      }

    def axisJson(name: String, pts: Seq[(Int, RunStats)]): String = {
      if (pts.isEmpty) return ""
      val computeExp = ScaleProbe.exponent(
        pts.map { case (n, s) => (n, s.addBatchMs / 1000.0) })
        .map(e => f"$e%.3f").getOrElse("null")
      val stateExp = ScaleProbe.exponent(
        pts.map { case (n, s) => (n, s.maxStateRows.toDouble) })
        .map(e => f"$e%.3f").getOrElse("null")
      val body = pts.map { case (n, s) =>
        s""""$n":{"wall_sec":${f"${s.wallSec}%.3f"},"add_batch_ms":${s.addBatchMs},""" +
          s""""commit_ms":${s.commitMs},"batches":${s.batches},""" +
          s""""state_rows_max":${s.maxStateRows},"state_rows_final":${s.finalStateRows},""" +
          s""""state_bytes_max":${s.maxStateBytes}}"""
      }.mkString("{", ",", "}")
      s""""$name":{"points":$body,"compute_exponent":$computeExp,"state_rows_exponent":$stateExp}"""
    }
    val churnJson =
      if (churn.isEmpty) ""
      else {
        val body = churn.map { case (mode, w, s) =>
          s"""{"mode":"$mode","cohorts":$w,"cohort_users":$churnUsers,""" +
            s""""users_ever":${w * churnUsers},"state_rows_final":${s.finalStateRows},""" +
            s""""state_rows_max":${s.maxStateRows},"state_bytes_max":${s.maxStateBytes},""" +
            s""""wall_sec":${f"${s.wallSec}%.3f"},"add_batch_ms":${s.addBatchMs},""" +
            s""""commit_ms":${s.commitMs}}"""
        }.mkString("[", ",", "]")
        // churn deliberately runs ONE rep (the state-row curve is
        // deterministic; wall time is secondary) — say so in the
        // artifact, next to the top-level reps the scaling axes use,
        // so single-measurement wall times cannot read as min-of-reps
        s""""session_churn":$body,"churn_reps":1"""
      }
    val ran = Seq(
      axisJson("e3_volume", volumeE3), axisJson("e5_volume", volumeE5),
      axisJson("e3_users", usersE3), axisJson("e4_volume", volumeE4),
      axisJson("e6_volume", volumeE6), churnJson).filter(_.nonEmpty)
    // sections may ALL be empty (axes filtered out): the separating
    // comma belongs to the join, never the fixed prefix, or the line
    // ends ",}" and the whole run's output is unparseable
    val sectionsTail = if (ran.isEmpty) "" else "," + ran.mkString(",")
    println(s"""{"metric":"stream_scale_probe","base_sf":"$sfDir",""" +
      s""""copies":${copies.mkString("[", ",", "]")},"reps":$reps,""" +
      s""""parts":$parts,"store":"${StreamBenchShapes.stateStore}",""" +
      s""""span_batches":$spanBatches""" + sectionsTail + "}")
    spark.stop()
  }
}
