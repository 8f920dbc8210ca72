package graft.registry

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.algo.{RollingOls, Universe}
import graft.expr.{Ewma, Windows}
import Common._

/** Window, event-stream and as-of queries (SURVEY.md §2.5): rolling
  * statistics, EWMA, rolling regressions, sessionization, point-in-time
  * joins.
  */
object TimeSeries {

  val all: Seq[Query] = Seq(
    // W1 pct_change per key over time order (SURVEY §2.5 W1).
    Query("w1_pct_change", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events")
        .select(
          col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("event_id"),
          // try_divide: ANSI-mode / throws on a 0 previous value; DuckDB
          // (and this query's oracle) yields NULL there instead.
          round(try_divide(col("value"), lag("value", 1).over(w)) - 1, 6).as("pct_change"))
        .orderBy("user_id", "ts_us", "event_id")
    },
    // pct_change rounding mirrors Spark's Round exactly: Spark rounds the
    // SHORTEST DECIMAL REPR of the double (BigDecimal.valueOf =
    // Double.toString) half-away-from-zero, while DuckDB's round(double)
    // rounds the exact binary value — they disagree when the shortest
    // repr lands on a 6-decimal halfway point (found at sf0.1:
    // 8.0046875 → Spark 8.004688, plain DuckDB 8.004687). Round-tripping
    // through VARCHAR reproduces the shortest repr; DECIMAL round is
    // half-away-from-zero; the final DOUBLE cast restores the dtype.
    // DECIMAL(38,20) holds every shortest-repr digit of these magnitudes
    // — a narrower scale re-rounds the repr and flips near-halfway cases
    // the other way (measured with DECIMAL(30,15): 9 cells).
    Oracle(
      """SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id,
        |  CAST(round(CAST(CAST(
        |    value / lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
        |  AS VARCHAR) AS DECIMAL(38,20)), 6) AS DOUBLE) AS pct_change
        |FROM events ORDER BY 1, 2, 3""".stripMargin)),

    // W2 masked rolling log1p-sum, negated — the reversal-signal shape.
    Query("w2_reversal_signal", (s, dir) => {
      val w = Windows.series(Seq("user_id"), Seq("ts", "event_id"))
      t(s, dir, "events").select(
        col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
        round(Windows.rollingLog1pSum("value", w, 21), 6).as("signal"))
    }, Oracle(
      """SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id,
        |  round((CASE WHEN count(*) OVER win >= 21 THEN sum(ln(1+value)) OVER win END) * -1, 6) AS signal
        |FROM events
        |WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // W3 masked rolling sample stddev.
    Query("w3_rolling_std", (s, dir) => {
      val w = Windows.series(Seq("user_id"), Seq("ts", "event_id"))
      t(s, dir, "events").select(
        col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
        round(Windows.rollingStd("value", w, 21), 6).as("roll_std"))
    }, Oracle(
      """SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id,
        |  round(CASE WHEN count(*) OVER win >= 21 THEN stddev_samp(value) OVER win END, 6) AS roll_std
        |FROM events
        |WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // W5 masked rolling pairwise sample covariance.
    Query("w5_rolling_covar", (s, dir) => {
      val w = Windows.series(Seq("l_returnflag"),
        Seq("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"))
      t(s, dir, "lineitem").select(
        col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        round(Windows.rollingCovar("l_quantity", "l_extendedprice", w, 21), 4).as("roll_cov"))
    }, Oracle(w5CovarSql),
      band = Exempt.Codegen, heavy = Some(Heavy(Seq("lineitem")))),

    // W5 again via overlapping-chunk parallelization: partitionBy on a
    // 3-value key caps parallelism at 3; chunking restores it. Same
    // oracle as w5_rolling_covar (row-identical output).
    Query("w5_covar_chunked", (s, dir) => {
      Windows.chunkedRolling(
        t(s, dir, "lineitem").select("l_returnflag", "l_shipdate", "l_orderkey",
          "l_linenumber", "l_extendedprice", "l_quantity"),
        Seq("l_returnflag"),
        Seq("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"),
        21, 20000, "roll_cov")(f =>
          round(Windows.masked(covar_samp(col("l_quantity"), col("l_extendedprice")).over(f), f, 21), 4))
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"), col("roll_cov"))
    }, Oracle(w5CovarSql),
      band = Exempt.Codegen, heavy = Some(Heavy(Seq("lineitem")))),

    // W4 EWMA (half-life 60, adjust=true) — custom per-key streaming fold.
    Query("w4_ewma", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      Ewma.ewmaMean(ev, Seq("user_id"), Seq("ts", "event_id"), "value", 60.0, "ewma")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
          round(col("ewma"), 6).as("ewma"))
    }, Oracle(
      """WITH s AS (
        |  SELECT user_id, ts, event_id, value,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS DOUBLE) AS rn
        |  FROM events)
        |SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id,
        |  round(sum(value * power(0.9885140203528962, -rn)) OVER win
        |        / sum(power(0.9885140203528962, -rn)) OVER win, 6) AS ewma
        |FROM s
        |WINDOW win AS (PARTITION BY user_id ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin)),

    // W4 again through the native Catalyst window aggregate (SURVEY §7 v2):
    // same recurrence, executed inside the window operator via
    // SparkSessionExtensions-registered `ewma(x, halfLife)`.
    Query("w4_ewma_native", (s, dir) => {
      graft.expr.catalyst.GraftExtensions.register(s)
      t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
          col("value"))
        .withColumn("ewma", round(expr(
          "ewma(value, 60.0) OVER (PARTITION BY user_id ORDER BY ts_us, event_id " +
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"), 6))
        .drop("value")
    }, Oracle(
      """WITH s AS (
        |  SELECT user_id, ts, event_id, value,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS DOUBLE) AS rn
        |  FROM events)
        |SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id,
        |  round(sum(value * power(0.9885140203528962, -rn)) OVER win
        |        / sum(power(0.9885140203528962, -rn)) OVER win, 6) AS ewma
        |FROM s
        |WINDOW win AS (PARTITION BY user_id ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin)),

    // W7 rolling single-factor OLS (window 63) on integer-scaled values.
    Query("w7_rolling_beta", (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_suppkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity")).cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("y"))
      RollingOls.fit(li, Seq("l_suppkey"),
          Seq("l_shipdate", "l_orderkey", "l_linenumber", "y", "x"), "y", Seq("x"), 63)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          round(col("alpha") / 100.0, 6).as("alpha"),
          round(col("beta_x") / 100.0, 6).as("beta"))
    }, Oracle(
      """WITH s AS (
        |  SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
        |    CAST(round(l_quantity) AS BIGINT) AS x,
        |    CAST(round(l_extendedprice*100) AS BIGINT) AS y
        |  FROM lineitem),
        |w AS (
        |  SELECT l_suppkey, l_orderkey, l_linenumber,
        |    count(*) OVER win AS cnt,
        |    CAST(sum(x) OVER win AS DOUBLE) AS sx,
        |    CAST(sum(y) OVER win AS DOUBLE) AS sy,
        |    CAST(sum(x*x) OVER win AS DOUBLE) AS sxx,
        |    CAST(sum(x*y) OVER win AS DOUBLE) AS sxy
        |  FROM s
        |  WINDOW win AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, y, x ROWS BETWEEN 62 PRECEDING AND CURRENT ROW)),
        |c AS (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, cnt, sx, sy,
        |    (63.0*sxy - sx*sy) / (63.0*sxx - sx*sx) AS beta
        |  FROM w)
        |SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CASE WHEN cnt = 63 THEN round(((sy - beta*sx)/63.0)/100.0, 6) END AS alpha,
        |  CASE WHEN cnt = 63 THEN round(beta/100.0, 6) END AS beta
        |FROM c""".stripMargin)),

    // W6 rolling multivariate OLS (2 regressors + intercept, window 252).
    Query("w6_rolling_ols", (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_suppkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity")).cast("long").as("x"),
        round(col("l_discount") * 100).cast("long").as("z"),
        round(col("l_extendedprice") * 100).cast("long").as("y"))
      RollingOls.fit(li, Seq("l_suppkey"),
          Seq("l_shipdate", "l_orderkey", "l_linenumber", "y", "x"), "y", Seq("x", "z"), 252)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          round(col("alpha") / 100.0, 6).as("alpha"),
          round(col("beta_x") / 100.0, 6).as("beta_x"),
          round(col("beta_z") / 100.0, 6).as("beta_z"))
    }, Oracle(w6OlsSql)),

    // W6 again as pure window algebra: integer-exact window sums +
    // parenthesized Cramer's rule as column expressions — no
    // flatMapGroups, the whole plan stays in whole-stage codegen. Same
    // oracle as w6_rolling_ols. Spark's bounded sliding frames re-
    // aggregate all 252 rows per output row (O(W)/row), so each sliding
    // sum is expressed as a cumulative-sum DIFFERENCE instead:
    // sum[i-251..i] = cum[i] - cum[i-252], with the running sum and the
    // lag both O(1)/row. This is exact — the moments are longs, and long
    // cum-minus-lag is bit-identical to summing the 252 values directly
    // (doubles would NOT be: float subtraction loses what the narrow sum
    // never added) — and both window passes share one partitioning+sort,
    // so the plan is one exchange, one sort, two O(1)/row Window nodes.
    // At a 252-row frame this removes a 252x CPU multiplier versus the
    // bounded-frame form; the O(1)/row streaming fold in RollingOls.fit
    // remains the mapPartitions-free-of-shuffle comparison point.
    //
    // Overflow domain (the exactness claim above is conditional and
    // GUARDED, not assumed): cum sums run over the whole partition, so
    // a long can overflow once per-row-magnitude x rows-per-key exceeds
    // 2^63 — silently, producing wrong coefficients. The guards pin
    // |x|,|z| < 2^16 and |y| < 2^24 (every moment then < 2^40/row;
    // TPC-H domains are far inside: x ≤ 50, z ≤ 100, y ≤ ~2e7 cents)
    // and rows-per-key ≤ 2^22 (~4.2M; TPC-H is ~600/suppkey at every
    // SF, constant in scale), so |cum| < 2^62 < Long.Max. An input
    // outside either bound raises at runtime instead of silently
    // wrapping; the codegen'd per-row branch is noise next to the
    // window sort.
    Query("w6_rolling_ols_native", (s, dir) => {
      // assert-then-pass-through: assert_true yields null on success, so
      // coalesce evaluates the check per row and returns the value; the
      // raise_error branch keeps the optimizer from pruning the check
      def bounded(c: Column, bound: Long, nm: String): Column =
        coalesce(
          assert_true(abs(c) < lit(bound),
            lit(s"w6_native overflow guard: |$nm| >= $bound")).cast("long"),
          c)
      val ord = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("y"), col("x"))
      val wCum = Window.partitionBy("l_suppkey").orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wRow = Window.partitionBy("l_suppkey").orderBy(ord: _*)
      val n = lit(252.0)
      val base = t(s, dir, "lineitem").select(
        col("l_suppkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        bounded(round(col("l_quantity")).cast("long"), 1L << 16, "x").as("x"),
        bounded(round(col("l_discount") * 100).cast("long"), 1L << 16, "z").as("z"),
        bounded(round(col("l_extendedprice") * 100).cast("long"), 1L << 24, "y").as("y"))
      val moments = Seq[(String, Column)](
        "sx0" -> col("x"), "sx1" -> col("z"), "b0" -> col("y"),
        "s00" -> col("x") * col("x"), "s01" -> col("x") * col("z"),
        "s11" -> col("z") * col("z"), "b1" -> col("x") * col("y"),
        "b2" -> col("z") * col("y"))
      // the ordering columns survive the cum projection so the lag pass
      // can declare the IDENTICAL sort — ordering by the (equivalent) rn
      // instead makes Catalyst insert a second Sort it cannot prove away
      // (PlanAuditSpec pins one exchange + one sort)
      val cums = base.select(
        col("l_suppkey") +: col("l_shipdate") +: col("l_orderkey") +:
          col("l_linenumber") +: col("y") +: col("x") +:
          row_number().over(wRow).as("rn") +:
          moments.map { case (a, c) => sum(c).over(wCum).as(s"c_$a") }: _*)
      val sums = cums.select(
        col("l_suppkey") +: col("l_orderkey") +: col("l_linenumber") +:
          // the bounded-frame count capped at 252; least() preserves the
          // downstream cnt === 252 full-frame predicate exactly. rn doubles
          // as the per-key cardinality guard: past 2^22 rows/key the 2^40
          // per-row moment bound no longer proves the cum sums fit a long
          coalesce(
            assert_true(col("rn") <= lit(1L << 22),
              lit("w6_native overflow guard: rows-per-key > 2^22"))
              .cast("long"),
            least(col("rn"), lit(252)).cast("long")).as("cnt") +:
          moments.map { case (a, _) =>
            (col(s"c_$a") - coalesce(lag(col(s"c_$a"), 252).over(wRow), lit(0L)))
              .cast("double").as(a)
          }: _*)
      // identical parenthesization to RollingOls.solve and the SQL oracle
      val det = n * (col("s00") * col("s11") - col("s01") * col("s01")) -
        col("sx0") * (col("sx0") * col("s11") - col("s01") * col("sx1")) +
        col("sx1") * (col("sx0") * col("s01") - col("s00") * col("sx1"))
      val det0 = col("b0") * (col("s00") * col("s11") - col("s01") * col("s01")) -
        col("sx0") * (col("b1") * col("s11") - col("s01") * col("b2")) +
        col("sx1") * (col("b1") * col("s01") - col("s00") * col("b2"))
      val det1 = n * (col("b1") * col("s11") - col("s01") * col("b2")) -
        col("b0") * (col("sx0") * col("s11") - col("s01") * col("sx1")) +
        col("sx1") * (col("sx0") * col("b2") - col("b1") * col("sx1"))
      val det2 = n * (col("s00") * col("b2") - col("b1") * col("s01")) -
        col("sx0") * (col("sx0") * col("b2") - col("b1") * col("sx1")) +
        col("b0") * (col("sx0") * col("s01") - col("s00") * col("sx1"))
      // try_divide: an exactly singular window (det=0) must yield null
      // like DuckDB's x/0, not an ANSI runtime error
      sums.select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        when(col("cnt") === 252, round(try_divide(det0, det) / 100.0, 6)).as("alpha"),
        when(col("cnt") === 252, round(try_divide(det1, det) / 100.0, 6)).as("beta_x"),
        when(col("cnt") === 252, round(try_divide(det2, det) / 100.0, 6)).as("beta_z"))
    }, Oracle(w6OlsSql),
      band = Exempt.Codegen, heavy = Some(Heavy(Seq("lineitem")))),

    // W11/O2 sort desc + head(n) with deterministic tie-breaks.
    Query("w11_topk", (s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))
    }, Oracle(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // Streaming-shaped tumbling-window rollup (batch form; the same
    // expressions run under readStream with a watermark).
    Query("e1_hourly_rollup", (s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          (sum(round(col("value") * 100).cast("long")) / 100.0).as("sum_value"))
        .select(unix_micros(col("hour_start")).as("hour_us"), col("n_events"),
          col("n_users"), col("sum_value"))
    }, Oracle(
      """SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hour_us,
        |  count(*) AS n_events, count(DISTINCT user_id) AS n_users,
        |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value
        |FROM events GROUP BY 1""".stripMargin)),

    // Gap-based sessionization (30-min inactivity), pure window algebra.
    Query("e2_sessionize", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val ev = t(s, dir, "events").select(
        col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"))
      ev.withColumn("is_new",
          when(col("ts_us") - lag("ts_us", 1).over(w) > 1800000000L, 1)
            .when(lag("ts_us", 1).over(w).isNull, 1).otherwise(0))
        .withColumn("session_id", sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min("ts_us").as("start_us"), max("ts_us").as("end_us"),
          (sum("cents") / 100.0).as("sum_value"))
    }, Oracle(
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |    CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events),
        |g AS (
        |  SELECT *, CASE
        |      WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1
        |      WHEN lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |sid AS (
        |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts_us) AS start_us, max(ts_us) AS end_us, sum(cents)/100.0 AS sum_value
        |FROM sid GROUP BY 1, 2""".stripMargin)),

    // As-of (point-in-time) join: each click picks up the latest purchase
    // value at-or-before its timestamp per user — union+window form, one
    // shuffle, no range-join explosion. DuckDB's native ASOF JOIN is the
    // oracle.
    Query("j12_asof_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
      val wDedup = Window.partitionBy("user_id", "pts_us").orderBy(col("event_id").desc)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("pts_us"), col("event_id"),
          col("value").as("purchase_value"))
        .withColumn("rn", row_number().over(wDedup)).filter(col("rn") === 1)
        .select("user_id", "pts_us", "purchase_value")
      graft.operators.AsOf.join(clicks, purchases, Seq("user_id"),
        "ts_us", "pts_us", Seq("purchase_value"))
    }, Oracle(
      """WITH ev AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id, value, event_type
        |  FROM events),
        |clicks AS (SELECT user_id, ts_us, event_id FROM ev WHERE event_type = 'click'),
        |p0 AS (SELECT user_id, ts_us AS pts_us, value AS purchase_value,
        |         row_number() OVER (PARTITION BY user_id, ts_us ORDER BY event_id DESC) AS rn
        |       FROM ev WHERE event_type = 'purchase'),
        |p AS (SELECT user_id, pts_us, purchase_value FROM p0 WHERE rn = 1)
        |SELECT c.user_id, c.ts_us, c.event_id, p.purchase_value
        |FROM clicks c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND p.pts_us <= c.ts_us""".stripMargin)),

    // W10 point-in-time membership reconstruction (distributed window form).
    Query("w10_point_in_time", (s, dir) => {
      val ev = t(s, dir, "events")
      val chg = ev.filter(col("event_type").isin("signup", "error"))
        .select(col("user_id"), to_date(col("ts")).as("d"), col("ts"), col("event_id"),
          when(col("event_type") === "signup", "Added").otherwise("Removed").as("action"))
      val wLast = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
      val current = chg
        .withColumn("rn", row_number().over(wLast))
        .filter(col("rn") === 1 && col("action") === "Added")
        .select("user_id")
      val dates = ev.select(to_date(col("ts")).as("d")).distinct()
      Universe.pointInTime(chg, "user_id", "d", Seq("ts", "event_id"), "action",
          current, dates)
        .select(col("d"), col("user_id"))
    }, Oracle(
      """WITH chg AS (
        |  SELECT user_id AS k, CAST(ts AS DATE) AS d, ts, event_id,
        |    CASE WHEN event_type = 'signup' THEN 'Added' ELSE 'Removed' END AS action
        |  FROM events WHERE event_type IN ('signup', 'error')),
        |cur AS (
        |  SELECT k FROM (
        |    SELECT k, action,
        |      row_number() OVER (PARTITION BY k ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM chg) x
        |  WHERE rn = 1 AND action = 'Added'),
        |u AS (
        |  SELECT k, d, 0 AS is_probe, ts, event_id, action FROM chg
        |  UNION ALL
        |  SELECT keys.k, days.d, 1, NULL, NULL, NULL
        |  FROM (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events) days
        |  CROSS JOIN (SELECT DISTINCT k FROM chg) keys),
        |nx AS (
        |  SELECT k, d, is_probe,
        |    first_value(action IGNORE NULLS) OVER (PARTITION BY k
        |      ORDER BY d, is_probe, ts, event_id
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_action
        |  FROM u)
        |SELECT d, k AS user_id FROM nx
        |WHERE is_probe = 1
        |  AND (next_action = 'Removed'
        |       OR (next_action IS NULL AND k IN (SELECT k FROM cur)))""".stripMargin)),

    // Ranking-function suite: rank / dense_rank / ntile / lead over a
    // per-segment value order with deterministic tie-breaks.
    //
    // Scale form (round 12, same defect class as a13): the direct
    // window partitions by c_mktsegment — 5 groups, so 5 tasks carry
    // every row's sort regardless of cluster size. The ORDER BY
    // (acctbal DESC, custkey ASC) is a TOTAL order (custkey is unique),
    // which collapses every ranking function to arithmetic on the
    // global row_number rn: rank = dense_rank = rn (no two rows tie on
    // the full tuple), ntile/percent_rank/cume_dist are formulas of
    // (rn, n), and lead/lag are order-neighbors. rn itself decomposes
    // into per-(segment, acctbal) windows (high-cardinality partitions,
    // tie-group-sized sorts) plus a SPINE window over the DISTINCT
    // acctbal values per segment (value-domain-sized, near-constant as
    // rows grow): rn = (rows in strictly-greater values) + (position
    // among this value's ties). Order-neighbors cross value-group
    // boundaries via the spine's lead/lag of each group's first/last
    // key. The unchanged direct-window oracle pins equivalence;
    // PropertySpec pins it on random tie-heavy data.
    Query("w13_ranking_suite", (s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val wVal = Window.partitionBy("c_mktsegment", "c_acctbal")
        .orderBy(col("c_custkey").asc)
      val wValAll = Window.partitionBy("c_mktsegment", "c_acctbal")
      val rows = cust.select(
        col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        row_number().over(wVal).cast("long").as("rv"),
        count(lit(1)).over(wValAll).as("cv"),
        lead("c_custkey", 1).over(wVal).as("next_in"),
        lag("c_custkey", 1).over(wVal).as("prev_in"))
      val wSpine = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal").desc)
      val spine = Windows.valueSpine(cust, Seq("c_mktsegment"), "c_acctbal",
          ascending = false,
          Seq("min_ck" -> min(col("c_custkey")),
            "max_ck" -> max(col("c_custkey"))))
        .select(col("c_mktsegment"), col("c_acctbal"),
          col("cum_prev"), col("n"),
          lead("min_ck", 1).over(wSpine).as("next_grp_first"),
          lag("max_ck", 1).over(wSpine).as("prev_grp_last"))
      val rn = col("cum_prev") + col("rv")
      // Spark/DuckDB ntile: n%k buckets of size n/k+1 first, n/k after
      val bs = floor(col("n") / 4)
      val rem = col("n") % 4
      val cut = rem * (bs + 1)
      rows.join(spine, Seq("c_mktsegment", "c_acctbal"))
        .select(
          col("c_custkey"), col("c_mktsegment"),
          rn.as("rnk"), rn.as("drnk"),
          when(rn <= cut, floor((rn - 1) / (bs + 1)) + 1)
            .otherwise(rem + floor((rn - 1 - cut) / bs) + 1)
            .cast("long").as("quartile"),
          when(col("rv") < col("cv"), col("next_in"))
            .otherwise(col("next_grp_first")).as("next_custkey"),
          when(col("rv") > 1, col("prev_in"))
            .otherwise(col("prev_grp_last")).as("prev_custkey"),
          round(when(col("n") === 1, lit(0.0))
            .otherwise((rn - 1).cast("double") / (col("n") - 1)), 6)
            .as("pct_rank"),
          round(rn.cast("double") / col("n"), 6).as("cume"))
    }, Oracle(
      """SELECT c_custkey, c_mktsegment,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  lead(c_custkey) OVER w AS next_custkey,
        |  lag(c_custkey) OVER w AS prev_custkey,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)""".stripMargin),
      band = Exempt.Codegen, heavy = Some(Heavy(Seq("customer")))),

    // Time-RANGE window frame (vs the row frames everywhere else): each
    // order's trailing-30-day spend for its customer — the frame is
    // defined by event-time distance, not row count, so gapped/tied dates
    // are handled by value. Ordering key is epoch seconds on both
    // engines; the sum is exact cents, so ties inside the range are
    // order-independent.
    Query("w14_range_window", (s, dir) => {
      // o_orderdate is TIMESTAMP_NTZ: hop through TIMESTAMP (UTC session)
      // for the epoch-seconds ordering key
      val epochS = col("o_orderdate").cast("timestamp").cast("long")
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("order_epoch"))
        .rangeBetween(-29L * 86400L, 0L)
      t(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"),
          epochS.as("order_epoch"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("trail30", (sum(col("cents")).over(w) / 100.0))
        .select(col("o_orderkey"), col("o_custkey"), col("order_epoch"),
          col("trail30"))
    }, Oracle(
      """SELECT o_orderkey, o_custkey,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch,
        |  sum(CAST(round(o_totalprice*100) AS BIGINT)) OVER (
        |    PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
        |    RANGE BETWEEN 2505600 PRECEDING AND CURRENT ROW) / 100.0
        |    AS trail30
        |FROM orders""".stripMargin))
  )

  /** Shared by `w5_rolling_covar` (single window per key) and
    * `w5_covar_chunked` (overlapping-chunk parallel form) — both must
    * produce exactly this.
    */
  private def w5CovarSql: String =
    """SELECT l_returnflag, l_orderkey, l_linenumber,
      |  round(CASE WHEN count(*) OVER win >= 21 THEN covar_samp(l_quantity, l_extendedprice) OVER win END, 4) AS roll_cov
      |FROM lineitem
      |WINDOW win AS (PARTITION BY l_returnflag ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice, l_quantity ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Shared by `w6_rolling_ols` (flatMapGroups fold) and
    * `w6_rolling_ols_native` (pure window algebra) — both must produce
    * exactly this.
    */
  private def w6OlsSql: String =
    """WITH s AS (
      |  SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
      |    CAST(round(l_quantity) AS BIGINT) AS x,
      |    CAST(round(l_discount*100) AS BIGINT) AS z,
      |    CAST(round(l_extendedprice*100) AS BIGINT) AS y
      |  FROM lineitem),
      |w AS (
      |  SELECT l_suppkey, l_orderkey, l_linenumber,
      |    count(*) OVER win AS cnt,
      |    CAST(sum(x) OVER win AS DOUBLE) AS sx0,
      |    CAST(sum(z) OVER win AS DOUBLE) AS sx1,
      |    CAST(sum(y) OVER win AS DOUBLE) AS b0,
      |    CAST(sum(x*x) OVER win AS DOUBLE) AS s00,
      |    CAST(sum(x*z) OVER win AS DOUBLE) AS s01,
      |    CAST(sum(z*z) OVER win AS DOUBLE) AS s11,
      |    CAST(sum(x*y) OVER win AS DOUBLE) AS b1,
      |    CAST(sum(z*y) OVER win AS DOUBLE) AS b2
      |  FROM s
      |  WINDOW win AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, y, x ROWS BETWEEN 251 PRECEDING AND CURRENT ROW)),
      |c AS (
      |  SELECT l_suppkey, l_orderkey, l_linenumber, cnt,
      |    252.0*(s00*s11 - s01*s01) - sx0*(sx0*s11 - s01*sx1) + sx1*(sx0*s01 - s00*sx1) AS det,
      |    b0*(s00*s11 - s01*s01) - sx0*(b1*s11 - s01*b2) + sx1*(b1*s01 - s00*b2) AS det0,
      |    252.0*(b1*s11 - s01*b2) - b0*(sx0*s11 - s01*sx1) + sx1*(sx0*b2 - b1*sx1) AS det1,
      |    252.0*(s00*b2 - b1*s01) - sx0*(sx0*b2 - b1*sx1) + b0*(sx0*s01 - s00*sx1) AS det2
      |  FROM w)
      |SELECT l_suppkey, l_orderkey, l_linenumber,
      |  CASE WHEN cnt = 252 THEN round((det0/det)/100.0, 6) END AS alpha,
      |  CASE WHEN cnt = 252 THEN round((det1/det)/100.0, 6) END AS beta_x,
      |  CASE WHEN cnt = 252 THEN round((det2/det)/100.0, 6) END AS beta_z
      |FROM c""".stripMargin
}
