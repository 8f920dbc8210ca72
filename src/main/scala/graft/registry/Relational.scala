package graft.registry

import org.apache.spark.sql.functions._

import graft.expr.Windows
import graft.operators.{Bloom, Fuzzy}
import Common._

/** Scan, projection, filter, join, aggregation, reshaping and scalar-function
  * queries over the TPC-H tables (SURVEY.md §2.1-§2.4, §2.6-§2.8).
  */
object Relational {

  val all: Seq[Query] = Seq(
    // S1/P1 scan + projection + cast + rename (SURVEY §2.1 S1, §2.2 P1).
    Query("s1_scan_project", (s, dir) => {
      t(s, dir, "lineitem")
        .select(
          col("l_orderkey").as("okey"),
          col("l_linenumber").cast("long").as("line_no"),
          to_date(col("l_shipdate")).as("ship_date"))
        .orderBy("okey", "line_no")
    }, Oracle(
      """SELECT l_orderkey AS okey, CAST(l_linenumber AS BIGINT) AS line_no,
        |  CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem ORDER BY 1, 2""".stripMargin)),

    // J1 broadcast left equi-join big fact x small dim (SURVEY §2.3 J1).
    Query("j1_broadcast_join", (s, dir) => {
      val orders = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      orders
        .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"), "left")
        .groupBy(col("c_mktsegment").as("mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          (sumCents("o_totalprice") / 100.0).as("sum_total"))
        .orderBy("mktsegment")
    }, Oracle(
      """SELECT c_mktsegment AS mktsegment, count(*) AS n_orders,
        |  sum(cast(round(o_totalprice*100) AS BIGINT))/100.0 AS sum_total
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // A3 distinct on a projection (SURVEY §2.4 A3).
    Query("a3_distinct", (s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_returnflag")).distinct()
    }, Oracle("SELECT DISTINCT l_suppkey, l_returnflag FROM lineitem")),

    // A4/A5 global min/max aggregate (SURVEY §2.4 A4-A5).
    Query("a4_global_minmax", (s, dir) => {
      t(s, dir, "orders").agg(
        min(to_date(col("o_orderdate"))).as("min_date"),
        max(to_date(col("o_orderdate"))).as("max_date"),
        count(lit(1)).as("n"))
    }, Oracle(
      """SELECT CAST(min(o_orderdate) AS DATE) AS min_date,
        |  CAST(max(o_orderdate) AS DATE) AS max_date, count(*) AS n
        |FROM orders""".stripMargin)),

    // A6 global (whole-frame) z-score, exact integer-cents moments.
    Query("a6_global_zscore", (s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("cents", round(col("o_totalprice") * 100).cast("decimal(19,0)"))
      val stats = o.agg(
        sum(col("cents")).cast("double").as("_s"),
        sum(col("cents") * col("cents")).cast("double").as("_ss"),
        count(lit(1)).cast("double").as("_n"))
      o.crossJoin(broadcast(stats))
        .select(col("o_orderkey"),
          round((col("cents").cast("double") - col("_s") / col("_n")) /
            sqrt((col("_ss") - col("_s") * col("_s") / col("_n")) / (col("_n") - 1)), 6)
            .as("zscore"))
    }, Oracle(
      """WITH o AS (
        |  SELECT o_orderkey, CAST(round(o_totalprice*100) AS HUGEINT) AS cents FROM orders),
        |st AS (
        |  SELECT CAST(sum(cents) AS DOUBLE) AS s, CAST(sum(cents*cents) AS DOUBLE) AS ss,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM o)
        |SELECT o_orderkey,
        |  round((CAST(cents AS DOUBLE) - s/n) / sqrt((ss - s*s/n)/(n - 1)), 6) AS zscore
        |FROM o, st""".stripMargin)),

    // A7/W9 cross-sectional equal weight 1/N per date partition.
    Query("a7_equal_weight", (s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"), to_date(col("o_orderdate")).as("odate"),
        Windows.equalWeight(Seq("o_orderdate")).as("weight"))
    }, Oracle(
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate,
        |  1.0/count(*) OVER (PARTITION BY o_orderdate) AS weight
        |FROM orders""".stripMargin)),

    // P3-P6 predicate suite: eq, between, isin, isNotNull conjunction.
    Query("p_filter_suite", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .filter(to_date(col("l_shipdate")).between("1995-01-01", "1998-12-31"))
        .filter(col("l_linenumber").isin(1, 2, 3))
        .filter(col("l_quantity").isNotNull)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          to_date(col("l_shipdate")).as("ship_date"))
    }, Oracle(
      """SELECT l_orderkey, l_linenumber, l_quantity, CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem
        |WHERE l_returnflag = 'R'
        |  AND CAST(l_shipdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1998-12-31'
        |  AND l_linenumber IN (1, 2, 3)
        |  AND l_quantity IS NOT NULL""".stripMargin)),

    // J2-shape left join that PRESERVES unmatched-null rows.
    Query("j2_left_join_nulls", (s, dir) => {
      val orders = t(s, dir, "orders")
      val richCust = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
      orders.join(broadcast(richCust), orders("o_custkey") === richCust("c_custkey"), "left")
        .select(col("o_orderkey"), col("c_name"), col("c_acctbal"))
    }, Oracle(
      """SELECT o_orderkey, c_name, c_acctbal
        |FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
        |  ON o_custkey = c_custkey""".stripMargin)),

    // P7 drop_nulls on the same left join.
    Query("p7_dropnulls", (s, dir) => {
      Registry("j2_left_join_nulls").build(s, dir).na.drop(Seq("c_name"))
    }, Oracle(
      """SELECT o_orderkey, c_name, c_acctbal
        |FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
        |  ON o_custkey = c_custkey
        |WHERE c_name IS NOT NULL""".stripMargin)),

    // P8-P11 rename / drop / lit constants / typed null literal.
    Query("p10_lit_null", (s, dir) => {
      t(s, dir, "part")
        .withColumnRenamed("p_name", "part_name")
        .drop("p_brand", "p_retailprice")
        .withColumn("signal", lit("reversal"))
        .withColumn("ic", lit(0.05))
        .withColumn("placeholder", lit(null).cast("double"))
        .select(col("p_partkey"), col("part_name"), col("signal"), col("ic"),
          col("placeholder"))
    }, Oracle(
      """SELECT p_partkey, p_name AS part_name, 'reversal' AS signal, 0.05 AS ic,
        |  CAST(NULL AS DOUBLE) AS placeholder
        |FROM part""".stripMargin)),

    // A1 group + collect list (canonicalized by sorting -> string).
    Query("a1_collect_sorted", (s, dir) => {
      t(s, dir, "customer")
        .groupBy(col("c_nationkey").cast("int").as("nationkey"))
        .agg(concat_ws("|", sort_array(collect_list(col("c_name")))).as("members"),
          count(lit(1)).as("n"))
    }, Oracle(
      """SELECT CAST(c_nationkey AS INTEGER) AS nationkey,
        |  string_agg(c_name, '|' ORDER BY c_name) AS members, count(*) AS n
        |FROM customer GROUP BY 1""".stripMargin)),

    // A8 horizontal (row-wise) expression fold over columns, exact cents.
    Query("a8_horizontal_sum", (s, dir) => {
      val cents = round(col("l_extendedprice") * 100).cast("long")
      val disc = round(col("l_discount") * 100).cast("long")
      val tax = round(col("l_tax") * 100).cast("long")
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        (cents * (lit(100) - disc) / 10000.0).as("disc_price"),
        (cents * (lit(100) - disc) * (lit(100) + tax) / 1000000.0).as("charge"))
    }, Oracle(
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  (CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) / 10000.0 AS disc_price,
        |  (CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT)) * (100 + CAST(round(l_tax*100) AS BIGINT))) / 1000000.0 AS charge
        |FROM lineitem""".stripMargin)),

    // R1 vertical concat (unionByName) of two filtered subsets.
    Query("r1_union", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val a = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      val b = li.filter(col("l_returnflag") === "A")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
      a.unionByName(b.select("l_orderkey", "l_linenumber", "l_returnflag"))
    }, Oracle(
      """SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem WHERE l_returnflag = 'R'
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem WHERE l_returnflag = 'A'""".stripMargin)),

    // R2 pivot long->wide with known pivot values.
    Query("r2_pivot", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(round(col("l_quantity") * 100).cast("long")) / 100.0)
    }, Oracle(
      """SELECT l_linestatus,
        |  sum(CASE WHEN l_returnflag='A' THEN CAST(round(l_quantity*100) AS BIGINT) END)/100.0 AS "A",
        |  sum(CASE WHEN l_returnflag='N' THEN CAST(round(l_quantity*100) AS BIGINT) END)/100.0 AS "N",
        |  sum(CASE WHEN l_returnflag='R' THEN CAST(round(l_quantity*100) AS BIGINT) END)/100.0 AS "R"
        |FROM lineitem GROUP BY 1""".stripMargin)),

    // R3 unpivot wide->long of the pivoted frame.
    Query("r3_unpivot", (s, dir) => {
      Registry("r2_pivot").build(s, dir)
        .unpivot(Array(col("l_linestatus")), Array(col("A"), col("N"), col("R")),
          "returnflag", "sum_qty")
    }, Oracle(
      """WITH p AS (
        |  SELECT l_linestatus,
        |    sum(CASE WHEN l_returnflag='A' THEN CAST(round(l_quantity*100) AS BIGINT) END)/100.0 AS a,
        |    sum(CASE WHEN l_returnflag='N' THEN CAST(round(l_quantity*100) AS BIGINT) END)/100.0 AS n,
        |    sum(CASE WHEN l_returnflag='R' THEN CAST(round(l_quantity*100) AS BIGINT) END)/100.0 AS r
        |  FROM lineitem GROUP BY 1)
        |SELECT l_linestatus, 'A' AS returnflag, a AS sum_qty FROM p
        |UNION ALL SELECT l_linestatus, 'N', n FROM p
        |UNION ALL SELECT l_linestatus, 'R', r FROM p""".stripMargin)),

    // R4 explode/flatten a split list column + regroup.
    Query("r4_explode_words", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("n"))
    }, Oracle(
      """SELECT doc_id, word, count(*) AS n FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) t
        |GROUP BY 1, 2""".stripMargin)),

    // R5 dict recode of a categorical column.
    Query("r5_recode", (s, dir) => {
      t(s, dir, "events").select(
        col("event_id"),
        when(col("event_type") === "click", "CLICK")
          .when(col("event_type") === "view", "VIEW")
          .when(col("event_type") === "purchase", "BUY")
          .otherwise("OTHER").as("kind"))
    }, Oracle(
      """SELECT event_id,
        |  CASE event_type WHEN 'click' THEN 'CLICK' WHEN 'view' THEN 'VIEW'
        |    WHEN 'purchase' THEN 'BUY' ELSE 'OTHER' END AS kind
        |FROM events""".stripMargin)),

    // F1-F8 scalar function suite.
    Query("f_scalar_suite", (s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_type")).as("type_upper"),
        lower(col("p_brand")).as("brand_lower"),
        substring(col("p_name"), 1, 5).as("name5"),
        length(col("p_name")).cast("long").as("name_len"),
        concat(col("p_brand"), lit("-"), col("p_type")).as("brand_type"),
        abs(round(col("p_retailprice") * 100).cast("long")).as("cents_abs"),
        pow(col("p_size").cast("double"), 2.0).as("size_sq"),
        coalesce(nullif(col("p_brand"), lit("Brand#13")), lit("OTHER")).as("brand_or_other"))
    }, Oracle(
      """SELECT p_partkey,
        |  upper(p_type) AS type_upper,
        |  lower(p_brand) AS brand_lower,
        |  substr(p_name, 1, 5) AS name5,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  concat(p_brand, '-', p_type) AS brand_type,
        |  abs(CAST(round(p_retailprice*100) AS BIGINT)) AS cents_abs,
        |  power(CAST(p_size AS DOUBLE), 2.0) AS size_sq,
        |  coalesce(nullif(p_brand, 'Brand#13'), 'OTHER') AS brand_or_other
        |FROM part""".stripMargin)),

    // Fuzzy (edit-distance <= 1) self-match on supplier names via
    // deletion-neighborhood (FastSS/SymSpell) blocking + banded
    // levenshtein verification — the entity-resolution shape, never an
    // all-pairs scan. Content-keyed blocking, because supplier names are
    // FIXED-FORMAT (all 18 chars): length-band blocking degenerates to
    // one bucket there and candidates grow quadratically — measured in
    // docs/SCALING.md (band plan 53s vs this plan 7.7s at 30x; 16s at
    // 100x, fit exponent 0.54).
    Query("f2_fuzzy_pairs", (s, dir) => {
      Fuzzy.deletePairs(t(s, dir, "supplier"), "s_suppkey", "s_name", 1)
        .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"),
          col("dist").cast("long").as("dist"))
        .orderBy("a", "b")
    }, Oracle(
      """SELECT CAST(x.s_suppkey AS BIGINT) AS a, CAST(y.s_suppkey AS BIGINT) AS b,
        |  CAST(levenshtein(x.s_name, y.s_name) AS BIGINT) AS dist
        |FROM supplier x JOIN supplier y ON x.s_suppkey < y.s_suppkey
        |WHERE levenshtein(x.s_name, y.s_name) <= 1
        |ORDER BY a, b""".stripMargin),
      band = Exempt.Codegen, heavy = Some(Heavy(Seq("supplier")))),

    // Statistical aggregate suite (corr / covariance / variance) from
    // exact integer-cents moments — the a6 recipe: decimal partial sums
    // are bit-exact under any partitioning, the double math happens once
    // per group with fixed parenthesization, so an independent engine
    // reproduces every digit (built-in corr/covar_samp stream doubles in
    // partition order and drift in the last ulps at this row count).
    Query("a12_stats_suite", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        round(col("l_quantity")).cast("decimal(38,0)").as("q"),
        round(col("l_extendedprice") * 100).cast("decimal(38,0)").as("p"))
      val m = li.groupBy("l_returnflag").agg(
        count(lit(1)).cast("double").as("n"),
        sum("q").cast("double").as("sq"),
        sum("p").cast("double").as("sp"),
        sum(col("q") * col("q")).cast("double").as("sqq"),
        sum(col("p") * col("p")).cast("double").as("spp"),
        sum(col("q") * col("p")).cast("double").as("sqp"))
      m.select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
          round((col("n") * col("sqp") - col("sq") * col("sp")) /
            (sqrt(col("n") * col("sqq") - col("sq") * col("sq")) *
             sqrt(col("n") * col("spp") - col("sp") * col("sp"))), 6).as("corr_qp"),
          round((col("sqp") - col("sq") * col("sp") / col("n")) /
            (col("n") - 1) / 100.0, 6).as("covar_samp"),
          round((col("sqp") - col("sq") * col("sp") / col("n")) /
            col("n") / 100.0, 6).as("covar_pop"),
          round((col("sqq") - col("sq") * col("sq") / col("n")) /
            (col("n") - 1), 6).as("var_qty"),
          round(sqrt((col("spp") - col("sp") * col("sp") / col("n")) /
            (col("n") - 1)) / 100.0, 6).as("stddev_price"))
        .orderBy("l_returnflag")
    }, Oracle(
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(round(l_quantity) AS HUGEINT)) AS DOUBLE) AS sq,
        |    CAST(sum(CAST(round(l_extendedprice*100) AS HUGEINT)) AS DOUBLE) AS sp,
        |    CAST(sum(CAST(round(l_quantity) AS HUGEINT)
        |           * CAST(round(l_quantity) AS HUGEINT)) AS DOUBLE) AS sqq,
        |    CAST(sum(CAST(round(l_extendedprice*100) AS HUGEINT)
        |           * CAST(round(l_extendedprice*100) AS HUGEINT)) AS DOUBLE) AS spp,
        |    CAST(sum(CAST(round(l_quantity) AS HUGEINT)
        |           * CAST(round(l_extendedprice*100) AS HUGEINT)) AS DOUBLE) AS sqp
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        |  round((n * sqp - sq * sp) /
        |    (sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp)), 6) AS corr_qp,
        |  round((sqp - sq * sp / n) / (n - 1) / 100.0, 6) AS covar_samp,
        |  round((sqp - sq * sp / n) / n / 100.0, 6) AS covar_pop,
        |  round((sqq - sq * sq / n) / (n - 1), 6) AS var_qty,
        |  round(sqrt((spp - sp * sp / n) / (n - 1)) / 100.0, 6) AS stddev_price
        |FROM m ORDER BY l_returnflag""".stripMargin)),

    // Rank-based trimmed (winsorized-by-count) group stats: drop exactly
    // floor(0.05·n) rows from EACH tail by rank — whole-row logic, so
    // both engines agree bit-for-bit, unlike value-interpolated
    // percentile clipping — then aggregate the surviving cents exactly.
    //
    // Scale form (round 12): every output depends only on the per-group
    // MULTISET of cents — the rank tie-break on (orderkey, linenumber)
    // decides WHICH boundary rows are kept, but all rows tied at the
    // boundary share one cents value, so n_kept/lo/hi/sum are tie-
    // independent. That licenses computing the trim from per-
    // (group, cents) partial aggregates plus a cumulative window over
    // DISTINCT cents: kept-per-bucket = overlap of the bucket's rank
    // span (cum-cnt, cum] with the kept span (k, n-k]. The heavy phase
    // is a map-side-combinable groupBy ∝ rows; the per-group window
    // runs over the VALUE DOMAIN (distinct prices — near-constant as
    // rows grow). The row-rank form this replaces put every group's
    // full row set through one window task (parallelism = 3 return
    // flags) and measured ~1.2-superlinear at the probe's top segment
    // (docs/SCALING.md); the oracle (still the row-rank SQL) pins the
    // rewrite's equivalence.
    Query("a13_trimmed_stats", (s, dir) => {
      val k = floor(col("n") * 5 / 100)
      Windows.valueSpine(
          t(s, dir, "lineitem")
            .select(col("l_returnflag"),
              round(col("l_extendedprice") * 100).cast("long").as("cents")),
          Seq("l_returnflag"), "cents", ascending = true)
        .select(col("l_returnflag"), col("cents"),
          greatest(lit(0L),
            least(col("cum_prev") + col("cnt"), col("n") - k) -
              greatest(col("cum_prev"), k)).as("kept"))
        .filter(col("kept") > 0)
        .groupBy("l_returnflag")
        .agg(sum("kept").as("n_kept"),
          (min("cents") / 100.0).as("lo"),
          (max("cents") / 100.0).as("hi"),
          round(sum(col("cents") * col("kept")) / 100.0 / sum("kept"), 6)
            .as("trimmed_mean"))
        .orderBy("l_returnflag")
    }, Oracle(
      """WITH b AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT),
        |        l_orderkey, l_linenumber) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag, count(*) AS n_kept,
        |  min(cents) / 100.0 AS lo, max(cents) / 100.0 AS hi,
        |  round(sum(cents) / 100.0 / count(*), 6) AS trimmed_mean
        |FROM b WHERE rn > floor(n * 5 / 100) AND rn <= n - floor(n * 5 / 100)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
      band = Exempt.Codegen, heavy = Some(Heavy(Seq("lineitem")))),

    // JSON path extraction from the semi-structured props column,
    // aggregated per event type — get_json_object stays a codegen'd
    // per-row expression on the scan (no UDF, no shuffle beyond the agg).
    Query("f_json_props", (s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type")
    }, Oracle(
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // F1/F2 date part extraction.
    Query("f_date_parts", (s, dir) => {
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        year(col("l_shipdate")).as("y"),
        month(col("l_shipdate")).as("m"),
        dayofmonth(col("l_shipdate")).as("d"),
        to_date(col("l_shipdate")).as("ship_date"))
    }, Oracle(
      """SELECT l_orderkey, l_linenumber,
        |  CAST(year(l_shipdate) AS INTEGER) AS y,
        |  CAST(month(l_shipdate) AS INTEGER) AS m,
        |  CAST(day(l_shipdate) AS INTEGER) AS d,
        |  CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem""".stripMargin)),

    // Hierarchical aggregation: ROLLUP grouping sets — subtotals and a
    // grand total in one pass (partial-aggregated like any groupBy; the
    // expand adds one row per grouping set, not one job per level).
    Query("a10_rollup", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg((sumCents("l_extendedprice") / 100.0).as("revenue"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("revenue"), col("n"))
        .orderBy("flag", "status")
    }, Oracle(
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS revenue,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin)),

    // Full cube over the same two dimensions: all four grouping sets in
    // one pass (partial-aggregated before the shuffle, like rollup).
    Query("a11_cube", (s, dir) => {
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg((sumCents("l_quantity") / 100.0).as("sum_qty"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("sum_qty"), col("n"))
        .orderBy("flag", "status")
    }, Oracle(
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  sum(CAST(round(l_quantity*100) AS BIGINT))/100.0 AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin)),

    // Bloom-pruned selective join: a bloom filter over the filtered dim's
    // keys prunes fact rows before the join; false positives are removed
    // by the exact join, so the oracle is the plain join — the bloom
    // changes cost, never the answer.
    Query("j14_bloom_join", (s, dir) => {
      val dim = t(s, dir, "part").filter(col("p_size") <= 2)
      Bloom.prunedJoin(t(s, dir, "lineitem"), dim,
          "l_partkey", "p_partkey", expectedItems = 20000L)
        .groupBy("p_brand")
        .agg((sumCents("l_extendedprice") / 100.0).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("p_brand")
    }, Oracle(
      """SELECT p_brand,
        |  sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 2
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Set operators over derived key sets: customers active in 1996 vs
    // 1997 — intersect (both), except (one side only). Distinct-key
    // semantics, one hash shuffle each, counted per bucket.
    Query("r7_set_ops", (s, dir) => {
      val ord = t(s, dir, "orders")
      def yr(y: Int) = ord.filter(year(col("o_orderdate")) === y)
        .select("o_custkey").distinct()
      val y96 = yr(1996); val y97 = yr(1997)
      val tagged = y96.intersect(y97).withColumn("bucket", lit("both"))
        .unionByName(y96.except(y97).withColumn("bucket", lit("only_1996")))
        .unionByName(y97.except(y96).withColumn("bucket", lit("only_1997")))
      tagged.groupBy("bucket").agg(count(lit(1)).as("n_cust"))
        .orderBy("bucket")
    }, Oracle(
      """WITH y96 AS (SELECT DISTINCT o_custkey FROM orders
        |    WHERE year(o_orderdate) = 1996),
        |y97 AS (SELECT DISTINCT o_custkey FROM orders
        |    WHERE year(o_orderdate) = 1997),
        |tagged AS (
        |  SELECT o_custkey, 'both' AS bucket
        |    FROM (SELECT * FROM y96 INTERSECT SELECT * FROM y97)
        |  UNION ALL
        |  SELECT o_custkey, 'only_1996'
        |    FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y97)
        |  UNION ALL
        |  SELECT o_custkey, 'only_1997'
        |    FROM (SELECT * FROM y97 EXCEPT SELECT * FROM y96))
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_cust
        |FROM tagged GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
