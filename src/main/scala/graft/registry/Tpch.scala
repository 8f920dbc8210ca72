package graft.registry

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._


import Common._

/** TPC-H query shapes (Q1-Q22) with exact integer-cent money sums.
  */
object Tpch {

  val all: Seq[Query] = Seq(
    // A2/A4-style grouped aggregation (SURVEY §2.4) — TPC-H Q1 shape.
    Query("q1_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          (sumCents("l_quantity") / 100.0).as("sum_qty"),
          (sumCents("l_extendedprice") / 100.0).as("sum_base_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Oracle(
      """SELECT l_returnflag, l_linestatus,
        |  sum(cast(round(l_quantity*100) AS BIGINT))/100.0 AS sum_qty,
        |  sum(cast(round(l_extendedprice*100) AS BIGINT))/100.0 AS sum_base_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Multi-join star aggregation (SURVEY §2.3 J3-J8 shape at scale).
    Query("q5_star_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
        .agg(
          (sumCents("l_extendedprice") / 100.0).as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("region_name", "nation_name")
    }, Oracle(
      """SELECT r_name AS region_name, n_name AS nation_name,
        |  sum(cast(round(l_extendedprice*100) AS BIGINT))/100.0 AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Q3-shape: selective filters on both fact and dims, grouped revenue,
    // top-k — exercises pushdown + broadcast + partial aggregation.
    Query("q3_shipping_priority", (s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
        .filter(to_date(col("o_orderdate")) < "1998-06-15")
      val li = t(s, dir, "lineitem")
        .filter(to_date(col("l_shipdate")) > "1998-06-15")
      val revenue = round(col("l_extendedprice") * 100).cast("long") *
        (lit(100) - round(col("l_discount") * 100).cast("long"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("odate"))
        .agg((sum(revenue) / 10000.0).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }, Oracle(
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS odate,
        |  sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT)))/10000.0 AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND CAST(o_orderdate AS DATE) < DATE '1998-06-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1998-06-15'
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    // Q6-shape: tight scan + pushable range predicates + single aggregate —
    // the canonical predicate-pushdown/column-pruning exercise.
    Query("q6_forecast_revenue", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(to_date(col("l_shipdate")).between("1996-01-01", "1996-12-31"))
        .filter(round(col("l_discount") * 100).cast("long").between(3, 7))
        .filter(col("l_quantity") < 500)
        .agg((sum(round(col("l_extendedprice") * 100).cast("long") *
          round(col("l_discount") * 100).cast("long")) / 10000.0).as("revenue"),
          count(lit(1)).as("n_lines"))
    }, Oracle(
      """SELECT sum(CAST(round(l_extendedprice*100) AS BIGINT) * CAST(round(l_discount*100) AS BIGINT))/10000.0 AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        |  AND CAST(round(l_discount*100) AS BIGINT) BETWEEN 3 AND 7
        |  AND l_quantity < 500""".stripMargin)),

    // Q18-shape: grouped aggregate filtered on its own result (HAVING),
    // then top-k — partial aggregation + post-aggregate filter.
    Query("q18_big_orders", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg((sum(round(col("l_quantity") * 100).cast("long")) / 100.0).as("total_qty"),
          count(lit(1)).as("n_lines"))
        .filter(col("total_qty") > 250)
        .orderBy(col("total_qty").desc, col("l_orderkey"))
        .limit(10)
    }, Oracle(
      """SELECT l_orderkey,
        |  sum(CAST(round(l_quantity*100) AS BIGINT))/100.0 AS total_qty,
        |  count(*) AS n_lines
        |FROM lineitem
        |GROUP BY 1
        |HAVING sum(CAST(round(l_quantity*100) AS BIGINT))/100.0 > 250
        |ORDER BY total_qty DESC, l_orderkey LIMIT 10""".stripMargin)),

    // Q4-shape: left-semi join (EXISTS) — orders with at least one
    // returned lineitem, counted by priority.
    Query("q4_semi_join", (s, dir) => {
      val ord = t(s, dir, "orders")
      val returned = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey")
      ord.join(returned, ord("o_orderkey") === returned("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("priority")
    }, Oracle(
      """SELECT o_orderpriority AS priority, count(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Anti-join (NOT EXISTS): customers who never placed an urgent order.
    Query("q16_anti_join", (s, dir) => {
      val cust = t(s, dir, "customer")
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      cust.join(urgent, cust("c_custkey") === urgent("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    }, Oracle(
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin)),

    // TPC-H Q2 shape: groupwise min — for each part shipped out of a
    // chosen region, the supplier(s) achieving the minimum exact unit
    // price (cent-sums ratio), kept via a window-min comparison instead
    // of a correlated subquery re-scan. Dims broadcast; one shuffle per
    // aggregate + one for the window.
    Query("q2_min_cost", (s, dir) => {
      val unit = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")
            .filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sumCents("l_extendedprice").as("extc"),
          sumCents("l_quantity").as("qtyc"))
        .select(col("l_partkey"), col("l_suppkey"),
          round(col("extc").cast("double") / col("qtyc"), 6).as("unit_cost"))
      val w = Window.partitionBy("l_partkey")
      unit.withColumn("mn", min(col("unit_cost")).over(w))
        .filter(col("unit_cost") === col("mn"))
        .select(col("l_partkey"), col("l_suppkey"), col("unit_cost"))
        .orderBy("l_partkey", "l_suppkey")
    }, Oracle(
      """WITH unit AS (
        |  SELECT l_partkey, l_suppkey,
        |    round(CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)
        |      / sum(CAST(round(l_quantity*100) AS BIGINT)), 6) AS unit_cost
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'AMERICA'
        |  GROUP BY 1, 2)
        |SELECT l_partkey, l_suppkey, unit_cost
        |FROM (SELECT *, min(unit_cost) OVER (PARTITION BY l_partkey) AS mn
        |      FROM unit) u
        |WHERE unit_cost = mn
        |ORDER BY l_partkey, l_suppkey""".stripMargin)),

    // Q10-shape: returned-item revenue per customer, top 20.
    Query("q10_returned_items", (s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val revenue = round(col("l_extendedprice") * 100).cast("long") *
        (lit(100) - round(col("l_discount") * 100).cast("long"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg((sum(revenue) / 10000.0).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }, Oracle(
      """SELECT c_custkey, c_name,
        |  sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT)))/10000.0 AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // TPC-H Q15 shape: supplier(s) achieving the maximum quarterly
    // revenue — a correlated max folded into a one-row broadcast join.
    // Revenue stays in exact integer cents x (100 - disc_pct).
    Query("q15_top_supplier", (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate").between("1996-01-01", "1996-03-31"))
        .groupBy(col("l_suppkey"))
        .agg(sum(revCents).as("total_revc"))
      val mx = rev.agg(max("total_revc").as("mx"))
      rev.join(broadcast(mx), col("total_revc") === col("mx"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revc"))
        .orderBy("s_suppkey")
    }, Oracle(
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) *
        |      (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
        |      AS total_revc
        |  FROM lineitem
        |  WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-03-31'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revc
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_revc = (SELECT max(total_revc) FROM rev)
        |ORDER BY s_suppkey""".stripMargin)),

    // TPC-H Q9 shape: profit by nation and ship year over a part-name
    // substring filter. The testdata has no partsupp table, so supply
    // cost is a deterministic 60% of p_retailprice; profit stays in
    // exact integer 1e-6-dollar units until the final division
    // (rev6 = cents x (100-disc_pct) x 100; cost6 = p_cents x q_cents x 60).
    Query("q9_profit", (s, dir) => {
      val cost6 = round(col("p_retailprice") * 100).cast("long") *
        round(col("l_quantity") * 100).cast("long") * 60L
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").filter(col("p_name").contains("bolt"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("l_shipdate")).cast("long").as("o_year"))
        .agg((sum(revCents * 100L - cost6) / 1e6).as("profit"))
        .orderBy(col("nation").asc, col("o_year").desc)
    }, Oracle(
      """SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |        * (100 - CAST(round(l_discount*100) AS BIGINT)) * 100
        |      - CAST(round(p_retailprice*100) AS BIGINT)
        |        * CAST(round(l_quantity*100) AS BIGINT) * 60) AS DOUBLE)
        |    / 1000000.0 AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%bolt%'
        |GROUP BY 1, 2 ORDER BY nation ASC, o_year DESC""".stripMargin)),

    // TPC-H Q11 shape: (supplier, part) positions whose value exceeds a
    // fraction (1/10000) of the GLOBAL total — a scalar-subquery
    // threshold realized as a one-row broadcast cross join. Exact integer
    // value units throughout; the long x 10000 comparison is overflow-safe
    // at bench scale and order-independent.
    Query("q11_important_stock", (s, dir) => {
      val v = t(s, dir, "lineitem")
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum(revCents).as("valc"))
      val tot = v.agg(sum(col("valc")).as("totc"))
      v.crossJoin(broadcast(tot))
        .filter(col("valc") * 10000L > col("totc"))
        .select(col("l_suppkey"), col("l_partkey"),
          (col("valc") / 1e4).as("value"))
        .orderBy(col("value").desc, col("l_suppkey"), col("l_partkey"))
    }, Oracle(
      """WITH v AS (SELECT l_suppkey, l_partkey,
        |    sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |      * (100 - CAST(round(l_discount*100) AS BIGINT))) AS valc
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_suppkey, l_partkey, CAST(valc AS DOUBLE)/10000.0 AS value
        |FROM v, (SELECT sum(valc) AS totc FROM v) t
        |WHERE valc * 10000 > totc
        |ORDER BY value DESC, l_suppkey, l_partkey""".stripMargin),
      band = Exempt.Codegen, heavy = Some(Heavy(Seq("lineitem")))),

    // TPC-H Q20 shape: suppliers that shipped MORE THAN HALF of a part's
    // total 1995 quantity — a correlated half-sum threshold expressed as
    // two partial aggregates joined on the part key (no subquery
    // re-scan). Quantities aggregate in exact integer cents.
    Query("q20_half_supply", (s, dir) => {
      val li95 = t(s, dir, "lineitem")
        .filter(year(col("l_shipdate")) === 1995)
      val sp = li95.groupBy("l_partkey", "l_suppkey")
        .agg(sumCents("l_quantity").as("qtyc"))
      val tp = sp.groupBy("l_partkey").agg(sum(col("qtyc")).as("totqc"))
      sp.join(tp, "l_partkey")
        .filter(col("qtyc") * 2 > col("totqc"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(count(lit(1)).as("n_dominated_parts"))
        .orderBy("s_suppkey")
    }, Oracle(
      """WITH sp AS (SELECT l_partkey, l_suppkey,
        |    sum(CAST(round(l_quantity*100) AS BIGINT)) AS qtyc
        |  FROM lineitem WHERE year(l_shipdate) = 1995 GROUP BY 1, 2),
        |tp AS (SELECT l_partkey, sum(qtyc) AS totqc FROM sp GROUP BY 1)
        |SELECT s_suppkey, s_name, count(*) AS n_dominated_parts
        |FROM sp JOIN tp USING (l_partkey)
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE qtyc * 2 > totqc
        |GROUP BY 1, 2 ORDER BY s_suppkey""".stripMargin)),

    // Two-dimension-table star join with two roles for one dim (nation as
    // both supplier and customer side) — TPC-H Q7 shape. All dims
    // broadcast; the only big-big join is lineitem x orders.
    Query("q7_nation_volume", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val supp = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
        .join(broadcast(nat.select(col("n_nationkey").as("cnk"),
          col("n_name").as("cust_nation"))), col("c_nationkey") === col("cnk"))
        .join(broadcast(nat.select(col("n_nationkey").as("snk"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("snk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("ship_year"))
        .agg((sum(revCents) / 1e4).as("volume"), count(lit(1)).as("n_lines"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    }, Oracle(
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        |  sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |      * (100 - CAST(round(l_discount*100) AS BIGINT)))/10000.0 AS volume,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
      band = Exempt.Codegen,
      heavy = Some(Heavy(Seq("supplier", "lineitem", "orders", "customer", "nation")))),

    // Conditional-aggregate ratio over a dim attribute — TPC-H Q14 shape.
    // Revenue stays in exact integer (cents x (100-disc)) until the final
    // division, so the promo share is engine-deterministic.
    Query("q14_promo_share", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val part = t(s, dir, "part")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .groupBy(year(col("l_shipdate")).cast("long").as("ship_year"))
        .agg(
          (sum(when(col("p_type") === "PROMO", revCents).otherwise(lit(0L))) / 1e4)
            .as("promo_revenue"),
          (sum(revCents) / 1e4).as("total_revenue"),
          round(lit(100.0) * sum(when(col("p_type") === "PROMO", revCents)
            .otherwise(lit(0L))) / sum(revCents), 6).as("promo_pct"))
        .orderBy("ship_year")
    }, Oracle(
      """WITH r AS (
        |  SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year, p_type,
        |    CAST(round(l_extendedprice*100) AS BIGINT)
        |      * (100 - CAST(round(l_discount*100) AS BIGINT)) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT ship_year,
        |  sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END)/10000.0 AS promo_revenue,
        |  sum(rev)/10000.0 AS total_revenue,
        |  round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END)
        |        / sum(rev), 6) AS promo_pct
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Disjunctive multi-attribute predicate pushed through a dim join —
    // TPC-H Q19 shape (OR of brand/size/quantity bands).
    Query("q19_or_filters", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val part = t(s, dir, "part")
      val qty = round(col("l_quantity")).cast("long")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15)
            && qty.between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 25)
            && qty.between(10, 20)) ||
          (col("p_brand") === "Brand#4" && col("p_size").between(1, 35)
            && qty.between(20, 30)))
        .agg((sum(revCents) / 1e4).as("revenue"), count(lit(1)).as("n_lines"))
    }, Oracle(
      """SELECT
        |  sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |      * (100 - CAST(round(l_discount*100) AS BIGINT)))/10000.0 AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND CAST(round(l_quantity) AS BIGINT) BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |       AND CAST(round(l_quantity) AS BIGINT) BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 35
        |       AND CAST(round(l_quantity) AS BIGINT) BETWEEN 20 AND 30)""".stripMargin)),

    // Conditional two-way counts across a big-big join — TPC-H Q12 shape
    // (adapted: this schema has no ship mode, so priority bands play the
    // high/low role).
    Query("q12_priority_lines", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          // when(high, 0).otherwise(1), NOT when(!high, ...): a NULL
          // priority must land in the low bucket exactly like the
          // oracle's CASE ... ELSE 1
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_returnflag")
    }, Oracle(
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Distribution query — TPC-H Q13: orders per customer, then customers
    // per order count (left join keeps zero-order customers).
    Query("q13_custdist", (s, dir) => {
      val cnt = t(s, dir, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("c_count"))
      t(s, dir, "customer")
        .join(cnt, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("c_count"), lit(0L)).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }, Oracle(
      """WITH cnt AS (
        |  SELECT o_custkey, count(*) AS c_count FROM orders GROUP BY 1)
        |SELECT coalesce(c_count, 0) AS c_count, count(*) AS custdist
        |FROM customer LEFT JOIN cnt ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // Small-quantity-order revenue — TPC-H Q17 shape: lineitems under 20%
    // of their part's average quantity. The per-part average joins back to
    // the fact (aggregate-then-join, partial-aggregated on both sides);
    // quantities compare in exact integer cents.
    Query("q17_small_qty", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val qc = round(col("l_quantity") * 100).cast("long")
      val avgq = li.groupBy("l_partkey")
        .agg((sum(qc).cast("double") / count(lit(1))).as("avg_qc"))
      li.join(avgq, "l_partkey")
        .filter(qc.cast("double") < lit(0.2) * col("avg_qc"))
        .agg((sumCents("l_extendedprice") / 700.0).as("avg_yearly"),
          count(lit(1)).as("n_lines"))
    }, Oracle(
      """WITH li AS (SELECT l_partkey, CAST(round(l_quantity*100) AS BIGINT) AS qc,
        |    CAST(round(l_extendedprice*100) AS BIGINT) AS pc
        |  FROM lineitem),
        |av AS (SELECT l_partkey, CAST(sum(qc) AS DOUBLE)/count(*) AS avg_qc
        |  FROM li GROUP BY 1)
        |SELECT sum(pc)/700.0 AS avg_yearly, count(*) AS n_lines
        |FROM li JOIN av USING(l_partkey)
        |WHERE CAST(qc AS DOUBLE) < 0.2 * avg_qc""".stripMargin)),

    // TPC-H Q8 shape: NATION_3's supplier-side share of discounted volume
    // sold to EUROPE-region customers, by order year. Six-table join —
    // the fact scan shuffles only for the two big equi-joins; nation /
    // region / supplier dims are broadcast. Volume stays in exact integer
    // cents x (100 - disc_pct) until the final share division.
    Query("q8_market_share", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate").between("1996-01-01", "1997-12-31"))
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val reg = t(s, dir, "region").filter(col("r_name") === "EUROPE")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
        .select(year(col("o_orderdate")).as("o_year"),
          revCents.as("volc"), col("supp_nation"))
        .groupBy("o_year")
        .agg(round(
          sum(when(col("supp_nation") === "NATION_3", col("volc"))
            .otherwise(0L)).cast("double") /
            sum(col("volc")).cast("double"), 6).as("mkt_share"))
        .orderBy("o_year")
    }, Oracle(
      s"""WITH vol AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    CAST(round(l_extendedprice*100) AS BIGINT) *
        |      (100 - CAST(round(l_discount*100) AS BIGINT)) AS volc,
        |    n2.n_name AS supp_nation
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'EUROPE'
        |    AND o_orderdate BETWEEN '1996-01-01' AND '1997-12-31')
        |SELECT CAST(o_year AS INT) AS o_year,
        |  ${roundSql(
              "CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volc ELSE 0 END) AS DOUBLE)" +
              " / CAST(sum(volc) AS DOUBLE)", 6)} AS mkt_share
        |FROM vol GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TPC-H Q21 shape (adapted: "late" = shipped >60 days after the order
    // date, since this dataset has no receipt/commit dates): suppliers who
    // were the SOLE late supplier on a multi-supplier finished order.
    // Composes a semi join (another supplier exists on the order) with an
    // anti join (no OTHER supplier was late) — both shuffle on l_orderkey,
    // so AQE reuses one exchange; supplier/nation dims are broadcast.
    Query("q21_late_supplier", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val late = li
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey").distinct()
      val others = li.select(col("l_orderkey").as("o_k"), col("l_suppkey").as("o_s"))
      val cand = late
        .join(others,
          col("l_orderkey") === col("o_k") && col("l_suppkey") =!= col("o_s"),
          "left_semi")
        .join(late.select(col("l_orderkey").as("b_k"), col("l_suppkey").as("b_s")),
          col("l_orderkey") === col("b_k") && col("l_suppkey") =!= col("b_s"),
          "left_anti")
      cand
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation").filter(col("n_nationkey") < 13)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy("s_name", "n_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name")).limit(100)
    }, Oracle(
      """WITH late AS (SELECT DISTINCT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY),
        |cand AS (SELECT lt.l_orderkey, lt.l_suppkey FROM late lt
        |  WHERE EXISTS (SELECT 1 FROM lineitem l2
        |      WHERE l2.l_orderkey = lt.l_orderkey
        |        AND l2.l_suppkey <> lt.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM late l3
        |      WHERE l3.l_orderkey = lt.l_orderkey
        |        AND l3.l_suppkey <> lt.l_suppkey))
        |SELECT s_name, n_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM cand JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_nationkey < 13
        |GROUP BY 1, 2 ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin),
      band = Exempt.Codegen,
      heavy = Some(Heavy(Seq("supplier", "lineitem", "orders", "nation")))),

    // Dormant-rich-customer rollup — TPC-H Q22 shape: customers with
    // above-average (positive) balance and no RECENT orders (none since
    // 1998; every customer in this data has SOME order), counted per
    // nation. Balance sums/averages stay in integer cents; the
    // no-recent-orders check is an anti-join against the filtered orders.
    Query("q22_dormant", (s, dir) => {
      val cust = t(s, dir, "customer")
        .withColumn("bal_c", round(col("c_acctbal") * 100).cast("long"))
      val avgPos = cust.filter(col("bal_c") > 0)
        .agg((sum(col("bal_c")).cast("double") / count(lit(1))).as("avg_bal"))
      cust.crossJoin(broadcast(avgPos))
        .filter(col("bal_c").cast("double") > col("avg_bal"))
        .join(t(s, dir, "orders").filter(col("o_orderdate") >= "1998-01-01"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"),
          (sum(col("bal_c")) / 100.0).as("totacctbal"))
        .orderBy("c_nationkey")
    }, Oracle(
      """WITH cust AS (SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal*100) AS BIGINT) AS bal_c FROM customer),
        |av AS (SELECT CAST(sum(bal_c) AS DOUBLE)/count(*) AS avg_bal
        |  FROM cust WHERE bal_c > 0)
        |SELECT c_nationkey, count(*) AS numcust, sum(bal_c)/100.0 AS totacctbal
        |FROM cust CROSS JOIN av
        |WHERE CAST(bal_c AS DOUBLE) > avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderdate >= '1998-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin))
  )

  /** Discounted-revenue in exact integer units (cents x (100-disc_pct));
    * divide by 1e4 after aggregation. Shared by q7/q14/q19.
    */
  private def revCents: org.apache.spark.sql.Column =
    round(col("l_extendedprice") * 100).cast("long") *
      (lit(100) - round(col("l_discount") * 100).cast("long"))
}
