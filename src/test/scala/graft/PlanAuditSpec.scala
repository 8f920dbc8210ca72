package graft

import graft.registry.{Query, Registry, RowsOnly, Vectors}

/** Physical-plan audits of flagship queries: the properties that decide
  * 100 TB behavior are asserted, not eyeballed — filters reach the
  * parquet scan, projections prune the read schema, small dimensions
  * broadcast, aggregations combine map-side, and nothing degenerates
  * into a cartesian product. A regression in any of these would still
  * pass every value-level oracle at test scale while multiplying cost
  * at cluster scale; this spec is the tripwire.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("every query is oracle-backed except the documented rows-only set") {
    // a query without an oracle mirror silently downgrades to a
    // rows-only check in the correctness gate — the ONLY deliberate such
    // entry is the QP solve (certified separately by l5_qp_certificate);
    // anything else appearing here is a regression of the gate, not a
    // style choice
    val rowsOnly = Registry.all.collect {
      case Query(n, _, RowsOnly(_), _, _) => n
    }.toSet
    assert(rowsOnly == Set("l5_qp_weights"),
      s"unexpected rows-only queries: ${(rowsOnly - "l5_qp_weights").toSeq.sorted}")
  }

  test("building and planning every registry query leaves the session conf as found") {
    // every sizing conf a query needs lives in a session clone, so no
    // harness has to restore anything between queries. Tables.load's
    // nanosAsLong=true is the one constant write: it is how one vintage
    // of the events file (TIMESTAMP(NANOS)) can be read at all, not a
    // query's sizing, so it is set before the snapshot.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val before = spark.conf.getAll
    Registry.all.foreach { q =>
      try q.build(spark, sf).queryExecution.executedPlan
      finally {
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
      val after = spark.conf.getAll.toSet
      val changed = (after diff before.toSet) ++ (before.toSet diff after)
      assert(changed.isEmpty,
        s"${q.name} wrote the caller's session conf: ${changed.mkString(", ")}")
    }
  }

  test("filters reach the parquet scan; projections prune the read schema") {
    // q6 filters lineitem on shipdate/discount/quantity: all three belong
    // in PushedFilters, and the 16-column table must read only the
    // columns the query touches
    val p = plan("q6_forecast_revenue")
    val scan = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scan.contains("PushedFilters: [") && !scan.contains("PushedFilters: []"),
      "q6's predicates must reach the scan: " + scan)
    val read = scan.substring(scan.indexOf("ReadSchema"))
    assert(read.count(_ == ',') <= 4,
      "q6 must prune lineitem to the touched columns: " + read)
    // s1 is a pure scan+project: pruning alone (3 of 16 columns)
    val s1 = plan("s1_scan_project").linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(s1.substring(s1.indexOf("ReadSchema")).count(_ == ',') <= 2,
      "s1 must read a 3-column subset: " + s1)
  }

  test("dimension joins broadcast; no shuffle of the small side") {
    assert(plan("j1_broadcast_join").contains("BroadcastHashJoin"))
    val star = plan("q5_star_join")
    assert(star.contains("BroadcastHashJoin"),
      "q5's region/nation dims must broadcast:\n" + star)
  }

  test("LSH verification broadcasts the candidate spine only when the probe says small") {
    import spark.implicits._
    // the d3/d9 verify path size-probes its candidate frame and hints a
    // broadcast only under the 1M-pair limit — a degenerate candidate
    // explosion must NOT be forced into a driver-OOM broadcast
    val grams = Seq(
      (1L, Seq("a b c", "b c d")), (2L, Seq("a b c", "c d e")),
      (3L, Seq("x y z"))).toDF("id", "gs")
    val small = Seq((1L, 2L), (1L, 3L)).toDF("a", "b").localCheckpoint(true)
    val verified = operators.Dedup.verifyJaccard(small, grams, grams, 0.0)
    assert(verified.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "small candidate frames must take the explicit broadcast hint")
    assert(verified.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "the hinted candidate spine must execute as a broadcast join")
    // >1M pairs: the hint must be withheld (AQE picks the strategy from
    // runtime sizes instead). The range frame is NOT pre-checkpointed on
    // purpose — it also exercises verifyJaccard's defensive
    // materialization of non-checkpointed inputs before the count probe.
    val big = spark.range(1000001L)
      .select(org.apache.spark.sql.functions.col("id").as("a"),
        (org.apache.spark.sql.functions.col("id") + 1000001L).as("b"))
    val bigVerified = operators.Dedup.verifyJaccard(big, grams, grams, 0.0)
    assert(!bigVerified.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "an over-limit candidate frame must not be hint-broadcast")
    // d3 end-to-end: at test scale the candidates are small, so the
    // executed plan must carry broadcast joins on the verify spine
    assert(plan("d3_dedup_minhash").contains("BroadcastHashJoin"),
      "d3's verify joins must broadcast the candidate side")
  }

  test("grouped aggregation combines map-side (partial before the exchange)") {
    val p = plan("q1_agg")
    assert(p.contains("partial_"), "no map-side partial aggregation:\n" + p)
  }

  test("no flagship query plans a cartesian product") {
    // n1 is the documented exception: brute-force top-k is an explicit
    // crossJoin(broadcast(queries)) against a bounded query set
    val audited = Seq("q1_agg", "q3_shipping_priority", "q5_star_join",
      "q9_profit", "d3_dedup_minhash", "d5_dedup_embcos", "j12_asof_join",
      "x6_pack_sequences", "t7_tfidf")
    audited.foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
    }
  }

  test("flagship queries keep their hot path inside whole-stage codegen") {
    // AQE hides codegen spans until the plan is finalized, so run the
    // query (sf0.001) and audit the executed plan
    Seq("q1_agg", "q6_forecast_revenue", "s1_scan_project").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      // codegen stages render as "*(n) Operator" in the executed plan
      assert(df.queryExecution.executedPlan.toString.contains("*("),
        s"$name fell out of codegen")
    }
  }

  test("per-document signatures and metrics plan zero exchanges") {
    // the no-shuffle-per-row rule (README "100 TB design notes"): SimHash
    // and MinHash signature construction and the repetition counters all
    // live inside the scan projection — any Exchange here means a
    // corpus-wide shuffle crept back into a per-document computation
    val docs = catalog.Tables.load(spark, sf, "documents")
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.toString.linesIterator
        .count(_.contains("Exchange"))
    assert(exchanges(operators.Dedup.simHash(docs, "doc_id", "text")) == 0,
      "simHash must not shuffle")
    assert(exchanges(docs.selectExpr(
        "minhash_row(split(text, ' '), 3, 64) as sig")) == 0,
      "minhash_row must not shuffle")
    assert(exchanges(operators.TextAnalysis.repetitionMetrics(
        docs, "doc_id", "text")) == 0,
      "repetitionMetrics must not shuffle")
  }

  test("cum-diff rolling OLS: both window passes share one exchange and one sort") {
    // w6_rolling_ols_native's O(1)/row shape depends on the running-sum
    // pass and the lag pass sharing their partitioning and order — a
    // second Exchange or Sort means the cum-diff rewrite regressed to
    // paying the shuffle twice (and a bounded sliding frame would mean
    // the O(W)/row form crept back)
    val p = plan("w6_rolling_ols_native")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    val sorts = p.linesIterator.count(_.contains("Sort "))
    assert(exchanges == 1, s"expected one exchange, got $exchanges:\n$p")
    assert(sorts == 1, s"expected one sort, got $sorts:\n$p")
    assert(!p.contains("specifiedwindowframe(RowFrame, -251"),
      s"bounded 252-row sliding frame crept back (O(W)/row):\n$p")
  }

  test("dedup keeper elections partial-aggregate; no corpus-wide window") {
    // exact/segment/incremental dedup elect keepers via groupBy-min +
    // join-back: the min MUST partial-aggregate (a window min has no
    // map-side combine, so one corpus-dominant duplicate text or
    // boilerplate segment would serialize its whole occurrence stream
    // onto a single task — and a window partition, unlike a skewed join
    // partition, cannot be split by AQE)
    Seq("d1_dedup_exact", "d7_dedup_segments", "d8_dedup_incremental")
      .foreach { name =>
        val p = plan(name)
        assert(!p.contains("Window"),
          s"$name elects keepers through a window (hot key serializes):\n$p")
        assert(p.contains("partial_min"),
          s"$name's keeper election must partial-aggregate:\n$p")
      }
  }

  test("trimmed stats trim the value domain, not ranked rows") {
    // a13's round-12 rewrite exists because the row-rank form capped
    // parallelism at the 3 l_returnflag groups (measured 1.2-superlinear
    // and 36x slower at 100x — docs/SCALING.md): the heavy phase must be
    // a map-side-combinable (group, cents) aggregate, and no row_number
    // over the raw row stream may creep back
    val p = plan("a13_trimmed_stats")
    assert(p.contains("partial_count"),
      s"a13's cents-bucket phase must partial-aggregate:\n$p")
    assert(!p.contains("row_number"),
      s"a13 regressed to ranking raw rows (3-task sort at scale):\n$p")
  }

  test("ranking suite decomposes: no segment-global ranking window") {
    // w13's round-12 rewrite (same defect class as a13): the direct
    // form ranked every customer in a window partitioned by the 5
    // market segments — 5 tasks regardless of cluster size. The
    // decomposed plan may only window per (segment, acctbal) tie group
    // and over the distinct-value spine; ntile is the direct form's
    // marker function (the rewrite computes it arithmetically), and the
    // spine must partial-aggregate
    val p = plan("w13_ranking_suite")
    assert(!p.contains("ntile"),
      s"w13 regressed to the segment-global ranking window:\n$p")
    assert(p.contains("partial_count"),
      s"w13's spine must partial-aggregate:\n$p")
  }

  test("length percentiles take the spine path, not the buffering aggregate") {
    // t6's round-12 rewrite: Spark's percentile() holds every group
    // value in its aggregation buffer (per-group memory ∝ rows); the
    // spine form must stay — no percentile aggregate in the plan, and
    // the spine partial-aggregates
    val p = plan("t6_length_percentiles")
    assert(!p.toLowerCase.contains("percentile"),
      s"t6 regressed to the buffering percentile aggregate:\n$p")
    assert(p.contains("partial_count"),
      s"t6's spine must partial-aggregate:\n$p")
  }

  test("per-source cap ranks inside hash buckets, never a whole group") {
    // capPerGroup's round-12 decomposition: the ranking window must
    // carry the _capb bucket column (group-only partitioning would put
    // a hot domain's whole row set through one task again), and the
    // spine must partial-aggregate
    val p = plan("x4_source_cap")
    val rankWindows = p.linesIterator
      .filter(l => l.contains("windowspecdefinition") && l.contains("row_number"))
      .toSeq
    assert(rankWindows.nonEmpty, s"x4 lost its ranking window:\n$p")
    assert(rankWindows.forall(_.contains("_capb")),
      s"x4's rank window must be bucket-partitioned:\n${rankWindows.mkString("\n")}")
    assert(p.contains("partial_count"),
      s"x4's bucket spine must partial-aggregate:\n$p")
  }

  test("fuzzy pairs block on deletion variants, not length bands") {
    // f2's round-12 rewrite: supplier names are fixed-format (all 18
    // chars), so length-band blocking is ONE bucket and candidates grow
    // quadratically (measured: 53s vs 7.7s at 30x, docs/SCALING.md).
    // The plan must join on the deletion-variant content key and the
    // length-band key must not reappear
    val p = plan("f2_fuzzy_pairs")
    assert(p.contains("_vkey"),
      s"f2 must block on the deletion-variant key:\n$p")
    assert(!p.contains("_blk"),
      s"f2 regressed to length-band blocking (one bucket on " +
        s"fixed-format names):\n$p")
  }

  test("ANN top-k rankings keep Catalyst's partial window-group limit") {
    // query panels are LOW-cardinality by design (tens of qids over the
    // whole corpus), so a per-qid ranking window WOULD be the few-groups
    // window class (a13/w13/x4/t6, docs/SCALING.md) — except the
    // row_number <= k filter pattern lets InferWindowGroupLimit insert a
    // PARTIAL per-input-partition top-k before the qid exchange, keeping
    // every sort partition-local. That rewrite is the load-bearing part:
    // a refactor that breaks the pattern (ranking without the limit
    // filter, a non-rank window function) silently re-opens the class,
    // so the Partial node is pinned here
    Seq("n1_ann_cosine_topk", "n2_ann_lsh", "n3_ann_ivf", "n5_ann_pq")
      .foreach { q =>
        val p = plan(q)
        // the Partial mode must be on the WindowGroupLimit node ITSELF
        // (same plan line): two independent whole-plan substring checks
        // would pass on a Final-mode-only limit plus any unrelated
        // "Partial" text elsewhere, defeating the pin (r12 advice)
        assert(p.linesIterator.exists(l =>
            l.contains("WindowGroupLimit") && l.contains("Partial")),
          s"$q lost the PARTIAL-mode window-group limit node:\n$p")
      }
  }

  test("n5's fixed panel pin stays above every graded SF's vec_id range") {
    // the ADC scan is Θ(panel·corpus) by design, so the n5 panel is
    // PINNED (`vec_id < n5PanelPin`): the pin covers the whole id range
    // at every graded SF, making the pinned query bit-identical to an
    // unpinned one there while freezing the panel on scaled corpora. If
    // a larger SF ever pushes max vec_id to the pin, BOTH engines would
    // silently shrink the panel relative to the corpus — a workload
    // change the oracle comparison cannot see because it mirrors the
    // same pin. This guard makes that growth fail loudly instead
    // (r12 advice).
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1").foreach { dir =>
      val mx = graft.catalog.Tables.load(spark, dir, "embeddings")
        .agg(org.apache.spark.sql.functions.max("vec_id"))
        .collect().head.getLong(0)
      assert(mx < Vectors.n5PanelPin,
        s"$dir embeddings max vec_id $mx >= n5PanelPin " +
          s"${Vectors.n5PanelPin}: the fixed panel no longer covers " +
          "the graded id range — raise the pin and re-check the oracle")
    }
  }

  test("pack sequences never windows the corpus on a single partition") {
    val p = plan("x6_pack_sequences")
    // every Window over the document stream must carry a partition spec
    // (_b buckets); the only global-order window allowed is the one over
    // the per-bucket totals (its input is an Aggregate of #buckets rows)
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty)
    val unpartitioned = windows.filterNot(_.contains("_b"))
    assert(unpartitioned.isEmpty || p.contains("_bt"),
      "corpus-wide unpartitioned window:\n" + windows.mkString("\n"))
  }

  test("range-join densification cures keep their scale shapes") {
    // j13b (enumerate-then-cap): the cap must be a window-group limit
    // (rows beyond k dropped before the per-point sort). Unlike the ANN
    // rankings, the broadcast branch repartitions by point key BEFORE
    // the join, so there is no exchange between limit and window and
    // Catalyst inserts the single Final-mode node — still per-partition
    // bounded, because the partitioning already satisfies the window.
    // The broadcast-vs-shuffled branch choice is size-gated inside
    // pointInIntervalTopK and both branches are value- and plan-pinned
    // in OperatorsSpec; here the QUERY-level shape is pinned so a
    // SparkEntry rewrite can't silently lose the cap.
    val b = plan("j13b_range_join_topk")
    assert(b.contains("WindowGroupLimit"),
      s"j13b lost the window-group limit:\n$b")
    // j13f (the shuffled fallback, graded as its own entry): the budget
    // pin and the session conf it sets must actually produce the
    // over-budget plan — no broadcast anywhere, cap still present. A
    // silent drift back to the broadcast branch would re-grade j13b
    // twice and leave the fallback unmeasured.
    val f = plan("j13f_range_join_topk_shuffled")
    assert(f.contains("WindowGroupLimit"),
      s"j13f lost the window-group limit:\n$f")
    assert(!f.contains("BroadcastExchange"),
      s"j13f's bin join must shuffle (the over-budget branch):\n$f")
    // j13d (sweep): the cap must be the k-bounded topk_structs AGGREGATE
    // and the candidate stream must never pass through a window — the
    // whole point of the sweep is that nothing enumerate-then-caps. At
    // graded SFs the interval side broadcasts and the explicit
    // point-key repartition survives the join, so the partial and
    // final folds must sit ADJACENT (fused in one stage — an exchange
    // between them would mean the point partitioning was lost and
    // candidate-derived data crossed the wire)
    val d = plan("j13d_range_join_sweep")
    assert(d.contains("topk_structs"), s"j13d lost the sweep aggregate:\n$d")
    val dLines = d.linesIterator.toVector
    val finalIdx = dLines.indexWhere(l =>
      l.contains("functions=[topk_structs"))
    assert(finalIdx >= 0 && finalIdx + 1 < dLines.size &&
        dLines(finalIdx + 1).contains("partial_topk_structs"),
      s"j13d's partial and final folds must fuse into one stage:\n$d")
    assert(d.contains("REPARTITION_BY_COL"),
      s"j13d lost the explicit point repartition:\n$d")
    // the CANDIDATE stream must never window; the one permitted
    // WindowGroupLimit is the round-20 dominance prune's k-th-full-cover
    // threshold pass on the interval side, keyed by _bin and bounded by
    // the (small) interval side — a point-keyed window would mean the
    // sweep regressed to enumerate-then-cap
    val dWindows = d.linesIterator
      .filter(_.contains("WindowGroupLimit")).toVector
    assert(dWindows.forall(_.contains("[_bin")),
      s"j13d windowed something other than the interval-side prune:\n$d")
    // j13e (per-point date-only aggregates): since round 20's
    // optimization phase the enumeration is GONE — stats come from
    // endpoint prefix sums broadcast-joined per date. No Generate
    // (the bin explode) may appear anywhere in the plan, and the
    // per-date stats side must broadcast; the per-endpoint/point
    // reductions still partial-aggregate map-side.
    val e = plan("j13e_range_join_agg")
    assert(!e.contains("Generate"),
      s"j13e regressed to candidate enumeration (bin explode):\n$e")
    assert(e.contains("BroadcastHashJoin"),
      s"j13e's per-date stats must broadcast onto the points:\n$e")
    assert(e.contains("partial_count"),
      s"j13e's reductions must partial-aggregate map-side:\n$e")
  }
}
