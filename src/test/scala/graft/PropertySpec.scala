package graft

import breeze.linalg.{DenseMatrix, DenseVector}

import graft.algo.Qp
import graft.expr.Ewma
import graft.operators.CcStrategy.{Auto, Hybrid, Propagation, Star}

/** Property-based invariants (SURVEY §5 item 4), checked over seeded
  * randomized cases (the scalatest/scalacheck bridge isn't on the
  * offline classpath, so sampling is explicit and deterministic).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20260812L)

  /** Capture the CC strategy-decision trace through Dedup's injectable
    * sink (messages still tee to the real stderr). Replaces the earlier
    * System.setErr swap, which raced executor/listener threads writing
    * to the process-global stream.
    */
  private def capturingTrace(body: => Unit): String = {
    val buf = new StringBuilder
    val old = graft.operators.Dedup.traceSink
    graft.operators.Dedup.traceSink =
      m => { buf.synchronized { buf.append(m).append('\n') }; old(m) }
    try body finally graft.operators.Dedup.traceSink = old
    buf.synchronized(buf.toString)
  }

  test("ewma of a constant series is the constant, for any half-life") {
    (1 to 10).foreach { _ =>
      val h = 1.0 + rnd.nextDouble() * 200
      val n = 2 + rnd.nextInt(28)
      val df = (0 until n).map(i => ("k", i, 7.25)).toDF("key", "i", "x")
      val out = Ewma.ewmaMean(df, Seq("key"), Seq("i"), "x", h, "e")
        .collect().map(_.getDouble(3))
      assert(out.forall(v => math.abs(v - 7.25) < 1e-9), s"h=$h n=$n")
    }
  }

  test("ewma output stays within the running min/max envelope") {
    (1 to 5).foreach { _ =>
      val xs = Seq.fill(2 + rnd.nextInt(38))(rnd.nextDouble() * 200 - 100)
      val df = xs.zipWithIndex.map { case (x, i) => ("k", i, x) }.toDF("key", "i", "x")
      val out = Ewma.ewmaMean(df, Seq("key"), Seq("i"), "x", 10.0, "e")
        .orderBy("i").collect().map(_.getDouble(3))
      out.zipWithIndex.foreach { case (v, i) =>
        val seen = xs.take(i + 1)
        assert(v >= seen.min - 1e-9 && v <= seen.max + 1e-9, s"i=$i")
      }
    }
  }

  test("simplex projection: always feasible, idempotent") {
    (1 to 50).foreach { _ =>
      val v = DenseVector.fill(2 + rnd.nextInt(28))(rnd.nextDouble() * 10 - 5)
      val w = Qp.projectSimplex(v)
      assert(math.abs(breeze.linalg.sum(w) - 1.0) < 1e-9)
      assert(breeze.linalg.min(w) >= -1e-12)
      assert(breeze.linalg.norm(Qp.projectSimplex(w) - w) < 1e-9)
    }
  }

  test("QP solutions are feasible for random PSD problems") {
    (1 to 10).foreach { _ =>
      val n = 2 + rnd.nextInt(10)
      val a = DenseMatrix.tabulate(n, n)((_, _) => rnd.nextGaussian() * 0.05)
      val sigma = a * a.t + DenseMatrix.eye[Double](n) * 0.01
      val alphas = DenseVector.tabulate(n)(_ => rnd.nextGaussian() * 0.02)
      val w = Qp.solve(alphas, sigma, 10.0, maxIter = 500)
      assert(math.abs(breeze.linalg.sum(w) - 1.0) < 1e-8)
      assert(breeze.linalg.min(w) >= -1e-10)
    }
  }

  test("returns of a constant price series are all zero") {
    Seq(2, 7, 25).foreach { n =>
      val prices = (0 until n)
        .map(i => ("T", java.sql.Date.valueOf(f"2024-01-${i + 1}%02d"), 55.5))
        .toDF("ticker", "date", "close")
      val out = graft.stages.Stages.returns(prices).collect()
      assert(out.length == n - 1)
      assert(out.forall(r => math.abs(r.getAs[Double]("return")) < 1e-12))
    }
  }

  test("salted join equals plain join for random frames, any salt count") {
    import org.apache.spark.sql.functions.col
    (1 to 5).foreach { _ =>
      val nl = 20 + rnd.nextInt(80)
      val left = (1 to nl).map(_ => (rnd.nextInt(6).toLong, rnd.nextInt(1000).toLong))
        .toDF("k", "v")
      val right = (0 to 6).filter(_ => rnd.nextBoolean())
        .map(k => (k.toLong, s"d$k")).toDF("k", "name")
      val salts = 1 + rnd.nextInt(15)
      val plain = left.join(right, Seq("k")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
      val salted = graft.operators.Skew.saltedJoin(left, right, Seq("k"), salts)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
      assert(salted == plain, s"salts=$salts")
    }
  }

  test("group keys are injective over random tuples") {
    val pool = Seq("a", "b", "a b", "b c", "", "null", "1:ab", "n;", "7", null)
    val tuples = (1 to 400).map { _ =>
      Seq.fill(1 + rnd.nextInt(3))(pool(rnd.nextInt(pool.length)))
    }.distinct
    val keys = tuples.map(t =>
      graft.expr.GroupKey.of(org.apache.spark.sql.Row(t: _*), t.indices))
    assert(keys.distinct.length == tuples.length)
  }

  test("simhash is invariant to word order and duplication") {
    (1 to 5).foreach { _ =>
      val words = Seq.fill(5 + rnd.nextInt(20))(s"w${rnd.nextInt(30)}")
      val shuffled = rnd.shuffle(words ++ words.take(3))
      val df = Seq((1L, words.mkString(" ")), (2L, shuffled.mkString(" ")))
        .toDF("doc_id", "text")
      val sig = graft.operators.Dedup.simHash(df, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sig(1L) == sig(2L))
    }
  }

  test("optimize is idempotent: optimize . optimize = optimize") {
    val lake = new graft.catalog.Lake(spark,
      java.nio.file.Files.createTempDirectory("graft_prop").toString)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.IntegerType)))
    lake.create(graft.catalog.TableMeta("t", schema, Seq.empty, Seq("k")), "replace")
    (1 to 3).foreach(i => lake.append("t",
      Seq(("a", i), ("b", i * 10)).toDF("k", "v")))
    lake.optimize("t")
    val once = lake.table("t").collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1)
    // force a second pass over the same data
    lake.append("t", spark.emptyDataFrame.selectExpr("'x' as k", "1 as v").limit(0)
      .select($"k", $"v".cast("int")))
    lake.optimize("t")
    val twice = lake.table("t").collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1)
    assert(once.toSeq == twice.toSeq)
    assert(once.toSeq == Seq(("a", 3), ("b", 30)))
  }

  test("per-row signature expressions are bit-identical to the relational forms") {
    import org.apache.spark.sql.functions._
    // random corpora, including short docs (0-2 words), duplicate words,
    // and multi-byte tokens — the per-row walks must reproduce the
    // exploded/aggregated pipelines EXACTLY or every dedup oracle is void
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "ff", "ggg", "hh", "你好", "héllo")
    (1 to 3).foreach { _ =>
      val docs = (0L until 40L).map { i =>
        val n = rnd.nextInt(12) // 0..11 words
        (i, Vector.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")

      // simhash_row vs explode-distinct + simhash_agg
      val viaRow = graft.operators.Dedup.simHash(docs, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaAgg = docs
        .select(col("doc_id").as("id"), explode(split(col("text"), " ")).as("w"))
        .distinct()
        .withColumn("wh", graft.operators.Dedup.hash60("w", col("w")))
        .groupBy("id").agg(call_function("simhash_agg", col("wh")).as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaRow == viaAgg)

      // minhash_row vs raw-shingle explode + minhash_agg
      val rowSig = docs
        .select(col("doc_id"), call_function("minhash_row",
          split(col("text"), " "), lit(3), lit(16)).as("sig"))
        .filter(col("sig").isNotNull)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val aggSig = graft.operators.Dedup.minHashSignatures(
          graft.operators.Dedup.shinglesRaw(docs, "doc_id", "text", 3), 16)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(rowSig == aggSig)

      // gram_hashes vs exploded hash60 over word_kgrams
      val rowGrams = docs
        .select(col("doc_id"), explode(array_distinct(call_function(
          "gram_hashes", split(col("text"), " "), lit(2), lit("ng")))).as("g"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val explGrams = graft.operators.Dedup.shinglesRaw(docs, "doc_id", "text", 2)
        .select(col("id"), graft.operators.Dedup.hash60("ng", col("s")).as("g"))
        .distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rowGrams == explGrams)
    }
  }

  test("gram expressions match WordKGrams concatWs semantics on null tokens") {
    import org.apache.spark.sql.functions._
    // split() never yields null tokens, but hand-built arrays can; the
    // per-row gram walks must agree with the relational word_kgrams form
    // there too (nulls skipped inside a join, lone null joins as "")
    val docs = Seq(
      (1L, Seq("a", null, "b", "c")),
      (2L, Seq[String](null, null)),
      (3L, Seq("x", null)),
      (4L, Seq(null, "y", "z"))
    ).toDF("doc_id", "toks")
    val viaRow = docs.select(col("doc_id"),
        explode(call_function("gram_hashes", col("toks"), lit(2), lit("ng"))).as("g"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaExpl = docs.select(col("doc_id"),
        explode(call_function("word_kgrams", col("toks"), lit(2))).as("s"))
      .select(col("doc_id"), graft.operators.Dedup.hash60("ng", col("s")).as("g"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaRow == viaExpl)
    val rowSig = docs.select(col("doc_id"),
        call_function("minhash_row", col("toks"), lit(2), lit(8)).as("sig"))
      .filter(col("sig").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val aggSig = docs.select(col("doc_id").as("id"),
        explode(call_function("word_kgrams", col("toks"), lit(2))).as("s"))
      .withColumn("base", graft.operators.Dedup.baseHash(col("s")))
      .groupBy("id").agg(call_function("minhash_agg", col("base"), lit(8)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(rowSig == aggSig)
  }

  test("streamingNearDedup equals batch simHashPairs for any batch split") {
    import org.apache.spark.sql.functions._
    implicit val sc = spark.sqlContext
    val vocab = Vector("w0", "w1", "w2", "w3", "w4", "w5", "w6", "w7")
    (1 to 2).foreach { round =>
      val docs = (0L until 40L).map { i =>
        // heavy near-dup structure: few templates, light perturbation
        val tmpl = (i % 5).toInt
        val words = Vector.tabulate(8)(j => vocab((tmpl + j) % vocab.size))
        val text =
          if (rnd.nextBoolean()) words.mkString(" ")
          else words.updated(rnd.nextInt(8), vocab(rnd.nextInt(8))).mkString(" ")
        graft.streaming.StreamOps.Doc(
          i, new java.sql.Timestamp(1704067200000L + i * 60000L), text)
      }
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.streaming.StreamOps.Doc]
      val qname = s"neardup_prop_$round"
      val q = graft.streaming.StreamOps.streamingNearDedup(input.toDS(), maxDist = 3)
        .writeStream.format("memory").queryName(qname).outputMode("append").start()
      // random split into 1-4 micro-batches
      val cuts = (Seq(0, docs.size) ++ Seq.fill(rnd.nextInt(3))(rnd.nextInt(docs.size))).distinct.sorted
      cuts.sliding(2).foreach { case Seq(from, to) =>
        if (to > from) { input.addData(docs.slice(from, to): _*); q.processAllAvailable() }
      }
      q.stop()
      val streamed = spark.table(qname).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.operators.Dedup.simHashPairs(
          docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"), "doc_id", "text", 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch, s"round $round, cuts $cuts")
    }
  }

  test("canonicalize on random pair graphs: valid partition into components") {
    (1 to 3).foreach { _ =>
      val n = 20 + rnd.nextInt(30)
      val ids = (0L until n.toLong).toDF("doc_id")
      val pairs = (1 to rnd.nextInt(25))
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .toDF("a", "b")
      val out = graft.operators.Dedup.canonicalize(ids, "doc_id", pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // every doc labeled; canonical ids are fixpoints; every edge's two
      // endpoints share a label; labels never exceed their member
      assert(out.size == n)
      out.foreach { case (id, c) => assert(out(c) == c && c <= id) }
      pairs.collect().foreach { r =>
        assert(out(r.getLong(0)) == out(r.getLong(1)))
      }
      // both execution strategies agree: the driver union-find fast path
      // (default) and the pinned distributed propagation loop (forced by
      // a zero edge budget) compute the same unique min-label fixpoint;
      // canonicalize's own distributed branch (the auto hybrid since
      // round 20) is pinned by the no-knob spec and the d6e oracle entry
      val viaLoop = graft.operators.Dedup
        .canonicalize(ids, "doc_id", pairs, Propagation(), localEdgeLimit = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaLoop == out)
      // ... and the alternating star contraction agrees with both
      // (localEdgeLimit = 0 forces the distributed star rounds — the
      // default gate would route this tiny graph to the union-find)
      val viaStar = graft.operators.Dedup
        .canonicalize(ids, "doc_id", pairs, Star(), localEdgeLimit = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaStar == out)
      // ... and the Star strategy's DEFAULT size gate (this graph is far
      // under 500k edges, so it routes to the driver union-find) returns
      // the same fixpoint as its forced-star branch
      val viaStarGated = graft.operators.Dedup
        .canonicalize(ids, "doc_id", pairs, Star())
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaStarGated == viaStar)
      // ... and the hybrid (star rounds, then the propagation finisher)
      // agrees too, on its forced hand-off path: one contraction round on
      // a random graph leaves a non-star residue, so propagation finishes
      val viaHybrid = graft.operators.Dedup
        .canonicalize(ids, "doc_id", pairs,
          Hybrid(starRounds = 1), localEdgeLimit = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaHybrid == out)
      // idempotence: feeding the canonical mapping back as pairs changes nothing
      val again = graft.operators.Dedup.canonicalize(ids, "doc_id",
          (ids.sparkSession.createDataFrame(
            out.toSeq.filter(t => t._1 != t._2)).toDF("a", "b")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(again == out)
    }
  }

  test("canonicalize propagation survives a deep (22-hop) chain component") {
    // High-diameter regression pin for the per-level plan truncation:
    // each propagation level references the previous TWICE, so without
    // the eager localCheckpoint flattening each level to a LogicalRDD
    // the analyzed plan tree (and the string AQE renders per job) grows
    // ~2^k — CcProbe's diameter axis OOM'd the driver at chain length 16
    // (round 15). 22 levels make the pre-fix shape intractable while the
    // fixed one converges in seconds. Labels are closed-form (the chain
    // head), so correctness and convergence are both pinned.
    val len = 22
    val ids = (0L to len.toLong).toDF("doc_id")
    val pairs = (0L until len.toLong).map(j => (j, j + 1)).toDF("a", "b")
    val out = graft.operators.Dedup
      .canonicalize(ids, "doc_id", pairs,
        Propagation(maxIter = len + 3), localEdgeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length == len + 1)
    out.foreach { case (id, canon, isDup) =>
      assert(canon == 0L && isDup == (id != 0L), s"id=$id")
    }
    // the star contraction closes the same chain in O(log n) rounds
    // (forced past the size gate — a 22-edge chain would otherwise
    // union-find on the driver and pin nothing about star rounds)
    val star = graft.operators.Dedup
      .canonicalize(ids, "doc_id", pairs, Star(maxRounds = 10), localEdgeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(star.length == len + 1)
    star.foreach { case (id, canon, isDup) =>
      assert(canon == 0L && isDup == (id != 0L), s"star id=$id")
    }
    // a maxIter SMALLER than the diameter no longer fails the job:
    // propagation detects exhaustion and falls back to the star
    // contraction, returning the same fixpoint
    val fellBack = graft.operators.Dedup
      .canonicalize(ids, "doc_id", pairs,
        Propagation(maxIter = 5), localEdgeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(fellBack.length == len + 1)
    fellBack.foreach { case (id, canon, isDup) =>
      assert(canon == 0L && isDup == (id != 0L), s"fallback id=$id")
    }
  }

  test("hybrid CC: star rounds genuinely collapse diameter before the propagation finisher") {
    // BRANCH-SELECTION pin via the fallback's stderr marker (the only
    // observable that separates "propagation converged" from "propagation
    // exhausted and the star fallback rescued it" — outputs are identical
    // by design): on a 24-hop chain with maxIter = 8,
    //   - starRounds = 0 (no collapse) must exhaust propagation and fall
    //     back (marker PRESENT) — proving the budget alone cannot close
    //     this diameter;
    //   - starRounds = 2 must converge via propagation with the SAME
    //     budget (marker ABSENT) — proving the two alternating rounds
    //     actually collapsed the diameter to <= ~24/4, which is the
    //     hybrid's entire value proposition.
    // Both return the exact chain-head labeling either way.
    val len = 24
    val ids = (0L to len.toLong).toDF("doc_id")
    val pairs = (0L until len.toLong).map(j => (j, j + 1)).toDF("a", "b")
    def runHybrid(rounds: Int): (Array[(Long, Long, Boolean)], String) = {
      var out: Array[(Long, Long, Boolean)] = Array.empty
      val err = capturingTrace {
        out = graft.operators.Dedup
          .canonicalize(ids, "doc_id", pairs,
            Hybrid(starRounds = rounds, maxIter = 8), localEdgeLimit = 0L)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      }
      (out, err)
    }
    val (collapsed, errCollapsed) = runHybrid(2)
    assert(!errCollapsed.contains("falling back"),
      "2 star rounds should leave a diameter propagation closes in 8 passes")
    val (uncollapsed, errUncollapsed) = runHybrid(0)
    assert(errUncollapsed.contains("falling back"),
      "without star rounds the 24-hop diameter must exhaust maxIter = 8")
    for (out <- Seq(collapsed, uncollapsed)) {
      assert(out.length == len + 1)
      out.foreach { case (id, canon, isDup) =>
        assert(canon == 0L && isDup == (id != 0L), s"id=$id")
      }
    }
  }

  test("hybrid auto budget: the star rounds are sized from the graph, no knob set") {
    // The round-17 deployment rule (starRounds ~ log2(diameter) - 2)
    // required the caller to KNOW the diameter; the auto default measures
    // it instead: one structural-telemetry pass at birth (internal nodes
    // per component + 1 — exact on chains) schedules the rounds, and the
    // trace (through the injectable sink) is the observable that pins
    // the decision. Chains of diameter 4 / 16 / 64 must hand off after
    // 0 / 2 / 4 rounds — the depths the round-17 probe data priced as
    // optimal (L=64: tuned starRounds=4 ran 44.5 s vs 90.5 s at the old
    // fixed default) — and the default maxIter must then close the
    // collapsed residue WITHOUT the exhaustion fallback (proof the
    // collapse was real, not rescued).
    def runAuto(pairs: org.apache.spark.sql.DataFrame,
        ids: org.apache.spark.sql.DataFrame): (Array[(Long, Long)], String) = {
      var out: Array[(Long, Long)] = Array.empty
      val err = capturingTrace {
        out = graft.operators.Dedup
          .canonicalize(ids, "doc_id", pairs, Auto(), localEdgeLimit = 0L)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      }
      (out, err)
    }
    for ((len, wantRounds) <- Seq(4 -> 0, 16 -> 2, 64 -> 4)) {
      val ids = (0L to len.toLong).toDF("doc_id")
      val pairs = (0L until len.toLong).map(j => (j, j + 1)).toDF("a", "b")
      val (out, err) = runAuto(pairs, ids)
      assert(err.contains(s"residual-diameter estimate $len.0 at birth"),
        s"L=$len: birth estimate must be exact on a chain\n$err")
      assert(err.contains(
        s"hand-off to propagation after $wantRounds star round(s)"),
        s"L=$len: expected hand-off after $wantRounds rounds\n$err")
      assert(!err.contains("falling back"),
        s"L=$len: the scheduled collapse must leave a residue the default " +
          s"propagation budget closes\n$err")
      assert(out.length == len + 1)
      out.foreach { case (id, canon) => assert(canon == 0L, s"L=$len id=$id") }
    }
    // the SAME chains with ids PERMUTED along the path (the production
    // case: ids are hashes, never monotone). The internal-node proxy
    // under-reads here (~1/3 of a permuted path's nodes are local
    // minima), which before round 19 scheduled 0 rounds on exactly the
    // deep graphs the hybrid targets; the degree proxy (deg-2 nodes per
    // endpoint pair) is ordering-insensitive and must keep the estimate
    // exact, the schedule unchanged, and the fallback cold.
    for ((len, wantRounds) <- Seq(16 -> 2, 64 -> 4)) {
      // sigma(q) = 3q mod (len+1) is a bijection on 0..len whenever
      // gcd(3, len+1) = 1 (17 and 65 both qualify); position 0 still
      // maps to id 0, so every node's canonical label stays 0
      val sigma = (0 to len).map(q => (3 * q) % (len + 1))
      val ids = (0L to len.toLong).toDF("doc_id")
      val pairs = (0 until len)
        .map(j => (sigma(j).toLong, sigma(j + 1).toLong)).toDF("a", "b")
      val (out, err) = runAuto(pairs, ids)
      assert(err.contains(s"residual-diameter estimate $len.0 at birth"),
        s"permuted L=$len: the degree proxy must keep the estimate exact\n$err")
      assert(err.contains(
        s"hand-off to propagation after $wantRounds star round(s)"),
        s"permuted L=$len: expected hand-off after $wantRounds rounds\n$err")
      assert(!err.contains("falling back"),
        s"permuted L=$len: the collapse must be real on permuted ids too\n$err")
      assert(out.length == len + 1)
      out.foreach { case (id, canon) =>
        assert(canon == 0L, s"permuted L=$len id=$id") }
    }
    // a graph that is ALREADY a min-centered star forest reads its labels
    // off the birth telemetry (which doubles as the exact structural
    // test): zero rounds, zero propagation passes
    val hubIds = (0L to 4L).toDF("doc_id")
    val hubPairs = (1L to 4L).map(j => (0L, j)).toDF("a", "b")
    val (hubOut, hubErr) = runAuto(hubPairs, hubIds)
    assert(hubErr.contains("star-forest fixpoint after 0 star round(s)"),
      s"a pre-collapsed forest must short-circuit everything\n$hubErr")
    assert(hubOut.length == 5)
    hubOut.foreach { case (id, canon) => assert(canon == 0L, s"hub id=$id") }
    // the estimator's DOCUMENTED failure mode, pinned: both proxies are
    // per-component means, so a skewed PATH mixture (many shallow path
    // components hiding one deep chain) under-reads, the auto path
    // hands off with too few rounds, and the finisher's maxIter
    // exhausts — correctness must then come from the propagation->star
    // fallback, loudly. 50 two-edge paths (V=1, R=1, deg1=2, deg2=1
    // each) dilute one 30-hop chain (V=29, R=1, deg1=2, deg2=29) to
    // D ~ 2.5 <= 4 on BOTH proxies -> hand-off after 0 rounds;
    // maxIter=8 < 30 -> the fallback marker must appear and every
    // label must still be exact. (Before round 19 this pin used
    // triangles; the ordering-insensitive degree proxy now over-reads
    // cycle-bearing mixtures into the SAFE direction — pinned below —
    // so the surviving blind spot is exactly the all-path mixture.)
    val pathBase = 999L // multiple of 3, so want = id - (id % 3) below
    val shallowPaths = (0 until 50).flatMap { t =>
      val b = pathBase + 3L * t
      Seq((b, b + 1), (b + 1, b + 2))
    }
    val chain = (0L until 30L).map(j => (j, j + 1))
    val mixPairs = (shallowPaths ++ chain).toDF("a", "b")
    val mixIds = ((0L to 30L) ++ (pathBase until pathBase + 150L)).toDF("doc_id")
    var mixOut: Array[(Long, Long)] = Array.empty
    val mixErr = capturingTrace {
      mixOut = graft.operators.Dedup
        .canonicalize(mixIds, "doc_id", mixPairs,
          Auto(maxIter = 8), localEdgeLimit = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(mixErr.contains("hand-off to propagation after 0 star round(s)"),
      s"the mean estimate must under-read the skewed path mixture\n$mixErr")
    assert(mixErr.contains("falling back"),
      s"the hidden 30-hop chain must exhaust maxIter=8 and take the " +
        s"star fallback\n$mixErr")
    assert(mixOut.length == 31 + 150)
    mixOut.foreach { case (id, canon) =>
      val want = if (id < pathBase) 0L else id - (id % 3)
      assert(canon == want, s"mix id=$id")
    }
    // the hand-off's DERIVED finisher budget (autoHandOffIter = 10, not
    // the caller's maxIter): a correct schedule leaves <= ~4 hops, so a
    // finisher still unconverged at 10 passes proves the estimate wrong
    // and must switch to the star fallback WITHOUT paying the caller
    // default's other 15 (the 3.6x-vs-2x mixture recovery difference,
    // docs/SCALING.md round 19). A hidden 15-hop chain needs ~16
    // passes — under the caller default of 25, over the derived 10 —
    // so the fallback firing AT 10 is the derivation's observable.
    val capChain = (0L until 15L).map(j => (j, j + 1))
    val capPairs = (shallowPaths ++ capChain).toDF("a", "b")
    val capIds = ((0L to 15L) ++ (pathBase until pathBase + 150L)).toDF("doc_id")
    var capOut: Array[(Long, Long)] = Array.empty
    val capErr = capturingTrace {
      capOut = graft.operators.Dedup
        .canonicalize(capIds, "doc_id", capPairs, Auto(), localEdgeLimit = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(capErr.contains("hand-off to propagation after 0 star round(s)"),
      s"the 15-chain mixture must also under-read\n$capErr")
    assert(capErr.contains("did not converge within 10 iterations"),
      s"the finisher budget must be the derived 10, not the caller's 25\n$capErr")
    assert(capErr.contains("falling back"), s"\n$capErr")
    assert(capOut.length == 16 + 150)
    capOut.foreach { case (id, canon) =>
      val want = if (id < pathBase) 0L else id - (id % 3)
      assert(canon == want, s"cap-mix id=$id")
    }
    // the cycle-bearing mixture takes the OVER-read direction, which is
    // the safe one: 50 triangles are 150 degree-2 nodes with no path
    // endpoints, so the degree proxy reads the mixture deep (180.0),
    // schedules real star rounds, and the early forest exit bounds the
    // overshoot — the 30-hop chain collapses inside the schedule and
    // the SAME maxIter=8 that forced the fallback above never exhausts.
    val tris = (0 until 50).flatMap { t =>
      val b = pathBase + 3L * t
      Seq((b, b + 1), (b, b + 2), (b + 1, b + 2))
    }
    val triPairs = (tris ++ chain).toDF("a", "b")
    var triOut: Array[(Long, Long)] = Array.empty
    val triErr = capturingTrace {
      triOut = graft.operators.Dedup
        .canonicalize(mixIds, "doc_id", triPairs,
          Auto(maxIter = 8), localEdgeLimit = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(triErr.contains("residual-diameter estimate 180.0 at birth"),
      s"triangle deg-2 mass must push the degree proxy up\n$triErr")
    assert(!triErr.contains("falling back"),
      s"the over-read schedule must collapse the hidden chain, so the " +
        s"tight maxIter=8 budget never exhausts\n$triErr")
    assert(triOut.length == 31 + 150)
    triOut.foreach { case (id, canon) =>
      val want = if (id < pathBase) 0L else id - (id % 3)
      assert(canon == want, s"tri-mix id=$id")
    }
    // the OTHER per-component-mean blind spot (ADVICE r19): a single
    // high-degree deep tree — a CATERPILLAR — needs no mixture to
    // under-read. A 30-hop spine with one hair per spine node: the 31
    // hairs inflate deg1 (so the degree proxy reads ~2/15.5 + 1 ≈ 1.1)
    // and pull every interior spine node out of deg2, while spine ids
    // permuted by the half-range stride 16 alternate low/high so ~half
    // the spine nodes are local minima (ordered proxy ≈ 15/16 + 1 ≈
    // 1.9; the hairs, all larger than every spine id, change no spine
    // node's root/violation status) — so the estimate lands under the
    // round threshold, the auto path hands off with zero rounds, the
    // derived 10-pass finisher exhausts on the 30-hop spine, and the
    // warm-start fallback must recover exact labels.
    val catLen = 30 // spine ids permuted via 16q mod 31 (gcd(16, 31) = 1)
    val catSigma = (0 to catLen).map(q => (16 * q) % (catLen + 1))
    val catSpine = (0 until catLen)
      .map(j => (catSigma(j).toLong, catSigma(j + 1).toLong))
    val catHairs = (0 to catLen).map(j => (catSigma(j).toLong, 100L + j))
    val catPairs = (catSpine ++ catHairs).toDF("a", "b")
    val catIds = ((0L to catLen.toLong) ++
      (100L to (100L + catLen))).toDF("doc_id")
    var catOut: Array[(Long, Long)] = Array.empty
    val catErr = capturingTrace {
      catOut = graft.operators.Dedup
        .canonicalize(catIds, "doc_id", catPairs, Auto(), localEdgeLimit = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(catErr.contains("hand-off to propagation after 0 star round(s)"),
      s"a hairy deep tree must dilute both mean proxies\n$catErr")
    assert(catErr.contains("did not converge within 10 iterations"),
      s"the 30-hop spine must exhaust the derived finisher budget\n$catErr")
    assert(catErr.contains("falling back"), s"\n$catErr")
    assert(catOut.length == 2 * (catLen + 1))
    catOut.foreach { case (id, canon) =>
      assert(canon == 0L, s"caterpillar id=$id")
    }
  }

  test("CC strategies agree on a lollipop graph (hub skew + long tail in one component)") {
    // the topology mix the other specs cover only separately: a K12
    // clique (every star round's min-join sees a hot hub) welded to a
    // 14-hop tail (propagation needs 14+ passes; star needs ~log rounds)
    // plus a disjoint 5-cycle as a second component. All strategies must
    // produce the identical min-label fixpoint: clique+tail collapse to
    // node 0, the cycle to node 100.
    val cliqueN = 12
    val tailLen = 14
    val clique = for (i <- 0 until cliqueN; j <- (i + 1) until cliqueN)
      yield (i.toLong, j.toLong)
    val tail = (0 until tailLen).map(j =>
      ((cliqueN - 1 + j).toLong, (cliqueN + j).toLong))
    val cycle = (0 until 5).map(j => (100L + j, 100L + (j + 1) % 5))
    val pairs = (clique ++ tail ++ cycle).toDF("a", "b")
    val nodes = ((0L until (cliqueN + tailLen).toLong) ++ (100L to 104L))
      .toDF("doc_id")
    def expected(id: Long): Long = if (id >= 100L) 100L else 0L
    def run(tag: String, out: Array[(Long, Long, Boolean)]): Unit = {
      assert(out.length == cliqueN + tailLen + 5, tag)
      out.foreach { case (id, canon, isDup) =>
        assert(canon == expected(id) && isDup == (id != canon), s"$tag id=$id")
      }
    }
    import graft.operators.Dedup
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    run("union-find", collect(Dedup.canonicalize(nodes, "doc_id", pairs)))
    run("propagation", collect(Dedup.canonicalize(nodes, "doc_id", pairs,
      Propagation(maxIter = tailLen + 5), localEdgeLimit = 0L)))
    run("star", collect(Dedup.canonicalize(nodes, "doc_id", pairs,
      Star(), localEdgeLimit = 0L)))
    run("star-gated", collect(Dedup.canonicalize(nodes, "doc_id", pairs, Star())))
    // exhausted propagation falls back to star on this shape too
    run("fallback", collect(Dedup.canonicalize(nodes, "doc_id", pairs,
      Propagation(maxIter = 3), localEdgeLimit = 0L)))
    // the hybrid across ITS code paths: the hand-off (2 rounds collapse
    // the 14-hop tail to <= ~4 hops, propagation finishes inside a
    // budget the RAW graph's diameter would exhaust), the early
    // star-forest exit (a generous round budget converges before
    // propagation is ever needed), and the default size gate (this tiny
    // graph -> driver union-find). The starRounds = 0 all-propagation
    // form is pinned by the dedicated branch-selection test above —
    // repeating it here would re-pay a full-diameter propagation loop
    // for no extra coverage.
    run("hybrid", collect(Dedup.canonicalize(nodes, "doc_id", pairs,
      Hybrid(starRounds = 2, maxIter = 8), localEdgeLimit = 0L)))
    run("hybrid-forest", collect(Dedup.canonicalize(nodes, "doc_id", pairs,
      Hybrid(starRounds = 20), localEdgeLimit = 0L)))
    run("hybrid-gated", collect(Dedup.canonicalize(nodes, "doc_id", pairs,
      Auto())))
    // ... and the no-knob AUTO budget on the same topology mix (the
    // K12 hub inflates the mean estimate, the 14-hop tail needs real
    // rounds — the auto path must land the same fixpoint regardless of
    // what it schedules)
    run("hybrid-auto", collect(Dedup.canonicalize(nodes, "doc_id", pairs,
      Auto(), localEdgeLimit = 0L)))
  }

  test("Star strategy's size gate: small graphs take the union-find, same fixpoint") {
    // a graph that is NOT yet a star forest (a 6-hop chain needs ~3
    // alternating rounds), far under the 500k default edge budget
    val ids = (0L to 6L).toDF("doc_id")
    val pairs = (0L until 6L).map(j => (j, j + 1)).toDF("a", "b")
    // BRANCH-SELECTION pin: maxRounds = 0 makes the star rounds
    // impossible ("did not converge within 0 rounds"), so the default
    // gate succeeding here proves the driver union-find ran
    val gated = graft.operators.Dedup
      .canonicalize(ids, "doc_id", pairs, Star(maxRounds = 0))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(gated.length == 7)
    gated.foreach { case (id, canon, isDup) =>
      assert(canon == 0L && isDup == (id != 0L), s"gated id=$id")
    }
    // ... and the same zero budget with the gate disabled really does
    // reach the star rounds and exhaust them
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Dedup
        .canonicalize(ids, "doc_id", pairs, Star(maxRounds = 0), localEdgeLimit = 0L)
        .collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    // EQUALITY pin: the gated result matches the forced-star fixpoint
    val forced = graft.operators.Dedup
      .canonicalize(ids, "doc_id", pairs, Star(), localEdgeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(gated.sortBy(_._1).sameElements(forced.sortBy(_._1)))
  }

  test("hash sampling: monotone in fraction, exact on boundaries") {
    val ids = (0L until 500L).toDF("id")
    assert(graft.operators.Sampling.hashSample(ids, "id", 0.0).count() == 0)
    assert(graft.operators.Sampling.hashSample(ids, "id", 1.0).count() == 500)
    val fracs = Seq.fill(4)(rnd.nextDouble()).sorted
    val sizes = fracs.map(f =>
      graft.operators.Sampling.hashSample(ids, "id", f).count())
    assert(sizes == sizes.sorted) // nested samples grow with fraction
  }

  test("segment dedup on random corpora: each distinct segment kept exactly once") {
    import org.apache.spark.sql.functions.col
    // random word streams over a tiny vocabulary force heavy duplication
    val vocab = Vector("a", "b", "c", "d")
    val docs = (0L until 40L).map { id =>
      val n = 1 + rnd.nextInt(12)
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val k = 2
    val out = graft.operators.Dedup.segmentDedup(
      docs.toDF("doc_id", "text"), "doc_id", "text", k).collect()
    // kept segments across ALL docs partition the distinct segment set
    def segsOf(text: String): Seq[String] =
      text.split(" ").grouped(k).map(_.mkString(" ")).toSeq
    val keptAll = out.flatMap(r =>
      if (r.getString(3).isEmpty) Nil else segsOf(r.getString(3)))
    val distinctAll = docs.flatMap(d => segsOf(d._2)).distinct
    assert(keptAll.sorted.toSeq == distinctAll.sorted.toSeq,
      "every distinct segment survives exactly once corpus-wide")
    // per-doc counts are consistent
    out.foreach { r =>
      val total = segsOf(docs(r.getLong(0).toInt)._2).size
      assert(r.getLong(1) == total && r.getLong(2) <= r.getLong(1))
    }
  }

  test("value-domain trim equals the row-rank trim on random data (a13 rewrite)") {
    // the round-12 a13 plan rewrote a row_number trim into a
    // (group, cents) bucket trim on the argument that every output is
    // tie-independent; the sf0.001 oracle pins one dataset — this pins
    // the equivalence across seeded random data with DELIBERATELY heavy
    // duplicate prices, including at the trim boundary (the exact case
    // the tie argument is about)
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    (1 to 5).foreach { caseNo =>
      val n = 40 + rnd.nextInt(400)
      val rows = (0 until n).map { i =>
        // few distinct prices (heavy ties) across 2 groups
        (if (rnd.nextBoolean()) "A" else "R", i.toLong, i % 7,
          (1 + rnd.nextInt(12)) * 10.0 + (if (rnd.nextBoolean()) 0.07 else 0.0))
      }
      val df = rows.toDF("flag", "ok", "ln", "price")
        .select(col("flag"), col("ok"), col("ln"),
          round(col("price") * 100).cast("long").as("cents"))

      // reference: the r11 row-rank form, verbatim semantics
      val wOrd = Window.partitionBy("flag").orderBy(col("cents"), col("ok"), col("ln"))
      val wAll = Window.partitionBy("flag")
      val ranked = df
        .select(col("flag"), col("cents"),
          row_number().over(wOrd).as("rn"), count(lit(1)).over(wAll).as("n"))
        .filter(col("rn") > floor(col("n") * 5 / 100) &&
          col("rn") <= col("n") - floor(col("n") * 5 / 100))
        .groupBy("flag")
        .agg(count(lit(1)).as("n_kept"), (min("cents") / 100.0).as("lo"),
          (max("cents") / 100.0).as("hi"),
          round(sum("cents") / 100.0 / count(lit(1)), 6).as("trimmed_mean"))
        .orderBy("flag").collect().toSeq

      // the r12 value-domain form (same shape as SparkEntry's a13)
      val wCum = Window.partitionBy("flag").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val k = floor(col("n") * 5 / 100)
      val bucketed = df
        .groupBy("flag", "cents").agg(count(lit(1)).as("cnt"))
        .select(col("flag"), col("cents"), col("cnt"),
          sum("cnt").over(wCum).as("cum"), sum("cnt").over(wAll).as("n"))
        .select(col("flag"), col("cents"),
          greatest(lit(0L), least(col("cum"), col("n") - k) -
            greatest(col("cum") - col("cnt"), k)).as("kept"))
        .filter(col("kept") > 0)
        .groupBy("flag")
        .agg(sum("kept").as("n_kept"), (min("cents") / 100.0).as("lo"),
          (max("cents") / 100.0).as("hi"),
          round(sum(col("cents") * col("kept")) / 100.0 / sum("kept"), 6)
            .as("trimmed_mean"))
        .orderBy("flag").collect().toSeq

      assert(ranked == bucketed, s"case=$caseNo n=$n")
    }
  }

  test("spine percentiles equal Spark's buffering percentile() on random data (t6 rewrite)") {
    // the spine form replaces the O(group-rows) aggregation buffer with
    // order statistics over the value domain; its interpolation must
    // reproduce percentile()'s to 6 d.p. across random integral data
    // with heavy ties and exact-boundary group sizes (N odd/even, N=1)
    import org.apache.spark.sql.functions._
    (1 to 4).foreach { caseNo =>
      val groups = Seq("a", "b", "c")
      val rows = groups.flatMap { g =>
        val sz = Seq(1, 2, 10 + rnd.nextInt(90), 11)(rnd.nextInt(4))
        Seq.fill(sz)((g, (rnd.nextInt(40) * 7).toLong)) // heavy ties
      }
      val df = rows.toDF("g", "len")
      val qs = Seq(0.5, 0.9, 0.99)
      val direct = df.groupBy("g").agg(
          expr("round(percentile(len, 0.5), 6)").as("p50"),
          expr("round(percentile(len, 0.9), 6)").as("p90"),
          expr("round(percentile(len, 0.99), 6)").as("p99"))
        .orderBy("g").collect().toSeq
      val spined = graft.expr.Windows.valueSpine(df, Seq("g"), "len", ascending = true)
        .select(col("g"), col("len"),
          (col("cum_prev") + col("cnt")).as("cum"), col("n"),
          explode(array(qs.map(lit(_)): _*)).as("q"))
        .withColumn("p", (col("n") - 1).cast("double") * col("q"))
        .withColumn("i0", floor(col("p")).cast("long") + 1)
        .withColumn("i1", least(floor(col("p")).cast("long") + 2, col("n")))
        .groupBy("g", "q")
        .agg(max("p").as("pp"),
          min(when(col("cum") >= col("i0"), col("len"))).as("xlo"),
          min(when(col("cum") >= col("i1"), col("len"))).as("xhi"))
        .select(col("g"), col("q"),
          round(col("xlo") +
            (col("pp") - floor(col("pp"))) * (col("xhi") - col("xlo")), 6)
            .as("res"))
        .groupBy("g")
        .agg(max(when(col("q") === 0.5, col("res"))).as("p50"),
          max(when(col("q") === 0.9, col("res"))).as("p90"),
          max(when(col("q") === 0.99, col("res"))).as("p99"))
        .orderBy("g").collect().toSeq
      assert(spined == direct, s"case=$caseNo")
    }
  }

  test("bucketed per-group cap equals the direct row_number cap (capPerGroup rewrite)") {
    // the bucketed form keeps exactly the rows the global
    // (hash, key)-rank would: bucket ranges partition the hash order, so
    // cum_prev + local_rank IS the global rank. Random cases cover
    // groups under the cap (all kept), far over it (crossing bucket
    // mid-range), and tiny bucket counts (crossing at bucket 0)
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    (1 to 4).foreach { caseNo =>
      val n = 1 + rnd.nextInt(40)
      val bks = Seq(4, 64, 1024)(rnd.nextInt(3))
      val rows = (0 until 300 + rnd.nextInt(500)).map { i =>
        (i.toLong, Seq("web", "book", "code")(rnd.nextInt(3)))
      }
      val df = rows.toDF("id", "src")
      val w = Window.partitionBy(col("src"))
        .orderBy(graft.operators.Dedup.hash60("cap", col("id").cast("string")).asc,
          col("id").asc)
      val direct = df.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") <= n).drop("_rk")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val bucketed = graft.operators.Sampling.capPerGroup(df, "id", "src", n, bks)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(bucketed == direct, s"case=$caseNo n=$n buckets=$bks")
    }
  }

  test("decomposed ranking suite equals the direct window on random tie-heavy data (w13 rewrite)") {
    // the w13 rewrite rests on the total-order collapse (rank =
    // dense_rank = row_number; ntile/pct/cume are formulas of (rn, n);
    // neighbors stitch across value groups via the spine) — pinned here
    // against the direct window on data built to stress it: few
    // distinct balances (heavy ties), several segments, tiny and odd
    // group sizes so every ntile remainder branch fires
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    (1 to 5).foreach { caseNo =>
      val n = 10 + rnd.nextInt(200)
      val segs = Vector("AUTO", "HOUSE", "SHIP")
      val df = (0 until n).map { i =>
        (i.toLong, segs(rnd.nextInt(segs.size)),
          (rnd.nextInt(8) * 125 - 300).toDouble / 100.0) // heavy ties
      }.toDF("ck", "seg", "bal")

      val w = Window.partitionBy("seg").orderBy(col("bal").desc, col("ck").asc)
      val direct = df.select(col("ck"), col("seg"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        lead("ck", 1).over(w).as("next_ck"),
        lag("ck", 1).over(w).as("prev_ck"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
        .orderBy("seg", "ck").collect().toSeq

      val wVal = Window.partitionBy("seg", "bal").orderBy(col("ck").asc)
      val wValAll = Window.partitionBy("seg", "bal")
      val rows = df.select(col("ck"), col("seg"), col("bal"),
        row_number().over(wVal).cast("long").as("rv"),
        count(lit(1)).over(wValAll).as("cv"),
        lead("ck", 1).over(wVal).as("next_in"),
        lag("ck", 1).over(wVal).as("prev_in"))
      val wSpine = Window.partitionBy("seg").orderBy(col("bal").desc)
      val wSpineCum = wSpine.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wSeg = Window.partitionBy("seg")
      val spine = df.groupBy("seg", "bal")
        .agg(count(lit(1)).as("cnt"), min("ck").as("min_ck"), max("ck").as("max_ck"))
        .select(col("seg"), col("bal"),
          (sum("cnt").over(wSpineCum) - col("cnt")).as("cum_prev"),
          sum("cnt").over(wSeg).as("n"),
          lead("min_ck", 1).over(wSpine).as("next_grp_first"),
          lag("max_ck", 1).over(wSpine).as("prev_grp_last"))
      val rn = col("cum_prev") + col("rv")
      val bs = floor(col("n") / 4)
      val rem = col("n") % 4
      val cut = rem * (bs + 1)
      val decomposed = rows.join(spine, Seq("seg", "bal"))
        .select(col("ck"), col("seg"),
          rn.as("rnk"), rn.as("drnk"),
          when(rn <= cut, floor((rn - 1) / (bs + 1)) + 1)
            .otherwise(rem + floor((rn - 1 - cut) / bs) + 1)
            .cast("long").as("quartile"),
          when(col("rv") < col("cv"), col("next_in"))
            .otherwise(col("next_grp_first")).as("next_ck"),
          when(col("rv") > 1, col("prev_in"))
            .otherwise(col("prev_grp_last")).as("prev_ck"),
          round(when(col("n") === 1, lit(0.0))
            .otherwise((rn - 1).cast("double") / (col("n") - 1)), 6)
            .as("pct_rank"),
          round(rn.cast("double") / col("n"), 6).as("cume"))
        .orderBy("seg", "ck").collect().toSeq

      assert(direct == decomposed, s"case=$caseNo n=$n")
    }
  }

  test("deletion-neighborhood pairs equal length-band pairs on random strings (f2 rewrite)") {
    // both blockings are complete candidate generators for the same
    // verified predicate, so the PAIR SETS must be identical — checked
    // on short strings over a 3-letter alphabet (dense near-matches,
    // including exact duplicates and empty strings) at every supported
    // distance, where the two plans share no blocking logic at all
    import org.apache.spark.sql.functions.col
    (1 to 4).foreach { caseNo =>
      val n = 30 + rnd.nextInt(60)
      val rows = (0 until n).map { i =>
        val len = rnd.nextInt(7) // 0..6, "" included
        (i.toLong, Seq.fill(len)("abc" (rnd.nextInt(3))).mkString)
      }
      val df = rows.toDF("id", "s")
      (0 to 2).foreach { d =>
        def collect(out: org.apache.spark.sql.DataFrame) =
          out.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
            .sorted.toSeq
        val banded = collect(
          graft.operators.Fuzzy.editDistancePairs(df, "id", "s", d))
        val deleted = collect(
          graft.operators.Fuzzy.deletePairs(df, "id", "s", d))
        assert(deleted == banded, s"case=$caseNo d=$d n=$n")
      }
    }
  }

  test("histogram quantiles bracket the exact quantile within one bin") {
    import org.apache.spark.sql.functions.col
    val xs = Seq.fill(300)(rnd.nextDouble() * 1000.0)
    val w = 1.0 + rnd.nextDouble() * 50.0
    val df = xs.map(("g", _)).toDF("grp", "v")
    val qs = Seq(0.25, 0.5, 0.9)
    val est = graft.operators.Sketch.histQuantile(df, col("grp"), col("v"), w, qs)
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    val sorted = xs.sorted
    qs.foreach { q =>
      // exact (lower) quantile: the ceil(q*n)-th order statistic
      val exact = sorted(math.ceil(q * xs.size).toInt - 1)
      assert(math.abs(est(q) - exact) <= w + 1e-9,
        s"q=$q est=${est(q)} exact=$exact width=$w")
    }
  }
}
