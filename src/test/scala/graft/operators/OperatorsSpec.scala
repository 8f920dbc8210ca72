package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

import CcStrategy.Propagation

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
    (2L, "completely different content about spark engines and data"),
    (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (4L, "der hund und die katze sind nicht mit der maus")
  ).toDF("doc_id", "text")

  test("exact dedup maps identical texts to the min id") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(3L) == 0L && out(0L) == 0L)
    assert(out(1L) == 1L && out(2L) == 2L)
  }

  test("exact dedup: hot key (corpus-dominant duplicate) and null texts") {
    // 4000 copies of one text — the shape whose keeper election used to
    // serialize onto one window task; the groupBy election partial-aggs it
    val n = 5000L
    val hot = spark.range(n).select(col("id"),
      when(col("id") % 5 =!= 0, lit("the corpus dominant boiler plate"))
        .otherwise(concat(lit("unique "), col("id").cast("string"))).as("text"))
    val rows = Dedup.exact(hot, "id", "text").collect()
    assert(rows.length == n)
    val hotRows = rows.filter(_.getLong(1) == 1L) // min id with id%5 != 0
    assert(hotRows.length == (n - n / 5).toInt)
    assert(hotRows.count(!_.getBoolean(2)) == 1) // exactly one keeper
    // null texts dedupe as ONE group (the null-safe join back), exactly
    // like the old null window partition did
    val withNull = Seq((1L, null), (2L, null), (3L, "x"))
      .toDF("doc_id", "text")
    val nout = Dedup.exact(withNull, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(nout(1L) == ((1L, false)) && nout(2L) == ((1L, true)))
    assert(nout(3L) == ((3L, false)))
  }

  test("segment dedup: hot segment elects without a corpus window") {
    // every doc shares segment "a b"; doc 0 wins it, everyone keeps only
    // their unique tail
    val corpus = spark.range(2000).select(col("id"),
      concat(lit("a b u"), col("id").cast("string")).as("text"))
    val out = Dedup.segmentDedup(corpus, "id", "text", 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(0L) == ((2L, 2L, "a b u0")))
    assert(out(7L) == ((2L, 1L, "u7")))
    assert(out.size == 2000 && out.count(_._2._2 == 1L) == 1999)
  }

  test("jaccard pairs find near-dups above threshold only") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L))) // exact dup => jaccard 1
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 3L))) // near-dup
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("segment dedup: first corpus occurrence wins, docs rebuilt in order") {
    // k=2 segments; doc 10 owns all its segments, doc 11 repeats 10's
    // first segment then adds its own, doc 12 is entirely segments seen
    // earlier, doc 13 has a short tail segment
    val corpus = Seq(
      (10L, "a b c d"),        // segs: "a b", "c d"
      (11L, "a b x y"),        // "a b" dup of 10's, "x y" fresh
      (12L, "c d a b"),        // both segs seen in doc 10
      (13L, "x y z")           // "x y" dup of 11's, tail "z" fresh
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(corpus, "doc_id", "text", 2)
      .orderBy("id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(10L) == ((2L, 2L, "a b c d")))
    assert(out(11L) == ((2L, 1L, "x y")))
    assert(out(12L) == ((2L, 0L, "")))
    assert(out(13L) == ((2L, 1L, "z")))
    // deterministic across runs
    val rerun = Dedup.segmentDedup(corpus, "doc_id", "text", 2)
      .orderBy("id").collect().map(_.toSeq)
    assert(rerun.map(_.toList).toList ==
      out.toList.sortBy(_._1).map(x => List(x._1, x._2._1, x._2._2, x._2._3)))
  }

  test("minhash LSH recalls the exact-jaccard pairs on this corpus") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLsh(docs, "doc_id", "text", 3, 64, 16, 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(lsh) && lsh.subsetOf(exact)) // verify step caps at exact
  }

  test("simhash: exact dups at hamming 0; unrelated docs far apart") {
    val sig = Dedup.simHash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(0L) == sig(3L))
    assert(java.lang.Long.bitCount(sig(0L) ^ sig(2L)) > 10)
  }

  test("langId picks the dictionary with most hits, 'und' when none") {
    val out = docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "en" && out(4L) == "de")
  }

  test("quality features are exact on a known sentence") {
    val one = Seq((9L, "the cat, and the dog.")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityFeatures(one, "text").collect().head
    assert(r.getAs[Long]("n_chars") == 21L)
    assert(r.getAs[Long]("n_words") == 5L)
    // tokens: the(3) cat,(4) and(3) the(3) dog.(4) => 17/5
    assert(math.abs(r.getAs[Double]("avg_word_len") - 17.0 / 5) < 1e-12)
    assert(math.abs(r.getAs[Double]("punct_ratio") - 2.0 / 21) < 1e-12)
    // lowercase hits: the, and, the => 3/5
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 3.0 / 5) < 1e-12)
  }

  test("cosineTopK is exact and deterministically ranked") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.cosineTopK(vecs.filter($"vec_id" === 0), vecs, 2)
      .orderBy("rank").collect()
    assert(out(0).getLong(1) == 1L) // closest direction
    assert(out(1).getLong(1) == 2L) // orthogonal beats opposite
  }

  test("SRP-LSH top-k achieves high recall vs brute force on clustered data") {
    val rnd = new scala.util.Random(7)
    // two tight clusters in 16-d
    val base1 = Array.fill(16)(rnd.nextGaussian().toFloat)
    val base2 = Array.fill(16)(rnd.nextGaussian().toFloat)
    val vecs = (0 until 60).map { i =>
      val b = if (i % 2 == 0) base1 else base2
      (i.toLong, b.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 6)
    val exact = Similarity.cosineTopK(q, vecs, 3)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(q, vecs, 16, 6, 3)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall too low")
  }

  test("IVF top-k achieves high recall vs brute force on clustered data") {
    val rnd = new scala.util.Random(13)
    val bases = Array.fill(4)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 80).map { i =>
      (i.toLong, bases(i % 4).map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 8)
    val cen = vecs.filter($"vec_id" < 8) // one per cluster among the first 8
    val exact = Similarity.cosineTopK(q, vecs, 3)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(q, vecs, cen, 2, 3)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall too low")
  }

  test("embedding-cosine near-dup pairs find planted duplicates only") {
    val rnd = new scala.util.Random(11)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat)
    val nearDup = base.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
    val noise = (2L until 30L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val vecs = (Seq((0L, base), (1L, nearDup)) ++ noise).toDF("vec_id", "embedding")
    val pairs = Dedup.embCosinePairs(vecs, "vec_id", "embedding", 64, 4, 8, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length == 1)
    assert(pairs(0)._1 == 0L && pairs(0)._2 == 1L)
    assert(pairs(0)._3 > 0.99)
  }

  test("wide-band near-dup (d5b shape): planted clones found, no false positives") {
    // the d5b query's shape: a corpus with DETERMINISTICALLY planted
    // near-clones (one sign-flipped coordinate -> cos ~= 1 - 2/dim),
    // blocked on 3 bands x 16 bits at threshold 0.9. Wide bands keep
    // the random-collision floor (3/2^16 of pairs) below the planted
    // density, so candidates track true near-dups — the scale property
    // measured in docs/SCALING.md
    val rnd = new scala.util.Random(17)
    val base = (0L until 300L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val planted = base.filter(_._1 % 10 == 0).map { case (i, v) =>
      (i + 1000L, v.zipWithIndex.map { case (x, j) => if (j == (i % 64).toInt) -x else x })
    }
    val vecs = (base ++ planted).toDF("vec_id", "embedding")
    val out = Dedup.embCosinePairs(vecs, "vec_id", "embedding", 64, 3, 16, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // exact ground truth: cosine over ALL pairs (brute force)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val (d, na, nb) = a.zip(b).foldLeft((0.0, 0.0, 0.0)) { case ((s, x2, y2), (x, y)) =>
        (s + x.toDouble * y, x2 + x.toDouble * x, y2 + y.toDouble * y)
      }
      d / math.sqrt(na * nb)
    }
    val all = (base ++ planted).toMap
    val truth = (for {
      (i, vi) <- all; (j, vj) <- all if i < j
      if math.rint(cos(vi, vj) * 1e6) / 1e6 >= 0.9
    } yield (i, j)).toSet
    // no false positives, exact cosines, and every hit is a planted pair
    out.foreach { case (a, b, c) =>
      assert(truth.contains((a, b)), s"($a,$b) not a true >=0.9 pair")
      // planted pairs are exactly (base id, base id + 1000); the old
      // second disjunct was algebraically identical to this one (r12
      // advice), so it checked nothing and is dropped
      assert(b == a + 1000L, s"($a,$b) not planted-shaped")
      assert(math.abs(c - math.rint(cos(all(a), all(b)) * 1e6) / 1e6) < 1e-9)
    }
    // 3x16-bit bands at cos~0.97 recall ~60% per pair; 30 planted pairs
    // make <30% vanishingly unlikely — a recall collapse means the
    // banding broke
    assert(truth.nonEmpty)
    assert(out.length.toDouble / truth.size >= 0.3,
      s"recall ${out.length}/${truth.size} collapsed")
  }

  test("wide-band near-dup: per-band keys match packed slices; >63-bit widths run") {
    import org.apache.spark.sql.functions.{col => c}
    val rnd = new scala.util.Random(23)
    val vecs = (0L until 50L)
      .map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    // equivalence on a width both forms can represent: band b of the
    // packed 3x16 code == srpBandCode at planeOffset b*16 — the wide
    // path buckets identically to the narrow path wherever both exist
    val packed = Similarity.srpCode(c("embedding"), 64, 48)
    val eq = vecs.select((0 until 3).map { b =>
      (org.apache.spark.sql.functions.shiftright(packed, 16 * b)
        .bitwiseAND(org.apache.spark.sql.functions.lit((1L << 16) - 1)) ===
        Similarity.srpBandCode(c("embedding"), 64, 16 * b, 16)).as(s"b$b")
    }: _*).collect()
    assert(eq.forall(r => (0 until 3).forall(r.getBoolean)),
      "per-band SRP keys diverged from the packed code's slices")

    // end-to-end past the packed-long ceiling: 2 bands x 40 bits (80
    // planes) on a planted-clone corpus — planted pairs found, exact
    // cosines, no false positives (the d5b shape, wide mode)
    val base = (0L until 200L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val planted = base.filter(_._1 % 20 == 0).map { case (i, v) =>
      (i + 1000L, v.zipWithIndex.map { case (x, j) => if (j == (i % 64).toInt) -x else x })
    }
    val corpus = (base ++ planted).toDF("vec_id", "embedding")
    val out = Dedup.embCosinePairs(corpus, "vec_id", "embedding", 64, 2, 40, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val (d, na, nb) = a.zip(b).foldLeft((0.0, 0.0, 0.0)) { case ((s, x2, y2), (x, y)) =>
        (s + x.toDouble * y, x2 + x.toDouble * x, y2 + y.toDouble * y)
      }
      d / math.sqrt(na * nb)
    }
    val all = (base ++ planted).toMap
    val truth = (for {
      (i, vi) <- all; (j, vj) <- all if i < j
      if math.rint(cos(vi, vj) * 1e6) / 1e6 >= 0.9
    } yield (i, j)).toSet
    out.foreach { case (a, b, s) =>
      assert(truth.contains((a, b)), s"($a,$b) not a true >=0.9 pair")
      assert(math.abs(s - math.rint(cos(all(a), all(b)) * 1e6) / 1e6) < 1e-9)
    }
    // 40-bit bands at cos~0.97 collide per band at ~(1-acos(.97)/pi)^40
    // ~ 2.2% -> ~4.4% over 2 bands per pair; with 10 planted pairs an
    // empty result is overwhelmingly likely only if banding broke...
    // so assert the MACHINERY (keys, verification, no-FP) rather than
    // recall: every emitted pair is true and exactly scored, and the
    // candidate floor is effectively zero at 2/2^40 of pairs
    assert(truth.nonEmpty)
  }

  test("suggestedBandBits: floor-holding width, +2 bits per 4x corpus, clamps") {
    // 200k vectors, 3 bands (the probe's 100x regime): at a generous
    // 10n verification budget the graded 16-bit width still holds (rule
    // says 15 — consistent with the probe: the 545 MB floor shuffle is
    // ~4.6n candidates, visible but not yet dominant), while a strict
    // ∝n budget already calls for 19 — the width must grow from here
    assert(Dedup.suggestedBandBits(200000L, 3, 2000000L) == 15)
    assert(Dedup.suggestedBandBits(200000L, 3, 200000L) == 19)
    // the growth law: 4x corpus at the same budget-per-n adds 2 bits
    // (budget scales with n to keep verification proportional to corpus)
    val b1 = Dedup.suggestedBandBits(1000000L, 3, 10000000L)
    val b4 = Dedup.suggestedBandBits(4000000L, 3, 40000000L)
    assert(b4 == b1 + 2, s"$b1 -> $b4")
    // clamps: toy corpora floor at 8, nothing exceeds a long's width
    assert(Dedup.suggestedBandBits(10L, 3, 1000000L) == 8)
    assert(Dedup.suggestedBandBits(Int.MaxValue.toLong * 4, 6, 1L) == 62)
  }

  test("as-of join picks the latest at-or-before value per key") {
    val clicks = Seq(("u1", 5L, 1L), ("u1", 10L, 2L), ("u1", 20L, 3L), ("u2", 7L, 4L))
      .toDF("user", "t", "eid")
    val state = Seq(("u1", 3L, 100.0), ("u1", 10L, 200.0), ("u1", 15L, 300.0),
      ("u3", 1L, 999.0)).toDF("user", "st", "v")
    val out = AsOf.join(clicks, state, Seq("user"), "t", "st", Seq("v"))
      .collect().map(r => (r.getLong(1), Option(r.get(3)))).toMap
    assert(out(5L).contains(100.0)) // latest at-or-before t=5 is st=3
    assert(out(10L).contains(200.0)) // same-instant observation visible
    assert(out(20L).contains(300.0))
    assert(out(7L).isEmpty) // u2 has no state at all -> null
  }

  test("as-of join: null latest value stays null; null keys never match") {
    val clicks = Seq((Option("u1"), 20L, 1L), (Option.empty[String], 5L, 2L))
      .toDF("user", "t", "eid")
    val state = Seq((Option("u1"), 5L, Option(100.0)), (Option("u1"), 10L, Option.empty[Double]),
      (Option.empty[String], 3L, Option(7.0))).toDF("user", "st", "v")
    val out = AsOf.join(clicks, state, Seq("user"), "t", "st", Seq("v"))
      .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    // the LATEST at-or-before row (st=10) has a null v: that null is the
    // answer — an older non-null must not leak through
    assert(out(1L).isEmpty)
    // equi-join semantics: a null-key click matches nothing, even though a
    // null-key state row exists
    assert(out(2L).isEmpty)
  }

  test("salted join equals the plain join on skewed data") {
    val hot = (1 to 500).map(i => (1L, i.toLong)) // one dominant key
    val tail = (1 to 50).map(i => ((i % 7 + 2).toLong, i.toLong))
    val left = (hot ++ tail).toDF("k", "v")
    val right = (1L to 8L).map(k => (k, s"dim_$k")).toDF("k", "name")
    val plain = left.join(right, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val salted = Skew.saltedJoin(left, right, Seq("k"), 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(salted.toSeq == plain.toSeq)
    // left-join nulls survive too
    val rightPartial = Seq((1L, "only_hot")).toDF("k", "name")
    val saltedLeft = Skew.saltedJoin(left, rightPartial, Seq("k"), 4, "left")
    assert(saltedLeft.count() == 550)
    assert(saltedLeft.filter(col("name").isNull).count() == 50)
  }

  test("hash sampling: deterministic, consistent across supersets, rate-accurate") {
    val ids = (0L until 4000L).toDF("id")
    val s1 = Sampling.hashSample(ids, "id", 0.3).collect().map(_.getLong(0)).toSet
    val s2 = Sampling.hashSample(ids, "id", 0.3).collect().map(_.getLong(0)).toSet
    assert(s1 == s2) // rerun-stable
    // membership never flips when other rows appear (consistency)
    val sub = Sampling.hashSample(ids.filter(col("id") < 2000), "id", 0.3)
      .collect().map(_.getLong(0)).toSet
    assert(sub == s1.filter(_ < 2000L))
    // rate within a few percent on 4000 keys
    assert(math.abs(s1.size / 4000.0 - 0.3) < 0.05)
    // nested fractions: a 10% sample is a subset of the 30% sample
    val s3 = Sampling.hashSample(ids, "id", 0.1).collect().map(_.getLong(0)).toSet
    assert(s3.subsetOf(s1))
    // stratified: per-stratum thresholds apply
    val strat = ids.withColumn("g", when(col("id") % 2 === 0, "a").otherwise("b"))
    val out = Sampling.stratifiedSample(strat, "id", col("g"),
      Map("a" -> 1.0), 0.0).collect()
    assert(out.nonEmpty && out.forall(_.getString(1) == "a"))
  }

  test("weighted sampling: deterministic, proportional, without replacement") {
    // 500 heavy (weight 100) + 500 light (weight 1) rows
    val rows = (0L until 500L).map((_, 100L)) ++ (500L until 1000L).map((_, 1L))
    val df = rows.toDF("id", "w")
    val s1 = Sampling.weightedSample(df, "id", col("w"), 200)
      .select("id").collect().map(_.getLong(0))
    val s2 = Sampling.weightedSample(df, "id", col("w"), 200)
      .select("id").collect().map(_.getLong(0))
    assert(s1.sorted.toSeq == s2.sorted.toSeq) // rerun-stable
    assert(s1.distinct.length == 200)          // without replacement
    // heavy rows dominate: E[heavy] >> E[light] at 100:1 weights
    val heavy = s1.count(_ < 500L)
    assert(heavy > 150, s"only $heavy of 200 sampled rows were heavy-weight")
    // zero-weight rows can never be drawn
    val withZero = df.withColumn("w", when(col("id") === 7L, 0L).otherwise(col("w")))
    val s3 = Sampling.weightedSample(withZero, "id", col("w"), 1000).collect()
    assert(!s3.exists(_.getLong(0) == 7L) && s3.length == 999)
  }

  test("split assignment: total, deterministic, and stable under filtering") {
    val ids = (0L until 3000L).toDF("id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val a1 = ids.withColumn("s", Sampling.splitAssign(col("id"), splits))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // every row gets exactly one split; proportions roughly honored
    assert(a1.size == 3000)
    val byS = a1.values.groupBy(identity).view.mapValues(_.size)
    assert(math.abs(byS("train") / 3000.0 - 0.8) < 0.05)
    assert(byS.keySet == Set("train", "val", "test"))
    // a row's split never changes when the corpus shrinks
    val a2 = ids.filter(col("id") % 3 === 0)
      .withColumn("s", Sampling.splitAssign(col("id"), splits))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a2.forall { case (k, v) => a1(k) == v })
    // fractions must sum to 1
    intercept[IllegalArgumentException] {
      Sampling.splitAssign(col("id"), Seq("a" -> 0.5, "b" -> 0.2))
    }
  }

  test("per-group cap keeps at most n rows per group, deterministically") {
    val rows = (0L until 400L).map(i => (i, s"g${i % 4}"))
    val df = rows.toDF("id", "src")
    val kept = Sampling.capPerGroup(df, "id", "src", 10)
    val bySrc = kept.collect().map(r => (r.getString(1), r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(bySrc.values.forall(_.size == 10) && bySrc.size == 4)
    // rerun-stable and unaffected by other groups' rows
    val again = Sampling.capPerGroup(df.filter(col("src") === "g0"), "id", "src", 10)
      .collect().map(_.getLong(0)).toSet
    assert(again == bySrc("g0"))
    // under-cap groups pass through whole
    assert(Sampling.capPerGroup(df, "id", "src", 1000).count() == 400)
  }

  test("inverted index: postings sorted, df bounds honored") {
    val idx = TextAnalysis.invertedIndex(docs, "doc_id", "text", 2, 0.9)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getSeq[Long](2))).toList
    val byTerm = idx.map(t => t._1 -> t).toMap
    // "quick" appears in docs 0,1,3 (df=3 <= 0.9*5); duplicate occurrences
    // within a doc count once; hapax words are dropped by minDf=2
    assert(byTerm("quick")._3 == Seq(0L, 1L, 3L))
    assert(byTerm("the")._2 == 3L)
    assert(!byTerm.contains("cat") && !byTerm.contains("spark"))
    // df always equals the posting length and lists are sorted
    assert(idx.forall { case (_, df, p) => df == p.length && p == p.sorted })
  }

  test("canonicalize: multi-hop clusters collapse to the min id") {
    // components: {1,2,3,4} via a chain (diameter 3 — forces iteration),
    // {6,7} via one edge, {5, 9} singletons
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L)).toDF("a", "b")
    val out = Dedup.canonicalize(ids, "doc_id", pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(1L) == ((1L, false)) && out(2L) == ((1L, true)))
    assert(out(3L) == ((1L, true)) && out(4L) == ((1L, true)))
    assert(out(6L) == ((6L, false)) && out(7L) == ((6L, true)))
    assert(out(5L) == ((5L, false)) && out(9L) == ((9L, false)))
    // empty pair set: everything is its own canonical doc
    val solo = Dedup.canonicalize(ids, "doc_id", pairs.limit(0)).collect()
    assert(solo.forall(r => r.getLong(0) == r.getLong(1) && !r.getBoolean(2)))
  }

  test("cc loop sizes shuffle partitions from the edge count and restores the conf") {
    // round 21: the iterative strategies' per-pass fixed cost is ∝
    // shuffle-partition count × pass count regardless of data volume, so
    // the loop width is derived from the materialized edge count (capped
    // by the session default — big graphs keep full parallelism)
    assert(Dedup.ccLoopShufflePartitions(32, 0L) == 1)
    assert(Dedup.ccLoopShufflePartitions(32, 600L) == 1)
    assert(Dedup.ccLoopShufflePartitions(32, 131072L) == 1)
    assert(Dedup.ccLoopShufflePartitions(32, 131073L) == 2)
    assert(Dedup.ccLoopShufflePartitions(32, 4200000L) == 32)
    assert(Dedup.ccLoopShufflePartitions(32, 30000000L) == 32)
    assert(Dedup.ccLoopShufflePartitions(2, 300000L) == 2)
    // and the session conf is restored after the strategy's actions: a
    // forced-distributed run must leave the session exactly as found
    // while still producing the exact min-label fixpoint
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L)).toDF("a", "b")
    val out = Dedup.canonicalize(ids, "doc_id", pairs,
        Propagation(), localEdgeLimit = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 6L, 7L -> 6L))
    assert(spark.conf.get(key) == before,
      "cc loop must restore the session's shuffle partitions")
  }

  test("incrementalExact: store wins over batch order; re-ingest is idempotent") {
    val incoming = Seq(
      (10L, "alpha"), (11L, "alpha"), // in-batch dup pair, min id wins
      (12L, "beta"),                  // already in the store
      (13L, "gamma")                  // genuinely new
    ).toDF("doc_id", "text")
    val seen = Seq("beta").toDF("t").select(md5($"t").as("digest"))
    val out = Dedup.incrementalExact(incoming, "doc_id", "text", seen)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out == Map(10L -> "kept", 11L -> "dup_in_batch",
      12L -> "dup_of_store", 13L -> "kept"))
    // append the kept digests and re-ingest the same batch: everything is
    // now a store hit (idempotence of the rolling-ingestion loop)
    val store2 = seen.union(
      incoming.filter($"doc_id".isin(10L, 13L)).select(md5($"text").as("digest")))
    val again = Dedup.incrementalExact(incoming, "doc_id", "text", store2)
      .collect().map(r => r.getString(2))
    assert(again.forall(_ == "dup_of_store"))
  }

  test("incrementalNearDup: finds store near-dups without rescanning text of non-candidates") {
    val mk = (i: Long, t: String) => (i, t)
    // store: two docs; batch: a near-copy of store doc 100, an exact
    // in-batch dup pair, and an unrelated doc
    val store = Seq(
      mk(100L, "the quick brown fox jumps over the lazy dog today"),
      mk(101L, "completely different content about spark physical plans")
    ).toDF("doc_id", "text")
    val batch = Seq(
      mk(1L, "the quick brown fox jumps over the lazy dog tonight"),
      mk(2L, "alpha beta gamma delta epsilon zeta eta theta"),
      mk(3L, "alpha beta gamma delta epsilon zeta eta theta"),
      mk(4L, "nothing like anything else in this corpus at all")
    ).toDF("doc_id", "text")
    val bands = Dedup.bandKeys(store, "doc_id", "text", 3, 64, 16)
    val out = Dedup.incrementalNearDup(batch, "doc_id", "text", 3, 64, 16,
        0.5, bands, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out.contains((2L, 3L, "batch"))) // exact in-batch dup
    assert(out.contains((1L, 100L, "store"))) // near-copy of the store doc
    assert(!out.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated stays clean
    assert(!out.exists(p => p._2 == 101L)) // no spurious store match
  }

  test("incrementalNearDup: fixed job count stays fused (d9's scale lever)") {
    // d9 is the sweep's most short-job-heavy entry — its wall rides host
    // writeback through PER-JOB overhead, not data volume (1.6 MB
    // shuffle at sf0.1; docs/SCALING.md rounds 16-17) — so its fixed job
    // count IS the thing to pin. Round 17 fused the two candidate
    // checkpoints into one tagged-union barrier, taught bandedPairs to
    // skip re-checkpointing an already-materialized band-key leaf, and
    // replaced the two verify count probes with one grouped aggregate:
    // 3 fewer fixed jobs on every call at any scale. This test counts
    // ACTUAL jobs end-to-end on a fixture corpus; a regression that
    // sneaks an extra eager barrier or probe back in moves the count up
    // and fails here at birth.
    val store = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again"),
      (101L, "completely different store content with many unique words here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "some fresh batch document with its own words"),
      (3L, "some fresh batch document with its own words")
    ).toDF("doc_id", "text")
    val bands = Dedup.bandKeys(store, "doc_id", "text", 3, 64, 16)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Dedup.incrementalNearDup(batch, "doc_id", "text", 3, 64, 16, 0.5,
        bands, store).collect()
      // drain the listener bus so late onJobStart events are counted
      org.apache.spark.graftbench.ListenerDrain.drain(spark.sparkContext, 10000)
    } finally spark.sparkContext.removeSparkListener(listener)
    info(s"incrementalNearDup end-to-end jobs: ${jobs.get()}")
    // Measured on this fixture (Spark 4.1.2, AQE on): the fused shape
    // runs 19 jobs end-to-end, the pre-fusion shape 23 — the fusion
    // removed the second candidate checkpoint, bandedPairs'
    // re-checkpoint of the already-material band-key leaf, one of the
    // two verify count probes, and that probe's AQE stage. (AQE's
    // broadcast/stage materialization contributes most of the
    // remainder on both shapes.) The bound sits between the two with
    // headroom for AQE stage-split jitter but strictly below the old
    // count, so a regression toward per-frame barriers fails here.
    assert(jobs.get() <= 21, s"d9 pipeline ran ${jobs.get()} jobs — " +
      "the fused candidate stage regressed toward per-frame barriers")
  }

  test("hot LSH band: salting preserves the pair set and spreads the key") {
    // adversarial corpus: 40 identical docs share EVERY band key, so one
    // band bucket holds the whole corpus — the case where an unguarded
    // band self-join serializes the quadratic candidate blowup in one task
    val hotText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = ((0L until 40L).map(i => (i, hotText)) :+
      (99L, "unrelated filler words that never collide with anything else"))
      .toDF("doc_id", "text")
    // hotBandWidth = 8 forces the 40-wide bucket hot (5 salts); the
    // salted join must emit exactly the plain join's pair set: all
    // C(40,2) identical pairs at jaccard 1.0, nothing touching doc 99
    val pairs = Dedup.minHashLsh(corpus, "doc_id", "text", 3, 64, 16, 0.9,
      hotBandWidth = 8)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0L until 40L).combinations(2).map(c => (c(0), c(1))).toSet)
    // the candidate generation is actually routed through the salt —
    // asserted on bandedPairs directly, because minHashLsh eagerly
    // checkpoints the candidate frame and the final plan only shows the
    // truncated lineage (Scan ExistingRDD), not the salted join inside it
    val hotKeyed = ((0L until 40L).map(i => (i, 0, "hot")) :+
      (99L, 0, "cold")).toDF("id", "band", "bkey")
    val banded = Dedup.bandedPairs(hotKeyed, Seq("band", "bkey"), 8)
    assert(banded.queryExecution.executedPlan.toString.contains("_salt"))
    assert(banded.count() == 40L * 39 / 2)
    // and a single hot key's rows are spread across every salt bucket, so
    // its join work is divisible across `salts` tasks at scale (AQE off
    // for the probe: its small-output coalescing would legitimately merge
    // these tiny test partitions back into one)
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val hotSide = (0 until 400).map(i => (i.toLong, "hot")).toDF("id", "bkey")
      val spread = Skew.saltedJoin(
        hotSide.withColumnRenamed("id", "a"),
        hotSide.withColumnRenamed("id", "b"), Seq("bkey"), 8)
      val perPartition = spread.rdd
        .mapPartitions(it => Iterator(it.size)).collect().filter(_ > 0)
      assert(perPartition.length > 1, "hot key serialized into one partition")
      assert(perPartition.max < spread.count(),
        "one partition still holds every candidate pair")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    // simhash rides the same guard, carrying signatures through the
    // salted pair generation — hamming-0 pairs for all identical docs
    val sh = Dedup.simHashPairs(corpus, "doc_id", "text", 3, hotBandWidth = 8)
    assert(sh.queryExecution.executedPlan.toString.contains("_salt"))
    assert(sh.filter(col("hamming") === 0).count() == 40L * 39 / 2)
  }

  test("multimodal decodeFeatures: normalized histogram, deterministic") {
    val assets = Multimodal.asAssets(docs, "doc_id", encode(col("text"), "UTF-8"), "text")
    val feats = Multimodal.decodeFeatures(assets).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(feats(0L).size == 16)
    assert(math.abs(feats(0L).sum - 1.0) < 1e-9)
    assert(feats(0L) == feats(3L)) // identical payloads => identical features
  }

  test("multimodal decodeFeatures: real PNG/JPEG decode via ImageIO, opaque fallback") {
    // a real container written by the JDK's own encoder, decoded back
    // through the mapPartitions path — not a synthetic stand-in
    def imageBytes(fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 4,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 8)
        img.setRGB(x, y, (x * 32 << 16) | (y * 64 << 8) | 128)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val png = imageBytes("png")
    val jpg = imageBytes("jpg")
    val rows = Seq(
      (0L, png), (1L, jpg),
      (2L, "plain text payload".getBytes("UTF-8")),
      (3L, png.take(12))) // valid PNG magic, truncated container
      .toDF("doc_id", "payload")
    val assets = Multimodal.asAssets(rows, "doc_id", col("payload"), "image")
    val out = Multimodal.decodeFeatures(assets, 16).collect()
      .map(r => r.getLong(0) -> r).toMap
    // PNG: dimensions come from the DECODED container, not caller metadata
    assert(out(0L).getAs[String]("kind") == "png")
    assert(out(0L).getAs[Int]("width") == 8 && out(0L).getAs[Int]("height") == 4)
    val hist = out(0L).getSeq[Double](1)
    assert(hist.size == 16 && math.abs(hist.sum - 1.0) < 1e-9)
    // mean luminance matches an independent Rec. 601 computation over
    // the exact pixels written (PNG is lossless, TYPE_INT_RGB round-trips)
    val expMean = (for (y <- 0 until 4; x <- 0 until 8)
      yield 0.299 * (x * 32) + 0.587 * (y * 64) + 0.114 * 128).sum / 32
    assert(math.abs(out(0L).getAs[Double]("mean_lum") - expMean) < 1e-9)
    assert(out(0L).getAs[Double]("std_lum") > 0.0)
    // JPEG decodes through the same dispatch (lossy, so dims + kind only)
    assert(out(1L).getAs[String]("kind") == "jpeg")
    assert(out(1L).getAs[Int]("width") == 8 && out(1L).getAs[Int]("height") == 4)
    // non-image payloads keep the byte-histogram path and null image cols
    assert(out(2L).getAs[String]("kind") == "opaque")
    assert(out(2L).isNullAt(out(2L).fieldIndex("width")))
    assert(math.abs(out(2L).getSeq[Double](1).sum - 1.0) < 1e-9)
    // image magic with a truncated body degrades to opaque, never throws
    assert(out(3L).getAs[String]("kind") == "opaque")
  }

  test("multimodal resize: opaque fallback strided downsample, pass-through below") {
    val assets = Multimodal.asAssets(docs, "doc_id", encode(col("text"), "UTF-8"), "text")
    val resized = Multimodal.resizePayload(assets, 32).collect()
      .map(r => r.getAs[Long]("asset_id") -> r.getAs[Array[Byte]]("payload")).toMap
    val orig = assets.collect()
      .map(r => r.getAs[Long]("asset_id") -> r.getAs[Array[Byte]]("payload")).toMap
    orig.foreach { case (id, bytes) =>
      if (bytes.length <= 32) assert(resized(id).toSeq == bytes.toSeq)
      else {
        assert(resized(id).length == 32)
        assert(resized(id)(0) == bytes(0)) // stride anchors at the start
      }
    }
  }

  /** A real single-frame image written by the JDK's own encoder: a
    * width×height gradient (or solid `fill` when given).
    */
  private def imagePayload(fmt: String, w: Int, h: Int,
      fill: Option[Int] = None): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, fill.getOrElse(
        ((x * 255 / math.max(1, w - 1)) << 16) |
          ((y * 255 / math.max(1, h - 1)) << 8) | 128))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  test("multimodal resize: REAL bilinear rescale, re-decodes at target dims") {
    val big = imagePayload("png", 64, 32) // 4x the 16-box in x
    val small = imagePayload("png", 8, 4) // already inside the box
    val rows = Seq((0L, big), (1L, small),
      (2L, "plain text far longer than the byte cap......".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val assets = Multimodal.asAssets(rows, "doc_id", col("payload"), "image")
    val out = Multimodal.resizePayload(assets, 32, imageBox = 16).collect()
      .map(r => r.getAs[Long]("asset_id") -> r.getAs[Array[Byte]]("payload")).toMap
    // the resized payload is a real PNG that re-decodes at the box-fit
    // dimensions (aspect preserved: 64x32 -> 16x8)
    val (kind, img) = Multimodal.readImage(out(0L)).get
    assert(kind == "png" && img.getWidth == 16 && img.getHeight == 8)
    // a resized payload flows back through decodeFeatures as an image
    val redecoded = Multimodal.decodeFeatures(
      Multimodal.asAssets(Seq((0L, out(0L))).toDF("doc_id", "payload"),
        "doc_id", col("payload"), "image")).collect().head
    assert(redecoded.getAs[String]("kind") == "png")
    assert(redecoded.getAs[Int]("width") == 16)
    // images already inside the box pass through byte-identical
    assert(out(1L).toSeq == small.toSeq)
    // non-image payloads keep the strided byte cap
    assert(out(2L).length == 32)
  }

  test("multimodal decode: dimension-bomb header is refused, not decoded") {
    // a VALID PNG header (correct magic + IHDR CRC) declaring
    // 40000x40000 = 1.6e9 pixels: ImageIO.read would allocate the
    // raster from that untrusted declaration (~6 GB -> OutOfMemoryError,
    // an Error that a `catch Exception` fallback never sees). The
    // header-only guard must refuse it BEFORE allocation.
    def bombPng(w: Int, h: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt,
        0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      val body = java.nio.ByteBuffer.allocate(17)
      body.put("IHDR".getBytes("US-ASCII"))
      body.putInt(w).putInt(h)
      body.put(8.toByte).put(2.toByte) // bit depth 8, truecolor
      body.put(0.toByte).put(0.toByte).put(0.toByte)
      bos.write(java.nio.ByteBuffer.allocate(4).putInt(13).array())
      bos.write(body.array())
      val crc = new java.util.zip.CRC32()
      crc.update(body.array())
      bos.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
      bos.toByteArray
    }
    val bomb = bombPng(40000, 40000)
    assert(Multimodal.imageKind(bomb).contains("png")) // magic IS valid
    assert(Multimodal.readImage(bomb).isEmpty) // guard refuses pre-decode
    // ...and the full pipeline degrades to the opaque path, no throw
    val out = Multimodal.decodeFeatures(Multimodal.asAssets(
      Seq((0L, bomb)).toDF("doc_id", "payload"), "doc_id",
      col("payload"), "image")).collect().head
    assert(out.getAs[String]("kind") == "opaque")
    // a sane image under the cap still decodes through the same guard
    assert(Multimodal.readImage(imagePayload("png", 8, 4)).nonEmpty)
  }

  test("multimodal sampleFrames: REAL multi-frame GIF extraction + opaque fallback") {
    // a 3-frame GIF written by the JDK's own sequence writer, solid
    // grayscale frames (gray g has Rec. 601 luma exactly g) so per-frame
    // mean luminance is checkable bit-for-bit
    val grays = Seq(40, 120, 200)
    val frames = grays.map(g => {
      val img = new java.awt.image.BufferedImage(10, 6,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 6; x <- 0 until 10) img.setRGB(x, y, (g << 16) | (g << 8) | g)
      img
    })
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    frames.foreach(f =>
      writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null))
    writer.endWriteSequence()
    ios.close(); writer.dispose()
    val gif = bos.toByteArray
    assert(Multimodal.imageKind(gif).contains("gif"))

    val rows = Seq((0L, gif), (1L, "0123456789abcdefghijklmnopqrstuv".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val assets = Multimodal.asAssets(rows, "doc_id", col("payload"), "video")
    // index 7 exceeds the frame count -> silently absent, never throws
    val out = Multimodal.sampleFrames(assets, Seq(0, 2, 7), sliceWidth = 8).collect()
    val byKey = out.map(r =>
      (r.getAs[Long]("asset_id"), r.getAs[Int]("frame_idx")) -> r).toMap
    // GIF: real frames at the requested indices, real dims + luminance
    assert(byKey((0L, 0)).getAs[String]("kind") == "gif")
    assert(byKey((0L, 0)).getAs[Int]("width") == 10)
    assert(byKey((0L, 0)).getAs[Int]("height") == 6)
    assert(math.abs(byKey((0L, 0)).getAs[Double]("mean_lum") - grays(0)) < 0.5)
    assert(math.abs(byKey((0L, 2)).getAs[Double]("mean_lum") - grays(2)) < 0.5)
    assert(!byKey.contains((0L, 7))) // out-of-range index dropped
    // opaque fallback: deterministic hex slices at index*sliceWidth
    assert(byKey((1L, 0)).getAs[String]("kind") == "opaque")
    assert(byKey((1L, 0)).getAs[String]("sample_hex") ==
      "01234567".getBytes("UTF-8").map("%02x".format(_)).mkString)
    assert(byKey((1L, 2)).getAs[String]("sample_hex") ==
      "ghijklmn".getBytes("UTF-8").map("%02x".format(_)).mkString)
    assert(byKey((1L, 7)).getAs[String]("sample_hex") == "") // past the end
  }

  test("multimodal edge contracts: no-frame GIF emits zero rows; bloated in-box image re-encodes") {
    // a 2-frame GIF where every REQUESTED index is out of range: the
    // payload is a perfectly readable GIF, so it must yield ZERO rows —
    // not flip to 'opaque' hex slices of compressed GIF bytes (which
    // would mislabel valid media for any consumer keying on kind)
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    (1 to 2).foreach(_ =>
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null))
    writer.endWriteSequence()
    ios.close(); writer.dispose()
    val gif = bos.toByteArray
    val gifAssets = Multimodal.asAssets(
      Seq((0L, gif)).toDF("doc_id", "payload"), "doc_id", col("payload"), "video")
    assert(Multimodal.sampleFrames(gifAssets, Seq(5, 9)).collect().isEmpty)
    // unit level: readable GIF + no surviving frame = Some(empty), not None
    assert(Multimodal.gifFrameStats(gif, Seq(5, 9)).contains(Seq.empty))

    // an IN-BOX image towing 200 KB of post-IEND junk: it decodes fine
    // (readers stop at IEND), but riding through byte-identical would
    // let a hostile container carry arbitrary bytes past the resize —
    // the image byte ceiling forces a re-encode at the image's own
    // dimensions, stripping the bloat while keeping a valid image
    val bloated = imagePayload("png", 8, 4) ++ Array.fill(200000)('A'.toByte)
    assert(Multimodal.readImage(bloated).nonEmpty) // premise: decodable
    val resized = Multimodal.resizePayload(
      Multimodal.asAssets(Seq((0L, bloated)).toDF("doc_id", "payload"),
        "doc_id", col("payload"), "image"),
      targetBytes = 32, imageBox = 16).collect().head
      .getAs[Array[Byte]]("payload")
    assert(resized.length < 6000, s"bloat must be stripped, got ${resized.length}")
    val (k, re) = Multimodal.readImage(resized).get
    assert(k == "png" && re.getWidth == 8 && re.getHeight == 4)

    // an over-box GIF towing junk goes through the MULTI-FRAME resize:
    // every frame survives (a frame-0 still would be corruption), the
    // trailing junk is stripped by the re-encode, and dims are box-fit
    val gifBloated = gif ++ Array.fill(200000)('A'.toByte)
    val gifOut = Multimodal.resizePayload(
      Multimodal.asAssets(Seq((0L, gifBloated)).toDF("doc_id", "payload"),
        "doc_id", col("payload"), "video"),
      targetBytes = 32, imageBox = 2).collect().head
      .getAs[Array[Byte]]("payload")
    assert(Multimodal.imageKind(gifOut).contains("gif"))
    assert(gifOut.length < 2000, "junk past the GIF terminator must be stripped")
    val gifFrames = Multimodal.gifFrameStats(gifOut, Seq(0, 1)).get
    assert(gifFrames.map(_._1) == Seq(0, 1), "both frames must survive resize")
    assert(gifFrames.forall { case (_, w, h, _) => w == 2 && h == 2 })
    // ...but a GIF past the frame cap is resize-INELIGIBLE and rides
    // through byte-identical (truncating frames would be corruption)
    assert(Multimodal.resizeGif(gif, 2, maxFrames = 1).isEmpty)

    // transparency survives the re-encode: an over-box ARGB PNG keeps
    // its alpha channel (an RGB flatten would black-fill it)
    val argb = new java.awt.image.BufferedImage(32, 32,
      java.awt.image.BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until 32; x <- 0 until 32)
      argb.setRGB(x, y, if (x < 16) 0x00000000 else 0xffff0000) // half clear
    val abos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(argb, "png", abos))
    val alphaOut = Multimodal.resizePayload(
      Multimodal.asAssets(Seq((0L, abos.toByteArray)).toDF("doc_id", "payload"),
        "doc_id", col("payload"), "image"),
      targetBytes = 32, imageBox = 16).collect().head
      .getAs[Array[Byte]]("payload")
    val (_, aimg) = Multimodal.readImage(alphaOut).get
    assert(aimg.getWidth == 16 && aimg.getColorModel.hasAlpha,
      "resized PNG must keep its alpha channel")
    assert(((aimg.getRGB(1, 8) >>> 24) & 0xff) < 16,
      "transparent pixels must stay transparent after resize")
  }

  test("multimodal resizeGif: animation, timing and patch compositing preserved") {
    // a 3-frame 20x12 GIF with per-frame delays (10/20/30 cs), a
    // NETSCAPE loop extension, and frame 2 written as a HALF-WIDTH
    // PATCH at x=10 (disposal none, so it composites over frame 1) —
    // the three fidelity axes resize must preserve: frame count,
    // per-frame timing, and what each frame DISPLAYS (not its raw patch)
    def solid(w: Int, h: Int, gray: Int) = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, (gray << 16) | (gray << 8) | gray)
      img
    }
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    val frames = Seq((solid(20, 12, 40), 10, 0), (solid(20, 12, 80), 20, 0),
      (solid(10, 12, 200), 30, 10)) // (image, delayCs, xOffset)
    frames.zipWithIndex.foreach { case ((img, delay, xOff), i) =>
      val spec = javax.imageio.ImageTypeSpecifier.createFromRenderedImage(img)
      val md = writer.getDefaultImageMetadata(spec, writer.getDefaultWriteParam)
      val fmt = "javax_imageio_gif_image_1.0"
      val root = md.getAsTree(fmt)
        .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      val gce = new javax.imageio.metadata.IIOMetadataNode("GraphicControlExtension")
      gce.setAttribute("disposalMethod", "none")
      gce.setAttribute("userInputFlag", "FALSE")
      gce.setAttribute("transparentColorFlag", "FALSE")
      gce.setAttribute("delayTime", delay.toString)
      gce.setAttribute("transparentColorIndex", "0")
      root.appendChild(gce)
      if (xOff != 0) {
        val desc = new javax.imageio.metadata.IIOMetadataNode("ImageDescriptor")
        desc.setAttribute("imageLeftPosition", xOff.toString)
        desc.setAttribute("imageTopPosition", "0")
        desc.setAttribute("imageWidth", img.getWidth.toString)
        desc.setAttribute("imageHeight", img.getHeight.toString)
        desc.setAttribute("interlaceFlag", "FALSE")
        root.appendChild(desc)
      }
      if (i == 0) {
        val exts = new javax.imageio.metadata.IIOMetadataNode("ApplicationExtensions")
        val e = new javax.imageio.metadata.IIOMetadataNode("ApplicationExtension")
        e.setAttribute("applicationID", "NETSCAPE")
        e.setAttribute("authenticationCode", "2.0")
        e.setUserObject(Array[Byte](1, 0, 0)) // loop forever
        exts.appendChild(e)
        root.appendChild(exts)
      }
      md.setFromTree(fmt, root)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, md), null)
    }
    writer.endWriteSequence(); ios.close(); writer.dispose()
    val gif = bos.toByteArray

    val out = Multimodal.resizeGif(gif, box = 10).get
    assert(Multimodal.imageKind(out).contains("gif"))
    // frame count + box-fit dims (20x12 -> 10x6), frames are FULL
    // logical screens after compositing
    val stats = Multimodal.gifFrameStats(out, Seq(0, 1, 2)).get
    assert(stats.map(_._1) == Seq(0, 1, 2))
    assert(stats.forall { case (_, w, h, _) => w == 10 && h == 6 })
    // frame 2's raw patch was solid 200 — its COMPOSITE is gray 80 on
    // the left half (frame 1 shows through under disposal none) and
    // 200 on the right: mean 140. The source's raw frame 2 reads 200;
    // the resized output's frame 2 must read the composite.
    val srcStats = Multimodal.gifFrameStats(gif, Seq(2)).get
    assert(math.abs(srcStats.head._4 - 200) < 2.0, "premise: raw patch is 200")
    assert(math.abs(stats(0)._4 - 40) < 2.0)
    assert(math.abs(stats(1)._4 - 80) < 2.0)
    assert(math.abs(stats(2)._4 - 140) < 4.0,
      s"frame 2 must be the composite, got mean ${stats(2)._4}")
    // per-frame delays and the loop extension survive the re-encode
    val iis2 = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(out))
    val reader = javax.imageio.ImageIO.getImageReaders(iis2).next()
    reader.setInput(iis2, false, false)
    def frameTree(i: Int) = reader.getImageMetadata(i)
      .getAsTree("javax_imageio_gif_image_1.0")
      .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
    val delays = (0 until 3).map { i =>
      frameTree(i).getElementsByTagName("GraphicControlExtension").item(0)
        .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        .getAttribute("delayTime").toInt
    }
    assert(delays == Seq(10, 20, 30), s"delays must survive: $delays")
    val apps = frameTree(0).getElementsByTagName("ApplicationExtension")
    val hasLoop = (0 until apps.getLength).exists { k =>
      apps.item(k).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        .getAttribute("applicationID") == "NETSCAPE"
    }
    reader.dispose(); iis2.close()
    assert(hasLoop, "NETSCAPE loop extension must survive the re-encode")
  }

  test("multimodal resize gate sees the full GIF extent, not frame 0") {
    // frame 0 is a SMALL 4x4 patch, frame 1 an 8x4 patch at x=12 — the
    // displayed extent is 20x4. A frame-0-only eligibility check would
    // pass this GIF through untransformed at imageBox=10 (4x4 fits, and
    // the bytes are far under the ceiling), leaving displayed dimensions
    // unbounded by the box; the gate must resize it.
    def solid(w: Int, h: Int, gray: Int) = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, (gray << 16) | (gray << 8) | gray)
      img
    }
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    Seq((solid(4, 4, 40), 0), (solid(8, 4, 200), 12)).foreach {
      case (img, xOff) =>
        val spec = javax.imageio.ImageTypeSpecifier.createFromRenderedImage(img)
        val md = writer.getDefaultImageMetadata(spec, writer.getDefaultWriteParam)
        val fmt = "javax_imageio_gif_image_1.0"
        val root = md.getAsTree(fmt)
          .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        if (xOff != 0) {
          val desc = new javax.imageio.metadata.IIOMetadataNode("ImageDescriptor")
          desc.setAttribute("imageLeftPosition", xOff.toString)
          desc.setAttribute("imageTopPosition", "0")
          desc.setAttribute("imageWidth", img.getWidth.toString)
          desc.setAttribute("imageHeight", img.getHeight.toString)
          desc.setAttribute("interlaceFlag", "FALSE")
          root.appendChild(desc)
        }
        md.setFromTree(fmt, root)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, md), null)
    }
    writer.endWriteSequence(); ios.close(); writer.dispose()
    val gif = bos.toByteArray
    // premise: frame 0 alone IS in-box and the payload is tiny
    val (k0, f0) = Multimodal.readImage(gif).get
    assert(k0 == "gif" && f0.getWidth <= 10 && f0.getHeight <= 10)
    val out = Multimodal.resizePayload(
      Multimodal.asAssets(Seq((0L, gif)).toDF("doc_id", "payload"),
        "doc_id", col("payload"), "video"),
      targetBytes = 32, imageBox = 10).collect().head
      .getAs[Array[Byte]]("payload")
    assert(!java.util.Arrays.equals(out, gif),
      "wide-extent GIF must not ride through on frame 0's dimensions")
    val stats = Multimodal.gifFrameStats(out, Seq(0, 1)).get
    assert(stats.map(_._1) == Seq(0, 1), "both frames must survive")
    assert(stats.forall { case (_, w, h, _) => w <= 10 && h <= 10 },
      s"displayed dims must be box-bounded: $stats")
    // and a GIF in-box on its FULL extent still passes through untouched
    val small = Multimodal.resizePayload(
      Multimodal.asAssets(Seq((0L, gif)).toDF("doc_id", "payload"),
        "doc_id", col("payload"), "video"),
      targetBytes = 32, imageBox = 64).collect().head
      .getAs[Array[Byte]]("payload")
    assert(java.util.Arrays.equals(small, gif),
      "in-box GIF must pass through byte-identical")
  }

  test("multimodal asset stats") {
    val assets = Multimodal.asAssets(docs, "doc_id", encode(col("text"), "UTF-8"), "text")
      .filter(col("asset_id") === 0L).collect().head
    assert(assets.getAs[Long]("n_bytes") == 43L)
    assert(assets.getAs[Long]("n_chunks") == 1L)
    assert(assets.getAs[String]("sha").length == 64)
  }

  test("kmeans: separated clusters recovered; every point assigned once") {
    // two tight groups far apart in 2-D; ids 0 and 1 (the deterministic
    // init) land one in each group, so one update round separates them
    val vecs = Seq(
      (0L, Seq(0.0f, 0.1f)), (2L, Seq(0.1f, 0.0f)), (4L, Seq(0.05f, 0.05f)),
      (1L, Seq(9.0f, 9.1f)), (3L, Seq(9.1f, 9.0f)), (5L, Seq(9.05f, 9.05f))
    ).toDF("vec_id", "embedding")
    val out = KMeans.lloyd(vecs, "vec_id", "embedding", 2, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 6)
    assert(Set(out(0L), out(2L), out(4L)).size == 1)
    assert(Set(out(1L), out(3L), out(5L)).size == 1)
    assert(out(0L) != out(1L))
  }

  test("kmeans: zero iterations assigns to the init vectors themselves") {
    val vecs = Seq((0L, Seq(0.0f, 0.0f)), (1L, Seq(4.0f, 4.0f)),
      (2L, Seq(3.9f, 4.1f))).toDF("vec_id", "embedding")
    val out = KMeans.lloyd(vecs, "vec_id", "embedding", 2, 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(0L)._2 == 0L && byId(0L)._3 == 0.0)
    assert(byId(1L)._2 == 1L && byId(1L)._3 == 0.0)
    assert(byId(2L)._2 == 1L) // closer to (4,4) than (0,0)
  }

  test("kmeans: empty cluster keeps its previous centroid, k is preserved") {
    // ids 0 and 1 are identical -> every point prefers cid 0 on ties,
    // cluster 1 wins no points in the update; it must survive with its
    // init centroid rather than vanish
    val vecs = Seq(
      (0L, Seq(1.0f, 1.0f)), (1L, Seq(1.0f, 1.0f)),
      (2L, Seq(1.1f, 0.9f)), (3L, Seq(0.9f, 1.1f))
    ).toDF("vec_id", "embedding")
    val out = KMeans.lloyd(vecs, "vec_id", "embedding", 2, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 4)
    assert(out.values.forall(_ == 0L)) // all nearer the updated cluster 0
  }

  test("hll sketch: estimate tracks exact cardinality within sketch error") {
    val n = 5000
    val vals = (0 until n).map(i => ("g", s"value_$i")).toDF("grp", "v")
    val est = Sketch.hllCardinality(vals, Seq("grp"), col("v")).collect().head
      .getAs[Double]("hll_est")
    // HLL standard error at m=256 is ~6.5%; 3 sigma bound
    assert(math.abs(est - n) / n < 0.2, s"est $est vs exact $n")
  }

  test("hll sketch: small sets fall into accurate linear counting") {
    val vals = (0 until 40).map(i => ("g", s"v$i")).toDF("grp", "v")
    val row = Sketch.hllCardinality(vals, Seq("grp"), col("v")).collect().head
    assert(math.abs(row.getAs[Double]("hll_est") - 40) < 5)
    // duplicates never move registers
    val dup = (0 until 40).flatMap(i => Seq(("g", s"v$i"), ("g", s"v$i")))
      .toDF("grp", "v")
    val row2 = Sketch.hllCardinality(dup, Seq("grp"), col("v")).collect().head
    assert(row2.getAs[Double]("hll_est") == row.getAs[Double]("hll_est"))
  }

  test("range join: binned equi-join equals the naive containment join") {
    val ivs = Seq(
      (10L, "2024-01-05", "2024-01-05"), // single-day
      (11L, "2024-01-01", "2024-03-10"), // spans several bins
      (12L, "2024-02-20", "2024-02-10"), // empty (hi < lo)
      (13L, "2023-12-01", "2024-01-02")
    ).toDF("iv_id", "lo_s", "hi_s")
      .select(col("iv_id"), to_date(col("lo_s")).as("lo"), to_date(col("hi_s")).as("hi"))
    val pts = Seq((0L, "2024-01-05"), (1L, "2024-01-04"), (2L, "2024-03-10"),
      (3L, "2024-03-11"), (4L, "2023-12-01"))
      .toDF("pt_id", "d_s")
      .select(col("pt_id"), to_date(col("d_s")).as("d"))
    val binned = RangeJoin.pointInInterval(pts, ivs, "d", "lo", "hi", 7)
      .select("pt_id", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = pts.crossJoin(ivs)
      .filter(col("d").between(col("lo"), col("hi")))
      .select("pt_id", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(binned == naive)
    assert(binned.contains((0L, 10L)) && binned.contains((2L, 11L))) // inclusive ends
    assert(!binned.exists(_._2 == 12L))
  }

  test("range join top-k cap: densified matches bounded per point, partial window limit") {
    // one point inside 6 nested intervals (the densification shape):
    // the cap must keep the 3 most-recent starts, deterministically
    val ivs = (1L to 6L).map(i =>
      (i, f"2024-01-${i}%02d", "2024-03-01")).toDF("iv_id", "lo_s", "hi_s")
      .select(col("iv_id"), to_date(col("lo_s")).as("lo"), to_date(col("hi_s")).as("hi"))
    val pts = Seq((0L, "2024-02-01"), (1L, "2024-01-03"), (2L, "2023-01-01"))
      .toDF("pt_id", "d_s")
      .select(col("pt_id"), to_date(col("d_s")).as("d"))
    // rank = recency (latest start first)
    val out = RangeJoin.pointInIntervalTopK(pts, ivs, "d", "lo", "hi", 7,
        Seq("pt_id"), -datediff(col("lo"), lit("1970-01-01").cast("date")), 3)
      .select("pt_id", "iv_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(out(0L) == Set(4L, 5L, 6L), s"point 0 must keep the 3 latest: $out")
    // a point AT the cap keeps everything it matches (intervals 1-3
    // contain 2024-01-03 inclusively; 4-6 start later)
    assert(out(1L) == Set(1L, 2L, 3L))
    assert(!out.contains(2L)) // no matches -> no rows, never null-padded
    // the load-bearing plan properties: (1) the rank<=k filter engages
    // Catalyst's window-group limit so rows beyond k never reach the
    // window buffers; (2) the ONLY exchange is the up-front point
    // repartition — the joined candidate stream itself is never
    // shuffled (broadcast join preserves the point-key partitioning
    // and the window reuses it). A second exchange would mean the
    // quadratic-under-densification candidate stream crosses the wire;
    // losing the repartition re-opens the few-input-splits funnel that
    // measured 12.7 GB of single-task sort spill (docs/SCALING.md).
    val plan = RangeJoin.pointInIntervalTopK(pts, ivs, "d", "lo", "hi", 7,
        Seq("pt_id"), -datediff(col("lo"), lit("1970-01-01").cast("date")), 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"top-k cap lost the window-group limit:\n$plan")
    // point/candidate data crosses the wire exactly once (the up-front
    // repartition); the round-20 dominance prune adds interval-side
    // shuffles keyed by _bin, bounded by the (small) interval side
    val exchanges = plan.linesIterator.count(l => l.contains("Exchange") &&
      !l.contains("BroadcastExchange") && !l.contains("ReusedExchange") &&
      !l.contains("hashpartitioning(_bin"))
    assert(exchanges == 1,
      s"expected exactly the point-repartition exchange, got $exchanges:\n$plan")
  }

  test("interval coalescing: overlaps and gap-adjacent spans merge per key") {
    val ivs = Seq(
      ("u1", "2024-01-01", "2024-01-10"),
      ("u1", "2024-01-05", "2024-01-20"), // overlaps the first
      ("u1", "2024-01-21", "2024-01-25"), // adjacent (1-day gap)
      ("u1", "2024-03-01", "2024-03-02"), // separate span
      ("u2", "2024-01-15", "2024-01-18"), // other key: never merged in
      ("u2", "2024-02-01", "2024-01-01")  // empty (hi < lo): dropped
    ).toDF("user", "lo_s", "hi_s")
      .select(col("user"), to_date(col("lo_s")).as("lo"), to_date(col("hi_s")).as("hi"))
    def spans(gap: Int): Map[(String, String, String), Long] =
      RangeJoin.coalesceIntervals(ivs, Seq("user"), "lo", "hi", gap)
        .collect().map(r => ((r.getString(0), r.getDate(1).toString,
          r.getDate(2).toString), r.getAs[Long]("n_merged"))).toMap
    // gap 0: strict overlap only — the adjacent span stays separate
    val strict = spans(0)
    assert(strict == Map(
      ("u1", "2024-01-01", "2024-01-20") -> 2L,
      ("u1", "2024-01-21", "2024-01-25") -> 1L,
      ("u1", "2024-03-01", "2024-03-02") -> 1L,
      ("u2", "2024-01-15", "2024-01-18") -> 1L), s"got $strict")
    // gap 1: the adjacent span joins its neighbor
    val bridged = spans(1)
    assert(bridged(("u1", "2024-01-01", "2024-01-25")) == 3L)
    assert(bridged.size == 3)
    // idempotence: coalesced output re-coalesces to itself (the fixpoint
    // a pre-join normalization must have)
    val once = RangeJoin.coalesceIntervals(ivs, Seq("user"), "lo", "hi", 0)
    val twice = RangeJoin.coalesceIntervals(
      once.select("user", "lo", "hi"), Seq("user"), "lo", "hi", 0)
    assert(twice.select("user", "lo", "hi").collect().toSet ==
      once.select("user", "lo", "hi").collect().toSet)
  }

  test("range join top-k size gate: over-budget side takes the shuffled fallback, same answer") {
    val ivs = (1L to 6L).map(i =>
      (i, f"2024-01-${i}%02d", "2024-03-01")).toDF("iv_id", "lo_s", "hi_s")
      .select(col("iv_id"), to_date(col("lo_s")).as("lo"), to_date(col("hi_s")).as("hi"))
    val pts = Seq((0L, "2024-02-01"), (1L, "2024-01-03"), (2L, "2023-01-01"))
      .toDF("pt_id", "d_s")
      .select(col("pt_id"), to_date(col("d_s")).as("d"))
    val rank = -datediff(col("lo"), lit("1970-01-01").cast("date"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("pt_id", "iv_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bcast = RangeJoin.pointInIntervalTopK(pts, ivs, "d", "lo", "hi", 7,
      Seq("pt_id"), rank, 3, broadcastBudgetBytes = Long.MaxValue)
    // budget 0 = nothing broadcasts by OUR hand; pin Catalyst's own
    // broadcast off too so the fallback plan is the one a big side gets
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val shuffled = RangeJoin.pointInIntervalTopK(pts, ivs, "d", "lo", "hi", 7,
        Seq("pt_id"), rank, 3, broadcastBudgetBytes = 0L)
      assert(pairs(shuffled) == pairs(bcast))
      val plan = shuffled.queryExecution.executedPlan.toString
      // the fallback must still cap below the final sort (partial
      // window-group limit) and must never broadcast the interval side
      assert(plan.contains("WindowGroupLimit"), s"fallback lost the cap:\n$plan")
      assert(!plan.contains("BroadcastExchange"),
        s"fallback branch broadcast anyway:\n$plan")
      // point/candidate data crosses the wire exactly twice: its _bin
      // join side and the ONE point-key repartition the window reuses —
      // a second non-bin exchange would mean the capped stream is
      // shuffled twice. The remaining _bin-keyed exchanges are the
      // interval join side plus the dominance prune's threshold pass,
      // all bounded by the (small) interval side.
      val ptExchanges = plan.linesIterator.count(l => l.contains("Exchange") &&
        !l.contains("ReusedExchange") && !l.contains("hashpartitioning(_bin"))
      assert(ptExchanges == 1,
        s"expected exactly the point-repartition exchange, got $ptExchanges:\n$plan")
      val binExchanges = plan.linesIterator.count(l => l.contains("Exchange") &&
        !l.contains("ReusedExchange") && l.contains("hashpartitioning(_bin"))
      assert(binExchanges <= 4,
        s"unexpected extra _bin exchanges, got $binExchanges:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    // the default gate broadcasts a small in-memory side (the existing
    // exchange-free pin) — and the stats gate sees the pre-explode plan
    val defPlan = RangeJoin.pointInIntervalTopK(pts, ivs, "d", "lo", "hi", 7,
      Seq("pt_id"), rank, 3).queryExecution.executedPlan.toString
    assert(defPlan.contains("BroadcastExchange"), s"small side not broadcast:\n$defPlan")
    // tier 2: a parquet-backed side whose FILE-byte estimate exceeds the
    // budget but whose filtered survivors are tiny must still broadcast
    // (the static estimate has no filter selectivity; condemning this
    // side to the fallback would shuffle the uncapped candidate stream
    // — the first probe run measured that mistake at 12.7 GB of spill)
    val dir = java.nio.file.Files.createTempDirectory("graft_gate").toString
    try {
      (1L to 2000L).map(i => (i, f"2024-01-${(i % 28) + 1}%02d", "2024-03-01"))
        .toDF("iv_id", "lo_s", "hi_s")
        .select(col("iv_id"), to_date(col("lo_s")).as("lo"),
          to_date(col("hi_s")).as("hi"))
        .write.mode("overwrite").parquet(s"$dir/ivs")
      val bigFile = spark.read.parquet(s"$dir/ivs").filter(col("iv_id") <= 5)
      val fileBytes =
        bigFile.queryExecution.optimizedPlan.stats.sizeInBytes
      val budget = 4096L
      assert(fileBytes > budget,
        s"premise: the static estimate ($fileBytes) must exceed $budget")
      val p2 = RangeJoin.pointInIntervalTopK(pts, bigFile, "d", "lo", "hi", 7,
          Seq("pt_id"), rank, 3, broadcastBudgetBytes = budget)
        .queryExecution.executedPlan.toString
      assert(p2.contains("BroadcastExchange"),
        s"5 surviving rows must broadcast despite the file-byte estimate:\n$p2")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("range join top-k sweep: matches the window cap, aggregates instead of windowing") {
    val ivs = (1L to 6L).map(i =>
      (i, f"2024-01-${i}%02d", "2024-03-01")).toDF("iv_id", "lo_s", "hi_s")
      .select(col("iv_id"), to_date(col("lo_s")).as("lo"), to_date(col("hi_s")).as("hi"))
    // pad the point side so it is the LARGER relation (as in any real
    // workload) — otherwise Catalyst broadcasts the points and the
    // exchange-free single-stage shape under test never materializes
    val pts = (Seq((0L, "2024-02-01"), (1L, "2024-01-03"), (2L, "2023-01-01")) ++
        (100L to 1100L).map(i => (i, "1999-01-01")))
      .toDF("pt_id", "d_s")
      .select(col("pt_id"), to_date(col("d_s")).as("d"))
    val rank = -datediff(col("lo"), lit("1970-01-01").cast("date"))
    val sweep = RangeJoin.pointInIntervalTopKSweep(pts, ivs, "d", "lo", "hi", 7,
      Seq("pt_id"), rank, 3)
    // same output shape and same kept set as the window form
    assert(sweep.columns.toSeq == Seq("pt_id", "d", "iv_id", "lo", "hi"))
    val win = RangeJoin.pointInIntervalTopK(pts, ivs, "d", "lo", "hi", 7,
      Seq("pt_id"), rank, 3)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("pt_id", "iv_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(sweep) == pairs(win))
    // the load-bearing plan properties, broadcast case: the explicit
    // point-key repartition is a subset of the grouping key and the
    // broadcast join preserves it, so the partial and final folds fuse
    // into ONE stage — the only exchange anywhere is the repartition
    // itself, candidate data never crosses the wire, and nothing windows
    val plan = sweep.queryExecution.executedPlan.toString
    assert(plan.contains("topk_structs"), s"sweep lost the aggregate:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"small interval side must broadcast:\n$plan")
    // the partial and final folds must fuse into one stage — an exchange
    // between them would mean the point partitioning was lost and
    // candidate-derived data crossed the wire. (The dominance prune's
    // interval-side threshold pass adds its own _bin-keyed exchange
    // inside the broadcast subtree, so a blanket no-ENSURE_REQUIREMENTS
    // assert is no longer the right pin.)
    val sweepLines = plan.linesIterator.toVector
    val finalFold = sweepLines.indexWhere(_.contains("functions=[topk_structs"))
    assert(finalFold >= 0 && finalFold + 1 < sweepLines.size &&
      sweepLines(finalFold + 1).contains("partial_topk_structs"),
      s"broadcast-case folds must fuse into one stage:\n$plan")
    assert(plan.contains("REPARTITION_BY_COL"),
      s"sweep lost the explicit point repartition (parallelism would be " +
        s"the scan's split count):\n$plan")
    // the candidate stream must not window; the only permitted window is
    // the dominance prune's _bin-keyed threshold pass on the interval side
    val windowLines = plan.linesIterator.filter(l =>
      l.contains("WindowGroupLimit") || l.trim.startsWith("Window") ||
        l.trim.startsWith("+- Window")).toVector
    assert(windowLines.forall(_.contains("_bin")),
      s"sweep windowed something other than the interval-side prune:\n$plan")
    // shuffled case (interval side past any broadcast): the fold splits
    // partial+final around a point-key exchange that carries ONLY the
    // k-bounded partial buffers
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val shuffled = RangeJoin.pointInIntervalTopKSweep(pts, ivs, "d", "lo",
        "hi", 7, Seq("pt_id"), rank, 3)
      assert(pairs(shuffled) == pairs(win))
      val p2 = shuffled.queryExecution.executedPlan.toString
      assert(!p2.contains("BroadcastExchange"), s"broadcast is off:\n$p2")
      assert(p2.linesIterator.count(_.contains("partial_topk_structs")) >= 1,
        s"shuffled-case fold must partial-aggregate map-side:\n$p2")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("range-join top-k dominance prune: drops only never-top-k bin rows") {
    // ---- tie semantics, hand-built: bin 0 is days 0..6 (binDays=7) ----
    // four intervals FULLY covering bin 0 with IDENTICAL order keys
    // (rank, lo, hi all equal): the k-th full-cover threshold equals
    // their shared key, and a tie is not strictly worse — all four must
    // survive the prune. A fifth, worse-ranked full-cover must be
    // dropped for bin 0 (k strictly better full-covers exist), and a
    // short interval that never fully covers any bin must survive even
    // with the worst rank.
    val d0 = lit("1970-01-01").cast("date")
    val tied = Seq(
      (1L, -1, 8, 1), (2L, -1, 8, 1), (3L, -1, 8, 1), (4L, -1, 8, 1),
      (5L, -1, 8, 2),  // full-cover, strictly worse than 4 tied covers
      (6L, 2, 3, 9)    // short overlap of bin 0, dominated by the covers
    ).toDF("iv_id", "s", "e", "rk")
      .select(col("iv_id"), date_add(d0, col("s")).as("lo"),
        date_add(d0, col("e")).as("hi"), col("rk"))
    val tiedPruned = RangeJoin.pruneDominatedBins(
      RangeJoin.binnedIntervals(tied, "lo", "hi", 7),
      "lo", "hi", 7, col("rk"), 3)
      .select("iv_id", "_bin").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Seq(1L, 2L, 3L, 4L).forall(i => tiedPruned.contains((i, 0L))),
      s"ties at the threshold must be kept: $tiedPruned")
    assert(!tiedPruned.contains((5L, 0L)),
      s"a strictly dominated full-cover must be dropped: $tiedPruned")
    assert(!tiedPruned.contains((6L, 0L)),
      s"a worse-ranked overlap of a thresholded bin must be dropped: " +
        s"$tiedPruned")
    // bins 0's neighbors have no 3 full-covers (the spans only brush
    // them), so NOTHING may be pruned there — iv 5 keeps its bin -1/1
    // rows even though it lost bin 0
    assert(tiedPruned.contains((5L, -1L)) && tiedPruned.contains((5L, 1L)),
      s"prune must be per-bin, not per-interval: $tiedPruned")
    // with k above the full-cover count nothing is dominated anywhere
    val loosePruned = RangeJoin.pruneDominatedBins(
      RangeJoin.binnedIntervals(tied, "lo", "hi", 7),
      "lo", "hi", 7, col("rk"), 6)
      .select("iv_id", "_bin").count()
    assert(loosePruned ==
      RangeJoin.binnedIntervals(tied, "lo", "hi", 7).count(),
      "k above the full-cover count must prune nothing")

    // ---- equivalence on a dense pseudo-random mix (long spans that
    // full-cover many bins, short spans that never do, colliding ranks
    // made total by iv_id): pruned window and sweep forms must equal a
    // naive cross-join top-k computed with no bins and no prune ----
    val rnd = new scala.util.Random(7)
    val ivs = (1L to 400L).map { i =>
      val start = rnd.nextInt(120)
      val span = if (i % 3 == 0) rnd.nextInt(5) else 20 + rnd.nextInt(40)
      (i, start, start + span, (i % 25))
    }.toDF("iv_id", "s", "e", "rk")
      .select(col("iv_id"), date_add(d0, col("s")).as("lo"),
        date_add(d0, col("e")).as("hi"), col("rk"))
    val pts = (1L to 300L).map(p => (p, rnd.nextInt(160) - 10))
      .toDF("pt_id", "pd")
      .select(col("pt_id"), date_add(d0, col("pd")).as("d"))
    val rank = struct(col("rk"), col("iv_id")) // iv_id makes it total
    def kept(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("pt_id", "iv_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val win = kept(RangeJoin.pointInIntervalTopK(pts, ivs, "d", "lo", "hi",
      7, Seq("pt_id"), rank, 3))
    val swp = kept(RangeJoin.pointInIntervalTopKSweep(pts, ivs, "d", "lo",
      "hi", 7, Seq("pt_id"), rank, 3))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("pt_id")
      .orderBy(struct(col("rk"), col("iv_id")).asc, col("lo").asc, col("hi").asc)
    val naive = kept(pts.join(ivs, col("d").between(col("lo"), col("hi")))
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= 3))
    assert(win == naive, "pruned window form diverged from the naive top-k")
    assert(swp == naive, "pruned sweep form diverged from the naive top-k")

    // ---- and the prune must actually bite on this dense mix (long
    // overlapping spans pile ≥ k full-covers into most bins) ----
    val ib = RangeJoin.binnedIntervals(ivs, "lo", "hi", 7)
    val prunedN = RangeJoin.pruneDominatedBins(ib, "lo", "hi", 7, rank, 3)
      .count()
    assert(prunedN < ib.count() / 2,
      s"prune kept $prunedN of ${ib.count()} bin rows — not biting")
  }

  test("range-join top-k prune density gate: sparse skips, dense prunes, same answer") {
    // The round-21 gate: the prune's threshold pass is a fixed cost that
    // only pays in the densification regime, so it must be SKIPPED when
    // the interval side has too few full-covers per spanned bin (the
    // driver's r20 sf0.1 sweep measured the unconditional prune at
    // 0.32-0.66x) and KEPT when bins pile up covers (the 10x artifact's
    // halved candidate stream). Observable: the prune's _bin-keyed
    // threshold window is the only Window either top-k form ever plans,
    // so its presence/absence in the executed plan IS the decision.
    val d0 = lit("1970-01-01").cast("date")
    val rnd = new scala.util.Random(13)
    def windowed(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.linesIterator
        .exists(l => (l.contains("WindowGroupLimit") ||
          l.trim.startsWith("Window") || l.trim.startsWith("+- Window")) &&
          l.contains("_bin"))
    def naive(pts: org.apache.spark.sql.DataFrame,
        ivs: org.apache.spark.sql.DataFrame,
        rank: org.apache.spark.sql.Column): Set[(Long, Long)] = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("pt_id")
        .orderBy(rank.asc, col("lo").asc, col("hi").asc)
      pts.join(ivs, col("d").between(col("lo"), col("hi")))
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= 3)
        .select("pt_id", "iv_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    def kept(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("pt_id", "iv_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pts = (1L to 150L).map(p => (p, rnd.nextInt(130) - 5))
      .toDF("pt_id", "pd")
      .select(col("pt_id"), date_add(d0, col("pd")).as("d"))
    // SPARSE: a handful of spans, ~0.3 full-covers per spanned bin —
    // far under the gate's 4k covers/bin: the prune must NOT plan
    val sparse = (1L to 10L).map(i => (i, (i * 11 % 60).toInt))
      .toDF("iv_id", "s")
      .select(col("iv_id"), date_add(d0, col("s")).as("lo"),
        date_add(d0, col("s") + 9).as("hi"), (col("iv_id") % 4).as("rk"))
    val rank = struct(col("rk"), col("iv_id"))
    val sparseWin = RangeJoin.pointInIntervalTopK(pts, sparse, "d", "lo",
      "hi", 7, Seq("pt_id"), rank, 3)
    val sparseSwp = RangeJoin.pointInIntervalTopKSweep(pts, sparse, "d",
      "lo", "hi", 7, Seq("pt_id"), rank, 3)
    assert(!windowed(sparseWin),
      "sparse interval side must skip the dominance prune (window form)")
    assert(!windowed(sparseSwp),
      "sparse interval side must skip the dominance prune (sweep form)")
    assert(kept(sparseWin) == naive(pts, sparse, rank))
    assert(kept(sparseSwp) == naive(pts, sparse, rank))
    // DENSE: many long overlapping spans (the densification regime) —
    // covers per bin well past the gate: the prune must plan, and the
    // answer must still match the naive top-k
    val dense = (1L to 300L).map { i =>
      val s = rnd.nextInt(100)
      (i, s, s + 25 + rnd.nextInt(30))
    }.toDF("iv_id", "s", "e")
      .select(col("iv_id"), date_add(d0, col("s")).as("lo"),
        date_add(d0, col("e")).as("hi"), (col("iv_id") % 4).as("rk"))
    val denseWin = RangeJoin.pointInIntervalTopK(pts, dense, "d", "lo",
      "hi", 7, Seq("pt_id"), rank, 3)
    val denseSwp = RangeJoin.pointInIntervalTopKSweep(pts, dense, "d",
      "lo", "hi", 7, Seq("pt_id"), rank, 3)
    assert(windowed(denseWin),
      "dense interval side must keep the dominance prune (window form)")
    assert(windowed(denseSwp),
      "dense interval side must keep the dominance prune (sweep form)")
    assert(kept(denseWin) == naive(pts, dense, rank))
    assert(kept(denseSwp) == naive(pts, dense, rank))
    // a NON-DETERMINISTIC rank must veto the prune even on the dense
    // side: the threshold pass would draw rank values independently of
    // the final ordering and could drop rows that draw into the top-k
    val randRank = RangeJoin.pointInIntervalTopK(pts, dense, "d", "lo",
      "hi", 7, Seq("pt_id"), rand(19), 3)
    assert(!windowed(randRank),
      "non-deterministic rank must veto the dominance prune")
  }

  test("range-join stab stats: equals the enumerate-then-reduce aggregates") {
    val d0 = lit("1970-01-01").cast("date")
    // interval mix: long overlapping spans, short spans, an EMPTY
    // interval (hi < lo, must match nothing), duplicated intervals
    val rnd = new scala.util.Random(11)
    val ivRows = (1L to 120L).map { i =>
      val s = rnd.nextInt(90)
      val span = if (i % 4 == 0) rnd.nextInt(3) else 10 + rnd.nextInt(30)
      (s, s + span)
    } ++ Seq((50, 40), (20, 45), (20, 45)) // empty + exact duplicates
    val ivs = ivRows.toDF("s", "e")
      .select(date_add(d0, col("s")).as("lo"), date_add(d0, col("e")).as("hi"))
    // points: inside, before and after all intervals, plus DUPLICATE
    // identical rows (the multiplicity semantics under test)
    val ptRows = (1L to 200L).map(p => (p, rnd.nextInt(140) - 10)) ++
      Seq((900L, 30), (900L, 30), (900L, 30)) // 3 identical rows
    val pts = ptRows.toDF("pt_id", "pd")
      .select(col("pt_id"), date_add(d0, col("pd")).as("d"))
    val fast = RangeJoin.pointInIntervalStabStats(pts, ivs, "d", "lo", "hi")
      .select(col("pt_id"), col("d"), col("n_iv"),
        col("lo_min_days"), col("hi_max_days"))
    val slow = RangeJoin.pointInIntervalAgg(pts, ivs, "d", "lo", "hi", 7, Seq(
        count(lit(1)).as("n_iv"),
        min(datediff(col("lo"), d0)).as("lo_min_days"),
        max(datediff(col("hi"), d0)).as("hi_max_days")))
      .select(col("pt_id"), col("d"), col("n_iv"),
        col("lo_min_days"), col("hi_max_days"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getDate(1).toString, r.getLong(2),
        r.getInt(3), r.getInt(4))).toSet
    val f = rows(fast); val s = rows(slow)
    assert(f == s, s"stab stats diverged:\nfast ${f.diff(s)}\nslow ${s.diff(f)}")
    // the duplicated point rows merged into ONE row with multiplied count
    val dup = f.filter(_._1 == 900L)
    assert(dup.size == 1 && dup.head._3 % 3 == 0 && dup.head._3 > 0,
      s"duplicate point rows must merge with multiplied count: $dup")
  }

  test("range-join prefix agg: equals the enumerate-then-reduce interval sums") {
    val d0 = lit("1970-01-01").cast("date")
    val rnd = new scala.util.Random(13)
    // intervals: overlapping spans, an empty one, exact duplicates, and
    // one far future (zero matches — must be ABSENT from the reference
    // inner join and carry n_points = 0 in the prefix form)
    val ivRows = (1L to 80L).map { i =>
      val s = rnd.nextInt(90); (i, s, s + rnd.nextInt(25))
    } ++ Seq((900L, 50, 40), (901L, 20, 45), (901L, 20, 45), (902L, 5000, 5100))
    val ivs = ivRows.toDF("iv_id", "s", "e")
      .select(col("iv_id"), date_add(d0, col("s")).as("lo"),
        date_add(d0, col("e")).as("hi"))
    val pts = (1L to 300L).map(p => (rnd.nextInt(140) - 10, 1L + rnd.nextInt(1000)))
      .toDF("pd", "v")
      .select(date_add(d0, col("pd")).as("d"), col("v"))
    val fast = RangeJoin.pointInIntervalPrefixAgg(pts, ivs, "d", "lo", "hi",
        Seq("v"))
      .groupBy("iv_id")
      .agg(sum(col("n_points")).as("n"), sum(col("sum_v")).as("sv"))
      .filter(col("n") > 0)
    val slow = RangeJoin.pointInInterval(pts, ivs, "d", "lo", "hi", 7)
      .groupBy("iv_id")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val f = rows(fast); val sl = rows(slow)
    assert(f == sl, s"prefix agg diverged:\nfast ${f.diff(sl)}\nslow ${sl.diff(f)}")
    // the zero-match interval is present pre-filter with n_points = 0
    // (callers choose inner vs outer semantics), absent post-filter
    val zero = RangeJoin.pointInIntervalPrefixAgg(pts, ivs, "d", "lo", "hi",
        Seq("v")).filter(col("iv_id") === 902L).collect()
    assert(zero.length == 1 && zero.head.getAs[Long]("n_points") == 0L)
    assert(!f.exists(_._1 == 902L))
    // duplicated interval rows each carry full stats (join-fanout parity)
    assert(f.exists(_._1 == 901L))
  }

  test("sizeSweepFold sets the fold threshold to 2x keys/task, floored at stock") {
    import graft.tools.SessionConf
    val confKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val pts = (1L to 1001L).toDF("pt_id")
    // the rule is 2 x ceil(n/parts) with a 128 floor — and it must
    // actually LAND in the session conf (the executable part)
    SessionConf.restoring(spark) {
      val got = graft.operators.RangeJoin.sizeSweepFold(pts)
      assert(got == math.max(128L, 2L * ((1001L + parts - 1) / parts)))
      assert(spark.conf.get(confKey) == got.toString)
      // a tiny point set never sizes BELOW stock (the floor): other
      // object aggs in the session keep at least default behavior
      assert(graft.operators.RangeJoin.sizeSweepFold((1L to 3L).toDF("p")) == 128L)
    }
    // SessionConf.restoring unwound the rule's session mutation: the
    // conf is back to whatever the suite session had before
    val before = spark.conf.getOption(confKey)
    SessionConf.restoring(spark) {
      spark.conf.set(confKey, "999999")
      spark.conf.set("spark.sql.graft.test.ephemeral", "x") // added key
    }
    assert(spark.conf.getOption(confKey) == before,
      "restoring must reset a changed conf")
    assert(spark.conf.getOption("spark.sql.graft.test.ephemeral").isEmpty,
      "restoring must unset an added conf")
    // restore runs even when the block throws (the harness path: a
    // failed query must not leave its tuning behind)
    intercept[RuntimeException](SessionConf.restoring(spark) {
      spark.conf.set(confKey, "7"); throw new RuntimeException("boom")
    })
    assert(spark.conf.getOption(confKey) == before)
  }

  test("range join per-point aggregate cure matches the naive reduction") {
    val ivs = (1L to 6L).map(i =>
      (i, f"2024-01-${i}%02d", "2024-03-01")).toDF("iv_id", "lo_s", "hi_s")
      .select(col("iv_id"), to_date(col("lo_s")).as("lo"), to_date(col("hi_s")).as("hi"))
    val pts = Seq((0L, "2024-02-01"), (1L, "2024-01-03"), (2L, "2023-01-01"))
      .toDF("pt_id", "d_s")
      .select(col("pt_id"), to_date(col("d_s")).as("d"))
    val out = RangeJoin.pointInIntervalAgg(pts, ivs, "d", "lo", "hi", 7,
        Seq(count(lit(1)).as("n_iv"), min(col("lo")).as("lo_min")))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDate(3).toString))).toMap
    val naive = pts.crossJoin(ivs)
      .filter(col("d").between(col("lo"), col("hi")))
      .groupBy("pt_id").agg(count(lit(1)).as("n"), min(col("lo")).as("lo"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDate(2).toString))).toMap
    assert(out == naive)
    assert(!out.contains(2L)) // unmatched points are absent, not null-padded
  }

  test("range join: rejects colliding column names") {
    val x = Seq((1L, "2024-01-01")).toDF("id", "d_s")
      .select(col("id"), to_date(col("d_s")).as("d"))
    val y = Seq((2L, "2024-01-01", "2024-01-02")).toDF("id", "lo_s", "hi_s")
      .select(col("id"), to_date(col("lo_s")).as("lo"), to_date(col("hi_s")).as("hi"))
    intercept[IllegalArgumentException] {
      RangeJoin.pointInInterval(x, y, "d", "lo", "hi", 7)
    }
  }

  test("contamination: leaked eval docs flagged, clean and short docs not") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val eval = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // full leak
      (20L, "totally novel words never seen anywhere at all"), // clean
      (30L, "too short")                             // < k words
    ).toDF("doc_id", "text")
    val out = Dedup.contamination(train, eval, "doc_id", "text", 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(10L) == ((2L, 2L))) // both 5-grams leaked
    assert(out(20L)._1 > 0 && out(20L)._2 == 0L)
    assert(out(30L) == ((0L, 0L)))
  }

  test("unigram LM score: hand-computed smoothed logprob") {
    val corpus = Seq((0L, "a a b")).toDF("doc_id", "text")
    val row = TextAnalysis.unigramLogProb(corpus, "doc_id", "text")
      .collect().head
    // freq: a=2, b=1; T=3, V=2; p(a)=3/5, p(b)=2/5
    val expected = (2 * math.log(3.0 / 5) + math.log(2.0 / 5)) / 3
    assert(row.getLong(1) == 3L)
    assert(math.abs(row.getDouble(2) - expected) < 1e-6)
  }

  test("tf-idf: doc-unique terms outrank ubiquitous ones") {
    val corpus = Seq(
      (0L, "spark spark catalyst shuffle the the"),
      (1L, "python pandas pandas the the"),
      (2L, "rust tokio tokio the the")
    ).toDF("doc_id", "text")
    val top = TextAnalysis.tfIdfTopTerms(corpus, "doc_id", "text", 2)
    val rows = top.collect()
      .map(r => (r.getLong(0), r.getLong(5)) -> r.getString(1)).toMap
    // at equal tf, "the" (in every doc -> idf floor 1) loses to the
    // doc-specific terms whose idf is ln(2)+1
    assert(rows((0L, 1L)) == "spark")
    assert(rows((1L, 1L)) == "pandas")
    assert(rows((2L, 1L)) == "tokio")
    val all = top.collect()
    assert(all.groupBy(_.getLong(0)).forall(_._2.length == 2))
  }

  test("repetition metrics: repeated text flagged, varied text passes") {
    val corpus = Seq(
      (0L, "buy now buy now buy now buy now buy now"),  // pure repetition
      (1L, "the quick brown fox jumps over a lazy dog") // all-distinct words
    ).toDF("doc_id", "text")
    val m = TextAnalysis.repetitionMetrics(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 0: 10 words, 2 distinct -> dup 0.8; bigrams 9, "buy now" x5 ->
    // top 5/9; trigrams 8, every one occurs >=3 times -> dup 1.0
    assert(m(0L).getDouble(2) == 0.8)
    assert(math.abs(m(0L).getDouble(3) - 5.0 / 9) < 1e-6)
    assert(m(0L).getDouble(4) == 1.0)
    assert(m(0L).getBoolean(5))
    // doc 1: 9 distinct words, no repeated gram of any order
    assert(m(1L).getDouble(2) == 0.0 && m(1L).getDouble(3) > 0.0)
    assert(m(1L).getDouble(4) == 0.0)
    assert(!m(1L).getBoolean(5))
  }

  test("count-min: never under-estimates; tight without collisions") {
    val words = Seq.fill(100)("alpha") ++ Seq.fill(10)("beta") ++ Seq("gamma")
    val df = words.toDF("w")
    // roomy sketch: 1024 buckets for 3 items -> no collisions, est exact
    val roomy = Sketch.countMinEstimate(df.distinct(), "w",
      Sketch.countMin(df, col("w")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(roomy == Map("alpha" -> 100L, "beta" -> 10L, "gamma" -> 1L))
    // cramped sketch: width 2 forces collisions -> over-estimates only;
    // the sketch carries its own depth/width so the query side can't drift
    val tight = Sketch.countMinEstimate(df.distinct(), "w",
      Sketch.countMin(df, col("w"), depth = 2, width = 2))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tight("alpha") >= 100L && tight("beta") >= 10L && tight("gamma") >= 1L)
    // an item never inserted estimates from whatever shares its buckets —
    // present in the roomy sketch as 0 (empty buckets)
    val absent = Sketch.countMinEstimate(Seq("delta").toDF("w"), "w",
      Sketch.countMin(df, col("w")))
      .collect().head.getLong(1)
    assert(absent == 0L)
  }

  test("hist quantile: exact on bin edges, within binWidth elsewhere") {
    // 100 values 0..99, binWidth 1 -> every value its own bin: the
    // interpolated quantile is exact up to the in-bin linear ramp
    val df = (0 until 100).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val out = Sketch.histQuantile(df, col("grp"), col("v"), 1.0,
        Seq(0.5, 0.9, 1.0))
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    // q=0.5 -> target 50 -> bin 49 covers cum (49,50] -> est 49+1*(50-49)/1
    assert(out(0.5) == 50.0 && out(0.9) == 90.0 && out(1.0) == 100.0)
    // coarse bins: error bounded by binWidth
    val coarse = Sketch.histQuantile(df, col("grp"), col("v"), 10.0, Seq(0.5))
      .collect().head.getDouble(2)
    assert(math.abs(coarse - 50.0) <= 10.0)
    // two groups stay independent
    val two = df.union(Seq(("h", 1000.0), ("h", 2000.0)).toDF("grp", "v"))
    val m = Sketch.histQuantile(two, col("grp"), col("v"), 1.0, Seq(1.0))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(m("g") == 100.0 && m("h") == 2001.0)
  }

  test("pq: identical vectors share codes; adc finds the near cluster") {
    // two well-separated clusters in 8-dim space (m=2 subspaces of 4)
    def vec(base: Double, i: Int): Seq[Double] =
      (0 until 8).map(d => base + 0.01 * i + 0.001 * d)
    val rows = (0L until 20L).map(i => (i, vec(0.0, i.toInt))) ++
      (20L until 40L).map(i => (i, vec(100.0, i.toInt - 20)))
    val db = rows.toDF("vec_id", "embedding")
    val cb = Pq.codebooks(db, "vec_id", "embedding", 2, 4)
    assert(cb.count() == 2 * 4 * 4) // sub x cid x j
    val codes = Pq.encode(db, "vec_id", "embedding", 2, cb)
      .groupBy("id").agg(sort_array(collect_list(concat_ws(":", col("sub"), col("cid")))).as("cs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // cross-cluster discrimination: a far vector never shares the full
    // code of a near one (init centroids all sit inside cluster A, so A
    // members may spread across codewords — but B is far from all of them)
    assert(codes(0L) != codes(20L))
    assert(codes(20L) == codes(21L)) // same cluster, same nearest codewords
    val top = Pq.adcTopK(db, db.filter(col("vec_id").isin(0L, 25L)),
      "vec_id", "embedding", 2, 4, 5)
    val byQ = top.collect().groupBy(_.getLong(0))
    // every neighbor of query 0 is in cluster A, of query 25 in cluster B
    assert(byQ(0L).forall(_.getLong(1) < 20L))
    assert(byQ(25L).forall(r => r.getLong(1) >= 20L && r.getLong(1) != 25L))
    assert(byQ(0L).map(_.getLong(3)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("bloom-pruned join: identical to the plain join, actually prunes") {
    val fact = (0L until 2000L).map(k => (k, s"v$k")).toDF("fk", "payload")
    // dim matches only multiples of 100 -> 20 of 2000 fact rows survive
    val dim = (0L until 2000L by 100L).map(k => (k, s"d$k")).toDF("dk", "name")
    val got = Bloom.prunedJoin(fact, dim, "fk", "dk", expectedItems = 32L)
      .select("fk", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = fact.join(dim, col("fk") === col("dk"))
      .select("fk", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want && want.size == 20)
    // the pruning filter really cuts the fact side (fpp 3% of 1980 false
    // candidates ~ 60; even 10x that stays far under the full 2000)
    val kept = Bloom.prune(fact, dim, "fk", "dk", expectedItems = 32L).count()
    assert(kept >= 20 && kept < 1000, s"bloom kept $kept of 2000")
    // probe runs as the native predicate, not a UDF or a join (asserted
    // on the analyzed plan: over a local relation the optimizer constant-
    // folds the whole filter into the LocalTableScan, which is itself
    // evidence the predicate is a first-class foldable expression)
    val plan = Bloom.prune(fact, dim, "fk", "dk", expectedItems = 32L)
      .queryExecution.analyzed.toString
    assert(plan.contains("might_contain"))
    // empty dim short-circuits to an empty (but same-schema) result
    assert(Bloom.prunedJoin(fact, dim.filter(col("dk") < 0), "fk", "dk", 32L)
      .count() == 0)
    // mixed key types hash through the common type: an INT fact key
    // against a BIGINT dim key must keep all true matches (xxhash64
    // dispatches on type, so hashing the raw columns would prune them)
    val factInt = fact.withColumn("fk", col("fk").cast("int"))
    assert(Bloom.prunedJoin(factInt, dim, "fk", "dk", 32L).count() == 20)
  }

  test("pack sequences: blocks are exactly seqLen, conservation, doc spans") {
    // 10 docs with 100 tokens each = 1000 tokens -> blocks of 512:
    // block 0 = 512 tokens (docs 0..5), block 1 = 488 tokens (docs 5..9)
    val docs = (0L until 10L).map(i => (i, Seq.fill(100)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Packing.packSequences(docs, "doc_id",
      TextAnalysis.tokenCount(col("text")), 512).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(out.map(r => r.getLong(2)).sum == 1000L)       // token conservation
    assert(out.head.getLong(2) == 512L)                    // full first block
    assert(out.head.getLong(3) == 0L && out.head.getLong(4) == 5L)
    assert(out(1).getLong(3) == 5L && out(1).getLong(4) == 9L) // doc 5 spans
    // a doc longer than seqLen spans multiple blocks on its own
    val big = Seq((0L, Seq.fill(1200)("w").mkString(" "))).toDF("doc_id", "text")
    val spans = Packing.packSequences(big, "doc_id",
      TextAnalysis.tokenCount(col("text")), 512).collect()
    assert(spans.length == 3 && spans.forall(_.getLong(1) == 1L))
    assert(spans.map(_.getLong(2)).toSeq == Seq(512L, 512L, 176L))
  }

  test("pack sequences: prefix sum matches a single-threaded fold across buckets") {
    // irregular token counts and sparse non-contiguous ids exercise the
    // two-phase distributed scan against the obvious sequential answer
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map(i =>
      (i * 7L + (i % 3), Seq.fill(1 + rnd.nextInt(40))("t").mkString(" ")))
    val df = rows.toDF("doc_id", "text").repartition(8)
    val out = Packing.packSequences(df, "doc_id",
        TextAnalysis.tokenCount(col("text")), 97, buckets = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // sequential oracle
    val toks = rows.sortBy(_._1).map { case (id, t) => (id, t.split(" ").length.toLong) }
    var cum = 0L
    val exp = scala.collection.mutable.Map[Long, (Long, Long)]()
    toks.foreach { case (_, n) =>
      val lo = cum; cum += n
      ((lo / 97) to ((cum - 1) / 97)).foreach { b =>
        val tk = math.min(cum, (b + 1) * 97) - math.max(lo, b * 97)
        val (d0, t0) = exp.getOrElse(b, (0L, 0L)); exp(b) = (d0 + 1, t0 + tk)
      }
    }
    assert(out.toSeq == exp.toSeq.sortBy(_._1).map { case (b, (d, t)) => (b, d, t) })
  }

  test("edit-distance pairs: length blocking finds exactly the close pairs") {
    val rows = Seq((1L, "kitten"), (2L, "sitten"), (3L, "sittin"),
      (4L, "abc"), (5L, "abcd"), (6L, "xyz"), (7L, "completely unrelated"))
      .toDF("id", "name")
    def pairs(d: Int) = Fuzzy.editDistancePairs(rows, "id", "name", d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // d=1: kitten~sitten, sitten~sittin, abc~abcd — and nothing else
    assert(pairs(1) == Set((1L, 2L, 1), (2L, 3L, 1), (4L, 5L, 1)))
    // d=2 additionally reaches kitten~sittin (two substitutions)
    assert(pairs(2).map(p => (p._1, p._2)) ==
      Set((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L)))
    // exact duplicates surface at distance 0
    val dups = Fuzzy.editDistancePairs(
      Seq((1L, "same"), (2L, "same")).toDF("id", "name"), "id", "name", 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(dups.toSeq == Seq((1L, 2L, 0)))
    // extra block columns tighten the key: cross-source pairs vanish
    val sourced = Seq((1L, "kitten", "web"), (2L, "sitten", "books"))
      .toDF("id", "name", "src")
    assert(Fuzzy.editDistancePairs(sourced, "id", "name", 1, Seq("src")).count() == 0)
  }

  test("deletion-neighborhood pairs: finds exactly the close pairs, incl. fixed-length corpora") {
    val rows = Seq((1L, "kitten"), (2L, "sitten"), (3L, "sittin"),
      (4L, "abc"), (5L, "abcd"), (6L, "xyz"), (7L, "completely unrelated"))
      .toDF("id", "name")
    def pairs(d: Int) = Fuzzy.deletePairs(rows, "id", "name", d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs(1) == Set((1L, 2L, 1), (2L, 3L, 1), (4L, 5L, 1)))
    assert(pairs(2).map(p => (p._1, p._2)) ==
      Set((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L)))
    // d=0 degenerates to exact-duplicate pairs (identity variant only)
    val dups = Fuzzy.deletePairs(
      Seq((1L, "same"), (2L, "same"), (3L, "other")).toDF("id", "name"),
      "id", "name", 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(dups.toSeq == Seq((1L, 2L, 0)))
    // the motivating case for the blocking: a fixed-format corpus where
    // every string has the same length (length bands are one bucket) —
    // content keys must still isolate the single near pair
    val fixed = (0 until 50).map(i => (i.toLong, f"Code#$i%04d-X")).toDF("id", "name")
    val out = Fuzzy.deletePairs(fixed, "id", "name", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // distance-1 pairs among zero-padded serials: those differing in one
    // digit position, e.g. 0001~0002 (sub), 0001~0011, ... compute oracle
    val exp = (for {
      a <- 0 until 50; b <- a + 1 until 50
      if f"$a%04d".zip(f"$b%04d").count { case (x, y) => x != y } == 1
    } yield (a.toLong, b.toLong)).toSet
    assert(out == exp)
  }

  test("temperature sampling: rarest source keeps all, head downsampled, deterministic") {
    val df = ((0 until 900).map(i => (i.toLong, "big")) ++
      (900 until 1000).map(i => (i.toLong, "small")))
      .toDF("doc_id", "source")
    val thr = Sampling.temperatureThresholds(df, "source", 2.0)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(3)))).toMap
    assert(thr.size == 2)
    // rarest source: rate 1 -> thr = 1e6; head: (p_s/p_b)^(1/2) = 1/3
    assert(thr("small")._2 == 1000000L)
    assert(thr("big")._2 == math.round(math.sqrt(100.0 / 900.0) * 1e6))
    val kept = Sampling.temperatureSample(df, "doc_id", "source", 2.0)
    val bySrc = kept.groupBy("source").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(bySrc("small") == 100L)                 // all of the tail kept
    val expectedBig = 900.0 / 3.0
    assert(math.abs(bySrc("big") - expectedBig) < expectedBig * 0.35,
      s"big kept ${bySrc("big")}, expected ~$expectedBig")
    // membership is a pure function of the key: rerun identical
    val again = Sampling.temperatureSample(df, "doc_id", "source", 2.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == kept.select("doc_id").collect().map(_.getLong(0)).toSet)
    // tau = 1 is a no-op (every threshold is the full bucket space)
    assert(Sampling.temperatureSample(df, "doc_id", "source", 1.0).count() == 1000L)
  }
}
