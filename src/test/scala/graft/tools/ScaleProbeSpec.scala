package graft.tools

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Guards for the scale probe's MEASUREMENT math and growth-model
  * invariants: these feed the committed exponents in docs/SCALING.md,
  * and a silent regression here corrupts future scaling data rather
  * than failing a query (the class the round-11 advice items were
  * about: marker short-circuits, stride collisions, fit-over-fewer-
  * points).
  */
class ScaleProbeSpec extends SparkSpec {
  import spark.implicits._

  test("exponent: exact power laws recover their slope; degenerate series refuse") {
    def fit(pts: (Int, Double)*): Option[Double] = ScaleProbe.exponent(pts)
    // t = c * n^k for k in {0.5, 1, 2} on the probe's own scale points
    Seq(0.5, 1.0, 2.0).foreach { k =>
      val pts = Seq(1, 3, 10, 30, 100).map(n => (n, 2.5 * math.pow(n, k)))
      val e = fit(pts: _*).get
      assert(math.abs(e - k) < 1e-9, s"k=$k fit=$e")
    }
    // failed points (-1) and zero-times are excluded from the fit,
    // never log'd into NaN
    assert(math.abs(fit((1, 2.0), (10, -1.0), (100, 20.0)).get - 0.5) < 1e-9)
    assert(fit((1, 2.0), (10, -1.0)).isEmpty) // one valid point: no fit
    assert(fit((1, 2.0)).isEmpty)
    assert(fit((1, 2.0), (1, 4.0)).isEmpty) // zero x-variance: no slope
  }

  test("copy transforms are deterministic and keep copies key-disjoint") {
    val docs = Seq((1L, "alpha beta", "en", "web", 10L),
      (2L, "gamma", "en", "web", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val a = ScaleProbe.copyTransform("documents", docs, 3).collect().toSeq
    val b = ScaleProbe.copyTransform("documents", docs, 3).collect().toSeq
    assert(a == b) // no RNG anywhere in the growth model
    // copy keys land in disjoint stride windows
    val ids = (0 until 3).flatMap(i =>
      ScaleProbe.copyTransform("documents", docs, i)
        .select("doc_id").collect().map(_.getLong(0)))
    assert(ids.distinct.size == ids.size)
  }

  test("supplier salt: cross-copy names stay >= 2 edits apart at equal within-copy structure") {
    val sup = Seq((1L, "Supplier#000000001"), (2L, "Supplier#000000002"))
      .toDF("s_suppkey", "s_name")
    def names(i: Int): Seq[String] =
      ScaleProbe.copyTransform("supplier", sup, i)
        .select("s_name").collect().map(_.getString(0)).toSeq
    val n0 = names(0); val n3 = names(3); val n7 = names(7)
    // within-copy structure identical: all names share one length per copy
    assert(n3.map(_.length).distinct.size == 1)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // cross-copy pairs (even of the SAME base name) exceed the f2
    // threshold of 1 — no synthetic cross-copy matches
    for (x <- n0 ++ n3; y <- n7) assert(lev(x, y) >= 2, s"$x ~ $y")
  }

  test("embedding scramble: within-copy cosines exact, cross-copy decorrelated") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L)
      .map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat), "l"))
      .toDF("vec_id", "embedding", "label")
    def emb(i: Int): Map[Long, Array[Float]] =
      ScaleProbe.copyTransform("embeddings", vecs, i)
        .collect().map(r => (r.getLong(0),
          r.getSeq[Float](1).toArray)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val (d, na, nb) = a.zip(b).foldLeft((0.0, 0.0, 0.0)) {
        case ((s, x2, y2), (x, y)) =>
          (s + x.toDouble * y, x2 + x.toDouble * x, y2 + y.toDouble * y)
      }
      d / math.sqrt(na * nb)
    }
    val e0 = emb(0); val e5 = emb(5)
    val stride = 5L * 10_000_000L
    // the scramble is an isometry: within-copy pairwise cosines match
    // copy 0's exactly (the near-dup/neighbor structure scales xN at
    // constant shape)
    for (i <- 0L until 5L; j <- (i + 1) until 5L)
      assert(math.abs(cos(e5(i + stride), e5(j + stride)) -
        cos(e0(i), e0(j))) < 1e-6)
    // cross-copy cosines are Gaussian-small, never the replica's 1.0
    val crossMax = (0L until 40L).map(i => cos(e0(i), e5(i + stride))).max
    assert(crossMax < 0.75, s"crossMax=$crossMax — replica cliff returning")
  }

  test("embedding scramble decorrelates across the FULL probed copy range") {
    // the r12 transform derived its shift from (7i mod dim) and its sign
    // from (i mod 2): period dim=64 in i, so copy 64 applied the IDENTICAL
    // transform as copy 0 and the 100x probes (copies 0..99) carried ~36
    // copies' worth of exact cross-copy replicas — cosine-1.0 pairs the
    // salt exists to prevent, silently inflating d5b/n5's 100x points
    // (r12 advice, medium). The hash-derived transform must decorrelate
    // every pair across the probed range, emphatically including the
    // old period's collisions (0 vs 64, 5 vs 69) and the range ends.
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 30L)
      .map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat), "l"))
      .toDF("vec_id", "embedding", "label")
    def emb(c: Int): Map[Long, Array[Float]] =
      ScaleProbe.copyTransform("embeddings", vecs, c)
        .collect().map(r => (r.getLong(0) % 10_000_000L,
          r.getSeq[Float](1).toArray)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val (d, na, nb) = a.zip(b).foldLeft((0.0, 0.0, 0.0)) {
        case ((s, x2, y2), (x, y)) =>
          (s + x.toDouble * y, x2 + x.toDouble * x, y2 + y.toDouble * y)
      }
      d / math.sqrt(na * nb)
    }
    val copiesProbed = Seq(0, 1, 5, 63, 64, 69, 99)
    val es = copiesProbed.map(c => c -> emb(c)).toMap
    for {
      a <- copiesProbed; b <- copiesProbed if a < b
    } {
      val pairMax = (0L until 30L).map(i => math.abs(cos(es(a)(i), es(b)(i)))).max
      assert(pairMax < 0.75,
        s"copies $a vs $b: max |cos|=$pairMax — transform collision " +
          "(the period-64 replica cliff)")
    }
  }

  test("every heavy-family table has a copy transform") {
    // every mapped table must have a growth transform (offset/salt) or
    // be a once-copied dim — anything else would sys.error mid-build
    val tables = ScaleProbe.tablesFor(graft.registry.Registry.heavy.map(_.name)).toSet
    val untransformable =
      tables -- ScaleProbe.offsetCols.keySet -- ScaleProbe.dimTables
    assert(untransformable.isEmpty,
      s"mapped tables without a copy transform: $untransformable")
    // a name outside the heavy family has no table mapping
    intercept[RuntimeException](ScaleProbe.tablesFor(Seq("q1_agg")))
  }

  test("ensureScaled builds xN tables, copies dims once, and completes incrementally") {
    val sfDir = java.nio.file.Files.createTempDirectory("graft_scale_spec_sf")
    val outRoot = java.nio.file.Files.createTempDirectory("graft_scale_spec_out")
      .resolve("scale").toString
    try {
      Seq((1L, "alpha beta", "en", "web", 10L), (2L, "gamma", "en", "web", 5L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
      Seq((0L, "AMERICA")).toDF("r_regionkey", "r_name")
        .write.mode("overwrite").parquet(s"$sfDir/region.parquet")
      val dir = ScaleProbe.ensureScaled(spark, sfDir.toString, 3, outRoot,
        Seq("documents"), dateShift = false)
      // x3 rows in disjoint key windows
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      assert(docs.count() == 6)
      assert(docs.select("doc_id").distinct().count() == 6)
      // marker records WHAT was built...
      def marker: Set[String] = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(dir, "_GRAFT_SCALE_OK")).asScala
          .map(_.trim).filter(_.nonEmpty).toSet
      }
      assert(marker == Set("documents:v1"))
      // ...so a later run needing MORE tables builds just the missing one
      // (the r11 short-circuit class: a bare existence check would skip)
      val dir2 = ScaleProbe.ensureScaled(spark, sfDir.toString, 3, outRoot,
        Seq("documents", "region"), dateShift = false)
      assert(dir2 == dir)
      assert(marker == Set("documents:v1", "region:v1"))
      // dims are copied ONCE, never unioned — a x3 dim would duplicate
      // join keys and multiply every match
      assert(spark.read.parquet(s"$dir/region.parquet").count() == 1)
      // a marker entry at another transform version — or a legacy
      // unversioned line — is STALE: the table rebuilds in place instead
      // of silently reusing data a superseded transform wrote (the r13
      // embedding-scramble fix would otherwise be undone by dir reuse)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_GRAFT_SCALE_OK"),
        "documents\nregion:v0".getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
      // plant stale content so the rebuild is observable, not inferred
      Seq((99L, "stale", "en", "web", 5L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val dir3 = ScaleProbe.ensureScaled(spark, sfDir.toString, 3, outRoot,
        Seq("documents", "region"), dateShift = false)
      assert(dir3 == dir)
      assert(marker == Set("documents:v1", "region:v1"))
      assert(spark.read.parquet(s"$dir/documents.parquet").count() == 6)
      assert(spark.read.parquet(s"$dir/region.parquet").count() == 1)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(sfDir.toFile)
      rm(new java.io.File(outRoot).getParentFile)
    }
  }

  test("dims never overlap the offset/union machinery") {
    assert(ScaleProbe.dimTables.intersect(ScaleProbe.offsetCols.keySet).isEmpty)
    // a dim reaching copyTransform is a wiring bug, not a silent union
    intercept[RuntimeException] {
      ScaleProbe.copyTransform("nation", Seq((1L, "x")).toDF("n_nationkey", "n_name"), 1)
    }
  }
}
