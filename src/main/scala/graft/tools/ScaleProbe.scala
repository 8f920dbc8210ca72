package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.registry.Registry

/** Dynamic scaling probe: measures how the heaviest BATCH paths behave
  * as data grows past the largest driver-provided scale factor, turning
  * the engine's "scales by design" plan assertions into observed data.
  *
  * The testdata is read-only and capped at sf0.1, so larger inputs are
  * SYNTHESIZED from it deterministically — each scaled table is the
  * union of N transformed copies of the sf0.1 original written once to
  * a scratch parquet dir (never under /root/testdata), and the probe
  * then runs the UNCHANGED registry queries against that
  * dir, so the measured plan is byte-identical to the graded one.
  *
  * Copy transforms preserve per-copy structure so the workload scales
  * ~linearly in rows rather than changing shape:
  *   - keys are offset per copy (doc_id/l_orderkey/o_orderkey +
  *     i*10M, l_suppkey/o_custkey/c_custkey + i*1M), so group counts
  *     scale ×N at constant group size — the way a bigger corpus
  *     actually grows;
  *   - document TEXT is salted per copy (every token suffixed "_ci"),
  *     because an exact replica of the corpus would make every doc an
  *     exact cross-copy duplicate: LSH bands would pair each doc with
  *     its N−1 clones and the near-dup pair count would grow ×N², a
  *     distribution cliff that measures the synthetic replication, not
  *     scaling. Salting makes cross-copy shingle sets disjoint while
  *     keeping every within-copy relationship (dup clusters, token
  *     counts, source mix) exactly as at sf0.1.
  *
  * Per query the probe reports min-of-reps seconds at each scale and
  * the least-squares slope of ln(time) vs ln(copies) — the observed
  * scaling exponent (1.0 = linear, ~1.1 ≈ n·log n at these sizes;
  * anything clearly above that names a problem). Results: one JSON
  * line on stdout; the committed analysis lives in docs/SCALING.md.
  *
  * Knobs (env): SPARK_GRAFT_SF_DIR (base, default sf0.1),
  * SPARK_GRAFT_SCALE_COPIES (default "3,10"), SPARK_GRAFT_SCALE_QUERIES
  * (default: the six heaviest distinct batch shapes),
  * SPARK_GRAFT_SCALE_OUT (scratch root, default /tmp/graft_scale),
  * SPARK_GRAFT_SCALE_REPS (default 2), SPARK_GRAFT_CPUS (default 32),
  * SPARK_GRAFT_ADVISORY_MB (AQE advisory partition size — the
  * spill-onset lever; see the main-body comment).
  *
  * A measurement tool, not part of any pipeline or the bench artifact.
  */
object ScaleProbe {

  /** Tables the probed queries read, with their per-copy transform.
    * Key offsets use strides far above any sf0.1 key range.
    */
  private val bigStride = 10_000_000L
  private val smallStride = 1_000_000L

  private def saltTokens(c: Column, i: Int): Column =
    if (i == 0) c else regexp_replace(c, "(\\S+)", "$1_c" + i)

  /** The columns each table's transform offsets, with their stride.
    * Strides must exceed the BASE data's key range — asserted against
    * the actual max before building, because SPARK_GRAFT_SF_DIR lets
    * the base be any SF: at sf>=2 l_orderkey already exceeds 10M, and a
    * silent collision would merge groups across copies and corrupt the
    * measured exponent without any visible failure.
    */
  private[tools] val offsetCols: Map[String, Seq[(String, Long)]] = Map(
    "documents" -> Seq("doc_id" -> bigStride),
    "lineitem" -> Seq("l_orderkey" -> bigStride, "l_suppkey" -> smallStride),
    "orders" -> Seq("o_orderkey" -> bigStride, "o_custkey" -> smallStride),
    "customer" -> Seq("c_custkey" -> smallStride),
    "supplier" -> Seq("s_suppkey" -> smallStride),
    "embeddings" -> Seq("vec_id" -> bigStride))

  /** Per-table TRANSFORM VERSION, recorded in the scaled-dir marker as
    * `table:vN`. Scaled scratch dirs outlive code changes (built once
    * under /tmp and reused across rounds), so a transform fix would
    * otherwise be silently undone by dir reuse: the r13 embedding
    * scramble fix (period-64 replica cliff) changed what
    * `copyTransform("embeddings", ...)` writes, but any dir built with
    * the OLD scramble still carried a valid-looking marker and both the
    * probe and Bench's SPARK_GRAFT_BENCH_SCALE mode would reuse it —
    * reintroducing the cross-copy cosine-1.0 contamination with no
    * visible failure. Bump a table's version WHENEVER its branch of
    * [[copyTransform]] changes what it writes; entries at another
    * version (including legacy unversioned lines) are treated as
    * missing and rebuilt in place.
    */
  private[tools] val transformVersion: Map[String, Int] =
    Map("embeddings" -> 2).withDefaultValue(1)

  /** Dimension tables copied ONCE into every scaled dir, never unioned:
    * the fact transforms preserve their foreign keys (s_nationkey is
    * untouched by the supplier salt), so ×N facts over 1× dims is the
    * correct growth model — a dim replicated ×N would duplicate join
    * keys and multiply every match.
    */
  private[tools] val dimTables: Set[String] = Set("nation", "region")

  /** Days each copy's dates shift under the date-shift variant: larger
    * than the base data's ~7-year date span, so copies occupy disjoint
    * date windows.
    */
  private[tools] val dateShiftDays = 4000L

  /** Per-copy transform. `dateShift` selects the growth model for the
    * TIME axis: false (default, the rounds-11 model) keeps all copies
    * inside the base date window — volume densifies per-date — while
    * true shifts copy i's dates by i·[[dateShiftDays]], modeling growth
    * that EXTENDS the time axis (new data arrives with new dates). The
    * distinction decides whether interval/point workloads are
    * inherently quadratic: ×N intervals densified into a fixed window
    * give every point ×N matches (candidate pairs ∝ N² — a property of
    * the workload, not the plan), whereas date-extended copies keep
    * per-point multiplicity constant. j13's probe runs both
    * (docs/SCALING.md round-12 section).
    */
  private[tools] def copyTransform(table: String, df: DataFrame, i: Int,
      dateShift: Boolean = false): DataFrame = {
    def shifted(d: DataFrame, c: String): DataFrame =
      if (!dateShift || i == 0) d
      else d.withColumn(c,
        expr(s"timestampadd(DAY, ${i * dateShiftDays}, $c)"))
    table match {
      case "documents" =>
        val salted = saltTokens(col("text"), i)
        df.select((col("doc_id") + lit(i * bigStride)).as("doc_id"),
          salted.as("text"), col("lang"), col("source"),
          length(salted).cast("long").as("n_chars"))
      case "lineitem" =>
        shifted(df, "l_shipdate")
          .withColumn("l_orderkey", col("l_orderkey") + lit(i * bigStride))
          .withColumn("l_suppkey", col("l_suppkey") + lit(i * smallStride))
      case "orders" =>
        shifted(df, "o_orderdate")
          .withColumn("o_orderkey", col("o_orderkey") + lit(i * bigStride))
          .withColumn("o_custkey", col("o_custkey") + lit(i * smallStride))
      case "customer" =>
        df.withColumn("c_custkey", col("c_custkey") + lit(i * smallStride))
      case "supplier" =>
        // names get a per-copy suffix whose pairwise cross-copy edit
        // distance exceeds the f2 threshold (1): "_3x3" vs "_7x7" differ
        // in two positions, and suffixes of different digit counts differ
        // in length by 2. An unsalted replica would pair every name with
        // its N-1 identical clones (output xN^2 — the replica cliff);
        // the salt keeps within-copy structure identical while the
        // LENGTH distribution stays as degenerate as TPC-H's fixed-format
        // names really are (all 18 chars per copy), which is exactly the
        // adversarial case for length-band blocking.
        df.withColumn("s_suppkey", col("s_suppkey") + lit(i * smallStride))
          .withColumn("s_name",
            if (i == 0) col("s_name")
            else concat(col("s_name"), lit(s"_${i}x$i")))
      case "embeddings" =>
        // per-copy ORTHOGONAL scramble (cyclic coordinate shift + a +-1
        // sign diagonal): within-copy pairwise cosines are preserved
        // exactly for ANY shift/sign choice (permutation x diagonal is
        // an isometry — the near-dup/neighbor structure scales xN at
        // constant shape), while cross-copy vectors decorrelate to
        // ~N(0, 1/dim) cosines — a replica corpus would make every
        // vector cosine-1.0 with its N-1 clones, the same xN^2 cliff as
        // unsalted text. Shift AND the full per-coordinate sign vector
        // are murmur3-derived from (copy, coordinate): the original
        // (7i mod dim, i mod 2) pair had period dim in i, so at dim=64
        // copies 64..99 exactly replicated copies 0..35 — the replica
        // cliff returning silently at the 100x probes (r12 advice).
        // Hash-derived sign vectors of distinct copies differ on ~half
        // the coordinates, so cross-copy cosines stay Gaussian-small
        // even where shifts collide; ScaleProbeSpec pins decorrelation
        // across the full probed copy range (0 vs 64, 5 vs 69, 0 vs 99).
        val scrambled =
          if (i == 0) col("embedding")
          else expr(
            s"""transform(sequence(0, size(embedding) - 1), j ->
               |  element_at(embedding,
               |    pmod(j + pmod(hash($i), size(embedding)),
               |         size(embedding)) + 1) *
               |  cast(1 - 2 * pmod(hash($i, j), 2) as float))""".stripMargin)
        df.select((col("vec_id") + lit(i * bigStride)).as("vec_id"),
          scrambled.as("embedding"), col("label"))
      case other => sys.error(s"no scale transform for table $other")
    }
  }

  /** The distinct tables the named queries read, from their
    * heavy-family registry records ([[graft.registry.Heavy]]) — the
    * family this probe and Bench's SPARK_GRAFT_BENCH_SCALE mode sweep
    * against the same scaled scratch corpus. A name outside the family
    * is an error.
    */
  private[graft] def tablesFor(names: Seq[String]): Seq[String] =
    names.flatMap(n => Registry.find(n).flatMap(_.heavy).map(_.tables)
      .getOrElse(sys.error(s"no table mapping for query $n"))).distinct

  /** Key ranges of the BASE data must fit under the copy strides, or
    * copies silently collide (see offsetCols). One agg per table, once.
    * A silent collision would merge groups across copies and corrupt
    * the measured exponent without any visible failure — checked
    * against the ACTUAL max because SPARK_GRAFT_SF_DIR lets the base be
    * any SF (at sf>=2 l_orderkey already exceeds 10M).
    */
  private[graft] def assertStrides(spark: SparkSession, sfDir: String,
      tables: Seq[String]): Unit =
    tables.foreach { t =>
      val checks = offsetCols.getOrElse(t, Seq.empty)
      if (checks.nonEmpty) {
        val maxes = graft.catalog.Tables.load(spark, sfDir, t)
          .agg(checks.map { case (c, _) => max(col(c)).cast("long").as(c) }.head,
            checks.drop(1).map { case (c, _) => max(col(c)).cast("long").as(c) }: _*)
          .collect().head
        checks.zipWithIndex.foreach { case ((c, stride), i) =>
          val mx = maxes.getLong(i)
          require(mx < stride,
            s"base $t.$c max $mx >= copy stride $stride: scaled copies " +
              "would collide on keys and corrupt the measured exponent — " +
              "raise the stride for this base SF")
        }
      }
    }

  private[graft] def scaledDirName(outRoot: String, n: Int,
      dateShift: Boolean): String =
    s"${outRoot}_${n}x${if (dateShift) "_ds" else ""}"

  /** Builds (or incrementally completes) the N-times scaled scratch dir
    * for `tables` and returns its path. Scaled dirs are built once and
    * reused across runs; the marker file RECORDS WHICH TABLES were
    * built AT WHICH TRANSFORM VERSION (one `table:vN` line per table),
    * so a later run needing a table the first run didn't build rebuilds
    * just the missing ones instead of short-circuiting on the marker's
    * existence and silently fitting exponents over fewer points — and a
    * table whose transform has changed since the dir was built (version
    * mismatch, or a legacy unversioned line) is rebuilt in place
    * instead of silently reusing stale data (see [[transformVersion]]).
    * Generation cost stays outside every timed region either way.
    * Shared by the probe and Bench's SPARK_GRAFT_BENCH_SCALE mode.
    */
  private[graft] def ensureScaled(spark: SparkSession, sfDir: String, n: Int,
      outRoot: String, tables: Seq[String], dateShift: Boolean): String = {
    val dir = scaledDirName(outRoot, n, dateShift)
    val marker = java.nio.file.Paths.get(dir, "_GRAFT_SCALE_OK")
    // current-version entries only: a `table:v1` line when the code is
    // at v2 — or a legacy bare `table` line — reads as NOT built
    val built: Set[String] =
      if (java.nio.file.Files.exists(marker)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(marker).asScala
          .map(_.trim).filter(_.nonEmpty)
          .collect { case line if line.contains(":v") =>
            val (t, v) = line.splitAt(line.lastIndexOf(":v"))
            (t, v.stripPrefix(":v").toIntOption)
          }
          .collect { case (t, Some(v)) if transformVersion(t) == v => t }
          .toSet
      } else Set.empty
    val missing = tables.filterNot(built)
    if (missing.isEmpty) return dir
    missing.foreach { t =>
      val base = graft.catalog.Tables.load(spark, sfDir, t)
      val scaled =
        if (dimTables(t)) base // dims are copied once, never unioned
        else (0 until n).map(i => copyTransform(t, base, i, dateShift))
          .reduce(_.union(_))
      scaled.write.mode("overwrite").parquet(s"$dir/$t.parquet")
      System.err.println(
        s"[scale] built $dir/$t.parquet (${n}x, v${transformVersion(t)})")
    }
    java.nio.file.Files.write(marker,
      (built ++ missing).toSeq.sorted
        .map(t => s"$t:v${transformVersion(t)}").mkString("\n").getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
    dir
  }

  /** ln-ln least-squares slope over (copies, seconds) points — the
    * observed scaling exponent. Requires >= 2 valid points.
    */
  private[tools] def exponent(points: Seq[(Int, Double)]): Option[Double] = {
    val ok = points.filter { case (n, t) => n > 0 && t > 0 }
    if (ok.size < 2) None
    else {
      val xs = ok.map(p => math.log(p._1.toDouble))
      val ys = ok.map(p => math.log(p._2))
      val mx = xs.sum / xs.size; val my = ys.sum / ys.size
      val denom = xs.map(x => (x - mx) * (x - mx)).sum
      if (denom == 0) None
      else Some(xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / denom)
    }
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = graft.Bench.intAtLeast(sys.env, "SPARK_GRAFT_SCALE_REPS", 1).getOrElse(2)
    val outRoot = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/tmp/graft_scale")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "3,10")
      .split(',').toSeq.map(_.trim).filter(_.nonEmpty).map(_.toInt)
      .filter(_ > 1).sorted
    // date-shift growth model (see copyTransform): scaled dirs get a
    // "_ds" suffix so both variants coexist in the scratch root
    val dateShift = sys.env.get("SPARK_GRAFT_SCALE_DATESHIFT").contains("1")
    val queryNames = sys.env.getOrElse("SPARK_GRAFT_SCALE_QUERIES",
      "d3_dedup_minhash,d6_dedup_clusters,d9_incremental_neardup," +
        "w6_rolling_ols_native,l5_qp_weights,x6_pack_sequences")
      .split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    val neededTables = tablesFor(queryNames)

    // SPARK_GRAFT_MASTER=local-cluster[n,cores,memMB] puts REAL
    // executor JVMs and socket exchanges under the same probe (the
    // caveat-closing datum for "network costs are plan-asserted only";
    // the executor-env contract is [[ProbeSession]]'s).
    // SPARK_GRAFT_SCALE_PARTS decouples shuffle partitions from thread
    // count: at a FIXED partition count every shuffled partition grows
    // ∝ corpus, so per-task sort/agg memory grows with scale for ANY
    // plan — the cure is partition count scaling with data, and this
    // knob measures which plans CAN take that cure (thousands of
    // independent groups) vs which cannot (a group-count ceiling)
    val parts = sys.env.getOrElse("SPARK_GRAFT_SCALE_PARTS", cpus)
    // SPARK_GRAFT_ADVISORY_MB lowers AQE's advisory partition size (the
    // default 64MB coalescing is what overrode SPARK_GRAFT_SCALE_PARTS
    // in footnote 5's measurement): smaller post-shuffle partitions =
    // more, smaller aggregate working sets sharing the one local heap —
    // the deployment lever for spill ONSET segments (q11's 100x point),
    // demonstrated rather than argued
    val advisoryMb = sys.env.get("SPARK_GRAFT_ADVISORY_MB")
      .map(t => t.trim.toIntOption.filter(_ > 0).getOrElse(sys.error(
        s"SPARK_GRAFT_ADVISORY_MB must be a positive int, got '$t'")))
    // SPARK_GRAFT_MAX_PARTITION_MB shrinks INPUT splits — the map-side
    // twin of the two knobs above: a near-unique-key aggregate's partial
    // hash map buffers ~its input split's rows, so map-side spill is
    // cured by split size (at a deployment: executor count), not by
    // reduce partition count
    val maxPartitionMb = sys.env.get("SPARK_GRAFT_MAX_PARTITION_MB")
      .map(t => t.trim.toIntOption.filter(_ > 0).getOrElse(sys.error(
        s"SPARK_GRAFT_MAX_PARTITION_MB must be a positive int, got '$t'")))
    val probe = ProbeSession(cpus, parts,
      advisoryMb.map(mb => "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> s"${mb}m").toSeq ++
        maxPartitionMb.map(mb => "spark.sql.files.maxPartitionBytes" -> s"${mb}m"): _*)
    val spark = probe.spark

    assertStrides(spark, sfDir, neededTables)
    def scaledDir(n: Int): String = scaledDirName(outRoot, n, dateShift)
    copies.foreach(n =>
      ensureScaled(spark, sfDir, n, outRoot, neededTables, dateShift))

    def materialize(name: String, dir: String): Unit =
      graft.Bench.materialize(spark, name, dir)

    // codegen/JVM warmup (not timed), smallest sf
    queryNames.foreach { n =>
      try materialize(n, "/root/testdata/sf0.001") catch { case _: Throwable => () }
    }

    val scales: Seq[(Int, String)] = (1, sfDir) +: copies.map(n => (n, scaledDir(n)))
    val results: Seq[(String, Seq[(Int, (Double, Double, Double, Double))])] =
      queryNames.map { name =>
        val pts = scales.map { case (n, dir) =>
          val m = probe.minOfReps(reps, s"[scale] $name @ $dir")(materialize(name, dir))
          System.err.println(
            f"[scale] $name ${n}%2dx -> ${m._1}%7.2fs  shuffle=${m._2}%8.1fMB spill=${m._3}%7.1fMB peakTask=${m._4}%6.1fMB")
          (n, m)
        }
        name -> pts
      }

    val qJson = results.map { case (name, pts) =>
      def series(pick: ((Double, Double, Double, Double)) => Double, fmt: String) =
        pts.map { case (n, m) => s""""$n":${fmt.format(pick(m))}""" }
          .mkString("{", ",", "}")
      val exp = exponent(pts.map { case (n, m) => (n, m._1) })
        .map(e => f"$e%.3f").getOrElse("null")
      s""""$name":{"sec":${series(_._1, "%.3f")},"exponent":$exp,""" +
        s""""shuffle_mb":${series(_._2, "%.1f")},"spill_mb":${series(_._3, "%.1f")},""" +
        s""""peak_task_mem_mb":${series(_._4, "%.1f")}}"""
    }.mkString("{", ",", "}")
    println(
      s"""{"metric":"scale_probe","base_sf":"$sfDir","copies":${copies.mkString("[", ",", "]")},"reps":$reps,"date_shift":$dateShift,"queries":$qJson}""")
    spark.stop()
  }
}
