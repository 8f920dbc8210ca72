package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.operators.CcStrategy.{Auto, Hybrid, Propagation, Star}

/** Connected-components probe: measures [[graft.operators.Dedup.canonicalize]]'s
  * DISTRIBUTED min-label propagation branch on edge sets far past the
  * 1M-edge gate that selects the driver union-find in the common case —
  * the branch the d6/d6b oracle entries can't stress (an LSH near-dup
  * pair graph is tiny next to its corpus BY DESIGN, so the graded
  * entries measure pair GENERATION, never million-edge propagation).
  *
  * Synthetic edge sets are closed-form from node ids (deterministic, no
  * randomness), written once to scratch parquet so generation stays
  * outside every timed region, and each result is VERIFIED against the
  * closed-form component labels after timing (count of mismatching
  * labels must be 0 — stronger than union-find parity and free at any
  * size).
  *
  * Three axes:
  *
  *   - **Edge count** (star components, diameter 2 — the near-dup
  *     cluster shape): E ∈ `SPARK_GRAFT_CC_EDGES` (default
  *     1M,3M,10M,30M). Expect time ∝ E at a fixed iteration count
  *     (propagation converges in O(diameter) passes; the label-sum
  *     fixpoint adds one detection pass).
  *   - **Diameter** (chain components at fixed E): L ∈
  *     `SPARK_GRAFT_CC_CHAINS` (default 4,16,64) over
  *     `SPARK_GRAFT_CC_CHAIN_EDGES` edges (default 4M). Expect time
  *     ∝ L at fixed E — the documented cost of NOT shipping
  *     large-star/small-star (Dedup.canonicalize scaladoc): this axis
  *     prices that decision instead of arguing it.
  *   - **Strategy crossover** (star components): the driver union-find
  *     timed against the distributed propagation at E ∈
  *     `SPARK_GRAFT_CC_LOCAL_EDGES` (default 1M,3M,10M) — data for
  *     where the `localEdgeLimit` default belongs.
  *
  * The edge and diameter axes run the iterative strategies — min-label
  * propagation ("dist"), alternating large-star/small-star contraction
  * ("star", [[graft.operators.CcStrategy.Star]]), and the
  * star-then-propagation hybrid ("hybrid" at the pinned
  * SPARK_GRAFT_CC_HYBRID_ROUNDS budget, "hybrid_auto" under the
  * measured adaptive budget — [[graft.operators.CcStrategy.Hybrid]] /
  * [[graft.operators.CcStrategy.Auto]]) — so the O(diameter)-vs-O(log n)
  * trade is priced on the same graphs. A fourth
  * **deep axis** prices the strategy matrix's hardest cell — ONE graph
  * that is high-volume AND high-diameter (`SPARK_GRAFT_CC_DEEP_EDGES`
  * chain edges of length `SPARK_GRAFT_CC_DEEP_LEN`, defaults 100M × 16)
  * — under every strategy in `SPARK_GRAFT_CC_DEEP_MODES`.
  * Round-19 axes: **chain_perm_*** re-runs the diameter axis with ids
  * PERMUTED along each path (the production ordering — hashes — that
  * the ordering-sensitive internal-node proxy under-reads);
  * **star_perm** prices the auto path on structurally-star-but-not-
  * min-centered graphs (`SPARK_GRAFT_CC_PERM_EDGES`/`_PERM_MODES`);
  * **mixture** prices the estimator's fallback-bounded blind spot — a
  * sea of shallow 2-edge paths hiding one deep chain
  * (`SPARK_GRAFT_CC_MIX_EDGES`/`_MIX_DEEP`/`_MIX_MODES`).
  * `SPARK_GRAFT_CC_AXES` (comma list of edge_dist, edge_star,
  * edge_hybrid, edge_hybrid_auto, chain_dist, chain_star, chain_hybrid,
  * chain_hybrid_auto, edge_local, deep, chain_perm_auto,
  * chain_perm_star, chain_perm_hybrid, mixture, star_perm)
  * re-probes one section without re-running the rest.
  *
  * Output: one JSON line on stdout; committed analysis in
  * docs/SCALING.md. A measurement tool, not part of any pipeline or
  * bench artifact.
  *
  * `SPARK_GRAFT_MASTER=local-cluster[n,cores,memMB]` runs the probe on
  * real executor JVMs (same executor-env contract as ScaleProbe:
  * SPARK_GRAFT_EXECUTOR_CLASSPATH absolute, SPARK_GRAFT_EXECUTOR_OPTS
  * for the JDK17 add-opens, SPARK_GRAFT_EXECUTOR_MEM).
  */
object CcProbe {

  /** Star components: for group g the hub is 5g and leaves 5g+1..5g+4 —
    * 4 edges per group, all labels collapse to the hub (= id - id%5).
    */
  private[tools] def starEdges(spark: SparkSession, edges: Long): DataFrame = {
    // a trailing partial group would put its hub/members outside
    // starNodes' range: the probe would silently measure a slightly
    // different graph while the node-restricted closed-form check still
    // passed — a bad env override must fail loudly instead
    require(edges % 4 == 0, s"star edge count must be divisible by 4, got $edges")
    spark.range(edges)
      .select(((col("id") / 4).cast("long") * 5L).as("a"),
        ((col("id") / 4).cast("long") * 5L + pmod(col("id"), lit(4)) + 1L).as("b"))
  }

  private[tools] def starNodes(spark: SparkSession, edges: Long): DataFrame =
    spark.range(edges / 4 * 5).select(col("id").as("doc_id"))

  private[tools] val starExpected = "doc_id - pmod(doc_id, 5)"

  /** Chain components of length L (L edges, L+1 nodes): chain c covers
    * ids (L+1)c .. (L+1)c+L with edges (n, n+1); the min label is the
    * chain head (= id - id%(L+1)) and sits a full L hops from the tail,
    * so propagation needs L passes + 1 to detect the fixpoint.
    */
  private[tools] def chainEdges(spark: SparkSession, edges: Long, len: Int): DataFrame = {
    // same loud-failure contract as starEdges: a trailing partial chain
    // would fall outside chainNodes' range and skew the axis silently
    require(edges % len == 0,
      s"chain edge count must be divisible by chain length $len, got $edges")
    spark.range(edges)
      .select(((col("id") / len).cast("long") * (len + 1) + pmod(col("id"), lit(len))).as("a"))
      .withColumn("b", col("a") + 1L)
  }

  private[tools] def chainNodes(spark: SparkSession, edges: Long, len: Int): DataFrame =
    spark.range(edges / len * (len + 1)).select(col("id").as("doc_id"))

  private[tools] def chainExpected(len: Int) = s"doc_id - pmod(doc_id, ${len + 1})"

  /** Chain components with ids PERMUTED along the path — the production
    * shape (pair-graph ids are hashes, never monotone). Within chain
    * c's id block (L+1)c..(L+1)c+L, path position p holds id
    * (L+1)c + (3p mod (L+1)) — a bijection whenever gcd(3, L+1) = 1,
    * and position 0 still holds the block base, so the component min
    * and the [[chainExpected]] closed form are unchanged. The graph is
    * ISOMORPHIC to [[chainEdges]]' (same diameter, same blocks); only
    * the id ordering along the path differs — exactly the axis the
    * ordering-sensitive internal-node proxy is blind on (ADVICE r18:
    * on a permuted deep path ~1/3 of nodes are local minima, so that
    * proxy reads ~2 at any true diameter; the degree proxy added in
    * round 19 must keep the auto budget's schedule intact here).
    */
  private[tools] def chainEdgesPermuted(spark: SparkSession, edges: Long,
      len: Int): DataFrame = {
    require(edges % len == 0,
      s"chain edge count must be divisible by chain length $len, got $edges")
    require((len + 1) % 3 != 0,
      s"len+1 must be coprime with the stride 3, got ${len + 1}")
    val base = (col("id") / len).cast("long") * (len + 1)
    val p = pmod(col("id"), lit(len))
    spark.range(edges)
      .select((base + pmod(p * 3, lit(len + 1))).as("a"),
        (base + pmod((p + 1) * 3, lit(len + 1))).as("b"))
  }

  /** Star components with the hub MID-BLOCK (group g: hub 5g+2, leaves
    * 5g, 5g+1, 5g+3, 5g+4): structurally the same diameter-2 star
    * forest as [[starEdges]], but NOT min-centered — the honest
    * near-dup shape when ids are hashes. The birth telemetry therefore
    * cannot read labels off (the canonical a < b form makes the hub
    * both a center and a leaf), and the auto path must take the
    * shallow-estimate → zero rounds → propagation route; this axis
    * prices that route against pure propagation on the same graph.
    * Component min is still 5g, so [[starExpected]] is unchanged.
    */
  private[tools] def starEdgesOffcenter(spark: SparkSession, edges: Long): DataFrame = {
    require(edges % 4 == 0, s"star edge count must be divisible by 4, got $edges")
    val g = (col("id") / 4).cast("long") * 5L
    val leafIdx = pmod(col("id"), lit(4)) // 0..3 -> leaf offsets 0,1,3,4
    spark.range(edges)
      .select((g + 2L).as("a"),
        (g + when(leafIdx < 2, leafIdx).otherwise(leafIdx + 1L)).as("b"))
  }

  /** The auto estimator's documented blind spot, at volume: (E - L)/2
    * shallow 2-edge path components dilute ONE monotone chain of
    * diameter L. Both diameter proxies are per-component means, so the
    * birth estimate reads ~2 regardless of L, the auto path hands off
    * with zero star rounds, propagation exhausts its budget on the
    * hidden chain, and the star fallback recovers — this axis prices
    * that recovery path against the pinned-correct hybrid and pure
    * star on the same graph (VERDICT r18 item 2: the failure mode had
    * a correctness pin but no cost datum). Shallow path p covers ids
    * off+3p .. off+3p+2 (off = the first multiple of 3 past the chain
    * block), so the closed form stays per-node trivial.
    */
  private[tools] def mixtureOffset(deepLen: Int): Long =
    3L * ((deepLen + 4) / 3)

  private[tools] def mixtureEdges(spark: SparkSession, edges: Long,
      deepLen: Int): DataFrame = {
    require(edges > deepLen && (edges - deepLen) % 2 == 0,
      s"mixture needs (edges - $deepLen) positive and even, got $edges")
    val off = mixtureOffset(deepLen)
    val chain = spark.range(deepLen)
      .select(col("id").as("a"), (col("id") + 1L).as("b"))
    val shallow = spark.range(edges - deepLen)
      .select((lit(off) + (col("id") / 2).cast("long") * 3L +
        pmod(col("id"), lit(2))).as("a"))
      .withColumn("b", col("a") + 1L)
    chain.unionByName(shallow)
  }

  private[tools] def mixtureNodes(spark: SparkSession, edges: Long,
      deepLen: Int): DataFrame = {
    val off = mixtureOffset(deepLen)
    val paths = (edges - deepLen) / 2
    spark.range(deepLen + 1L).select(col("id").as("doc_id"))
      .unionByName(
        spark.range(off, off + 3L * paths).select(col("id").as("doc_id")))
  }

  private[tools] def mixtureExpected(deepLen: Int): String = {
    val off = mixtureOffset(deepLen)
    s"CASE WHEN doc_id < $off THEN 0 ELSE doc_id - pmod(doc_id, 3) END"
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val parts = sys.env.getOrElse("SPARK_GRAFT_SCALE_PARTS", cpus)
    val outRoot = sys.env.getOrElse("SPARK_GRAFT_CC_OUT", "/tmp/graft_cc")
    val reps = sys.env.getOrElse("SPARK_GRAFT_CC_REPS", "2").toInt
    def longs(env: String, dflt: String): Seq[Long] =
      sys.env.getOrElse(env, dflt).split(',').toSeq
        .map(_.trim).filter(_.nonEmpty).map(_.toLong)
    val edgeAxis = longs("SPARK_GRAFT_CC_EDGES", "1000000,3000000,10000000,30000000")
    val chainLens = longs("SPARK_GRAFT_CC_CHAINS", "4,16,64").map(_.toInt)
    val chainE = sys.env.getOrElse("SPARK_GRAFT_CC_CHAIN_EDGES", "4000000").toLong
    val localAxis = longs("SPARK_GRAFT_CC_LOCAL_EDGES", "1000000,3000000,10000000")
    // the deep axis: ONE chain graph that is simultaneously high-volume
    // and high-diameter — the strategy-matrix cell neither pure strategy
    // prices well, and the hybrid's design point
    val deepLen = sys.env.getOrElse("SPARK_GRAFT_CC_DEEP_LEN", "16").toInt
    val deepE = sys.env.getOrElse("SPARK_GRAFT_CC_DEEP_EDGES", "100000000").toLong
    val deepModes = sys.env.getOrElse("SPARK_GRAFT_CC_DEEP_MODES", "dist,star,hybrid")
      .split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    val hybridRounds = sys.env.getOrElse("SPARK_GRAFT_CC_HYBRID_ROUNDS", "2").toInt
    // the round-19 axes: the skewed path mixture (the estimator's
    // fallback-bounded blind spot, priced under every strategy), and
    // the permuted-id / off-center variants of the chain and star axes
    // (the production id-ordering the r18 monotone graphs never saw)
    val mixE = sys.env.getOrElse("SPARK_GRAFT_CC_MIX_EDGES", "10000000").toLong
    val mixDeep = sys.env.getOrElse("SPARK_GRAFT_CC_MIX_DEEP", "64").toInt
    // ONE mode per session by default: a mixture run that takes the
    // exhaust-then-fallback route bloats the session enough to OOM a
    // following pinned-hybrid rep (round-19 note in the verify skill) —
    // compare strategies across separate CcProbe sessions, the same
    // one-strategy-per-session rule the deep axis documents
    val mixModes = sys.env.getOrElse("SPARK_GRAFT_CC_MIX_MODES",
      "hybrid_auto").split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    val permE = sys.env.getOrElse("SPARK_GRAFT_CC_PERM_EDGES", "10000000").toLong
    val permModes = sys.env.getOrElse("SPARK_GRAFT_CC_PERM_MODES",
      "hybrid_auto,dist").split(',').toSeq.map(_.trim).filter(_.nonEmpty)

    // SPARK_GRAFT_MASTER=local-cluster[n,cores,memMB] runs the CC
    // strategies on REAL executor JVMs (socket exchanges,
    // executor-resident persist/localCheckpoint blocks, the label-map
    // broadcast crossing processes) — the shared probe contract lives
    // in [[ProbeSession.withMasterEnv]].
    val spark = ProbeSession.withMasterEnv(SparkSession.builder(), cpus)
      .config("spark.sql.extensions", classOf[graft.expr.catalyst.GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val metrics = new ScaleProbe.Metrics
    spark.sparkContext.addSparkListener(metrics)

    // generation outside the timed region: each graph written once
    def ensure(tag: String, nodes: => DataFrame, edges: => DataFrame): String = {
      val dir = s"$outRoot/$tag"
      val marker = java.nio.file.Paths.get(dir, "_GRAFT_CC_OK")
      if (!java.nio.file.Files.exists(marker)) {
        nodes.write.mode("overwrite").parquet(s"$dir/nodes.parquet")
        edges.write.mode("overwrite").parquet(s"$dir/edges.parquet")
        java.nio.file.Files.createFile(marker)
        System.err.println(s"[cc] built $dir")
      }
      dir
    }
    def settle(): Unit = { System.gc(); Thread.sleep(250) }
    def timeIt(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // the strategy under test: "local"/"dist" force canonicalize's two
    // branches via the edge budget; "star" is the alternating
    // large-star/small-star contraction; "hybrid" is k star rounds to
    // collapse diameter, then the propagation finisher
    def canon(nodes: DataFrame, pairs: DataFrame, mode: String,
        maxIter: Int): DataFrame = mode match {
      case "local" => Dedup.canonicalize(nodes, "doc_id", pairs,
        Auto(maxIter), localEdgeLimit = Long.MaxValue)
      case "dist" => Dedup.canonicalize(nodes, "doc_id", pairs,
        Propagation(maxIter), localEdgeLimit = 0L)
      case "star" => Dedup.canonicalize(nodes, "doc_id", pairs,
        Star(maxRounds = 50), localEdgeLimit = 0L)
      case "hybrid" => Dedup.canonicalize(nodes, "doc_id", pairs,
        Hybrid(hybridRounds, maxIter), localEdgeLimit = 0L)
      case "hybrid_auto" => Dedup.canonicalize(nodes, "doc_id", pairs,
        Auto(maxIter), localEdgeLimit = 0L)
      case other => sys.error(s"unknown cc mode $other")
    }
    // one timed canonicalize run: read parquet -> canonicalize -> noop
    // sink; caches and checkpoint blocks dropped after (canonicalize
    // localCheckpoints the edge list; Bench's hygiene pattern)
    def run(dir: String, mode: String, maxIter: Int): Unit =
      try {
        val nodes = spark.read.parquet(s"$dir/nodes.parquet")
        val pairs = spark.read.parquet(s"$dir/edges.parquet")
        canon(nodes, pairs, mode, maxIter)
          .write.format("noop").mode("overwrite").save()
      } finally {
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    // verify (untimed): labels must equal the closed-form component min.
    // A WRONG label fails the probe; a point that cannot COMPLETE (e.g.
    // the union-find label map outgrowing what a broadcast can carry) is
    // itself a datum — recorded as sec:-1, never silently skipped. The
    // wrong-label case gets its own exception type: Dedup's require()
    // guards (star non-convergence within maxRounds, id-type validation)
    // also throw IllegalArgumentException, and matching on the class
    // would abort the whole probe on a legitimate cannot-complete point
    final class LabelMismatch(msg: String) extends RuntimeException(msg)
    def check(dir: String, mode: String, maxIter: Int, expected: String): Boolean =
      try {
        val nodes = spark.read.parquet(s"$dir/nodes.parquet")
        val pairs = spark.read.parquet(s"$dir/edges.parquet")
        val bad = canon(nodes, pairs, mode, maxIter)
          .filter(col("canon_id") =!= expr(expected)).count()
        if (bad != 0L)
          throw new LabelMismatch(s"$dir ($mode): $bad labels disagree with closed form")
        true
      } catch {
        case e: LabelMismatch => throw e // wrong labels: fatal
        case e: Throwable =>
          System.err.println(s"[cc] $dir ($mode) CANNOT RUN: " +
            e.toString.linesIterator.next()); false
      } finally {
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    // (sec, shuffleMb, spillMb, peakTaskMemMb) of the min-time rep
    def minOfReps(dir: String, mode: String, maxIter: Int): (Double, Double, Double, Double) = {
      val ts = (1 to reps).map { _ =>
        metrics.reset()
        val t = try timeIt(run(dir, mode, maxIter))
                catch { case e: Throwable =>
                  System.err.println(s"[cc] $dir ($mode) FAILED: $e"); -1.0 }
        org.apache.spark.graftbench.ListenerDrain.drain(spark.sparkContext, 5000)
        val (sh, sp, pk) = metrics.snapMb()
        settle(); (t, sh, sp, pk)
      }
      val ok = ts.filter(_._1 >= 0)
      if (ok.isEmpty) (-1.0, -1.0, -1.0, -1.0) else ok.minBy(_._1)
    }
    def fmt(tag: String, label: String,
        m: (Double, Double, Double, Double)): String = {
      System.err.println(
        f"[cc] $label -> ${m._1}%7.2fs  shuffle=${m._2}%8.1fMB spill=${m._3}%7.1fMB peakTask=${m._4}%6.1fMB")
      f""""$tag":{"sec":${m._1}%.3f,"shuffle_mb":${m._2}%.1f,"spill_mb":${m._3}%.1f,"peak_task_mem_mb":${m._4}%.1f}"""
    }

    // axis selection (SPARK_GRAFT_CC_AXES, comma list) so a single
    // strategy can be re-probed without re-running the others
    val axes = sys.env.getOrElse("SPARK_GRAFT_CC_AXES",
      "edge_dist,edge_star,chain_dist,chain_star,edge_local")
      .split(',').toSeq.map(_.trim).filter(_.nonEmpty).toSet

    // warmup (not timed): smallest star graph through every strategy
    val warm = ensure("star_100k", starNodes(spark, 100000), starEdges(spark, 100000))
    Seq("dist", "local", "star", "hybrid", "hybrid_auto")
      .foreach(m => run(warm, m, 25)); settle()

    def axisPoint(tag: String, dir: String, mode: String, maxIter: Int,
        expected: String): String = {
      val m = if (check(dir, mode, maxIter, expected))
        minOfReps(dir, mode, maxIter) else (-1.0, -1.0, -1.0, -1.0)
      fmt(tag, s"$tag $mode", m)
    }

    def edgeAxisJson(mode: String): String = edgeAxis.map { e =>
      val dir = ensure(s"star_$e", starNodes(spark, e), starEdges(spark, e))
      axisPoint(e.toString, dir, mode, 25, starExpected)
    }.mkString("{", ",", "}")

    def chainAxisJson(mode: String): String = chainLens.map { len =>
      val dir = ensure(s"chain_${len}_$chainE",
        chainNodes(spark, chainE, len), chainEdges(spark, chainE, len))
      axisPoint(len.toString, dir, mode, 2 * len + 8, chainExpected(len))
    }.mkString("{", ",", "}")

    def chainPermAxisJson(mode: String): String = chainLens.map { len =>
      val dir = ensure(s"chainperm_${len}_$chainE",
        chainNodes(spark, chainE, len), chainEdgesPermuted(spark, chainE, len))
      axisPoint(len.toString, dir, mode, 2 * len + 8, chainExpected(len))
    }.mkString("{", ",", "}")

    // the mixture runs at the USER-DEFAULT propagation budget (25): the
    // point is to price what a default caller pays when the mean
    // estimate under-reads and the hidden chain exhausts it
    def mixtureAxisJson: String = mixModes.map { m =>
      val dir = ensure(s"mix_${mixDeep}_$mixE",
        mixtureNodes(spark, mixE, mixDeep), mixtureEdges(spark, mixE, mixDeep))
      axisPoint(m, dir, m, 25, mixtureExpected(mixDeep))
    }.mkString("{", ",", "}")

    def starPermAxisJson: String = permModes.map { m =>
      val dir = ensure(s"starperm_$permE",
        starNodes(spark, permE), starEdgesOffcenter(spark, permE))
      axisPoint(m, dir, m, 25, starExpected)
    }.mkString("{", ",", "}")

    def localAxisJson: String = localAxis.map { e =>
      val dir = ensure(s"star_$e", starNodes(spark, e), starEdges(spark, e))
      axisPoint(e.toString, dir, "local", 25, starExpected)
    }.mkString("{", ",", "}")

    // the deep cell: all requested strategies on ONE big deep-chain
    // graph, so the hybrid's wall/shuffle lands next to both pure
    // strategies' on identical data (maxIter sized to the full diameter
    // so the dist baseline CAN converge without its fallback firing)
    def deepAxisJson: String = deepModes.map { m =>
      val dir = ensure(s"chain_${deepLen}_$deepE",
        chainNodes(spark, deepE, deepLen), chainEdges(spark, deepE, deepLen))
      axisPoint(m, dir, m, 2 * deepLen + 8, chainExpected(deepLen))
    }.mkString("{", ",", "}")

    val sections = Seq(
      "edge_dist" -> (() => s""""edge_axis_dist":${edgeAxisJson("dist")}"""),
      "edge_star" -> (() => s""""edge_axis_star":${edgeAxisJson("star")}"""),
      "edge_hybrid" -> (() => s""""edge_axis_hybrid":${edgeAxisJson("hybrid")}"""),
      "edge_hybrid_auto" -> (() => s""""edge_axis_hybrid_auto":${edgeAxisJson("hybrid_auto")}"""),
      "chain_dist" -> (() => s""""chain_axis_dist_e$chainE":${chainAxisJson("dist")}"""),
      "chain_star" -> (() => s""""chain_axis_star_e$chainE":${chainAxisJson("star")}"""),
      "chain_hybrid" -> (() => s""""chain_axis_hybrid_e$chainE":${chainAxisJson("hybrid")}"""),
      "chain_hybrid_auto" -> (() => s""""chain_axis_hybrid_auto_e$chainE":${chainAxisJson("hybrid_auto")}"""),
      "edge_local" -> (() => s""""edge_axis_local":$localAxisJson"""),
      "deep" -> (() => s""""deep_axis_l${deepLen}_e$deepE":$deepAxisJson"""),
      "chain_perm_auto" -> (() =>
        s""""chain_perm_axis_hybrid_auto_e$chainE":${chainPermAxisJson("hybrid_auto")}"""),
      "chain_perm_star" -> (() =>
        s""""chain_perm_axis_star_e$chainE":${chainPermAxisJson("star")}"""),
      "chain_perm_hybrid" -> (() =>
        s""""chain_perm_axis_hybrid_e$chainE":${chainPermAxisJson("hybrid")}"""),
      "mixture" -> (() => s""""mixture_axis_l${mixDeep}_e$mixE":$mixtureAxisJson"""),
      "star_perm" -> (() => s""""star_perm_axis_e$permE":$starPermAxisJson"""))
      .collect { case (k, f) if axes(k) => f() }

    println(s"""{"metric":"cc_probe","reps":$reps,"parts":$parts,""" +
      sections.mkString(",") + "}")
    spark.stop()
  }
}
