package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The program under test only ever sees the
  * generated frames and files; every generator is a pure function of its
  * seed and sizes, so the same seed gives the same inputs in any JVM.
  */
object Inputs {

  def tickers(n: Int): Seq[String] = (0 until n).map(i => f"T$i%03d")

  // stopwords per language, so the program's language id sees four languages
  private val stop = Map(
    "de" -> Vector("der", "die", "das", "und", "ist", "mit", "von", "nicht"),
    "en" -> Vector("the", "a", "and", "of", "to", "in", "is", "for"),
    "es" -> Vector("el", "los", "las", "y", "es", "para", "con", "una"),
    "fr" -> Vector("le", "les", "et", "est", "pour", "avec", "dans", "une"))
  private val langs = stop.keys.toVector.sorted
  private val vocab = (0 until 800).map { i =>
    val r = new java.util.Random(i * 7919L)
    (0 until 3 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
  }.toVector
  private val boilerplate =
    "subscribe to our newsletter for the latest updates and exclusive offers today"

  /** `nBase` documents plus `dupShare` × `nBase` planted duplicates, as
    * (doc id, text). Half of the duplicates are exact copies of a base
    * document, half near copies with two words replaced (3-word-shingle
    * Jaccard about 0.85 at these lengths). A tenth of the base documents
    * carry a shared boilerplate sentence.
    */
  def corpus(seed: Long, nBase: Int, dupShare: Double): Seq[(Long, String)] = {
    val rnd = new java.util.Random(seed)
    def words(): Vector[String] = {
      val sw = stop(langs(rnd.nextInt(langs.size)))
      val n = 40 + rnd.nextInt(80)
      Vector.fill(n)(
        if (rnd.nextInt(4) == 0) sw(rnd.nextInt(sw.size))
        else vocab(rnd.nextInt(vocab.size)))
    }
    val base = Vector.fill(nBase) {
      val w = words()
      if (rnd.nextInt(10) == 0) (boilerplate +: w).mkString(" ") else w.mkString(" ")
    }
    val nClones = math.round(nBase * dupShare).toInt
    val cloneSrc = Vector.fill(nClones)(rnd.nextInt(nBase))
    val cloneText = cloneSrc.zipWithIndex.map { case (src, k) =>
      if (k % 2 == 0) base(src)
      else {
        val w = base(src).split(" ")
        (0 until 2).foreach(_ => w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size)))
        w.mkString(" ")
      }
    }
    // ids are a seeded permutation, so clones interleave with their sources
    val all = base ++ cloneText
    val ids = scala.util.Random.javaRandomToRandom(rnd).shuffle((0L until all.size.toLong).toVector)
    all.indices.map(i => ids(i) -> all(i))
  }

  /** TPC-H-shaped star schema plus `documents` and `embeddings`, written
    * as one Parquet file per table (`<dir>/<name>.parquet`), the layout
    * the program's table loader reads; `only` limits which tables are
    * written. `f` scales every table but `region` and `nation` linearly:
    * f = 1 gives 15,000 orders and about 60,000 line items, the size of
    * TPC-H sf0.01, and 550 documents and 500 embeddings.
    */
  def writeStarSchema(spark: SparkSession, dir: Path, seed: Long, f: Double,
      only: String => Boolean = _ => true): Unit = {
    val rnd = new java.util.Random(seed)
    def cents(x: Double) = math.rint(x * 100) / 100
    val nCust = math.max(50, (1500 * f).toInt)
    val nSupp = math.max(10, (100 * f).toInt)
    val nOrd = math.max(200, (15000 * f).toInt)
    val nDoc = math.max(100, (500 * f).toInt)
    val epoch0 = java.time.LocalDate.of(1995, 1, 1)
    val nDays = java.time.temporal.ChronoUnit.DAYS.between(epoch0,
      java.time.LocalDate.of(2001, 8, 1)).toInt
    def ts(d: java.time.LocalDate) = d.atStartOfDay()
    val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val statuses = Vector("F", "O", "P")
    val prios = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

    def f_(n: String, t: DataType) = StructField(n, t)
    val L = LongType; val I = IntegerType; val D = DoubleType; val S = StringType
    val T = TimestampNTZType

    val region = (StructType(Seq(f_("r_regionkey", I), f_("r_name", S))),
      Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    val nation = (StructType(Seq(f_("n_nationkey", I), f_("n_name", S), f_("n_regionkey", I))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val customer = (StructType(Seq(f_("c_custkey", L), f_("c_name", S), f_("c_nationkey", I),
        f_("c_acctbal", D), f_("c_mktsegment", S))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        cents(rnd.nextDouble() * 10000 - 1000), segments(rnd.nextInt(5)))))
    val supplier = (StructType(Seq(f_("s_suppkey", L), f_("s_name", S), f_("s_nationkey", I),
        f_("s_acctbal", D))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
        cents(rnd.nextDouble() * 10000))))
    val orderDates = Vector.fill(nOrd)(epoch0.plusDays(rnd.nextInt(nDays).toLong))
    val orders = (StructType(Seq(f_("o_orderkey", L), f_("o_custkey", L), f_("o_orderstatus", S),
        f_("o_totalprice", D), f_("o_orderdate", T), f_("o_orderpriority", S))),
      (0 until nOrd).map(i => Row(i.toLong, rnd.nextInt(nCust).toLong,
        statuses(rnd.nextInt(3)), cents(1000 + rnd.nextDouble() * 400000),
        ts(orderDates(i)), prios(rnd.nextInt(5)))))
    val lineitem = (StructType(Seq(f_("l_orderkey", L), f_("l_partkey", L), f_("l_suppkey", L),
        f_("l_linenumber", I), f_("l_quantity", D), f_("l_extendedprice", D),
        f_("l_discount", D), f_("l_tax", D), f_("l_returnflag", S), f_("l_linestatus", S),
        f_("l_shipdate", T))),
      (0 until nOrd).flatMap { o =>
        (1 to 1 + rnd.nextInt(7)).map { ln =>
          val q = (1 + rnd.nextInt(50)).toDouble
          Row(o.toLong, rnd.nextInt(2000).toLong, rnd.nextInt(nSupp).toLong, ln, q,
            cents(q * (900 + rnd.nextDouble() * 1100)), rnd.nextInt(11) / 100.0,
            rnd.nextInt(9) / 100.0, Vector("A", "N", "R")(rnd.nextInt(3)),
            Vector("F", "O")(rnd.nextInt(2)),
            ts(orderDates(o).plusDays(1L + rnd.nextInt(121))))
        }
      })
    val docRows = corpus(seed + 1, nDoc, 0.1).sortBy(_._1).map { case (id, text) =>
      val lang = langs((id % langs.size).toInt)
      Row(id, text, lang, s"src${id % 20}", text.length.toLong)
    }
    val documents = (StructType(Seq(f_("doc_id", L), f_("text", S), f_("lang", S),
        f_("source", S), f_("n_chars", L))), docRows)
    val embeddings = (StructType(Seq(f_("vec_id", L),
        f_("embedding", ArrayType(FloatType)), f_("label", I))),
      (0 until nDoc).map { i =>
        val label = rnd.nextInt(8)
        val v = Array.tabulate(64)(j => (math.sin(label * 13.0 + j) * 0.1 +
          rnd.nextGaussian() * 0.08).toFloat)
        Row(i.toLong, v.toSeq, label)
      })

    Files.createDirectories(dir)
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "orders" -> orders,
      "lineitem" -> lineitem, "documents" -> documents, "embeddings" -> embeddings)
      .filter { case (name, _) => only(name) }
      .foreach { case (name, (schema, rows)) =>
        val tmp = dir.resolve(s"_$name.tmp")
        spark.createDataFrame(rows.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(part, dir.resolve(s"$name.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        Fs.delete(tmp)
      }
  }
}

object Fs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { x =>
      val t = to.resolve(from.relativize(x).toString)
      if (Files.isDirectory(x)) Files.createDirectories(t) else Files.copy(x, t)
    } finally s.close()
  }

  /** (bytes, files) under `p`, counting regular files only. */
  def usage(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), x) => (b + Files.size(x), n + 1) }
      finally s.close()
    }
}
