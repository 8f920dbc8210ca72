package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.registry.{Oracle, Query, Registry, RowsOnly}
/** Correctness dump: each registry query's result → parquet, plus
  * oracle_sql.json and rows_only_by_design.json, for the DuckDB compare
  * in tools/check.py. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", classOf[graft.expr.catalyst.GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for fast iteration (same knob as Bench)
    val subset = SparkEntry.querySubset(sys.env.get("SPARK_GRAFT_QUERIES"))
    val selected = Registry.all.filter(q => subset.forall(_.contains(q.name)))
    selected.foreach { case Query(name, build, _, _, _) =>
      try build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operator-internal persists must not accumulate across the 100+
      // queries. Eager localCheckpoints (the repo's same-job multi-consumer
      // rule) register persistent RDDs INVISIBLE to the cache manager, so
      // both stores are cleared — clearCache() alone would leak every
      // checkpointed frame (t8/t13 word explosions, LSH band keys, the QP
      // base) for the rest of the sweep.
      finally {
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    val json = obj(Registry.all.collect { case Query(n, _, Oracle(sql), _, _) => n -> sql })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // self-describing marker for DESIGNED rows-only entries: the driver's
    // compare reports them as `no_oracle`, which reads as breakage in a
    // correctness table — this sidecar names each one and the artifact
    // that pins its correctness instead (for l5_qp_weights, the green
    // l5_qp_certificate)
    val designed =
      obj(Registry.all.collect { case Query(n, _, RowsOnly(why), _, _) => n -> why })
    Files.writeString(Paths.get(s"$outDir/rows_only_by_design.json"), designed)
    spark.stop()
  }
}
