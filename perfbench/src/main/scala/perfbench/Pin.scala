package perfbench

import java.nio.file.Paths

/** Writes the `query_mix` tables to DIR and prints the pin file for them
  * (query, row count, digest), in the format of `pins/query_mix.tsv`:
  *
  *   java ... perfbench.Pin DIR > perfbench/pins/query_mix.tsv
  *
  * DIR keeps the tables, so the same results can be checked against the
  * DuckDB oracle with `graft.Verify` and `tools/check.py` (README).
  */
object Pin {
  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args(0)).toAbsolutePath
    val spark = Main.session(4, dir.resolveSibling(dir.getFileName.toString + "-spark"), "perfbench-pin")
    Inputs.writeStarSchema(spark, dir, QueryMix.DataSeed, QueryMix.Scale)
    println(s"# query\trows\tdigest (data seed ${QueryMix.DataSeed}, scale ${QueryMix.Scale})")
    QueryMix.queries.foreach { q =>
      val rows = QueryMix.run(spark, q, dir.toString)
      println(s"$q\t${rows.length}\t${QueryMix.digest(rows)}")
    }
    spark.stop()
  }
}
