package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.registry.Registry

/** The entry points into the query registry (SURVEY.md §7).
  *
  * The queries live in [[graft.registry]]: one [[graft.registry.Query]]
  * record per query (build function, oracle or rows-only reason, sweep
  * band, heavy-family entry), one file per query family.
  */
object SparkEntry {

  /** Every query's build function by name, derived from [[Registry.all]]. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.build).toMap

  /** The SPARK_GRAFT_QUERIES iteration knob, parsed identically by Bench
    * and Verify: comma-separated names, whitespace-tolerant. A name that
    * is neither a registry query nor a Bench streaming entry fails the
    * parse — dropping a typo silently would dump or sweep nothing.
    */
  def querySubset(env: Option[String]): Option[Set[String]] =
    env.map { v =>
      val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names.filterNot(n =>
        queries.contains(n) || Bench.streamEntries.contains(n))
      require(unknown.isEmpty,
        s"SPARK_GRAFT_QUERIES names unknown entries: ${unknown.toSeq.sorted.mkString(", ")}")
      names
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q5_star_join")(spark, "/root/testdata/sf0.001")
}
