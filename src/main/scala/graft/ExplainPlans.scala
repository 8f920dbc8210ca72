package graft

import org.apache.spark.sql.SparkSession

import graft.registry.Registry

/** Dev utility: print formatted physical plans for the named queries
  * (every registry query when none are named) so shuffle/broadcast/
  * pushdown shape can be reviewed and diffed (tools/plan_diff.py).
  * Usage: ExplainPlans [sfDir] [name ...]
  */
object ExplainPlans {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Registry.all.map(_.name)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.extensions", classOf[graft.expr.catalyst.GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"========== $n ==========")
      // queries may set session confs (e.g. j13f pins the broadcast
      // threshold); without restoring, every LATER query in the dump is
      // planned under the leaked conf and the printed plan lies
      graft.tools.SessionConf.restoring(spark) {
        Registry(n).build(spark, dir).explain("formatted")
      }
    }
    spark.stop()
  }
}
