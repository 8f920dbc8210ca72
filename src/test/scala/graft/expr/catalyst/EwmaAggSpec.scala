package graft.expr.catalyst

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EwmaAggSpec extends SparkSpec {
  import spark.implicits._

  test("native ewma emits null on null input without advancing weights") {
    GraftExtensions.register(spark)
    val df = Seq(("k", 0, Some(2.0)), ("k", 1, None), ("k", 2, Some(4.0)))
      .toDF("k", "i", "x")
    val out = df.withColumn("e",
      expr("ewma(x, 1.0) OVER (PARTITION BY k ORDER BY i " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"))
      .orderBy("i").collect()
      .map(r => if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    val d = math.exp(-math.log(2.0)) // half-life 1 -> decay .5
    assert(math.abs(out(0).get - 2.0) < 1e-12)
    // null input -> null output (same contract as Ewma.ewmaMean), but the
    // weight state does not advance across the gap
    assert(out(1).isEmpty)
    assert(math.abs(out(2).get - (4.0 + d * 2.0) / (1.0 + d)) < 1e-12)
  }

  test("grouped (merge-requiring) use raises a clear error") {
    GraftExtensions.register(spark)
    val df = Seq(("k", 1.0), ("k", 2.0)).toDF("k", "x")
    val e = intercept[Exception] {
      df.groupBy("k").agg(expr("ewma(x, 60.0)")).collect()
    }
    assert(e.getMessage.contains("order-dependent") ||
      e.getCause != null && e.getCause.getMessage.contains("order-dependent"))
  }
}
