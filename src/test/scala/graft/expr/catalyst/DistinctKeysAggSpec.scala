package graft.expr.catalyst

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{BoundReference, CreateStruct}
import org.apache.spark.sql.graftconf.ExpressionColumn
import org.apache.spark.sql.types.IntegerType

class DistinctKeysAggSpec extends SparkSpec {
  import spark.implicits._

  /** `keys_distinct(struct(k, t), cap)` observed on a write of `df`. */
  private def observed(df: DataFrame, cap: Int): Boolean = {
    val agg = DistinctKeysAgg(CreateStruct(Seq("k", "t").map(UnresolvedAttribute.quoted)), cap)
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, ExpressionColumn(agg.toAggregateExpression()).as("d"))
      .write.format("noop").mode("overwrite").save()
    obs.get("d").asInstanceOf[Boolean]
  }

  /** The keys over 4 partitions, spread evenly. */
  private def keys(ks: (Option[Int], String)*) =
    spark.sparkContext.parallelize(ks, 4).toDF("k", "t")

  test("keys_distinct is exact across partitions, nulls equal to nulls") {
    val distinct = (1 to 50).map(i => (Option(i), "a")) ++ Seq((None, "a"), (Option(1), "b"))
    assert(observed(keys(distinct: _*), 100))
    // each duplicate lands in the first partition, its partner in the last
    assert(!observed(keys((Option(50), "a") +: distinct: _*), 100))
    assert(!observed(keys((None, "a") +: distinct: _*), 100))
  }

  test("keys_distinct is false past the cap, and past one task's share of it") {
    val ks = (1 to 40).map(i => (Option(i), "a"))
    assert(observed(keys(ks: _*), 40))
    assert(!observed(keys(ks: _*), 39))
    // 4 tasks share a cap of 8: a task holding 5 rows is past its share
    val skewed = spark.sparkContext.parallelize(Seq(ks.take(5), Nil, Nil, Nil), 4)
      .flatMap(identity).toDF("k", "t")
    assert(!observed(skewed, 8))
    assert(observed(keys(ks.take(5): _*), 8))
  }

  test("keys_distinct: a buffer past its limit serializes to no bytes") {
    val agg = DistinctKeysAgg(BoundReference(0, IntegerType, nullable = false), 2)
    val buf = agg.createAggregationBuffer()
    Seq(1, 2).foreach(i => agg.update(buf, InternalRow(i)))
    assert(agg.serialize(buf).nonEmpty && agg.eval(buf) == true)
    agg.update(buf, InternalRow(3))
    assert(agg.serialize(buf).isEmpty && agg.eval(buf) == false)
    assert(agg.eval(agg.merge(agg.createAggregationBuffer(), agg.deserialize(Array.emptyByteArray))) == false)
  }
}
