package graft.expr.catalyst

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TopKAggSpec extends SparkSpec {
  import spark.implicits._

  test("topk_structs keeps the k smallest, ascending, across partitions") {
    GraftExtensions.register(spark)
    val rnd = new scala.util.Random(14)
    val rows = for (g <- Seq("a", "b", "c"); i <- 0 until 500)
      yield (g, rnd.nextInt(100000), i.toLong)
    // repartition(7) forces multiple partial buffers per group, so the
    // exchange serializes/deserializes buffers and merge() runs — the
    // whole TypedImperativeAggregate surface, not just update/eval
    val df = rows.toDF("g", "r", "i").repartition(7)
    val out = df.groupBy("g")
      .agg(call_function("topk_structs",
        struct(col("r"), col("i")), lit(5)).as("tk"))
      .collect()
      .map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getInt(0), x.getLong(1))))
      .toMap
    val expect = rows.groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sorted.take(5)).toMap
    Seq("a", "b", "c").foreach { g =>
      assert(out(g) == expect(g), s"group $g: ${out(g)} vs ${expect(g)}")
    }
  }

  test("topk_structs: k past group size, nulls skipped, ties total-ordered") {
    GraftExtensions.register(spark)
    val df = Seq(
      ("g", Some(2), "x"), ("g", None, "dropped"),
      ("g", Some(1), "b"), ("g", Some(1), "a")
    ).toDF("g", "r", "tag")
    // null sort key -> whole element null -> skipped (containsNull=false
    // output); tie on r falls through to the next struct field
    val out = df.groupBy("g")
      .agg(call_function("topk_structs",
        when(col("r").isNotNull, struct(col("r"), col("tag"))), lit(10)).as("tk"))
      .collect().head.getSeq[org.apache.spark.sql.Row](1)
      .map(x => (x.getInt(0), x.getString(1)))
    assert(out == Seq((1, "a"), (1, "b"), (2, "x")))
  }

  test("topk_structs survives the sort-based aggregation fallback") {
    GraftExtensions.register(spark)
    // ObjectHashAggregate demotes to sort-based aggregation past the
    // session fallback threshold — the path that external-sorts
    // SERIALIZED partial buffers and merges via deserialize+merge, a
    // different surface from the hash path the other tests run. Pin the
    // threshold to 10 so the demotion is deterministic, not a function
    // of group-count-per-task arithmetic.
    val confKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.getOption(confKey)
    try {
      spark.conf.set(confKey, "10")
      val rnd = new scala.util.Random(15)
      val rows = for (g <- 0 until 200; i <- 0 until 40)
        yield (g, rnd.nextInt(10000), i.toLong)
      val out = rows.toDF("g", "r", "i").repartition(5)
        .groupBy("g")
        .agg(call_function("topk_structs",
          struct(col("r"), col("i")), lit(3)).as("tk"))
        .collect()
        .map(row => row.getInt(0) ->
          row.getSeq[org.apache.spark.sql.Row](1)
            .map(x => (x.getInt(0), x.getLong(1))))
        .toMap
      val expect = rows.groupBy(_._1).view
        .mapValues(_.map(t => (t._2, t._3)).sorted.take(3)).toMap
      assert(out.size == 200)
      (0 until 200).foreach { g =>
        assert(out(g) == expect(g), s"group $g: ${out(g)} vs ${expect(g)}")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("topk_structs works as an observed metric") {
    // an observation's accumulator serializes the expression after use:
    // the aggregate's generated ordering and projections must not ride
    // along (they are not serializable)
    GraftExtensions.register(spark)
    val rnd = new scala.util.Random(16)
    val rows = (0 until 300).map(i => (rnd.nextInt(100000), i.toLong))
    val obs = org.apache.spark.sql.Observation()
    rows.toDF("r", "i").repartition(4)
      .observe(obs, call_function("topk_structs", struct(col("r"), col("i")), lit(3)).as("tk"))
      .write.format("noop").mode("overwrite").save()
    val got = obs.get("tk").asInstanceOf[Seq[org.apache.spark.sql.Row]]
      .map(x => (x.getInt(0), x.getLong(1)))
    assert(got == rows.sorted.take(3))
  }

  test("topk_structs rejects non-positive or non-foldable k") {
    GraftExtensions.register(spark)
    val df = Seq(("g", 1)).toDF("g", "r")
    val e = intercept[Exception] {
      df.groupBy("g")
        .agg(call_function("topk_structs", struct(col("r")), lit(0)))
        .collect()
    }
    assert(e.getMessage.contains("k > 0"), e.getMessage)
  }
}
