package graft.expr

import org.apache.spark.sql.functions.{col, expr, lit}

import graft.SparkSpec

class EwmaSpec extends SparkSpec {
  import spark.implicits._

  private def runEwma(xs: Seq[java.lang.Double], halfLife: Double): Seq[Option[Double]] = {
    val df = xs.zipWithIndex.map { case (x, i) => ("k", i, x) }.toDF("key", "i", "x")
    Ewma.ewmaMean(df, Seq("key"), Seq("i"), "x", halfLife, "ewma")
      .orderBy("i").collect()
      .map(r => if (r.isNullAt(3)) None else Some(r.getDouble(3))).toSeq
  }

  test("ewma of a constant series is the constant") {
    val out = runEwma(Seq[java.lang.Double](5.0, 5.0, 5.0, 5.0), 60.0)
    out.foreach(v => assert(math.abs(v.get - 5.0) < 1e-12))
  }

  /** y_t = sum_i (1-a)^i x_{t-i} / sum_i (1-a)^i,  a = 1-exp(-ln2/h) */
  private def closedForm(xs: Seq[Double], h: Double): Seq[Double] = {
    val d = 1.0 - Ewma.alphaFromHalfLife(h) // decay
    xs.indices.map { t =>
      val ws = (0 to t).map(i => math.pow(d, i))
      (0 to t).map(i => ws(i) * xs(t - i)).sum / ws.sum
    }
  }

  private def assertClose(got: Seq[Double], exp: Seq[Double]): Unit = {
    assert(got.length == exp.length)
    got.zip(exp).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-12, s"got $g expected $e")
    }
  }

  test("ewma matches the adjust=true closed form (polars semantics)") {
    val xs = Seq(1.0, 2.0, 4.0, 8.0)
    assertClose(runEwma(xs.map(java.lang.Double.valueOf), 2.0).map(_.get), closedForm(xs, 2.0))
  }

  /** The series 1.25, 2.5, 4, 8.75 as a column of type `tpe` (a long
    * column truncates it), and the doubles it holds.
    */
  private def typed(tpe: String) = {
    val xs = Seq(1.25, 2.5, 4.0, 8.75)
    val df = xs.zipWithIndex.map { case (x, i) => ("k", i, x) }.toDF("key", "i", "x")
      .withColumn("x", col("x").cast(tpe))
    (df, df.orderBy("i").collect().map(r => r.getAs[Number]("x").doubleValue()).toSeq)
  }

  private def ewmaSql(df: org.apache.spark.sql.DataFrame, halfLife: String): Seq[Double] =
    df.withColumn("e", expr(s"ewma(x, $halfLife) OVER (PARTITION BY key ORDER BY i " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"))
      .orderBy("i").collect().map(_.getAs[Double]("e")).toSeq

  Seq("bigint", "decimal(10,2)").foreach { tpe =>
    test(s"a $tpe column is cast to double, through ewmaMean and through SQL ewma") {
      val (df, xs) = typed(tpe)
      val expected = closedForm(xs, 2.0)
      assertClose(Ewma.ewmaMean(df, Seq("key"), Seq("i"), "x", 2.0, "e")
        .orderBy("i").collect().map(_.getAs[Double]("e")).toSeq, expected)
      assertClose(ewmaSql(df, "2.0"), expected)
    }
  }

  test("an integer half-life literal is the same half-life") {
    val (df, xs) = typed("double")
    assertClose(ewmaSql(df, "2"), closedForm(xs, 2.0))
  }

  test("a half-life that is not a literal is rejected") {
    val (df, _) = typed("double")
    val e = intercept[Exception](ewmaSql(df.withColumn("h", lit(2.0)), "h"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("half-life must be a literal")))
  }

  test("half-life semantics: weight at lag h is half the weight at lag 0") {
    val d = 1.0 - Ewma.alphaFromHalfLife(60.0)
    assert(math.abs(math.pow(d, 60.0) - 0.5) < 1e-12)
  }

  test("nulls are ignored: output null, accumulators unchanged") {
    val out = runEwma(Seq[java.lang.Double](2.0, null, 4.0), 1.0)
    assert(out(1).isEmpty)
    // with h=1 (decay .5): after skipping null, y = (4 + .5*2)/(1 + .5)
    assert(math.abs(out(2).get - (4.0 + 0.5 * 2.0) / 1.5) < 1e-12)
  }

  test("multiple keys fold independently") {
    val df = Seq(("a", 0, 1.0), ("b", 0, 100.0), ("a", 1, 3.0), ("b", 1, 200.0))
      .toDF("key", "i", "x")
    val out = Ewma.ewmaMean(df, Seq("key"), Seq("i"), "x", 1.0, "ewma")
      .orderBy("key", "i").collect().map(_.getDouble(3))
    assert(math.abs(out(0) - 1.0) < 1e-12)
    assert(math.abs(out(1) - (3.0 + 0.5 * 1.0) / 1.5) < 1e-12)
    assert(math.abs(out(2) - 100.0) < 1e-12)
    assert(math.abs(out(3) - (200.0 + 0.5 * 100.0) / 1.5) < 1e-12)
  }
}
