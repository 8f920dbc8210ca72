package graft.algo

import graft.SparkSpec

class RollingOlsSpec extends SparkSpec {
  import spark.implicits._

  test("recovers exact coefficients on noiseless linear data (k=2)") {
    // y = 3 + 2*x - 5*z with x,z spanning enough variation
    val rows = (0 until 30).map { i =>
      val x = (i % 7).toDouble; val z = (i % 5).toDouble
      ("k", i, 3.0 + 2.0 * x - 5.0 * z, x, z)
    }
    val df = rows.toDF("key", "i", "y", "x", "z")
    val out = RollingOls.fit(df, Seq("key"), Seq("i"), "y", Seq("x", "z"), 10)
      .orderBy("i").collect()
    (0 until 9).foreach(i => assert(out(i).isNullAt(5), s"row $i should be null"))
    (9 until 30).foreach { i =>
      assert(math.abs(out(i).getDouble(5) - 3.0) < 1e-8)
      assert(math.abs(out(i).getDouble(6) - 2.0) < 1e-8)
      assert(math.abs(out(i).getDouble(7) - (-5.0)) < 1e-8)
    }
  }

  test("k=1 closed form matches breeze path (k=3 generic) on same data") {
    val rows = (0 until 25).map { i =>
      val x = math.sin(i.toDouble); ("k", i, 1.5 + 0.5 * x + 0.01 * i, x)
    }
    val df = rows.toDF("key", "i", "y", "x")
    val out = RollingOls.fit(df, Seq("key"), Seq("i"), "y", Seq("x"), 12)
      .orderBy("i").collect()
    // reference: solve each window with plain normal equations
    (11 until 25).foreach { t =>
      val w = rows.slice(t - 11, t + 1)
      val n = w.size.toDouble
      val sx = w.map(_._4).sum; val sy = w.map(_._3).sum
      val sxx = w.map(r => r._4 * r._4).sum; val sxy = w.map(r => r._4 * r._3).sum
      val beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val alpha = (sy - beta * sx) / n
      assert(math.abs(out(t).getDouble(4) - alpha) < 1e-9)
      assert(math.abs(out(t).getDouble(5) - beta) < 1e-9)
    }
  }

  test("groups shorter than the window emit only null coefficients") {
    val df = (0 until 5).map(i => ("short", i, i.toDouble, i.toDouble))
      .toDF("key", "i", "y", "x")
    val out = RollingOls.fit(df, Seq("key"), Seq("i"), "y", Seq("x"), 10).collect()
    assert(out.length == 5)
    out.foreach(r => assert(r.isNullAt(4) && r.isNullAt(5)))
  }

  test("ring buffer evicts correctly: coefficients reflect only the trailing window") {
    // regime change: first 20 rows slope 1, later rows slope 10; after the
    // window fully leaves the old regime the fit must be exactly the new slope
    val rows = (0 until 40).map { i =>
      val x = i.toDouble
      val y = if (i < 20) x else 10.0 * x
      ("k", i, y, x)
    }
    val df = rows.toDF("key", "i", "y", "x")
    val out = RollingOls.fit(df, Seq("key"), Seq("i"), "y", Seq("x"), 5)
      .orderBy("i").collect()
    assert(math.abs(out(10).getDouble(5) - 1.0) < 1e-8)
    assert(math.abs(out(30).getDouble(5) - 10.0) < 1e-8)
  }

  test("each distinct two-column key gets its own fold, spaces and nulls included") {
    // group g fits y = (g+1)·x exactly over its own 3 rows; two keys folded
    // together would fill the window early and mix their slopes
    val keys = Seq[(String, String)](("a b", "c"), ("a", "b c"), (null, "x"), ("null", "x"))
    val df = keys.zipWithIndex.flatMap { case ((k1, k2), g) =>
      (0 until 3).map(i => (k1, k2, i, (g + 1) * i.toDouble, i.toDouble))
    }.toDF("k1", "k2", "i", "y", "x")
    val fitted = RollingOls.fit(df, Seq("k1", "k2"), Seq("i"), "y", Seq("x"), 3)
      .filter($"beta_x".isNotNull).collect()
      .map(r => ((Option(r.getString(0)), r.getString(1)), r.getAs[Double]("beta_x")))
    assert(fitted.map(_._1).sortBy(_.toString).toSeq ==
      keys.map { case (k1, k2) => (Option(k1), k2) }.sortBy(_.toString))
    val slope = keys.zipWithIndex.map { case ((k1, k2), g) => (Option(k1), k2) -> (g + 1.0) }.toMap
    fitted.foreach { case (k, beta) => assert(math.abs(beta - slope(k)) < 1e-9, s"$k: $beta") }
  }
}
