package graft.stages

import java.sql.Date
import java.time.LocalDate

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end pipeline test on reference-shaped fixtures (FIXTURES.md §B):
  * seeded factor returns, stocks generated as known linear combinations of
  * the factors plus idiosyncratic noise, so every downstream stage has a
  * known ground truth.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  // --- fixtures -----------------------------------------------------------
  private val rnd = new scala.util.Random(42)
  private lazy val dates: Seq[LocalDate] = {
    var d = LocalDate.of(2020, 1, 1)
    val out = scala.collection.mutable.ArrayBuffer[LocalDate]()
    while (out.size < 600) {
      val dow = d.getDayOfWeek.getValue
      if (dow <= 5) out += d
      d = d.plusDays(1)
    }
    out.toSeq
  }

  private lazy val factorReturns: Map[String, Seq[Double]] =
    Variables.Factors.map(f => f -> dates.map(_ => rnd.nextGaussian() * 0.01)).toMap

  private val trueBetas: Map[String, Seq[Double]] = Map(
    "AAA" -> Seq(1.2, 0.0, 0.0, 0.0, 0.8),
    "BBB" -> Seq(0.0, 1.0, 0.5, 0.0, 1.0),
    "CCC" -> Seq(-0.3, 0.2, 0.0, 0.7, 1.1))

  private lazy val stockReturnRows: Seq[(String, Date, Int, Double)] = {
    val idio = trueBetas.keys.map(t => t -> dates.map(_ => rnd.nextGaussian() * 0.005)).toMap
    for {
      (t, betas) <- trueBetas.toSeq
      (d, i) <- dates.zipWithIndex
    } yield {
      val r = Variables.Factors.zip(betas).map { case (f, b) => b * factorReturns(f)(i) }.sum +
        idio(t)(i)
      (t, Date.valueOf(d), d.getYear, r)
    }
  }

  private lazy val stockReturns: DataFrame =
    stockReturnRows.toDF("ticker", "date", "year", "return")

  private lazy val etfReturns: DataFrame = (for {
    f <- Variables.Factors
    (d, i) <- dates.zipWithIndex
  } yield (f, Date.valueOf(d), d.getYear, factorReturns(f)(i)))
    .toDF("ticker", "date", "year", "return")

  // --- stages -------------------------------------------------------------

  test("returns stage: pct_change from a price walk, first row dropped") {
    val prices = Seq(
      ("AAPL", Date.valueOf("2024-01-01"), 100.0),
      ("AAPL", Date.valueOf("2024-01-02"), 110.0),
      ("AAPL", Date.valueOf("2024-01-03"), 104.5)).toDF("ticker", "date", "close")
    val out = Stages.returns(prices).orderBy("date").collect()
    assert(out.length == 2)
    assert(math.abs(out(0).getAs[Double]("return") - 0.10) < 1e-12)
    assert(math.abs(out(1).getAs[Double]("return") - (104.5 / 110.0 - 1)) < 1e-12)
  }

  test("factor regression recovers the generating betas; short tickers absent") {
    val short = (1 to 100).map(i =>
      ("ZZZ", Date.valueOf(dates(i)), dates(i).getYear, 0.001 * i))
      .toDF("ticker", "date", "year", "return")
    val reg = Stages.factorRegression(stockReturns.unionByName(short), etfReturns)
    val regRows = reg.collect()
    assert(!regRows.exists(_.getString(regRows.head.fieldIndex("ticker")) == "ZZZ"))
    // betas at the last date should be near the generating loadings
    val last = reg.filter(col("ticker") === "AAA")
      .orderBy(col("date").desc).limit(1).collect().head
    Variables.Factors.zip(trueBetas("AAA")).foreach { case (f, b) =>
      assert(math.abs(last.getAs[Double](s"beta_$f") - b) < 0.15,
        s"$f: ${last.getAs[Double](s"beta_$f")} vs $b")
    }
    // residuals are the idio noise: small but nonzero
    val resStd = reg.agg(stddev_samp(col("residual"))).collect().head.getDouble(0)
    assert(resStd > 0.001 && resStd < 0.01)
  }

  test("smoothed loadings stay near the generating betas") {
    val reg = Stages.factorRegression(stockReturns, etfReturns)
    val loadings = Stages.factorLoadings(reg)
    val last = loadings.filter(col("ticker") === "BBB")
      .filter(col("date") === Date.valueOf(dates.last))
      .collect().map(r => r.getAs[String]("factor") -> r.getAs[Double]("loading")).toMap
    Variables.Factors.zip(trueBetas("BBB")).foreach { case (f, b) =>
      assert(math.abs(last(f) - b) < 0.15, s"$f: ${last(f)} vs $b")
    }
  }

  test("idio vol estimates the generating noise scale") {
    val reg = Stages.factorRegression(stockReturns, etfReturns)
    val iv = Stages.idioVol(reg)
    val v = iv.filter(col("date") === Date.valueOf(dates.last))
      .agg(avg("idio_vol")).collect().head.getDouble(0)
    assert(v > 0.003 && v < 0.008, s"idio vol $v should be near 0.005")
  }

  test("factor covariances: diagonal near generating variance, EWMA-smoothed") {
    val fc = Stages.factorCovariances(etfReturns)
    val diag = fc.filter(col("factor_1") === col("factor_2"))
      .filter(col("date") === Date.valueOf(dates.last))
      .agg(avg("covariance")).collect().head.getDouble(0)
    assert(diag > 0.00005 && diag < 0.0002, s"diag cov $diag should be near 1e-4")
    // symmetric pairs present: 5x5 per date
    val n = fc.filter(col("date") === Date.valueOf(dates.last)).count()
    assert(n == 25)
  }

  test("reversal chain: signal window algebra, global z-score, alpha formula") {
    val sig = Stages.reversalSignals(stockReturns)
    // hand-check one signal value
    val t = "AAA"
    val byDate = stockReturnRows.filter(_._1 == t).sortBy(_._2.toString)
    val idx = 400
    val expect = -byDate.slice(idx - 20, idx + 1).map(r => math.log1p(r._4)).sum
    val got = sig.filter(col("ticker") === t && col("date") === byDate(idx)._2)
      .collect().head.getAs[Double]("value")
    assert(math.abs(got - expect) < 1e-12)

    val sc = Stages.scores(sig)
    val stats = sc.agg(avg("score"), stddev_samp("score")).collect().head
    assert(math.abs(stats.getDouble(0)) < 1e-9 && math.abs(stats.getDouble(1) - 1.0) < 1e-9)

    val reg = Stages.factorRegression(stockReturns, etfReturns)
    val iv = Stages.idioVol(reg)
    val al = Stages.alphas(sc, iv)
    val j = al.join(sc, Seq("ticker", "date", "year", "signal"))
      .join(iv.select("ticker", "date", "idio_vol"), Seq("ticker", "date"))
      .withColumn("expect", lit(Variables.IC) * col("score") * col("idio_vol"))
    assert(j.filter(abs(col("alpha") - col("expect")) > 1e-12).count() == 0)
  }

  test("benchmark: equal weights sum to 1; return is the cross-sectional mean") {
    val bw = Stages.benchmarkWeights(stockReturns.select("ticker", "date"))
    val sums = bw.groupBy("date").agg(sum("weight").as("s"))
    assert(sums.filter(abs(col("s") - 1.0) > 1e-9).count() == 0)
    val br = Stages.benchmarkReturns(bw, stockReturns)
    val mean = stockReturns.groupBy("date").agg(avg("return").as("m"))
    val joined = br.join(mean, "date")
    assert(joined.filter(abs(col("return") - col("m")) > 1e-9).count() == 0)
  }

  test("portfolio stage: long-only, fully invested, metrics emitted") {
    val lastDates = dates.takeRight(3).map(Date.valueOf)
    val reg = Stages.factorRegression(stockReturns, etfReturns)
    val iv = Stages.idioVol(reg).filter(col("date").isin(lastDates: _*))
    val lo = Stages.factorLoadings(reg).filter(col("date").isin(lastDates: _*))
    val fc = Stages.factorCovariances(etfReturns).filter(col("date").isin(lastDates: _*))
    val sig = Stages.reversalSignals(stockReturns).filter(col("date").isin(lastDates: _*))
    val al = Stages.alphas(Stages.scores(sig), iv)
    val bw = Stages.benchmarkWeights(al.select("ticker", "date"))
    val (w, m) = Stages.portfolio(al, lo, fc, iv, bw, identity)
    val sums = w.groupBy("date").agg(sum("weight").as("s"), min("weight").as("mn")).collect()
    assert(sums.length == 3)
    sums.foreach { r =>
      assert(math.abs(r.getAs[Double]("s") - 1.0) < 1e-6)
      assert(r.getAs[Double]("mn") >= -1e-9)
    }
    assert(m.count() == 3)
  }

  test("portfolio stage tolerates null-alpha rows (left-joined alphas)") {
    val lastDate = Date.valueOf(dates.last)
    val reg = Stages.factorRegression(stockReturns, etfReturns)
    val iv = Stages.idioVol(reg).filter(col("date") === lastDate)
    val lo = Stages.factorLoadings(reg).filter(col("date") === lastDate)
    val fc = Stages.factorCovariances(etfReturns).filter(col("date") === lastDate)
    val sig = Stages.reversalSignals(stockReturns).filter(col("date") === lastDate)
    // drop one ticker's idio_vol: the alphas left join must keep the row
    // with a null alpha, and the portfolio stage must drop it again
    val someTicker = iv.select("ticker").orderBy("ticker").first().getString(0)
    val al = Stages.alphas(Stages.scores(sig), iv.filter(col("ticker") =!= someTicker))
    assert(al.filter(col("alpha").isNull).count() == 1)
    val bw = Stages.benchmarkWeights(al.select("ticker", "date"))
    val (w, m) = Stages.portfolio(al, lo, fc, iv, bw, identity)
    val weights = w.collect()
    assert(weights.nonEmpty && !weights.exists(_.getAs[String]("ticker") == someTicker))
    assert(m.count() == 1)
  }

  test("universe reconstruction: add/remove walk matches hand-traced membership") {
    val changes = Seq(
      ("T1", Date.valueOf("2024-01-10"), 1L, "Added"),
      ("T1", Date.valueOf("2024-01-20"), 2L, "Removed"),
      ("T1", Date.valueOf("2024-01-25"), 3L, "Added"), // re-added, in current
      ("T2", Date.valueOf("2024-01-15"), 4L, "Removed") // leaves, was member before
    ).toDF("ticker", "date", "seq", "action")
    val current = Seq("T1").toDF("ticker")
    val cal = (1 to 30).map(i => Date.valueOf(f"2024-01-$i%02d")).toDF("date")
    val out = Stages.universe(changes, current, cal)
      .collect().map(r => (r.getAs[Date]("date").toString, r.getAs[String]("ticker"))).toSet
    // T1: member on [10,20) is wrong — backward walk: next change after d
    // Added@10: before 10 NOT member; [10,20): next change Removed@20 => member;
    // [20,25): next change Added@25 => not member; [25,..]: current => member
    assert(!out.contains(("2024-01-05", "T1")))
    assert(out.contains(("2024-01-10", "T1")) && out.contains(("2024-01-19", "T1")))
    assert(!out.contains(("2024-01-20", "T1")) && !out.contains(("2024-01-24", "T1")))
    assert(out.contains(("2024-01-25", "T1")) && out.contains(("2024-01-30", "T1")))
    // T2: member before removal date, absent after
    assert(out.contains(("2024-01-01", "T2")) && out.contains(("2024-01-14", "T2")))
    assert(!out.contains(("2024-01-15", "T2")) && !out.contains(("2024-01-30", "T2")))
  }
}
