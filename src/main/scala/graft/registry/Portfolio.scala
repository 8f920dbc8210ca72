package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.algo.PortfolioOpt
import Common._

/** The per-date portfolio QP (SURVEY.md §2.9) and its optimality
  * certificate.
  */
object Portfolio {

  val all: Seq[Query] = Seq(
    // L1-L8 per-date mean-variance QP fan-out: market segments as assets,
    // factor-model covariance assembled per date, lambda calibrated to the
    // 5% active-risk target. The solve is not SQL-expressible -> rows-only
    // check here; l5_qp_certificate below is the hash-checked oracle form.
    Query("l5_qp_weights", (s, dir) => {
      val in = qpInputs(s, dir)
      PortfolioOpt
        .optimalWeights(in.alphas, in.loadings, in.fcov, in.ivol, in.bench)
        .select(col("date"), col("ticker"), round(col("weight"), 9).as("weight"),
          round(col("lambda"), 6).as("lambda"),
          round(col("active_risk"), 6).as("active_risk"))
    }, RowsOnly("iterative per-date QP solve, not SQL-expressible; optimality is " +
        "hash-pinned by the green l5_qp_certificate (KKT stationarity + " +
        "complementary slackness + feasibility, oracle-recomputed universe)"),
      band = Exempt.Codegen, heavy = Some(Heavy(Seq("orders", "customer")))),

    // Solution certificate for the QP chain (see PortfolioOpt.certificate):
    // the per-date universe is recomputed by DuckDB from orders x customer,
    // and feasibility/risk-consistency pin the constants (1, true, 0) —
    // SQL-checkable even though the solve itself is not.
    Query("l5_qp_certificate", (s, dir) => {
      val in = qpInputs(s, dir)
      val w = PortfolioOpt
        .optimalWeights(in.alphas, in.loadings, in.fcov, in.ivol, in.bench)
      PortfolioOpt.certificate(w, in.alphas, in.loadings, in.fcov, in.ivol,
        in.bench)
    },
    // The QP *solve* has no SQL form; its solution certificate does. DuckDB
    // independently rebuilds the per-date asset universe from the source
    // tables and pins the feasibility/consistency/OPTIMALITY constants that
    // a correct solver must produce: Σw = 1 (simplex), w >= 0, zero residual
    // between the reported active risk and the risk recomputed Spark-side
    // from the raw factor inputs via an independent algebraic path, zero
    // KKT stationarity gap on held assets (g = α − λΣw constant where
    // w > 0), and non-violated complementary slackness where w = 0 — a
    // feasible-but-suboptimal weight vector now hash-mismatches.
    Oracle(
      """WITH seg AS (
        |  SELECT CAST(o_orderdate AS DATE) AS date, c_mktsegment AS ticker
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2)
        |SELECT date, count(*) AS n_assets,
        |  string_agg(ticker, ',' ORDER BY ticker) AS tickers,
        |  CAST(1.0 AS DOUBLE) AS sum_w,
        |  TRUE AS min_w_nonneg,
        |  CAST(0.0 AS DOUBLE) AS risk_resid,
        |  CAST(0.0 AS DOUBLE) AS stat_resid,
        |  TRUE AS comp_ok
        |FROM seg GROUP BY 1""".stripMargin),
      band = Exempt.Codegen, heavy = Some(Heavy(Seq("orders", "customer"))))
  )

  private final case class QpInputs(alphas: DataFrame, loadings: DataFrame,
      fcov: DataFrame, ivol: DataFrame, bench: DataFrame)

  /** The five QP-chain inputs, all derived from one eagerly-materialized
    * orders x customer segment aggregate. Five union branches consume
    * `base` inside a single job, so a lazy persist race-computes the
    * join + aggregation up to five times (two consumers racing one cache
    * fill never share the first fill); the eager localCheckpoint
    * materializes it exactly once and truncates the lineage every branch
    * re-plans over — same fix as minHashLsh's candidate frame and
    * PortfolioOpt.certificate. The equal-weight benchmark reads the
    * per-date segment count off the `tot` rollup rather than a window
    * — one shuffle fewer in an already stage-latency-bound query.
    */
  private def qpInputs(s: SparkSession, dir: String): QpInputs = {
    val o = t(s, dir, "orders")
      .withColumn("date", to_date(col("o_orderdate")))
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
    val cust = t(s, dir, "customer")
    val seg = o.join(broadcast(cust), o("o_custkey") === cust("c_custkey"))
      .groupBy(col("date"), col("c_mktsegment").as("ticker"))
      .agg((sum(col("cents")) / 1e10).as("alpha"), count(lit(1)).as("n"))
    val tot = seg.groupBy("date").agg(
      sum(col("alpha")).as("tot_alpha"), sum(col("n")).as("tot_n"),
      count(lit(1)).as("n_seg"))
    val base = seg.join(tot, "date").localCheckpoint(true)
    val alphas = base.select(col("date"), col("ticker"), col("alpha"))
    val loadings = base.select(col("date"), col("ticker"),
        (col("alpha") / col("tot_alpha")).as("F1"),
        (col("n") / col("tot_n")).as("F2"))
      .unpivot(Array(col("date"), col("ticker")), Array(col("F1"), col("F2")),
        "factor", "loading")
    val fcovDim = s.createDataFrame(Seq(("F1", "F1", 0.04), ("F1", "F2", 0.01),
        ("F2", "F1", 0.01), ("F2", "F2", 0.09)))
      .toDF("factor_1", "factor_2", "covariance")
    val fcov = base.select("date").distinct().crossJoin(broadcast(fcovDim))
    val ivol = base.select(col("date"), col("ticker"),
      (lit(0.05) + col("alpha")).as("idio_vol"))
    val bench = base.select(col("date"), col("ticker"),
      (lit(1.0) / col("n_seg")).as("weight"))
    QpInputs(alphas, loadings, fcov, ivol, bench)
  }
}
