package graft.algo

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** W6/W7: rolling-window multivariate OLS with intercept, the reference's
  * per-ticker 252-day factor regression (`pipelines/factor_model_flow.py:13-73`,
  * `pipelines/betas_flow.py:14-56`, statsmodels `RollingOLS`).
  *
  * Runs as a per-key streaming fold (`flatMapSortedGroups` over the key
  * columns): at most one shuffle by key, none when the input is already
  * partitioned by it; secondary sort by time, a ring buffer of the
  * trailing `window` rows and running normal-equation sums (X'X, X'y)
  * updated in O(k²) per row.
  * The reference loops tickers serially on the driver
  * (`factor_model_flow.py:24-57`); here every key runs in parallel on
  * executors and series length is unbounded — the 100 TB shape.
  *
  * Rows before the window fills get null coefficients; keys with fewer than
  * `window` rows therefore emit only nulls, matching the reference's
  * "short-history tickers absent" observable behavior once null rows are
  * dropped (SURVEY.md §7.4 item 5).
  *
  * For k ≤ 2 the 3×3 normal equations are solved with an explicitly
  * parenthesized Cramer's rule (deterministic expression tree — the DuckDB
  * oracle mirrors it term for term); larger k uses Breeze (LAPACK `\`).
  */
object RollingOls {

  /** Appends `alpha` and `beta_<xCol>` columns. */
  def fit(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[String],
      yCol: String,
      xCols: Seq[String],
      window: Int): DataFrame = {
    val inSchema = df.schema
    val k = xCols.size
    val outSchema = StructType(
      inSchema.fields ++
        (StructField("alpha", DoubleType, nullable = true) +:
          xCols.map(x => StructField(s"beta_$x", DoubleType, nullable = true))))
    val yIdx = inSchema.fieldIndex(yCol)
    val xIdxs = xCols.map(inSchema.fieldIndex).toArray
    implicit val rowEnc = Encoders.row(outSchema)

    df.groupBy(keys.map(col): _*)
      .as[Row, Row](Encoders.row(StructType(keys.map(inSchema(_)))), Encoders.row(inSchema))
      .flatMapSortedGroups(order.map(col): _*) { (_, rows) =>
        val d = k + 1 // intercept + k regressors
        // ring buffer of trailing rows: [y, x1..xk]
        val buf = Array.ofDim[Double](window, d)
        var filled = 0
        var pos = 0
        // running sums: sy, sxy_j ; and upper triangle of X'X incl. intercept
        var sy = 0.0
        val sxy = new Array[Double](k)
        val sx = new Array[Double](k)
        val sxx = Array.ofDim[Double](k, k)

        def addRow(y: Double, xs: Array[Double], sign: Double): Unit = {
          sy += sign * y
          var i = 0
          while (i < k) {
            sx(i) += sign * xs(i)
            sxy(i) += sign * xs(i) * y
            var j = i
            while (j < k) { sxx(i)(j) += sign * xs(i) * xs(j); j += 1 }
            i += 1
          }
        }

        def solve(): Array[Double] = {
          val n = window.toDouble
          if (k == 2) {
            // explicit Cramer's rule on [[n,sx0,sx1],[sx0,s00,s01],[sx1,s01,s11]]
            val sx0 = sx(0); val sx1 = sx(1)
            val s00 = sxx(0)(0); val s01 = sxx(0)(1); val s11 = sxx(1)(1)
            val b0 = sy; val b1 = sxy(0); val b2 = sxy(1)
            val det = n * (s00 * s11 - s01 * s01) - sx0 * (sx0 * s11 - s01 * sx1) + sx1 * (sx0 * s01 - s00 * sx1)
            val det0 = b0 * (s00 * s11 - s01 * s01) - sx0 * (b1 * s11 - s01 * b2) + sx1 * (b1 * s01 - s00 * b2)
            val det1 = n * (b1 * s11 - s01 * b2) - b0 * (sx0 * s11 - s01 * sx1) + sx1 * (sx0 * b2 - b1 * sx1)
            val det2 = n * (s00 * b2 - b1 * s01) - sx0 * (sx0 * b2 - b1 * sx1) + b0 * (sx0 * s01 - s00 * sx1)
            Array(det0 / det, det1 / det, det2 / det)
          } else if (k == 1) {
            val sx0 = sx(0); val s00 = sxx(0)(0)
            val det = n * s00 - sx0 * sx0
            val beta = (n * sxy(0) - sx0 * sy) / det
            val a = (sy - beta * sx0) / n
            Array(a, beta)
          } else {
            val m = DenseMatrix.zeros[Double](d, d)
            val v = DenseVector.zeros[Double](d)
            m(0, 0) = n; v(0) = sy
            var i = 0
            while (i < k) {
              m(0, i + 1) = sx(i); m(i + 1, 0) = sx(i); v(i + 1) = sxy(i)
              var j = 0
              while (j < k) {
                m(i + 1, j + 1) = if (i <= j) sxx(i)(j) else sxx(j)(i)
                j += 1
              }
              i += 1
            }
            (m \ v).toArray
          }
        }

        val nulls: Seq[Any] = Seq.fill(d)(null)
        rows.map { r =>
          val y = r.getAs[Number](yIdx).doubleValue()
          val xs = new Array[Double](k)
          var i = 0
          while (i < k) { xs(i) = r.getAs[Number](xIdxs(i)).doubleValue(); i += 1 }
          if (filled == window) {
            val old = buf(pos)
            addRow(old(0), old.drop(1), -1.0)
          }
          buf(pos) = y +: xs
          pos = (pos + 1) % window
          if (filled < window) filled += 1
          addRow(y, xs, 1.0)
          val coefs: Seq[Any] =
            if (filled == window) solve().toSeq else nulls
          Row.fromSeq(r.toSeq ++ coefs)
        }
      }
  }
}
