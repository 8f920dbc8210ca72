package graft.expr

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftconf.ExpressionColumn

import graft.expr.catalyst.EwmaAgg

/** W4: exponentially-weighted mean, polars `ewm_mean(half_life=h)` with
  * `adjust=True`, `min_samples=1`, nulls ignored (weights do not advance
  * across nulls) — reference `pipelines/factor_model_flow.py:85-90`,
  * `factor_covariances_flow.py:42-45`, `betas_flow.py:68-72`.
  *
  *   y_t = Σ_i w_i·x_{t-i} / Σ_i w_i,  w_i = (1−α)^i,  α = 1−exp(−ln2/h)
  *
  * The recurrence is order-dependent, so it runs as the [[EwmaAgg]] window
  * aggregate over a running frame: one window column partitioned by key
  * and ordered by time, with O(1) state per key. It shuffles at most once
  * by key, and not at all when the input is already partitioned by it.
  */
object Ewma {

  /** α from half-life, matching polars' parameterization. */
  def alphaFromHalfLife(halfLife: Double): Double =
    1.0 - math.exp(-math.log(2.0) / halfLife)

  /** Appends `outCol` = EWMA of `valueCol` per `keys`, ordered by `order`.
    * Null inputs yield null output and leave the accumulators untouched.
    */
  def ewmaMean(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[String],
      valueCol: String,
      halfLife: Double,
      outCol: String = "ewma"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ewma = EwmaAgg(UnresolvedAttribute.quoted(valueCol), Literal(halfLife))
    df.withColumn(outCol, ExpressionColumn(ewma.toAggregateExpression()).over(w))
  }
}
