package graft.expr.catalyst

import java.nio.ByteBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types.{DataType, DoubleType}

import graft.expr.Ewma

/** W4 as a Catalyst window aggregate: `ewma(x, halfLife)` over `ROWS
  * BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW` computes the polars
  * `ewm_mean(half_life, adjust=True)` recurrence with O(1) buffer state,
  * inside the window operator. [[graft.expr.Ewma.ewmaMean]] builds it
  * directly; SQL reaches it as `ewma` once [[GraftExtensions]] is
  * registered. Both arguments are cast to double, so any numeric `x` is
  * accepted; the half-life must be a literal.
  *
  * Order dependence means the aggregate is NOT mergeable: using it in a
  * grouped aggregation (which needs partial merge) raises, window frames
  * never merge buffers.
  */
case class EwmaAgg(
    left: Expression,
    right: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] with BinaryLike[Expression]
  with ImplicitCastInputTypes {

  // both arguments cast to double (`AbstractDataType` is private to Spark)
  override def inputTypes = Seq(DoubleType, DoubleType)

  private lazy val decay: Double = {
    val h = if (right.foldable) right.eval() else null
    if (h == null) throw new IllegalArgumentException("ewma half-life must be a literal")
    1.0 - Ewma.alphaFromHalfLife(h.asInstanceOf[Double])
  }

  override def prettyName: String = "ewma"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  // buffer = (numerator, denominator, current-row-was-null flag): a null
  // input leaves the accumulators untouched but must surface as a null
  // OUTPUT for that row.
  override def createAggregationBuffer(): Array[Double] = Array(0.0, 0.0, 0.0)

  override def update(buf: Array[Double], input: org.apache.spark.sql.catalyst.InternalRow): Array[Double] = {
    val v = left.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Double]
      buf(0) = x + decay * buf(0)
      buf(1) = 1.0 + decay * buf(1)
      buf(2) = 0.0
    } else buf(2) = 1.0
    buf
  }

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] =
    throw new UnsupportedOperationException(
      "ewma is order-dependent and cannot merge partial aggregates; " +
        "use it as a window function over an ordered running frame")

  override def eval(buf: Array[Double]): Any =
    if (buf(2) == 1.0 || buf(1) == 0.0) null else buf(0) / buf(1)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(24)
    bb.putDouble(buf(0)); bb.putDouble(buf(1)); bb.putDouble(buf(2))
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = ByteBuffer.wrap(bytes)
    Array(bb.getDouble(), bb.getDouble(), bb.getDouble())
  }

  override def withNewMutableAggBufferOffset(offset: Int): EwmaAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): EwmaAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): EwmaAgg =
    copy(left = l, right = r)
}

/** Registration: `spark.sql.extensions=graft.expr.catalyst.GraftExtensions`
  * or `GraftExtensions.register(spark)` on a live session. Then:
  * `expr("ewma(x, 60.0) OVER (PARTITION BY k ORDER BY t)")`.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => DeriveYearPruning)
  }
}

object GraftExtensions {
  private def fn(name: String, cls: Class[_], make: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), make)

  private[catalyst] val functions = Seq(
    fn("ewma", classOf[EwmaAgg], ch => EwmaAgg(ch(0), ch(1))),
    fn("simhash_agg", classOf[SimHashAgg], ch => SimHashAgg(ch(0))),
    // k smallest values per group as an ascending array — the streaming
    // top-k that never materializes its candidate stream (see TopKAgg)
    fn("topk_structs", classOf[TopKStructsAgg],
      ch => TopKStructsAgg(ch(0), ch(1))),
    fn("minhash_agg", classOf[MinHashAgg], ch => MinHashAgg(ch(0), ch(1))),
    fn("graft_dot", classOf[DotProduct], ch => DotProduct(ch(0), ch(1))),
    // word n-gram construction (sliding windows / non-overlapping chunks)
    // as a single native walk over the token array — see WordKGrams
    fn("word_kgrams", classOf[WordKGrams],
      ch => WordKGrams(ch(0), ch(1),
        org.apache.spark.sql.catalyst.expressions.Literal(1),
        org.apache.spark.sql.catalyst.expressions.Literal(false))),
    fn("word_chunks", classOf[WordKGrams],
      ch => WordKGrams(ch(0), ch(1), ch(1),
        org.apache.spark.sql.catalyst.expressions.Literal(true))),
    // all per-doc repetition counters in one pass over the token array —
    // replaces an exploded 3x-corpus gram stream and two shuffles
    fn("repetition_stats", classOf[RepetitionStats],
      ch => RepetitionStats(ch(0))),
    // whole 60-bit SimHash signature per row (same math as simhash_agg) —
    // no explode/distinct/groupBy, and computable on unbounded streams
    fn("simhash_row", classOf[SimHashRow], ch => SimHashRow(ch(0))),
    // whole MinHash signature per row (same family as minhash_agg)
    fn("minhash_row", classOf[MinHashRow],
      ch => MinHashRow(ch(0), ch(1), ch(2))),
    // per-row word k-gram hash array (Dedup.hash60 family)
    fn("gram_hashes", classOf[GramHashes],
      ch => GramHashes(ch(0), ch(1), ch(2))),
    // Spark's own (non-SQL-registered) bloom expressions, surfaced for the
    // Bloom.prunedJoin semi-join reduction: build over xxhash64'd dim keys,
    // probe as a codegen'd predicate on the fact scan.
    fn("bloom_agg",
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate],
      ch => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        ch(0), ch(1), ch(2))),
    fn("bloom_might_contain",
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain],
      ch => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(ch(0), ch(1))))

  /** Imperative registration for an existing session (tests, REPL). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, make) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, make)
    }
}
