package graft.expr.catalyst

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType}

/** `keys_distinct(key, cap)`: true when the group holds at most `cap`
  * rows and no two of them hold equal `key`s. It is the exact, bounded
  * distinctness check behind [[graft.catalog.Lake]]'s collision gate,
  * where it rides a write as an observed metric.
  *
  * Keys are compared by their `UnsafeRow` bytes. That is the grouping's
  * equality (null equal to null) for keys made of integral, boolean,
  * date, timestamp and binary-collated string fields; the caller must
  * not pass other types.
  *
  * Bounded: a task's buffer keeps at most its share of `cap`,
  * ceil(cap / n) keys for a stage of n tasks. A task that sees more rows
  * than its share, or a duplicate, drops its keys and keeps only a
  * failed flag, which serializes to no bytes; so does a merge that finds
  * a duplicate or passes `cap`. The keys a stage ships to the driver (an
  * observation's partial buffers ride in the task results) therefore
  * number at most cap + n - 1, however large the input. The price is
  * that a group whose rows are skewed past one task's share reads false
  * even when its keys are distinct.
  */
case class DistinctKeysAgg(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KeyBuffer]
  with UnaryLike[Expression] {

  require(cap > 0, s"keys_distinct requires cap > 0, got $cap")

  override def prettyName: String = "keys_distinct"
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  // generated code is @transient: an observation's accumulator
  // serializes the expression after use
  @transient private lazy val wrapProj =
    UnsafeProjection.create(Array[DataType](child.dataType))
  @transient private lazy val inputWrap = new GenericInternalRow(1)
  @transient private lazy val serProj =
    UnsafeProjection.create(Array[DataType](ArrayType(child.dataType)))

  /** The key wrapped in a one-field row, as owned bytes. */
  private def own(v: Any): UnsafeRow = {
    inputWrap.update(0, v)
    wrapProj(inputWrap).copy()
  }

  override def createAggregationBuffer(): KeyBuffer = {
    // on the driver (merging task results) there is no task: the whole cap
    val tc = TaskContext.get()
    val n = if (tc == null) 1 else math.max(tc.numPartitions(), 1)
    new KeyBuffer(((cap.toLong + n - 1) / n).toInt)
  }

  override def update(buf: KeyBuffer, input: InternalRow): KeyBuffer = {
    if (buf.keys != null) buf.add(own(child.eval(input)))
    buf
  }

  override def merge(b1: KeyBuffer, b2: KeyBuffer): KeyBuffer = {
    if (b2.keys == null) b1.keys = null
    else {
      b1.limit = cap
      b2.keys.forEach(k => if (b1.keys != null) b1.add(k))
    }
    b1
  }

  override def eval(buf: KeyBuffer): Any = buf.keys != null

  override def serialize(buf: KeyBuffer): Array[Byte] =
    if (buf.keys == null) Array.emptyByteArray
    else {
      val values = new Array[Any](buf.keys.size)
      var i = 0
      buf.keys.forEach { k => values(i) = k.get(0, child.dataType); i += 1 }
      serProj(InternalRow(new GenericArrayData(values))).getBytes
    }

  override def deserialize(bytes: Array[Byte]): KeyBuffer = {
    val buf = new KeyBuffer(cap)
    if (bytes.isEmpty) buf.keys = null
    else {
      val row = new UnsafeRow(1)
      row.pointTo(bytes, bytes.length)
      row.getArray(0).foreach(child.dataType, (_, v) => buf.add(own(v)))
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): DistinctKeysAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): DistinctKeysAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(c: Expression): DistinctKeysAgg =
    copy(child = c)
}

/** The distinct keys seen so far, at most `limit` of them; `keys` is
  * null once the group is known to fail (a duplicate, or more keys than
  * `limit`).
  */
private[catalyst] final class KeyBuffer(var limit: Int) {
  var keys: java.util.HashSet[UnsafeRow] = new java.util.HashSet[UnsafeRow]

  /** Adds an owned key; call only while `keys` is not null. */
  def add(k: UnsafeRow): Unit =
    if (!keys.add(k) || keys.size > limit) keys = null
}
