package graft.expr.catalyst

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Expression, GenericInternalRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** `topk_structs(elem, k)` — the `k` SMALLEST values of `elem` per
  * group (any orderable type; in practice a struct whose leading fields
  * are the sort key), returned as an ascending array.
  *
  * This is the aggregate that makes a top-k-per-group computation
  * STREAMING instead of enumerate-then-cap: a `row_number() <= k`
  * window must buffer (or at best partially pre-limit) the group's
  * candidate rows around a sort, whereas an aggregate folds each
  * candidate into a k-bounded buffer the moment it is produced —
  * per-group state is k values, the candidate stream is never
  * materialized, and partial aggregation (map-side combine) means a
  * shuffle carries at most k values per group per map task no matter
  * how many candidates a group has. That bound is what
  * [[graft.operators.RangeJoin.pointInIntervalTopKSweep]] rides in the
  * densification regime, where candidates per point grow with the
  * corpus (docs/SCALING.md measured the uncapped pair stream at
  * exponent 2.09).
  *
  * ==Hot-path representation (why not a PriorityQueue)==
  * The fold's cost is one comparison per candidate, so the comparison
  * must be the GENERATED kind: the ordering comes from
  * `RowOrdering.create`'s codegen path (compiled field-by-field
  * comparators, primitive accessors, no boxing), evaluated over a
  * one-field row wrapping the element. Kept values live in a bounded
  * binary max-heap backed by a plain `Array[InternalRow]` of
  * `UnsafeProjection` copies — compact off-pointer bytes, no
  * per-element node boxes. The first shipped form (boxed
  * `mutable.PriorityQueue[Any]` + `TypeUtils.getInterpretedOrdering`,
  * ~5.5 µs per candidate) was functionally identical but so
  * allocation- and JIT-state-sensitive that an in-sweep measurement
  * ran up to ~50× its isolated time at identical task metrics (round
  * 14 verdict); this representation is the performance-robust form.
  * The heap's root is always the current worst kept value — a
  * candidate is admitted only if it beats it (one comparison; no copy
  * unless admitted). `merge` replays one heap into the other under the
  * same bound, so partial and final aggregation keep the invariant.
  * `eval` sorts the ≤ k survivors ascending.
  *
  * Ties: the ordering is the element type's total order over ALL
  * fields, so equal sort-key prefixes fall through to the remaining
  * fields and the kept set is deterministic — stronger than a window
  * `row_number`, whose tie choice is partition-order-dependent.
  *
  * Cost note: one TypedImperativeAggregate in an aggregation forces
  * the whole aggregate to `ObjectHashAggregate`, which falls back to
  * SORT-based aggregation past
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
  * (default 128) distinct keys per task — the fallback is an external
  * (spillable) sort of the map-side input, so memory stays bounded
  * either way; raise the threshold when point keys per task are modest
  * and the hash path should be kept.
  */
case class TopKStructsAgg(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKHeap]
  with BinaryLike[Expression] {

  override def prettyName: String = "topk_structs"
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (!kExpr.foldable || kExpr.dataType != IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable INT k, got ${kExpr.sql}")
    else if (kExpr.eval() == null || kExpr.eval().asInstanceOf[Int] <= 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires k > 0, got ${kExpr.sql}")
    else if (!RowOrdering.isOrderable(child.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName element type ${child.dataType.catalogString} is not orderable")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  private lazy val k: Int = kExpr.eval().asInstanceOf[Int]

  // Generated comparator over a one-field row holding the element:
  // RowOrdering.create's codegen path emits field-by-field primitive
  // comparisons (interpreted only under the codegen-factory fallback
  // conf). Ascending/nulls-first per field — the same total order the
  // interpreted TypeUtils ordering defines, so kept sets are identical.
  // The three lazy vals holding generated code are @transient: an
  // observed metric's accumulator serializes the expression after use,
  // and generated classes are not serializable.
  @transient private lazy val ordering: Ordering[InternalRow] = RowOrdering.create(
    Seq(SortOrder(BoundReference(0, child.dataType, nullable = false),
      Ascending)), Nil)

  // owns the bytes of an admitted element: one generated projection to
  // a fresh UnsafeRow (values handed to update/deserialize may be views
  // into reused or transient buffers)
  @transient private lazy val wrapProj =
    UnsafeProjection.create(Array[DataType](child.dataType))
  private def own(r: InternalRow): InternalRow = wrapProj(r).copy()

  // reusable one-field wrapper for candidate comparisons: insert either
  // copies (own) or discards before the next call, so reuse is safe
  @transient private lazy val inputWrap = new GenericInternalRow(1)

  override def createAggregationBuffer(): TopKHeap =
    new TopKHeap(k, ordering)

  override def update(buf: TopKHeap, input: InternalRow): TopKHeap = {
    val v = child.eval(input)
    if (v != null) {
      inputWrap.update(0, v)
      buf.insert(inputWrap, own)
    }
    buf
  }

  override def merge(b1: TopKHeap, b2: TopKHeap): TopKHeap = {
    // b2's rows are already owned copies and b2 is discarded after the
    // merge, so they move into b1 without re-copying
    b2.foreachRow(r => b1.insert(r, identity))
    b1
  }

  override def eval(buf: TopKHeap): Any =
    new GenericArrayData(
      buf.sortedRows(ordering).map(_.get(0, child.dataType)))

  @transient private lazy val serProj =
    UnsafeProjection.create(Array[DataType](dataType))

  override def serialize(buf: TopKHeap): Array[Byte] = {
    val values = new Array[Any](buf.size)
    var i = 0
    buf.foreachRow { r => values(i) = r.get(0, child.dataType); i += 1 }
    serProj(InternalRow(new GenericArrayData(values))).getBytes
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val buf = createAggregationBuffer()
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    row.getArray(0).foreach(child.dataType, { (_, v) =>
      inputWrap.update(0, v)
      buf.insert(inputWrap, own)
    })
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKStructsAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKStructsAgg =
    copy(inputAggBufferOffset = offset)
  override def left: Expression = child
  override def right: Expression = kExpr
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): TopKStructsAgg =
    copy(child = l, kExpr = r)
}

/** Bounded binary max-heap of one-field rows under `ord` (ascending
  * element order): `arr(0)` is the WORST kept value — the eviction
  * victim — so admission is one comparison against the root. Backing
  * store is a plain k-slot array of owned `UnsafeRow` copies; no
  * per-element node allocation, no boxing in the compare path (the
  * generated ordering reads fields through primitive accessors).
  */
private[catalyst] final class TopKHeap(
    k: Int, ord: Ordering[InternalRow]) {
  private val arr = new Array[InternalRow](k)
  private var n = 0

  def size: Int = n

  /** Admit `v` if under capacity or better than the current worst.
    * `ownFn` materializes an owned copy — called ONLY on admission, so
    * callers may pass a reused wrapper row.
    */
  def insert(v: InternalRow, ownFn: InternalRow => InternalRow): Unit = {
    if (n < k) {
      var i = n
      arr(i) = ownFn(v)
      n += 1
      // sift up: restore parent >= child
      var p = (i - 1) >> 1
      while (i > 0 && ord.lt(arr(p), arr(i))) {
        val t = arr(p); arr(p) = arr(i); arr(i) = t
        i = p
        p = (i - 1) >> 1
      }
    } else if (ord.lt(v, arr(0))) {
      arr(0) = ownFn(v)
      // sift down: push the new root to its place
      var i = 0
      var continue = true
      while (continue) {
        val l = 2 * i + 1
        val r = l + 1
        var m = i
        if (l < n && ord.gt(arr(l), arr(m))) m = l
        if (r < n && ord.gt(arr(r), arr(m))) m = r
        if (m == i) continue = false
        else {
          val t = arr(m); arr(m) = arr(i); arr(i) = t
          i = m
        }
      }
    }
  }

  def foreachRow(f: InternalRow => Unit): Unit = {
    var i = 0
    while (i < n) { f(arr(i)); i += 1 }
  }

  /** The kept rows, ascending under `by` — non-destructive. */
  def sortedRows(by: Ordering[InternalRow]): Array[InternalRow] = {
    val out = java.util.Arrays.copyOf(arr, n)
    java.util.Arrays.sort(out, by)
    out
  }
}
