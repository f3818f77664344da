package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** Size-capped distinct-set aggregate: collects the group's distinct
  * (non-null) values until the set holds `cap` elements, then stops
  * adding — the buffer is O(cap) on ANY group-size distribution, which
  * is what makes it safe on a 100 TB corpus where `collect_set` over a
  * boilerplate-hub group would materialize an unbounded id list in one
  * aggregation buffer.
  *
  * Contract consumed by [[graft.text.LinkGraph.sharedSpanEdges]]: with
  * `cap = maxDf + 1`, a returned array of size ≤ maxDf is the COMPLETE
  * distinct set (the cap was never hit), while size == cap means the
  * true distinct count is ≥ cap — i.e. the group is over the df cap and
  * gets dropped. WHICH cap elements survive an overflowing group is
  * partition-order-dependent, so callers must only branch on the SIZE
  * of an overflowed result, never its contents — exactly what the df-cap
  * filter does. Kept (non-overflowed) sets are sorted ascending, so
  * downstream pair generation is deterministic.
  *
  * Same [[TypedImperativeAggregate]] shape as [[KllQuantileAgg]]: the
  * buffer is the live object, bytes only materialize at exchange
  * boundaries (serialize = one UnsafeProjection of the value array).
  */
case class BoundedSetAgg(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[mutable.HashSet[Any]] with UnaryLike[Expression] {

  require(cap >= 1, s"bounded_distinct_set: cap $cap < 1")

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "bounded_distinct_set"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StructType | _: ArrayType | _: MapType =>
      TypeCheckResult.TypeCheckFailure(
        s"bounded_distinct_set takes a flat orderable input, got ${child.dataType.simpleString(10)}")
    case dt if org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(dt) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bounded_distinct_set takes a flat orderable input, got ${other.simpleString(10)}")
  }

  override def createAggregationBuffer(): mutable.HashSet[Any] = mutable.HashSet.empty

  override def update(buf: mutable.HashSet[Any], input: InternalRow): mutable.HashSet[Any] = {
    if (buf.size < cap) {
      val v = child.eval(input)
      // copy: non-primitive eval results (UTF8String) alias reused buffers
      if (v != null) buf += InternalRow.copyValue(v)
    }
    buf
  }

  override def merge(buf: mutable.HashSet[Any], other: mutable.HashSet[Any]): mutable.HashSet[Any] = {
    val it = other.iterator
    while (buf.size < cap && it.hasNext) buf += it.next()
    buf
  }

  // transient: an observed aggregate travels back to the driver inside
  // its accumulator, after these were built on the executor
  @transient private lazy val ordering = TypeUtils.getInterpretedOrdering(child.dataType)

  override def eval(buf: mutable.HashSet[Any]): Any =
    new GenericArrayData(buf.toArray.sorted(ordering))

  @transient private lazy val projection =
    UnsafeProjection.create(Array[DataType](ArrayType(child.dataType, containsNull = false)))

  override def serialize(buf: mutable.HashSet[Any]): Array[Byte] =
    projection.apply(InternalRow.apply(new GenericArrayData(buf.toArray))).getBytes

  override def deserialize(bytes: Array[Byte]): mutable.HashSet[Any] = {
    val buf = createAggregationBuffer()
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    row.getArray(0).foreach(child.dataType, (_, v) => buf += InternalRow.copyValue(v))
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedSetAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedSetAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BoundedSetAgg =
    copy(child = newChild)
}

object BoundedSetAgg {
  import org.apache.spark.sql.graftbridge.Bridge

  /** Column form: sorted array of the group's distinct values, collection
    * stopped at `cap` elements (see class doc for the size contract).
    */
  def boundedDistinctSet(c: Column, cap: Int): Column =
    Bridge.column(
      BoundedSetAgg(Bridge.expression(c), cap).toAggregateExpression(isDistinct = false))
}
