package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k (score desc, id asc) aggregate — the
  * [[graft.operators.TopKPerKey]] kernel re-implemented as a
  * [[TypedImperativeAggregate]] (optimization round 19, the
  * RegisterMaxAgg conversion applied to the last remaining udaf in a
  * query path): the `Aggregator`-based heap deserialized every input row
  * into a boxed `(Double, Long)` through an ExpressionEncoder and
  * re-built an immutable `Vector` per insertion — per-row allocation on
  * the very map-side combine the operator exists to provide. Here the
  * buffer is a pair of primitive arrays kept sorted best-first
  * (binary-search insertion, O(1) reject when the row ranks below the
  * current worst), update reads the two child columns unboxed, and
  * serialize is 16k bytes at exchange boundaries.
  *
  * Ordering and tie-break are IDENTICAL to the udaf it replaces (score
  * descending, id ascending on equal scores) for non-null, non-NaN
  * inputs — the q_topk_per_key oracle pins it. Output:
  * `array<struct<_1: double, _2: long>>`, the exact shape the
  * Aggregator's `Seq[(Double, Long)]` encoder produced, so consumers
  * (`pair._1` / `pair._2`) are untouched. Two carve-outs from the udaf:
  *  - null inputs (either column) are skipped, matching aggregate
  *    convention, where the udaf's tuple encoder failed on them;
  *  - a NaN score fails the query with an `IllegalArgumentException`
  *    naming the id. NaN compares false both ways, so no insertion
  *    point is consistent for it: the udaf put it first and this buffer
  *    would put it last, and either choice misplaces later rows and
  *    depends on the order rows arrive. Filter or replace NaN scores
  *    before ranking.
  */
case class TopKAgg(
    scoreChild: Expression,
    idChild: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[TopKAgg.Buf] with BinaryLike[Expression] {

  require(k >= 1, s"top_k: k $k < 1")

  override def left: Expression = scoreChild
  override def right: Expression = idChild

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("_1", DoubleType, nullable = false),
    StructField("_2", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "top_k"

  override def checkInputDataTypes(): TypeCheckResult =
    (scoreChild.dataType, idChild.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (s, i) => TypeCheckResult.TypeCheckFailure(
        s"top_k takes (double, long), got (${s.simpleString(10)}, ${i.simpleString(10)})")
    }

  override def createAggregationBuffer(): TopKAgg.Buf = new TopKAgg.Buf(k)

  override def update(buf: TopKAgg.Buf, input: InternalRow): TopKAgg.Buf = {
    val s = scoreChild.eval(input)
    val i = idChild.eval(input)
    if (s != null && i != null) {
      val score = s.asInstanceOf[Double]
      if (score.isNaN) throw new IllegalArgumentException(
        s"top_k: NaN score for id $i - NaN has no place in a score-descending " +
          "order; filter or replace NaN scores before ranking")
      buf.insert(score, i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKAgg.Buf, other: TopKAgg.Buf): TopKAgg.Buf = {
    var i = 0
    while (i < other.size) { buf.insert(other.scores(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKAgg.Buf): Any = {
    val out = new Array[Any](buf.size)
    var i = 0
    while (i < buf.size) {
      out(i) = InternalRow(buf.scores(i), buf.ids(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: TopKAgg.Buf): Array[Byte] = {
    val bytes = new Array[Byte](4 + buf.size * 16)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1 }
    bytes
  }

  override def deserialize(bytes: Array[Byte]): TopKAgg.Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new TopKAgg.Buf(k)
    buf.size = n
    var i = 0
    while (i < n) { buf.scores(i) = bb.getDouble(); buf.ids(i) = bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): TopKAgg =
    copy(scoreChild = newLeft, idChild = newRight)
}

object TopKAgg {
  /** Sorted-best-first bounded buffer: parallel primitive arrays,
    * `size ≤ k`. Ordering: score desc, id asc — `better` is the exact
    * predicate the udaf used.
    */
  final class Buf(val k: Int) {
    val scores = new Array[Double](k)
    val ids = new Array[Long](k)
    var size = 0

    private def better(s: Double, i: Long, idx: Int): Boolean =
      s > scores(idx) || (s == scores(idx) && i < ids(idx))

    def insert(s: Double, i: Long): Unit = {
      if (size >= k && !better(s, i, size - 1)) return
      var lo = 0
      var hi = size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (better(s, i, mid)) hi = mid else lo = mid + 1
      }
      // lo = insertion point (first index the new row beats)
      val last = math.min(size, k - 1)
      var j = last
      while (j > lo) { scores(j) = scores(j - 1); ids(j) = ids(j - 1); j -= 1 }
      scores(lo) = s
      ids(lo) = i
      if (size < k) size += 1
    }
  }

  import org.apache.spark.sql.graftbridge.Bridge

  /** Column form: bounded top-k (score desc, id asc) pairs per group. */
  def topK(score: Column, id: Column, k: Int): Column =
    Bridge.column(
      TopKAgg(Bridge.expression(score), Bridge.expression(id), k)
        .toAggregateExpression(isDistinct = false))
}
