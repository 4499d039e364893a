package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `collect_list` with a hard element cap: collects at most `limit` values per
  * group, then stops — aggregation state is O(limit) per group no matter how
  * hot the key is.
  *
  * Built for the LSH df-cap (`maxBucket` of Dedup.lshCandidates): a band bucket
  * is kept only if it has ≤ cap members, so collecting `cap + 1` elements is
  * enough to decide keep-vs-drop AND, for every kept bucket, the array is
  * provably the complete member set (truncation can only have happened on
  * dropped buckets). Deciding in the single groupBy that forms the buckets
  * takes one shuffle, where a size aggregate plus a semi-join back onto the
  * bucket rows takes three.
  *
  * WHICH elements survive truncation depends on partial-merge order and is
  * not deterministic — callers must only use the array when its size is
  * ≤ limit − 1 (i.e. known-complete). Deterministic for that use by
  * construction.
  *
  * Why at 100 TB: a degenerate LSH bucket (boilerplate text, near-constant
  * band signature) can hold millions of members; an uncapped collect_list is
  * an executor OOM, and a count-then-join sizes pass reshuffles the whole
  * banded frame. This keeps the hot-key state at `limit` longs.
  */
case class CappedCollectLong(child: Expression, limit: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ArrayBuffer[Long]]
    with UnaryLike[Expression] {

  require(limit > 0, "capped_collect_long limit must be positive")

  override def prettyName: String = "capped_collect_long"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires bigint input, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): ArrayBuffer[Long] =
    ArrayBuffer.empty[Long]

  override def update(buffer: ArrayBuffer[Long],
      input: InternalRow): ArrayBuffer[Long] = {
    if (buffer.length < limit) {
      val v = child.eval(input)
      if (v != null) buffer += v.asInstanceOf[Long]
    }
    buffer
  }

  override def merge(buffer: ArrayBuffer[Long],
      other: ArrayBuffer[Long]): ArrayBuffer[Long] = {
    var i = 0
    while (buffer.length < limit && i < other.length) {
      buffer += other(i); i += 1
    }
    buffer
  }

  override def eval(buffer: ArrayBuffer[Long]): Any =
    new GenericArrayData(buffer.toArray)

  override def serialize(buffer: ArrayBuffer[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buffer.length)
    bb.putInt(buffer.length)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new ArrayBuffer[Long](n)
    var i = 0
    while (i < n) { buf += bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CappedCollectLong =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CappedCollectLong =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CappedCollectLong =
    copy(child = newChild)
}

object CappedCollect {
  /** Column wrapper: collect at most `limit` bigints per group. */
  def long(c: Column, limit: Int): Column =
    Bridge.column(
      CappedCollectLong(Bridge.expression(c), limit).toAggregateExpression())
}
