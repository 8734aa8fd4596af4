package graft.expressions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RowOrdering, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Collect, ImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `collect_set` that stops collecting at `limit + 1` distinct values:
  * every partial buffer and every merge holds at most that many, so the
  * result is the whole set when it has at most `limit` values and
  * `limit + 1` of them otherwise — enough to tell that a group is over
  * the limit without holding the group. The LSH bucket cap of
  * [[graft.operators.Dedup.lshCandidatePairs]] reads it that way.
  *
  * Equality is `collect_set`'s (binary values compare by content); the
  * type must be orderable, as the sorted id lists that read it need.
  */
case class BoundedCollectSet(child: Expression, limit: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends Collect[mutable.HashSet[Any]] with UnaryLike[Expression] {
  require(limit >= 0, "bounded_collect_set: limit must not be negative")

  override def prettyName: String = "bounded_collect_set"

  override def checkInputDataTypes(): TypeCheckResult =
    if (RowOrdering.isOrderable(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bounded_collect_set needs an orderable type, got ${child.dataType.sql}")

  override protected lazy val bufferElementType: DataType = child.dataType match {
    case BinaryType => ArrayType(ByteType)
    case other => other
  }

  override def convertToBufferElement(value: Any): Any = child.dataType match {
    case BinaryType => UnsafeArrayData.fromPrimitiveArray(value.asInstanceOf[Array[Byte]])
    case _ => InternalRow.copyValue(value)
  }

  override def createAggregationBuffer(): mutable.HashSet[Any] = mutable.HashSet.empty

  override def update(buffer: mutable.HashSet[Any], input: InternalRow): mutable.HashSet[Any] =
    if (buffer.size > limit) buffer else super.update(buffer, input)

  override def merge(buffer: mutable.HashSet[Any],
      other: mutable.HashSet[Any]): mutable.HashSet[Any] = {
    val it = other.iterator
    while (buffer.size <= limit && it.hasNext) buffer += it.next()
    buffer
  }

  override def eval(buffer: mutable.HashSet[Any]): Any = {
    val values = child.dataType match {
      case BinaryType => buffer.iterator.map(_.asInstanceOf[ArrayData].toByteArray()).toArray[Any]
      case _ => buffer.toArray
    }
    new GenericArrayData(values)
  }

  override def withNewMutableAggBufferOffset(o: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = o)

  override def withNewInputAggBufferOffset(o: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = o)

  override protected def withNewChildInternal(c: Expression): BoundedCollectSet =
    copy(child = c)
}
