package graft.store

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `min` of a STRING column (by the column's collation, as Spark's own
  * `min` orders it), with its buffer held as an object: one copied
  * value per group, serialized as its UTF-8 bytes between the partial
  * and final aggregate.
  *
  * Why not Spark's `min`: its buffer is a STRING, which no
  * fixed-width hash-aggregate buffer can hold, so a `min` over a
  * string plans a SortAggregate (a Sort and a non-codegen aggregate,
  * each side of the exchange — 13 generated classes for
  * `list_documents`). A typed imperative aggregate plans an
  * ObjectHashAggregate instead: no sort while a task's groups fit the
  * object hash map (past Spark's per-task key threshold it sorts, as
  * every object aggregate does).
  */
case class MinString(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MinString.Buf] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${t.catalogString}")
  }

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)

  @transient private lazy val ordering = TypeUtils.getInterpretedOrdering(child.dataType)

  override def createAggregationBuffer(): MinString.Buf = new MinString.Buf

  private def offer(buf: MinString.Buf, v: UTF8String): Unit =
    if (v != null && (buf.v == null || ordering.lt(v, buf.v))) buf.v = v.clone()

  override def update(buf: MinString.Buf, input: InternalRow): MinString.Buf = {
    offer(buf, child.eval(input).asInstanceOf[UTF8String])
    buf
  }

  override def merge(buf: MinString.Buf, other: MinString.Buf): MinString.Buf = {
    offer(buf, other.v)
    buf
  }

  override def eval(buf: MinString.Buf): Any = buf.v

  override def serialize(buf: MinString.Buf): Array[Byte] =
    if (buf.v == null) Array.emptyByteArray else 1.toByte +: buf.v.getBytes

  override def deserialize(bytes: Array[Byte]): MinString.Buf = {
    val buf = new MinString.Buf
    if (bytes.nonEmpty) buf.v = UTF8String.fromBytes(bytes, 1, bytes.length - 1)
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): MinString =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MinString =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MinString =
    copy(child = c.head)
}

object MinString {
  /** the group's least value so far; null until a non-null arrives */
  final class Buf { var v: UTF8String = _ }
}

/** `count(1)` with an object buffer, for an aggregate whose other
  * functions are typed imperative aggregates: a declarative `count`
  * beside them makes the ObjectHashAggregate generate its own update,
  * merge and initialisation projections; with every function
  * imperative those projections are empty and shared with every other
  * object aggregate.
  */
case class RowCount(mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Nil

  override def createAggregationBuffer(): Array[Long] = Array(0L)
  override def update(buf: Array[Long], input: InternalRow): Array[Long] = { buf(0) += 1; buf }
  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = { buf(0) += other(0); buf }
  override def eval(buf: Array[Long]): Any = buf(0)
  override def serialize(buf: Array[Long]): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).putLong(buf(0)).array()
  override def deserialize(bytes: Array[Byte]): Array[Long] =
    Array(java.nio.ByteBuffer.wrap(bytes).getLong)

  override def withNewMutableAggBufferOffset(offset: Int): RowCount =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): RowCount =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): RowCount = this
}
