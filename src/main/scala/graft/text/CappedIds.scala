package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, SpecificInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** Df-capped id-list aggregate for inverted-index builds: per group,
  * collect up to `cap` BIGINT values; a group that EXCEEDS the cap
  * evaluates to NULL ("poisoned") and its collected state is freed at
  * the moment the cap breaks. This turns the df-cap of a similarity
  * index (drop shingles hotter than maxDf) into ONE aggregation pass:
  * the old shape needed a df count aggregate, an anti-join against the
  * hot list, and a SECOND evaluation of the shingle kernel to rebuild
  * the index rows.
  *
  * Scale safety is the point of the cap: a boilerplate shingle in 1%
  * of a 100 TB corpus sends billions of rows at one key — a plain
  * `collect_list` would hold them all in one aggregation buffer. This
  * buffer never holds more than cap+1 values regardless of the key's
  * true frequency (update poisons at cap+1 and frees the array;
  * partial buffers merge map-side, each ≤ cap+1), so the hottest key
  * costs O(cap) state per mapper and its occurrences are discarded at
  * the combine, never concentrated.
  *
  * Planned as an ObjectHashAggregate, partial and final. Past Spark's
  * per-task key threshold (`spark.sql.objectHashAggregate.sortBased.
  * fallbackThreshold`, 128 by default) each side falls back to a
  * sort-based merge: its hash map spills to an external sorter, so
  * "one aggregation pass" holds per side but that pass sorts its
  * buffers (3 more generated classes per side's key type).
  *
  * Output-set determinism: the ARRAY ORDER is arrival order (partition
  * dependent), but a capped group's value multiset is exact and
  * complete, so any order-insensitive consumer (explode → join/agg) is
  * partition-invariant. Do not feed it into order-sensitive folds.
  */
final class CappedLongs(val cap: Int) {
  var poisoned: Boolean = false
  var n: Int = 0
  var arr: Array[Long] = CappedLongs.Empty

  def add(v: Long): Unit = {
    if (poisoned) return
    if (n >= cap) { poison(); return }
    if (n == arr.length)
      arr = java.util.Arrays.copyOf(arr, math.min(math.max(8, n * 2), cap))
    arr(n) = v
    n += 1
  }

  def poison(): Unit = { poisoned = true; n = 0; arr = CappedLongs.Empty }
}

object CappedLongs { private[text] val Empty = Array.emptyLongArray }

case class CappedIdsAgg(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CappedLongs] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (cap < 1) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires cap >= 1, got $cap")
    else if (child.dataType != LongType) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BIGINT argument, got ${child.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)

  override def createAggregationBuffer(): CappedLongs = new CappedLongs(cap)

  override def update(buf: CappedLongs,
      input: org.apache.spark.sql.catalyst.InternalRow): CappedLongs = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: CappedLongs, other: CappedLongs): CappedLongs = {
    if (other.poisoned) buf.poison()
    else {
      var i = 0
      while (i < other.n && !buf.poisoned) { buf.add(other.arr(i)); i += 1 }
    }
    buf
  }

  override def eval(buf: CappedLongs): Any =
    if (buf.poisoned) null
    else new GenericArrayData(java.util.Arrays.copyOf(buf.arr, buf.n))

  override def serialize(buf: CappedLongs): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(5 + 8 * buf.n)
    bb.put(if (buf.poisoned) 1.toByte else 0.toByte)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putLong(buf.arr(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CappedLongs = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new CappedLongs(cap)
    val poisoned = bb.get() == 1
    if (poisoned) buf.poison()
    else {
      val n = bb.getInt
      var i = 0
      while (i < n) { buf.add(bb.getLong); i += 1 }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): CappedIdsAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): CappedIdsAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

/** The rows of one capped posting list: first a row (x, x) for every
  * list ENTRY x, then a row (a_id, b_id) for every two entries whose
  * ids satisfy a < b strictly. Entries pair by position, so an id
  * listed twice pairs twice with each other id and never with itself:
  * the multiset that an explode of the list plus a self-join on the
  * shingle with `a < b` gives, plus the join's diagonal, without the
  * exploded rows or the join. Counted per (a_id, b_id), the (x, x)
  * rows give each id's list count (its set size) in the same aggregate
  * as the pair counts. A null or empty list yields no row.
  *
  * Cost is O(1) per emitted pair: the list is read once into a long
  * array and the pairs stream from two cursors through one reused row.
  * Under whole-stage codegen the iterator feeds the consuming
  * aggregate in the same generated loop, which reads each row before
  * asking for the next; the interpreted path projects each row before
  * the next `next()`, so the reused row is never observed twice.
  */
case class PostingPairs(child: Expression) extends UnaryExpression with Generator {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an ARRAY<BIGINT> argument, got ${t.catalogString}")
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("a_id", LongType, nullable = false),
    StructField("b_id", LongType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    PostingPairs.pairs(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ids = child.genCode(ctx)
    ev.copy(code = code"""
      |${ids.code}
      |scala.collection.Iterator<InternalRow> ${ev.value} =
      |  graft.text.PostingPairs$$.MODULE$$.pairs(${ids.isNull} ? null : ${ids.value});
      """.stripMargin, isNull = FalseLiteral,
      value = JavaCode.variable(ev.value.toString, classOf[Iterator[_]]))
  }

  override protected def withNewChildInternal(c: Expression): PostingPairs = copy(child = c)
}

object PostingPairs {

  /** the rows of `ids` (see [[PostingPairs]]); null → none */
  def pairs(ids: ArrayData): Iterator[InternalRow] =
    if (ids == null || ids.numElements() == 0) Iterator.empty
    else new Pairs(ids.toLongArray())

  private final class Pairs(ids: Array[Long]) extends Iterator[InternalRow] {
    private[this] val row = new SpecificInternalRow(Seq(LongType, LongType))
    private[this] val n = ids.length
    // self rows still to emit: entries [s, n)
    private[this] var s = 0
    // the next candidate entry pair is (i, j), i < j
    private[this] var i = 0
    private[this] var j = 1

    /** moves (i, j) to the next entry pair with unequal ids */
    private[this] def seek(): Unit =
      while (i < n - 1 && (j == n || ids(i) == ids(j))) {
        if (j == n) { i += 1; j = i + 1 } else j += 1
      }

    override def hasNext: Boolean = s < n || { seek(); i < n - 1 }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException("no more posting pairs")
      if (s < n) {
        row.setLong(0, ids(s))
        row.setLong(1, ids(s))
        s += 1
        return row
      }
      val x = ids(i)
      val y = ids(j)
      j += 1
      row.setLong(0, math.min(x, y))
      row.setLong(1, math.max(x, y))
      row
    }
  }
}

object CappedIds {
  import org.apache.spark.sql.GraftExprBridge._

  /** capped id-list aggregate over a BIGINT column: array of the
    * group's values if the group has ≤ cap rows, else NULL
    */
  def cappedIds(e: Column, cap: Int): Column =
    toColumn(CappedIdsAgg(toExpression(e), cap).toAggregateExpression())

  /** generator column of the (a_id, b_id) BIGINT rows of a posting
    * list: (x, x) per entry, then the pairs a < b (see [[PostingPairs]])
    */
  def postingPairs(ids: Column): Column = toColumn(PostingPairs(toExpression(ids)))
}
