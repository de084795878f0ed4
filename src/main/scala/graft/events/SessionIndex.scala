package graft.events

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** The running session ordinal of a partition whose rows arrive sorted
  * by (key, ts, id): 0 at each key's first row, +1 at every row whose
  * `tsMicros` is more than `gapMicros` after the previous row's of the
  * same key. A row or its predecessor with a null timestamp opens no
  * session. This is `sum(isNew) OVER (PARTITION BY key ORDER BY ts, id
  * ROWS UNBOUNDED PRECEDING)` over `isNew = lag(ts) IS NOT NULL AND ts -
  * lag(ts) > gap`, folded into one pass over the sorted stream: no
  * window frame, no buffered key group, inside the sort's whole-stage
  * span.
  *
  * It is stateful, so its value is only defined when its input is
  * sorted that way within each partition and each key lies whole in
  * one partition — [[EventOps.sessionize]] plans exactly that. Keys
  * are compared by their ordering (the sort's notion of equal), nulls
  * equal to nulls.
  */
case class SessionIndex(key: Expression, tsMicros: Expression, gapMicros: Long)
    extends Expression with Nondeterministic {

  override def children: Seq[Expression] = Seq(key, tsMicros)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def stateful: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (tsMicros.dataType != LongType) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BIGINT microseconds, got ${tsMicros.dataType.catalogString}")
    else TypeUtils.checkForOrderingExpr(key.dataType, prettyName)

  @transient private lazy val ordering = TypeUtils.getInterpretedOrdering(key.dataType)
  @transient private var started = false
  @transient private var prevKey: Any = _
  @transient private var prevTs: Any = _
  @transient private var idx = 0

  override protected def initializeInternal(partitionIndex: Int): Unit = {
    started = false
    idx = 0
  }

  override protected def evalInternal(input: InternalRow): Any = {
    val k = key.eval(input)
    val t = tsMicros.eval(input)
    val sameKey = started &&
      (if (k == null) prevKey == null else prevKey != null && ordering.compare(k, prevKey) == 0)
    if (!sameKey) idx = 0
    else if (t != null && prevTs != null &&
      t.asInstanceOf[Long] - prevTs.asInstanceOf[Long] > gapMicros) idx += 1
    started = true
    prevKey = InternalRow.copyValue(k)
    prevTs = t
    idx
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = key.genCode(ctx)
    val t = tsMicros.genCode(ctx)
    val keyType = CodeGenerator.javaType(key.dataType)
    val started = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "sessStarted")
    val prevKeyNull = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "sessPrevKeyNull")
    val prevKey = ctx.addMutableState(keyType, "sessPrevKey")
    val prevTsNull = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "sessPrevTsNull")
    val prevTs = ctx.addMutableState(CodeGenerator.JAVA_LONG, "sessPrevTs")
    val idx = ctx.addMutableState(CodeGenerator.JAVA_INT, "sessIdx")
    ctx.addPartitionInitializationStatement(s"$started = false; $idx = 0;")
    val sameKey = ctx.freshName("sameKey")
    val keyCopy =
      if (CodeGenerator.isPrimitiveType(key.dataType)) k.value.toString
      else s"($keyType) org.apache.spark.sql.catalyst.InternalRow$$.MODULE$$.copyValue(${k.value})"
    ev.copy(code = code"""
      |${k.code}
      |${t.code}
      |boolean $sameKey = $started && (${k.isNull} ? $prevKeyNull :
      |  !$prevKeyNull && ${ctx.genComp(key.dataType, k.value.toString, prevKey)} == 0);
      |if (!$sameKey) {
      |  $idx = 0;
      |} else if (!${t.isNull} && !$prevTsNull && ${t.value} - $prevTs > ${gapMicros}L) {
      |  $idx++;
      |}
      |$started = true;
      |$prevKeyNull = ${k.isNull};
      |if (!${k.isNull}) $prevKey = $keyCopy;
      |$prevTsNull = ${t.isNull};
      |if (!${t.isNull}) $prevTs = ${t.value};
      |final int ${ev.value} = $idx;
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SessionIndex =
    copy(key = c(0), tsMicros = c(1))
}
