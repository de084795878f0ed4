package graft.extract

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** payload → struct(status, markdown, error) as a NATIVE expression —
  * no per-row ScalaUDF machinery (closure dispatch, catalyst↔Scala
  * converters, case-class encoder): the kernel result goes straight
  * into an InternalRow, with the constant status/error strings shared.
  * NULL-TOTAL: a null payload yields the ("err", "", "empty input")
  * row, never a null struct (so it cannot use
  * nullSafeEval/defineCodeGen, which would short-circuit null inputs).
  */
case class ExtractExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = StructType(Seq(
    StructField("status", StringType),
    StructField("markdown", StringType),
    StructField("error", StringType)))
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    ExtractPipeline.extractRow(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
          graft.extract.ExtractPipeline.extractRow(
            ${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** The conversion core wired into Spark (SURVEY.md §2.2, §3.1).
  *
  * Per-turn kernel (pure, Spark-free): C1 parse → C2 header histogram
  * (kernel-local — each turn embeds one document, so the
  * aggregate-then-rescan shuffle of a corpus-wide histogram is not
  * needed; SURVEY.md §7.4) → C3 reading order → C4–C10 markdown emit →
  * C11 lint normalize. Error capture per row (C12): a failing payload
  * yields `status='err'` + the message, never a failed task (mirrors
  * /root/reference/src/pdf_extractor/converter.py:234-242).
  *
  * Spark wiring: one narrow projection over the transcripts scan — the
  * whole conversion is map-side (no shuffle). At 100 TB the only
  * exchange in the job is whatever the sink requires; scaling is
  * embarrassingly parallel over input splits.
  */
object ExtractPipeline {

  /** Pure kernel: one turn's payload → normalized markdown. */
  def extract(payload: String): String = {
    val blocks = BlockParser.parse(payload)
    if (blocks.isEmpty) return ""
    val headerMap = Headers.identify(blocks)
    val ordered = ReadingOrder.order(blocks)
    // fused emit → lint → join: one output buffer, no element strings
    MarkdownEmitter.emitNormalized(ordered, headerMap)
  }

  // shared UTF8String constants: the status/error values are a tiny
  // closed set — one allocation per JVM, not one per turn
  private val OkU = UTF8String.fromString("ok")
  private val ErrU = UTF8String.fromString("err")
  private val EmptyU = UTF8String.fromString("")
  private val EmptyInputU = UTF8String.fromString("empty input")

  /** [[ExtractExpr]]'s kernel entry (C12 error capture): payload →
    * InternalRow(status, markdown-or-empty, error-or-empty). The
    * null/empty guard runs BEFORE the kernel so an empty payload is
    * reported as the intended "empty input", not as whatever exception
    * the parser happens to raise on null.
    */
  def extractRow(payload: UTF8String): InternalRow = {
    if (payload == null || payload.numBytes() == 0)
      return InternalRow(ErrU, EmptyU, EmptyInputU)
    try InternalRow(OkU, UTF8String.fromString(extract(payload.toString)), EmptyU)
    catch {
      case e: Exception =>
        InternalRow(ErrU, EmptyU,
          UTF8String.fromString(String.valueOf(e.getMessage)))
    }
  }

  /** Shared conversion column: payload → struct(status, markdown,
    * error) via the native [[ExtractExpr]] (former ScalaUDF shape).
    */
  private def extractCol(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.GraftExprBridge.toColumn(
      ExtractExpr(org.apache.spark.sql.GraftExprBridge.toExpression(c)))

  /** transcripts(conv_id, turn_idx, role, text, tool, ts) →
    * (conv_id, turn_idx [, partition_id], status, markdown, error).
    * Map-side only; a partition_id column, if present, is passed
    * through so the manifest path needs no re-join.
    */
  def overTranscripts(transcripts: DataFrame): DataFrame = {
    val keep = Seq("conv_id", "turn_idx") ++
      (if (transcripts.columns.contains("partition_id")) Seq("partition_id") else Nil)
    transcripts
      .withColumn("_x", extractCol(col("text")))
      .select(keep.map(col) ++ Seq(
        col("_x.status").as("status"),
        col("_x.markdown").as("markdown"),
        col("_x.error").as("error")): _*)
  }

  /** documents(doc_id, text, …) → (doc_id, status, markdown, error). */
  def overDocuments(documents: DataFrame): DataFrame = {
    documents
      .withColumn("_x", extractCol(col("text")))
      .select(col("doc_id"),
        col("_x.status").as("status"),
        col("_x.markdown").as("markdown"),
        col("_x.error").as("error"))
  }

  /** C13 — batch summary fold (converter.py:276-293). */
  def summary(extracted: DataFrame): DataFrame =
    extracted.agg(
      count(when(col("status") === "ok", 1)).as("successful"),
      count(when(col("status") === "err", 1)).as("failed"),
      count(lit(1)).as("total"))
}
