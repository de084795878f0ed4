package graft.extract

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import java.nio.charset.StandardCharsets.UTF_8

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
  * C11 lint normalize, bytes in and bytes out: the payload's UTF-8
  * bytes are parsed in place and the markdown is written into one
  * byte buffer reused per thread, with no String per turn, block or
  * line. Error capture per row (C12): a failing payload
  * yields `status='err'` + the message, never a failed task (mirrors
  * /root/reference/src/pdf_extractor/converter.py:234-242).
  *
  * Spark wiring: one narrow projection over the transcripts scan — the
  * whole conversion is map-side (no shuffle). At 100 TB the only
  * exchange in the job is whatever the sink requires; scaling is
  * embarrassingly parallel over input splits.
  */
object ExtractPipeline {

  /** Pure kernel over a String payload: its UTF-8 bytes through the
    * byte kernel, the markdown decoded back.
    */
  def extract(payload: String): String =
    if (payload == null) ""
    else {
      val b = payload.getBytes(UTF_8)
      new String(markdown(b, 0, b.length, null), UTF_8)
    }

  // shared UTF8String constants: the status/error values are a tiny
  // closed set — one allocation per JVM, not one per turn
  private val OkU = UTF8String.fromString("ok")
  private val ErrU = UTF8String.fromString("err")
  private val EmptyU = UTF8String.fromString("")
  private val EmptyInputU = UTF8String.fromString("empty input")

  /** the blocks of the turn each thread is converting: a warm thread
    * parses into the same arrays turn after turn
    */
  private val scratch = ThreadLocal.withInitial[Blocks](() => new Blocks)
  /** a thread keeps at most this many block slots between turns */
  private val MaxRetainedBlocks = 1 << 12

  /** C1 → C11 over payload bytes `b[from, to)`: markdown bytes. When
    * the bytes are not well-formed UTF-8, `decoded` (the payload as
    * `UTF8String.toString` decodes it) is parsed instead; a String's
    * own encoding is always well-formed, so [[extract]] passes none.
    */
  private def markdown(b: Array[Byte], from: Int, to: Int, decoded: UTF8String): Array[Byte] = {
    val bs = scratch.get()
    try {
      if (!BlockParser.parseInto(bs, b, from, to)) {
        val re = decoded.toString.getBytes(UTF_8)
        BlockParser.parseInto(bs, re, 0, re.length)
      }
      if (bs.isEmpty) Array.emptyByteArray
      else {
        val levels = Headers.identify(bs)
        MarkdownEmitter.emitNormalized(ReadingOrder.order(bs), levels)
      }
    } catch {
      // a throw can leave the scratch half-updated: the next turn
      // starts from a fresh one
      case e: Exception => scratch.remove(); throw e
    } finally {
      bs.clear(Array.emptyByteArray) // do not pin the row's bytes
      if (bs.capacity > MaxRetainedBlocks) scratch.remove()
    }
  }

  /** [[ExtractExpr]]'s kernel entry (C12 error capture): payload →
    * InternalRow(status, markdown-or-empty, error-or-empty). The
    * null/empty guard runs BEFORE the kernel so an empty payload is
    * reported as the intended "empty input", not as whatever exception
    * the parser happens to raise on null. The payload's bytes are
    * parsed where they lie (an on-heap row's own array); what a row
    * allocates is mostly the markdown copy and the row itself.
    *
    * Total over its input: any `Exception` becomes an `err` row. An
    * `Error` escapes on purpose, since it says the JVM, not the row,
    * is broken and Spark must fail the task: an `OutOfMemoryError` (the
    * markdown buffers grow to about the payload's size, so a payload
    * near the 2 GB row limit can exhaust the heap) or a `LinkageError`.
    * No input raises a `StackOverflowError`: the kernel's one recursion
    * is ReadingOrder's merge sort, log2(blocks) deep.
    */
  def extractRow(payload: UTF8String): InternalRow = {
    if (payload == null || payload.numBytes() == 0)
      return row(ErrU, EmptyU, EmptyInputU)
    try {
      val md = payload.getBaseObject match {
        case a: Array[Byte] =>
          val off = (payload.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt
          markdown(a, off, off + payload.numBytes(), payload)
        case _ =>
          val a = payload.getBytes
          markdown(a, 0, a.length, payload)
      }
      row(OkU, if (md.length == 0) EmptyU else UTF8String.fromBytes(md), EmptyU)
    } catch {
      case e: Exception =>
        row(ErrU, EmptyU, UTF8String.fromString(String.valueOf(e.getMessage)))
    }
  }

  /** (status, markdown, error); `InternalRow(...)` would copy its
    * varargs into the row's array, once more per turn
    */
  private def row(status: UTF8String, md: UTF8String, err: UTF8String): InternalRow =
    new GenericInternalRow(Array[Any](status, md, err))

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
