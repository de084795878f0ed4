package graft.chunk

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Spark wiring of the chunking kernel — a generator per document, no
  * shuffle (SURVEY.md §2.3: "perfectly parallel across documents").
  * At 100 TB this stage is bound purely by scan + CPU; partitioning is
  * inherited from the input splits.
  */
object ChunkOps {

  private[chunk] val chunker = new Chunker(maxTokens = 512, overlapTokens = 50)

  private def chunkWith(df: DataFrame, kind: String): Dataset[Chunk] = {
    import org.apache.spark.sql.GraftExprBridge.{toColumn, toExpression}
    val spark = df.sparkSession
    import spark.implicits._
    df.select(toColumn(ChunkRows(toExpression(col("document").cast("string")),
      toExpression(col("text").cast("string")), kind))).as[Chunk]
  }

  /** Normalize any (idCol → document, textCol → text) frame. */
  private def named(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(concat(lit("doc-"), col(idCol)).as("document"),
      col(textCol).as("text"))

  def sections(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Dataset[Chunk] =
    chunkWith(named(docs, idCol, textCol), "sections")

  def byTokens(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Dataset[Chunk] =
    chunkWith(named(docs, idCol, textCol), "tokens")

  def byAtCommands(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Dataset[Chunk] =
    chunkWith(named(docs, idCol, textCol), "at")

  /** K5 metadata as pure Column expressions (no UDF — stays inside
    * whole-stage codegen): the per-chunk enrichment projected
    * directly over a text column. Mirrors `_create_chunk`
    * (chunking.py:232-252).
    */
  def metaColumns(text: org.apache.spark.sql.Column): Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "token_count" -> size(regexp_extract_all(text, lit(Tokenizer.TokenRegex), lit(0))),
    "at_commands" -> array_join(regexp_extract_all(text, lit("AT\\+[A-Z0-9]+"), lit(0)), ", "),
    "at_command_count" -> size(regexp_extract_all(text, lit("AT\\+[A-Z0-9]+"), lit(0))),
    "has_code_blocks" -> text.contains("```"),
    "has_tables" -> (text.contains("|") && text.contains("\n")))
}

/** The chunks of one document as generated rows: `kind` names the
  * chunker (`sections`, `tokens` or `at`), and each [[Chunk]] becomes
  * one row of the `Chunk` encoder's schema. A generator rather than a
  * typed `flatMap`, so the chunks are written straight into the scan's
  * whole-stage span: no object deserializer before the chunker and no
  * second span to serialize its output.
  */
case class ChunkRows(document: Expression, text: Expression, kind: String)
    extends BinaryExpression with Generator {

  override def left: Expression = document
  override def right: Expression = text

  override def elementSchema: StructType = ChunkRows.Schema

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    ChunkRows.rows(kind, document.eval(input).asInstanceOf[UTF8String],
      text.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val d = document.genCode(ctx)
    val t = text.genCode(ctx)
    ev.copy(code = code"""
      |${d.code}
      |${t.code}
      |scala.collection.Iterator<InternalRow> ${ev.value} = graft.chunk.ChunkRows$$.MODULE$$.rows(
      |  "$kind", ${d.isNull} ? null : ${d.value}, ${t.isNull} ? null : ${t.value});
      """.stripMargin, isNull = FalseLiteral,
      value = JavaCode.variable(ev.value.toString, classOf[Iterator[_]]))
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ChunkRows =
    copy(document = l, text = r)
}

object ChunkRows {
  val Schema: StructType = Encoders.product[Chunk].schema

  /** static entry for generated code: the rows of one document */
  def rows(kind: String, document: UTF8String, text: UTF8String): Iterator[InternalRow] = {
    val doc = if (document == null) null else document.toString
    val md = if (text == null) null else text.toString
    val chunks = kind match {
      case "sections" => ChunkOps.chunker.chunkBySections(md, doc)
      case "tokens" => ChunkOps.chunker.chunkByTokens(md, doc)
      case "at" => ChunkOps.chunker.chunkByAtCommands(md, doc)
    }
    chunks.iterator.map(c => InternalRow(UTF8String.fromString(c.chunk_id),
      UTF8String.fromString(c.document), c.chunk_index, UTF8String.fromString(c.section),
      UTF8String.fromString(c.content), c.start_char, c.end_char, c.token_count,
      UTF8String.fromString(c.at_commands), c.at_command_count, c.has_code_blocks,
      c.has_tables))
  }
}
