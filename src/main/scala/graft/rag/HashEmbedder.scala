package graft.rag

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.chunk.Tokenizer

/** V1 — deterministic hashing-trick embedder (SURVEY.md §7.4).
  *
  * The reference embeds with all-MiniLM-L6-v2
  * (/root/reference/src/rag_engine/embeddings.py:19) — an external
  * neural model. For a hermetic engine the embedding map is replaced
  * by the public feature-hashing trick (Weinberger et al., ICML 2009):
  * each token hashes (sha256-derived, seed-free and engine-portable)
  * to one of `dim` buckets with a ±1 sign bit; the bucket-count vector
  * is L2-normalized. The V1–V4 contract (fixed-dim float vector,
  * cosine geometry) is unchanged.
  *
  * Token hash h = first 60 bits of sha256(token); bucket = h mod dim;
  * sign = (h >> 6) odd ? -1 : +1. Integer accumulation is exact, so
  * the result is bit-reproducible across Spark and the DuckDB oracle.
  */
/** native one-pass feature-hashing embedding of a string column (the
  * JVM twin `HashEmbedder.embed` inside whole-stage codegen — same
  * sha256-derived hashes, bucket/sign rule and normalization fold, so
  * values stay bit-identical to the HOF form and the DuckDB oracle).
  */
case class HashEmbed(
    child: org.apache.spark.sql.catalyst.expressions.Expression, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    graft.text.TextExprs.requireString(prettyName, child.dataType)
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(s: Any): Any =
    HashEmbedder.embedData(
      s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], dim)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) graft.rag.HashEmbedder$$.MODULE$$.embedData($a, $dim)")

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    copy(child = c)
}

object HashEmbedder {

  val Dim = 64

  /** 60-bit token hash from sha256 hex (conv is exact below 2^63). */
  def tokenHash(tok: Column): Column =
    conv(substring(sha2(tok, 256), 1, 15), 16, 10).cast("long")

  /** L2-normalized double vector; zero-norm stays all-zero. Native
    * one-pass expression (tokenize → hash → accumulate → normalize in
    * one JVM kernel, inside whole-stage codegen). A composed-HOF form
    * kept in the test sources computes the identical values —
    * SparkOpsSpec asserts native == HOF == JVM twin — but its
    * `aggregate`/`zip_with` lambdas are interpreted (CodegenFallback),
    * ~4× slower on the V1 carrier.
    */
  def embedding(text: Column, dim: Int = Dim): Column = {
    import org.apache.spark.sql.GraftExprBridge._
    toColumn(HashEmbed(toExpression(text), dim))
  }

  // ---- pure JVM twin (kernel/tests, and query-vector embedding) ----

  /** static entry for HashEmbed's generated code */
  def embedData(text: org.apache.spark.unsafe.types.UTF8String,
      dim: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      embed(text.toString, dim))

  def embed(text: String, dim: Int = Dim): Array[Double] = {
    val raw = new Array[Long](dim)
    // memoize the sha256 per distinct token within the row — natural
    // text repeats tokens heavily; same values, fewer digests. The
    // hash itself is the shared 60-bit basis (TextKernels.hash60).
    val memo = new java.util.HashMap[String, java.lang.Long]()
    Tokenizer.tokenize(text).foreach { t =>
      val h = memo.computeIfAbsent(t.text,
        s => graft.text.TextKernels.hash60(s)).longValue()
      val b = (h % dim).toInt
      raw(b) += (if (((h >> 6) % 2) == 0) 1L else -1L)
    }
    val n = math.sqrt(raw.map(x => x.toDouble * x).sum)
    if (n == 0.0) raw.map(_.toDouble) else raw.map(_ / n)
  }
}
