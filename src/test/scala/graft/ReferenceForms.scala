package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.chunk.Tokenizer
import graft.rag.{HashEmbedder, VectorExprs}
import graft.text.Dedup

/** The composed Column forms (Spark higher-order functions, interpreted
  * per row) that the native kernels replaced. They are the readable
  * specification of each kernel; specs assert the kernel equal to its
  * form here.
  */
object ReferenceForms {

  // ---- text / dedup ----

  /** `Dedup.wordsCol` via regexp_extract_all */
  def wordsColHof(text: Column): Column =
    regexp_extract_all(text, lit(Dedup.WordRegex), lit(0))

  /** word 3-shingles, as strings (empty array below 3 words —
    * `sequence` would DESCEND on a negative span, so guard explicitly)
    */
  def shinglesCol(text: Column): Column = {
    val w = Dedup.wordsCol(text)
    when(size(w) >= 3,
      transform(sequence(lit(0), size(w) - 3), i =>
        concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2),
          element_at(w, i + 3))))
      .otherwise(array().cast("array<string>"))
  }

  /** `Dedup.simhashCol`: bit b set iff the ±1 vote sum of that bit
    * across the word hashes is positive
    */
  def simhashColHof(text: Column): Column = {
    val masks = typedLit((0 until Dedup.SimBits).map(b => 1L << b))
    val zeros = typedLit(Seq.fill(Dedup.SimBits)(0L))
    val hashed = transform(Dedup.wordsCol(text), w => HashEmbedder.tokenHash(w))
    val votes = aggregate(hashed, zeros, (acc, h) =>
      zip_with(acc, masks, (a, m) =>
        a + when(h.bitwiseAND(m) =!= 0L, 1L).otherwise(-1L)))
    aggregate(zip_with(votes, masks, (v, m) => when(v > 0L, m).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
  }

  /** `TextExprs.wordStats` hits: lowercased words contained in `list` */
  def hits(text: Column, list: Seq[String]): Column =
    size(filter(
      transform(regexp_extract_all(text, lit(Dedup.WordRegex), lit(0)), w => lower(w)),
      w => w.isInCollection(list)))

  // ---- hash embedder ----

  /** tokens(text) as an array column — same token basis as Tokenizer. */
  def tokensCol(text: Column): Column =
    regexp_extract_all(text, lit(Tokenizer.TokenRegex), lit(0))

  /** raw integer histogram: Σ ±1 per bucket. Single fold over tokens
    * (each token sha256'd once) — the dims×tokens shape
    * `transform(dims, d -> aggregate(tokens, ...))` would re-evaluate
    * the token subtree per dimension after Catalyst inlines it.
    */
  def rawEmbedding(text: Column, dim: Int = HashEmbedder.Dim): Column = {
    val zeros = typedLit(Seq.fill(dim)(0L))
    val dims = typedLit((0L until dim.toLong).toSeq)
    val hashed = transform(tokensCol(text), HashEmbedder.tokenHash _)
    aggregate(hashed, zeros, (acc, h) =>
      zip_with(acc, dims, (a, d) =>
        a + when(pmod(h, lit(dim.toLong)) === d,
          when(pmod(shiftright(h, 6), lit(2L)) === 0L, 1L).otherwise(-1L))
          .otherwise(0L)))
  }

  /** `HashEmbedder.embedding`: the L2-normalized raw histogram */
  def embeddingHof(text: Column, dim: Int = HashEmbedder.Dim): Column =
    VectorExprs.l2Normalize(rawEmbedding(text, dim).cast("array<double>"))
}
