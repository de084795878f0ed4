package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.chunk.Tokenizer
import graft.rag.{HashEmbedder, VectorExprs}
import graft.text.{CappedIds, Dedup, TextExprs}

/** The composed Column forms (Spark higher-order functions, interpreted
  * per row) that the native kernels replaced. They are the readable
  * specification of each kernel; specs assert the kernel equal to its
  * form here. The same holds for the df-count + anti-join n-gram index
  * that the capped-ids aggregate replaced, and for the self-join over
  * that index that the posting-pair generator replaced.
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

  // ---- minhash ----

  /** z·c mod 2^60 without 64-bit overflow (Spark 4 runs ANSI mode, so
    * a wrapping multiply would throw): split both operands into 30-bit
    * halves — z·c ≡ zl·cl + 2^30·((zh·cl + zl·ch) mod 2^30) (mod 2^60),
    * every intermediate < 2^61.
    */
  private def mulMod60(z: Column, c: Long): Column = {
    val lo30 = (1L << 30) - 1
    val cl = c & lo30
    val ch = c >>> 30
    val zl = z.bitwiseAND(lit(lo30))
    val zh = shiftrightunsigned(z, 30)
    val cross = (zh * lit(cl) + zl * lit(ch)).bitwiseAND(lit(lo30))
    (zl * lit(cl) + shiftleft(cross, 30)).bitwiseAND(lit(Dedup.Mask60))
  }

  /** splitmix-style avalanche in [0, 2^60): two xorshift-multiply
    * rounds + final xorshift. Input must be < 2^60.
    */
  def mix60(z0: Column): Column = {
    val z1 = mulMod60(z0.bitwiseXOR(shiftrightunsigned(z0, 30)), Dedup.MixC1)
    val z2 = mulMod60(z1.bitwiseXOR(shiftrightunsigned(z1, 27)), Dedup.MixC2)
    z2.bitwiseXOR(shiftrightunsigned(z2, 31))
  }

  /** seeded hash of a pre-hashed shingle: mix(h ⊕ seed_i). */
  def seededHash(seed: Column, h: Column): Column =
    mix60(h.bitwiseXOR(seed))

  /** `TextExprs.minhashSig`: sig[i] = min over shingles of
    * mix(h(s) ⊕ seed_i); null below 3 words (the kernel returns an
    * empty array there). One fold over the pre-hashed shingle array —
    * `transform(seeds, i -> array_min(transform(shingles, ...)))` would
    * re-evaluate the shingle subtree per seed once Catalyst inlines it.
    */
  def signatureCol(text: Column): Column = {
    val maxSig = typedLit(Seq.fill(Dedup.NumHashes)(Long.MaxValue))
    val seeds = typedLit(Dedup.Seeds)
    val hashed = TextExprs.shingleHashes(text, distinct = false)
    val sig = aggregate(hashed, maxSig, (acc, h) =>
      zip_with(acc, seeds, (a, sd) => least(a, seededHash(sd, h))))
    when(size(Dedup.wordsCol(text)) >= 3, sig)
      .otherwise(lit(null).cast("array<bigint>"))
  }

  // ---- n-gram jaccard ----

  /** `Dedup.ngramJaccard` with the df-cap as a df count plus an
    * anti-join of the hot shingles, instead of the capped-ids
    * aggregate. It is type-generic in the id column (string ids too).
    */
  def ngramJaccardAntiJoin(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDf: Int): DataFrame = {
    val all = docs.select(col(idCol).as("id"),
      explode(TextExprs.shingleHashes(col(textCol), distinct = true)).as("sh"))
    val hot = all.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("sh")
    val sh = all.join(hot, Seq("sh"), "left_anti")
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val a = sh.select(col("id").as("a_id"), col("sh"))
    val b = sh.select(col("id").as("b_id"), col("sh"))
    a.join(b, Seq("sh")).filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("common"))
      .join(sizes.withColumnRenamed("id", "a_id").withColumnRenamed("n", "na"), "a_id")
      .join(sizes.withColumnRenamed("id", "b_id").withColumnRenamed("n", "nb"), "b_id")
      .withColumn("jaccard",
        col("common") / (col("na") + col("nb") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** `Dedup.ngramJaccard` as it was before its pairs came from the
    * posting lists: the capped index exploded back into (sh, id) rows
    * and self-joined on `sh` with `a_id < b_id`, the set sizes counted
    * from the same rows. Same plan otherwise, with `Dedup`'s private
    * `spread` inlined.
    */
  def ngramJaccardSelfJoin(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDf: Int = 100): DataFrame = {
    val idType = docs.select(col(idCol)).schema.head.dataType
    val spread = {
      val target = docs.sparkSession.sparkContext.defaultParallelism
      if (docs.queryExecution.toRdd.getNumPartitions >= target) docs
      else docs.repartition(target)
    }
    val all = graft.util.Staged.explodeOnce(spread,
      Seq(col(idCol).as("id")),
      TextExprs.shingleHashes(col(textCol), distinct = true), "sh")
    val sh = graft.util.Staged.explodeOnce(
        all.groupBy("sh")
          .agg(CappedIds.cappedIds(col("id").cast("long"), maxDf).as("ids"))
          .filter(col("ids").isNotNull),
        Seq(col("sh")), col("ids"), "id")
      .select(col("sh"), col("id").cast(idType).as("id"))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val a = sh.select(col("id").as("a_id"), col("sh"))
    val b = sh.select(col("id").as("b_id"), col("sh"))
    val common = a.join(b, Seq("sh")).filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("id", "a_id").withColumnRenamed("n", "na"), "a_id")
      .join(sizes.withColumnRenamed("id", "b_id").withColumnRenamed("n", "nb"), "b_id")
      .withColumn("jaccard",
        col("common") / (col("na") + col("nb") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

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
