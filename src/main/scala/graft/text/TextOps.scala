package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.rag.HashEmbedder

/** Text-analysis operators for a training-data pipeline: language ID
  * (stopword heuristic), quality scoring (length/punct/stopword
  * ratios), token counting, and document fingerprinting (rolling
  * polynomial hash). Column expressions only — every op is a narrow
  * projection, embarrassingly parallel at 100 TB.
  */
object TextOps {

  /** tiny per-language function-word lists (n-gram-free heuristic;
    * ordered so ties resolve en > de > fr > es deterministically)
    */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans"),
    "es" -> Seq("el", "los", "las", "y", "es", "una", "en"))

  /** argmax over stopword hits with fixed tie order. All four lists
    * are counted by ONE native kernel pass (the per-list HOF chain is
    * interpreted and scanned the words 4×).
    */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val st = TextExprs.wordStats(col(textCol), Stopwords.map(_._2))
    val withHits = docs
      .select(Seq(col(idCol)) :+ st.getField("hits").as("__hits"): _*)
      .select(Seq(col(idCol)) ++ Stopwords.zipWithIndex.map {
        case ((lang, _), i) => element_at(col("__hits"), i + 1).as(s"${lang}_hits")
      }: _*)
    val Seq(en, de, fr, es) = Stopwords.map(s => col(s"${s._1}_hits"))
    withHits.withColumn("lang_pred",
      when(en >= de && en >= fr && en >= es, "en")
        .when(de >= fr && de >= es, "de")
        .when(fr >= es, "fr")
        .otherwise("es"))
  }

  /** quality features + a fixed blend score in [0,1]. `keepCols` are
    * passed through (e.g. a language column for downstream per-group
    * curation) so callers never need to join the score frame back to
    * the source — one map-side projection, no self-join.
    */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String,
      keepCols: Seq[String] = Nil): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    // word/token/punct counts, summed lengths and stopword hits in ONE
    // native character pass (the HOF forms were interpreted and cost
    // ~6× the whole remaining projection; the token and punct counts
    // were previously two additional compiled-regex passes per
    // document — the kernel computes the identical regex counts,
    // spec-asserted, in the same scan)
    val st = TextExprs.wordStats(t, Seq(Stopwords.head._2))
    val nTokens = st.getField("n_tokens")
    val nPunct = st.getField("n_punct")
    val nWords = st.getField("n_words")
    val stopHits = element_at(st.getField("hits"), 1)
    val punctRatio = nPunct / greatest(nChars, lit(1)).cast("double")
    val stopRatio = stopHits / greatest(nWords, lit(1)).cast("double")
    val meanWordLen =
      st.getField("sum_word_len") / greatest(nWords, lit(1)).cast("double")
    docs.select(Seq(col(idCol)) ++ keepCols.map(col) ++ Seq(
      nChars.as("n_chars"), nTokens.as("n_tokens"),
      punctRatio.as("punct_ratio"), stopRatio.as("stopword_ratio"),
      meanWordLen.as("mean_word_len"),
      ((least(lit(1.0), nTokens / lit(50.0)) +
        (lit(1.0) - least(lit(1.0), punctRatio * lit(10.0))) +
        least(lit(1.0), stopRatio * lit(5.0)) +
        least(lit(1.0), meanWordLen / lit(8.0))) / lit(4.0)).as("quality")): _*)
  }

  /** Deterministic hash-threshold sampling — the reproducible way to
    * downsample a 100 TB corpus: keep a row iff a 60-bit sha-derived
    * hash of (salt | id) falls under rate·2^60. Unlike `rand()` (or
    * `df.sample`, seeded per-partition), the decision is a pure
    * function of the row's ID — stable across retries, partitionings,
    * and re-runs, composable (a 10% sample of a 20% sample with
    * different salts is an independent 2%), and exactly reproducible
    * by any engine that can sha256 (the DuckDB oracle does). Map-side
    * only, no shuffle.
    */
  def sampleHash(docs: DataFrame, idCol: String, rate: Double,
      salt: String = "sample"): DataFrame =
    docs.filter(sampleHash60(col(idCol), salt) < hashThreshold60(rate))

  /** the 60-bit sampling hash of (salt|id) — the ONE definition shared
    * by sampleHash, Corpus.stratifiedSample, and (via [[sqlSampleHash60]])
    * their DuckDB oracles, so the sampling contract cannot drift
    * between call sites.
    */
  def sampleHash60(id: Column, salt: String): Column =
    conv(substring(
      sha2(concat(lit(salt), lit("|"), id.cast("string")), 256),
      1, 15), 16, 10).cast("long")

  /** keep-rate → 60-bit threshold (keep iff hash < threshold) */
  def hashThreshold60(rate: Double): Long = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    (rate * (1L << 60).toDouble).toLong
  }

  /** DuckDB twin of [[sampleHash60]] over a SQL id expression */
  def sqlSampleHash60(salt: String, idExpr: String): String =
    s"CAST('0x'||substr(sha256('$salt|'||$idExpr),1,15) AS BIGINT)"

  /** the regex token count of a text column — the ONE definition
    * shared by packSequences and mixtureSample (their oracles both
    * re-derive it as `len(regexp_extract_all(text, TokenRegex))`);
    * like [[sampleHash60]], a single helper so the token basis cannot
    * drift between the operators that must agree on it.
    */
  def tokenCount(text: Column): Column =
    regexp_count(text, lit(graft.chunk.Tokenizer.TokenRegex)).cast("long")

  /** Group-wise top-k: the k best rows per group by (scoreCol desc,
    * idCol asc). A rank window over one exchange by group key — NOT a
    * global TakeOrdered (k is per group); at 100 TB the exchange
    * carries only (group, score, id, kept columns) and each group's
    * sort is partition-local. Skew note: a single huge group sorts in
    * one task — for pathological group sizes, pre-filter with an
    * approximate per-group threshold first.
    */
  def topPerGroup(df: DataFrame, groupCol: String, scoreCol: String,
      idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    df.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Exact per-group median by RANK PICK (the lower median for even
    * group sizes): the median is an actual element of the group, never
    * an interpolated value — so any engine that sorts the same doubles
    * picks the bit-identical element (interpolating medians differ
    * across engines by op order). One exchange by group; the per-group
    * sort is the honest exact path — at 100 TB switch to
    * approx_percentile (a mergeable sketch) and accept the error bound.
    */
  def groupMedianExact(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byGroup = Window.partitionBy(col(groupCol))
    val w = byGroup.orderBy(col(valueCol), col(idCol))
    // null values are EXCLUDED up front (the SQL aggregate convention):
    // leaving them in would also break cross-engine element identity —
    // Spark ranks ASC nulls first, DuckDB nulls last
    df.filter(col(valueCol).isNotNull)
      .withColumn("__gm_rn", row_number().over(w))
      .withColumn("__gm_n", count(lit(1)).over(byGroup))
      .filter(col("__gm_rn") === ((col("__gm_n") + 1) / 2).cast("long"))
      .select(col(groupCol), col(valueCol).as("median_value"))
  }

  /** Exact per-group quantiles by RANK PICK, generalizing
    * [[groupMedianExact]]: for each q the element at rank
    * max(1, ⌊q·(n+1)⌋) — q = 0.5 reproduces the lower median exactly
    * ((n+1)/2 integer division), and every reported value is an actual
    * group element, so engines that sort the same doubles pick the
    * bit-identical one. One exchange + one per-group sort for ALL
    * quantiles (the quantile fan-out explodes the tiny ranked frame,
    * not the input). At 100 TB switch to approx_percentile and accept
    * the sketch's error bound.
    */
  def groupPercentilesExact(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, qs: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    // q=1.0 would rank-pick n+1 (no row — silent truncation) and q=0.0
    // clamps to the min; both are better served by max/min aggregates
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q < 1.0),
      s"quantiles must lie strictly in (0,1), got $qs")
    import org.apache.spark.sql.expressions.Window
    val byGroup = Window.partitionBy(col(groupCol))
    val w = byGroup.orderBy(col(valueCol), col(idCol))
    df.filter(col(valueCol).isNotNull)
      .withColumn("__gp_rn", row_number().over(w))
      .withColumn("__gp_n", count(lit(1)).over(byGroup))
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .filter(col("__gp_rn") ===
        greatest(lit(1L), floor(col("q") * (col("__gp_n") + 1)).cast("long")))
      .select(col(groupCol), col("q"), col(valueCol).as("value"))
  }

  /** Adaptive per-group threshold filter — the corpus-curation shape
    * (keep documents at or above their OWN group's median score, so a
    * low-resource language is not graded against English's
    * distribution). The median is computed INLINE in the same window
    * pass that ranks the rows — one scan, one exchange by group, no
    * join and no second evaluation of an expensive upstream score
    * projection. Null scores are dropped (excluded from the median and
    * never ≥ it).
    */
  def aboveGroupMedian(df: DataFrame, groupCol: String, scoreCol: String,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byGroup = Window.partitionBy(col(groupCol))
    val w = byGroup.orderBy(col(scoreCol), col(idCol))
    df.filter(col(scoreCol).isNotNull)
      .withColumn("__gm_rn", row_number().over(w))
      .withColumn("__gm_n", count(lit(1)).over(byGroup))
      .withColumn("__gm_med",
        max(when(col("__gm_rn") === ((col("__gm_n") + 1) / 2).cast("long"),
          col(scoreCol))).over(byGroup))
      .filter(col(scoreCol) >= col("__gm_med"))
      .drop("__gm_rn", "__gm_n", "__gm_med")
  }

  /** rolling polynomial fingerprint over token hashes:
    * acc = (acc*31 + h mod 1000003) mod 1000000007 — order-sensitive,
    * so reordered documents fingerprint differently (unlike bag
    * hashes).
    */
  def fingerprint(text: Column): Column = {
    val hashed = transform(
      regexp_extract_all(text, lit(Dedup.WordRegex), lit(0)),
      w => HashEmbedder.tokenHash(w))
    aggregate(hashed, lit(0L), (acc, h) =>
      pmod(acc * 31 + pmod(h, lit(1000003L)), lit(1000000007L)))
  }
}
