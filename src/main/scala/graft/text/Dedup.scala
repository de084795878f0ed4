package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.rag.HashEmbedder

/** Deduplication operators for a training-data pipeline — exact,
  * MinHash+LSH (Broder 1997 resemblance sketch; banding per the
  * standard LSH construction), SimHash (Charikar 2002, as used in
  * Manku et al., WWW 2007 for web dedup), and exact n-gram Jaccard.
  *
  * Everything is Column-expression only (whole-stage codegen, no UDF),
  * with sha256-derived hashes so the DuckDB oracle can reproduce
  * results bit-for-bit.
  *
  * Scale notes (100 TB): exact dedup is one hash aggregate on the
  * digest (map-side combine, shuffle is digest+ids only, never text).
  * MinHash pairs shuffle only (band_key → doc_id) tuples — the classic
  * inverted-index join; candidate verification happens after the
  * band-bucket blocking, never all-pairs. SimHash pairs equi-join on
  * the pigeonhole block decomposition (Manku et al., WWW 2007) — exact
  * blocking, no cartesian. The n-gram Jaccard index is df-capped so a
  * single boilerplate shingle cannot quadratically blow up the
  * candidate join.
  */
object Dedup {

  val WordRegex = "[A-Za-z0-9]+"

  /** word tokens — native byte-run kernel; identical values to
    * [[wordsColHof]] (the regex form it replaced, kept as the
    * spec cross-check)
    */
  def wordsCol(text: Column): Column = TextExprs.asciiWords(text)

  /** the same tokens via regexp_extract_all — readable spec form */
  def wordsColHof(text: Column): Column =
    regexp_extract_all(text, lit(WordRegex), lit(0))

  /** rebalance to full parallelism before a compute-heavy projection —
    * a small corpus arriving as one file would otherwise pin the whole
    * sketch computation to its scan task. CONDITIONAL: when the scan
    * already has at least as many splits as cores (every real cluster
    * read at 100 TB), this is the identity — repartitioning would
    * shuffle the full document text for nothing.
    */
  private def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // toRdd is the QueryExecution's own cached internal RDD — probing
    // it does not build a fresh deserialized lineage the way df.rdd
    // does on every call
    if (df.queryExecution.toRdd.getNumPartitions >= target) df
    else df.repartition(target)
  }

  /** word 3-shingles, as strings (empty array below 3 words —
    * `sequence` would DESCEND on a negative span, so guard explicitly)
    */
  def shinglesCol(text: Column): Column = {
    val w = wordsCol(text)
    when(size(w) >= 3,
      transform(sequence(lit(0), size(w) - 3), i =>
        concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2),
          element_at(w, i + 3))))
      .otherwise(array().cast("array<string>"))
  }

  // ---- seeded hashing: ONE sha256 per shingle, seeds derived by
  // integer mixing ------------------------------------------------
  //
  // Round-1 hashed sha256(seed|shingle) per seed — 16 full digests per
  // shingle, 51% of the whole bench. The standard fix (e.g. Spark's
  // own MinHashLSH, which derives its hash family from one base hash
  // via (a·h+b) mod p) is to digest the shingle ONCE and derive the k
  // seeded values by cheap integer mixing. Mixing is splitmix64-style
  // (Steele et al., OOPSLA 2014) reduced to the 60-bit space
  // [0, 2^60): DuckDB BIGINT arithmetic is overflow-CHECKED, so the
  // multiply runs through HUGEINT mod 2^60 there, while the JVM's
  // wrapping multiply masked to 60 bits computes the identical value
  // (2^60 divides 2^64).

  val NumHashes = 16
  val Bands = 4
  val RowsPerBand = 4

  val Mask60: Long = (1L << 60) - 1
  val MixC1: Long = 0xbf58476d1ce4e5b9L & Mask60 // odd ⇒ bijective mod 2^60
  val MixC2: Long = 0x94d049bb133111ebL & Mask60 // odd ⇒ bijective mod 2^60

  private def splitmix64(i: Long): Long = {
    var z = i + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** per-seed xor constants, splitmix64(i) in the 60-bit space */
  val Seeds: Seq[Long] = (0 until NumHashes).map(i => splitmix64(i.toLong) & Mask60)

  /** 60-bit base hash of a shingle (first 15 sha256 hex digits). */
  def shingleHash(s: Column): Column =
    conv(substring(sha2(s, 256), 1, 15), 16, 10).cast("long")

  /** z·c mod 2^60 without 64-bit overflow (Spark 4 runs ANSI mode, so
    * a wrapping multiply would throw): split both operands into 30-bit
    * halves — z·c ≡ zl·cl + 2^30·((zh·cl + zl·ch) mod 2^30) (mod 2^60),
    * every intermediate < 2^61. The constant's halves fold at compile
    * time.
    */
  private def mulMod60(z: Column, c: Long): Column = {
    val lo30 = (1L << 30) - 1
    val cl = c & lo30
    val ch = c >>> 30
    val zl = z.bitwiseAND(lit(lo30))
    val zh = shiftrightunsigned(z, 30)
    val cross = (zh * lit(cl) + zl * lit(ch)).bitwiseAND(lit(lo30))
    (zl * lit(cl) + shiftleft(cross, 30)).bitwiseAND(lit(Mask60))
  }

  /** splitmix-style avalanche in [0, 2^60): two xorshift-multiply
    * rounds + final xorshift. Input must be < 2^60.
    */
  def mix60(z0: Column): Column = {
    val z1 = mulMod60(z0.bitwiseXOR(shiftrightunsigned(z0, 30)), MixC1)
    val z2 = mulMod60(z1.bitwiseXOR(shiftrightunsigned(z1, 27)), MixC2)
    z2.bitwiseXOR(shiftrightunsigned(z2, 31))
  }

  /** seeded hash of a pre-hashed shingle: mix(h ⊕ seed_i). */
  def seededHash(seed: Column, h: Column): Column =
    mix60(h.bitwiseXOR(seed))

  // ---- DuckDB twins of the mixing (shared with the oracle SQL) ----

  /** the same mix60 as SQL; BIGINT-safe via HUGEINT mod 2^60. */
  def sqlMix60(z0: String): String = {
    val m = "1152921504606846976" // 2^60
    val s1 = s"((xor($z0, ($z0) >> 30)::HUGEINT * ${MixC1}::HUGEINT) % $m::HUGEINT)::BIGINT"
    val s2 = s"((xor($s1, ($s1) >> 27)::HUGEINT * ${MixC2}::HUGEINT) % $m::HUGEINT)::BIGINT"
    s"xor($s2, ($s2) >> 31)"
  }

  /** the Seeds constants as a DuckDB list literal */
  def sqlSeedsLiteral: String = Seeds.mkString("[", ",", "]")

  // ---- exact ----

  /** groups by content digest; shuffle carries (digest, id) only. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(sha2(col(textCol), 256).as("content_hash"), col(idCol))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Corpus-wide exact PARAGRAPH dedup (the C4/RefinedWeb sub-document
    * pass): across the whole corpus, the FIRST occurrence of each
    * substantial paragraph — in (doc_id, paragraph-index) order — is
    * kept and every later exact duplicate is dropped; paragraphs
    * shorter than `minChars` are exempt (deduping "Yes." everywhere
    * destroys dialogue). Distinct from [[Corpus.removeBoilerplateLines]]:
    * that removes frequency-threshold lines EVERYWHERE, this keeps one
    * canonical copy.
    *
    * Returns (doc_id, n_paras, n_dropped, cleaned) for every doc with
    * at least one non-blank paragraph; cleaned rejoins kept paragraphs
    * with a blank line.
    *
    * Scale shape: the winner per digest is min(struct(doc_id, idx)) —
    * an AGGREGATE, not a rank window, because the operator's primary
    * target is exactly the hot key: a boilerplate paragraph shared by
    * N documents would send all N rows into ONE window task for a full
    * sort (the same hot-key concentration the df-cap ngram index
    * refuses), while the aggregate collapses each input partition to
    * one candidate per digest map-side and the winner join is an
    * equi-join AQE can skew-split. The decision path never carries
    * text — (digest, doc_id, idx) only; the paragraph text moves
    * exactly once, in the (doc_id, idx)-keyed join + per-doc
    * reassembly exchange, whose state is bounded by the document's own
    * size (the C10 rule).
    *
    * Returns a lazy plan: calling it runs no Spark job, and the
    * caller's action runs the whole decision + reassembly pipeline
    * with full lineage (an executor loss recomputes, it never fails).
    */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
      minChars: Int = 50): DataFrame = {
    require(minChars >= 1, s"minChars must be >= 1, got $minChars")
    val paras = filter(split(col(textCol), "\\n{2,}"), p => trim(p) =!= "")
    val ex = graft.util.Staged.posexplodeOnce(
      docs.select(col(idCol).as("doc_id"), paras.as("ps")),
      Seq(col("doc_id")), col("ps"), "idx", "para")
    val hashed = ex
      .select(col("doc_id"), col("idx"), sha2(col("para"), 256).as("h"),
        (length(col("para")) < minChars).as("short"))
    // no digest-frame persist: the winner election and the decisions
    // join each re-run the split+explode+sha pipeline map-side —
    // measured cheaper than a columnar cache fill + two decoded reads
    // (the minhashPairs no-persist rationale), and at 100 TB a
    // per-paragraph digest cache is corpus-sized while the recompute
    // is embarrassingly parallel. Text itself still moves exactly
    // once, in the final reassembly join.
    // shorts are exempt, so they stay out of the winner election
    val winners = hashed.filter(!col("short"))
      .groupBy("h")
      .agg(min(struct(col("doc_id"), col("idx"))).as("winner"))
    val decisions = hashed
      .join(winners, Seq("h"), "left")
      // a short paragraph's winner is null (excluded above) — the
      // `short ||` short-circuits it to kept either way
      .select(col("doc_id"), col("idx"),
        (col("short") ||
          struct(col("doc_id"), col("idx")) === col("winner")).as("keep"))
    ex.join(decisions, Seq("doc_id", "idx"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_paras"),
        sum(when(col("keep"), 0L).otherwise(1L)).cast("long").as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("idx"), col("para"))))),
          s => s.getField("para")), "\n\n").as("cleaned"))
  }

  // ---- minhash + banded LSH ----

  /** MinHash signature: sig[i] = min over shingles of mix(h(s) ⊕ seed_i);
    * null for documents with fewer than 3 words (no shingles — keeping
    * them would band-collide every short document with every other).
    *
    * Shaped as a SINGLE fold over the pre-hashed shingle array — each
    * shingle is materialized and sha256'd exactly once, with the 16
    * seeded values derived by integer mixing of the lambda-bound hash.
    * (The naive `transform(seeds, i -> array_min(transform(shingles,
    * ...)))` re-evaluates the whole shingle subtree per seed: Catalyst
    * inlines aliased subtrees into lambda bodies, so lambda-nested
    * array-building work multiplies by the outer arity.)
    */
  def signatureCol(text: Column): Column = {
    val maxSig = typedLit(Seq.fill(NumHashes)(Long.MaxValue))
    val seeds = typedLit(Seeds)
    val hashed = TextExprs.shingleHashes(text, distinct = false)
    val sig = aggregate(hashed, maxSig, (acc, h) =>
      zip_with(acc, seeds, (a, sd) => least(a, seededHash(sd, h))))
    when(size(wordsCol(text)) >= 3, sig)
      .otherwise(lit(null).cast("array<bigint>"))
  }

  /** candidate pairs: same (band, band_key) bucket for any band.
    *
    * Returns a lazy plan (no Spark job at call time). The self-join's
    * two legs plan identical exchanges on (band, key), which
    * ReusedExchange dedups, so the sha256 signature kernel runs once
    * per document inside the caller's action.
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // signatures via the native per-document kernel (TextKernels
    // .minhashSig): one pass over the text — tokenize, sha256 each
    // shingle once, fold the 16 mixed minima — entirely map-side. The
    // earlier explode → groupBy(id) min-agg shape shuffled
    // 16×|shingles| longs per document; the per-doc kernel shuffles
    // NOTHING before banding (the band table is 4 rows per doc).
    // Values are identical to signatureCol (spec-asserted); <3-word
    // docs yield an empty signature and are dropped, matching
    // signatureCol's null. repartition first: the corpus may arrive as
    // one file → one scan task, and the sha256 kernel must run at full
    // parallelism, not scan parallelism
    val sigs = sigsOf(docs, idCol, textCol)
    val bands = bandsOf(sigs)
    // NO sketch persist: the self-join's two legs plan identical
    // exchanges on (band, key), which ReusedExchange dedups — the
    // kernel runs once, inside the single exchange's map stage, and
    // both legs read its shuffle files. A round-5 persist+eager-count
    // of the band table was measured this round at 3-4× the no-persist
    // task time at sf0.1: every InMemoryRelation read pays the
    // columnar cache encode/decode, which costs more than re-reading
    // the exchange output (and on a real cluster shuffle files are
    // served by the shuffle machinery, with none of the cross-executor
    // cold-fill races a lazily-filled cache has).
    bandCandidates(bands)
  }

  /** (id, sig) → exploded (id, band, key) band table. An empty
    * signature (<3-word doc) yields key "" in EVERY band (concat_ws
    * over an empty slice); such rows are dropped here — on the
    * exploded attribute, after the Generate, where the predicate
    * cannot be pushed into a kernel re-evaluation. A real signature's
    * key is 4 comma-joined longs, never "".
    */
  private def bandsOf(sigs: DataFrame): DataFrame =
    graft.util.Staged.explodeOnce(sigs, Seq(col("id")),
      transform(sequence(lit(0), lit(Bands - 1)), b =>
        struct(b.as("band"),
          concat_ws(",", slice(col("sig"), b * lit(RowsPerBand) + 1,
            lit(RowsPerBand))).as("key"))), "bk")
      .select(col("id"), col("bk.band"), col("bk.key"))
      .filter(col("key") =!= "")

  /** Incremental-ingest dedup: candidate near-dup pairs between a NEW
    * batch and the EXISTING corpus — the `add_documents` flow at scale
    * (S6's dedup concern applied to near-dups, not just exact
    * chunk_id collisions). Asymmetric band equi-join: the candidate
    * set is |batch|-driven bucket collisions, never corpus × corpus.
    * Here both band tables are derived from their frames; a resident
    * store PERSISTS the corpus band table as an index (the
    * `ivf_assign` write-time pattern), so steady-state ingest sketches
    * only the batch and probes the index. Returns (batch_id,
    * corpus_id) distinct candidates.
    */
  def minhashPairsIncremental(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val corpusBands = bandsOf(sigsOf(corpus, idCol, textCol))
      .select(col("id").as("corpus_id"), col("band"), col("key"))
    bandsOf(sigsOf(batch, idCol, textCol))
      .select(col("id").as("batch_id"), col("band"), col("key"))
      // a re-ingested id present on BOTH sides collides with itself in
      // every band — a self-pair is never a near-DUP, so drop it (the
      // full-pairs path's a_id < b_id guard has no analogue here)
      .join(corpusBands, Seq("band", "key"))
      .filter(col("batch_id") =!= col("corpus_id"))
      .select("batch_id", "corpus_id").distinct()
  }

  /** per-doc MinHash signatures (native kernel, full parallelism) —
    * the ONE construction shared by the full and incremental pair
    * paths. <3-word docs (empty signature) are NOT dropped here: a
    * `size(sig) > 0` filter on the aliased projection gets pushed
    * below it by predicate pushdown, re-evaluating the kernel per row
    * (plan-asserted in ScaleShapeSpec); [[bandsOf]] drops them on the
    * exploded band key instead, where the test is a cheap attribute
    * comparison.
    */
  private def sigsOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    spread(docs)
      .select(col(idCol).as("id"),
        TextExprs.minhashSig(col(textCol)).as("sig"))

  /** band table → distinct candidate pairs (equi-join on the bucket) */
  private def bandCandidates(bands: DataFrame): DataFrame = {
    val a = bands.select(col("id").as("a_id"), col("band"), col("key"))
    val b = bands.select(col("id").as("b_id"), col("band"), col("key"))
    a.join(b, Seq("band", "key")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** Sketch-then-verify Jaccard: candidate pairs from the banded
    * MinHash sketch, EXACT Jaccard (full distinct-shingle sets, no df
    * cap — the prescreen already bounds the candidates) verified only
    * over them. At 100 TB this bounds the pair stage by the band-bucket
    * collision structure instead of Σdf² — the standard
    * sketch-then-verify pipeline. RECALL is the LSH trade: a pair with
    * true Jaccard J collides on ≥1 of b=4 bands of r=4 rows with
    * probability 1−(1−J^4)^4 (≈0.23 at the θ=0.5 boundary, ≈0.99 at
    * J=0.9) — near-exact duplicates are caught, borderline pairs
    * sampled; ngramJaccard is the exhaustive (capped) path, and
    * ScaleShapeSpec measures the subset/recall relation between them.
    * Returns a lazy plan (no Spark job at call time).
    */
  def ngramJaccardBanded(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    // no sketch persist: the band legs share one reused exchange; the
    // sa/sb attach legs each re-run the kernel map-side — measured
    // cheaper than the columnar cache round-trip it replaced (the
    // embarrassingly-parallel-recompute trade, see minhashPairs)
    val base = spread(docs).select(col(idCol).as("id"),
      TextExprs.minhashSig(col(textCol)).as("sig"),
      TextExprs.shingleHashes(col(textCol), distinct = true).as("sh"))
      .filter(size(col("sig")) > 0)
    val cand = bandCandidates(bandsOf(base.select(col("id"), col("sig"))))
    cand
      .join(base.select(col("id").as("a_id"), col("sh").as("sa")), "a_id")
      .join(base.select(col("id").as("b_id"), col("sh").as("sb")), "b_id")
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("common") / (size(col("sa")) + size(col("sb")) - col("common"))
          .cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  // ---- simhash ----

  val SimBits = 60

  /** 60-bit SimHash over word tokens: bit b set iff the ±1 vote sum of
    * that bit across token hashes is positive.
    *
    * Single pass over tokens (each token sha256'd once, emitting all
    * 60 bit votes), then one fold of the vote vector into the hash —
    * never re-evaluates the token array per bit.
    */
  def simhashCol(text: Column): Column = TextExprs.simhash(text)

  /** the same SimHash as composed Column HOFs (readable spec +
    * cross-check of the native kernel; spec-asserted equal)
    */
  def simhashColHof(text: Column): Column = {
    val masks = typedLit((0 until SimBits).map(b => 1L << b))
    val zeros = typedLit(Seq.fill(SimBits)(0L))
    val hashed = transform(wordsCol(text), w => HashEmbedder.tokenHash(w))
    val votes = aggregate(hashed, zeros, (acc, h) =>
      zip_with(acc, masks, (a, m) =>
        a + when(h.bitwiseAND(m) =!= 0L, 1L).otherwise(-1L)))
    aggregate(zip_with(votes, masks, (v, m) => when(v > 0L, m).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
  }

  /** near-dup pairs by Hamming distance on SimHash, blocked by the
    * pigeonhole decomposition of Manku et al. (WWW 2007, §3): split
    * the 60-bit hash into `maxHamming + 1` equal blocks — any pair
    * within Hamming ≤ maxHamming must agree EXACTLY on at least one
    * block — equi-join on (block, block_value), verify full Hamming
    * inside the bucket. Output is identical to the all-pairs θ-join
    * (the blocking is exact, not approximate), but the join is an
    * Exchange on a 15-bit key instead of an O(n²) cartesian. Returns a
    * lazy plan (no Spark job at call time).
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    val nBlocks = maxHamming + 1
    require(maxHamming >= 0 && maxHamming < SimBits,
      s"maxHamming must be in [0, ${SimBits - 1}]")
    // floor/ceil block widths — the pigeonhole argument needs only
    // that the nBlocks blocks partition all SimBits bits, not that
    // they are equal
    val base = SimBits / nBlocks
    val rem = SimBits % nBlocks
    val widths = Seq.tabulate(nBlocks)(b => if (b < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    // no sketch persist — the block self-join's legs share one reused
    // exchange on (blk, key), so the kernel runs once (see minhashPairs)
    val s = spread(docs)
      .select(col(idCol).as("id"), simhashCol(col(textCol)).as("sim"))
    val blocks = s.select(col("id"), col("sim"),
      explode(array((0 until nBlocks).map(b =>
        struct(lit(b).as("blk"),
          shiftrightunsigned(col("sim"), offsets(b))
            .bitwiseAND(lit((1L << widths(b)) - 1)).as("key"))): _*)).as("bk"))
      .select(col("id"), col("sim"), col("bk.blk"), col("bk.key"))
    val a = blocks.select(col("id").as("a_id"), col("sim").as("sa"),
      col("blk"), col("key"))
    val b = blocks.select(col("id").as("b_id"), col("sim").as("sb"),
      col("blk"), col("key"))
    a.join(b, Seq("blk", "key")).filter(col("a_id") < col("b_id"))
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
      .distinct() // a pair can agree on several blocks
  }

  // ---- near-dup clustering: connected components over pairs ----

  /** Connected components of the undirected near-dup candidate graph —
    * the canonical-document selection step that ends every web-scale
    * dedup pipeline (each component keeps min-id as canonical).
    * Standard iterative min-label propagation: every node starts
    * labeled with itself; each round takes the min of its own and all
    * neighbors' labels; fixpoint after O(component diameter) rounds.
    * Each round is one equi-join + one aggregate — the classic
    * large-graph CC shape (Hash-to-Min family) — with lineage cut by
    * localCheckpoint per round so the plan does not grow with
    * iterations. Near-dup components are tiny in practice (dup
    * clusters, not a social graph), so rounds ≈ 2–4.
    *
    * Output: (id, component) for every node that appears in `pairs`,
    * component = min id reachable (ids carried as BIGINT).
    *
    * Graphs at or below `driverMaxEdges` undirected edges skip the
    * iteration entirely: one collect + driver union-find (see
    * unionFind above). The distributed path only engages when the
    * graph itself is cluster-sized.
    */
  /** Driver union-find over a collected edge list — the small-graph
    * fast path. Min-id roots: a union always links the larger root
    * under the smaller, so each tree's root IS the component's min id.
    * Path compression keeps finds near-O(1).
    */
  private[text] def unionFind(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (u, v) =>
      parent.getOrElseUpdate(u, u)
      parent.getOrElseUpdate(v, v)
      val ru = find(u)
      val rv = find(v)
      if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
    }
    parent.keysIterator.map(k => k -> find(k)).toMap
  }

  def connectedComponents(pairs: DataFrame, aCol: String = "a_id",
      bCol: String = "b_id", maxIters: Int = 25,
      driverMaxEdges: Long = 100000L): DataFrame = {
    // the fast path's collect limit is an Int of DOUBLED edges
    require(driverMaxEdges >= 0 && driverMaxEdges < Int.MaxValue / 2,
      s"driverMaxEdges must be in [0, ${Int.MaxValue / 2 - 1}], got $driverMaxEdges")
    val caller = pairs.sparkSession
    val sc = caller.sparkContext
    // the iteration runs in a CHILD session (shared SparkContext, own
    // SQL conf) so its graph-sized shuffle width cannot leak into — or
    // race with — concurrent queries on the caller's session
    val session = caller.newSession()

    // superseded localCheckpoint blocks are dropped eagerly — the
    // ContextCleaner would reclaim them only at some later GC, which
    // accumulates blocks in a resident engine that dedups repeatedly.
    // Tracking is PRECISE: the checkpointed Dataset's own backing RDD
    // (LogicalRDD), never a global persistent-RDD snapshot diff that
    // would mis-attribute blocks persisted by concurrent queries.
    // `live` collects every checkpoint this call created so a failure
    // anywhere releases them all (finally below).
    import org.apache.spark.sql.GraftExprBridge.checkpointedRdd
    val live = scala.collection.mutable.Map[Long, org.apache.spark.rdd.RDD[_]]()
    var nextKey = 0L
    def trackedCheckpoint(df: DataFrame): (DataFrame, Long) = {
      val cp = df.localCheckpoint()
      val key = nextKey
      nextKey += 1
      checkpointedRdd(cp).foreach(live += key -> _)
      (cp, key)
    }
    def dropBlocks(key: Long): Unit =
      live.remove(key).foreach(_.unpersist(false))

    try {
      val fwd = pairs.select(col(aCol).cast("long").as("u"),
        col(bCol).cast("long").as("v"))
      val edgesLazy =
        fwd.union(fwd.select(col("v").as("u"), col("u").as("v"))).distinct()
      // small-graph short circuit: near-dup graphs are usually MUCH
      // smaller than the corpus (dup clusters, not a social graph) —
      // at or below the threshold, collecting the edge list and
      // running driver union-find replaces ~5 Spark jobs PER ROUND
      // (measured 6.1 s → sub-second at sf0.1). ONE bounded collect
      // both decides the path and fetches the edges, so a lazy `pairs`
      // plan is evaluated once on this path (a count followed by a
      // collect would run it twice). The bound is on what's collected:
      // 100k undirected edges ≈ 3 MB of longs, always driver-safe;
      // anything larger takes the distributed pointer-jumping path
      // below. The limit counts the DOUBLED rows.
      val maxRows = 2 * driverMaxEdges.toInt
      val head = edgesLazy.limit(maxRows + 1).collect()
      if (head.isEmpty) // no pairs → no components; keep the contract total
        return caller.createDataFrame(sc.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "id bigint, component bigint"))
      if (head.length <= maxRows) {
        val labels = unionFind(head.map(r => (r.getLong(0), r.getLong(1)))).toSeq
        return caller.createDataFrame(labels).toDF("id", "component")
      }
      // cluster-sized graph: the iterative path reads the edges every
      // round, so it materializes them once (a second evaluation of the
      // input, amortised over the rounds) and sizes the per-round
      // shuffles to the GRAPH, not the session — each join+agg+
      // checkpoint round at corpus partitioning is pure task-scheduling
      // overhead (measured 4.8s → ~1s at sf0.1); a 100 TB-corpus edge
      // set raises `parts` back to full parallelism (Long math — an Int
      // division would wrap negative around 10^14 edges and collapse to
      // one partition)
      val (edges0, edges0Key) = trackedCheckpoint(edgesLazy)
      val nEdges = edges0.count()
      val parts = math.max(1L, math.min(
        sc.defaultParallelism.toLong, nEdges / 50000L + 1L)).toInt
      session.conf.set("spark.sql.shuffle.partitions", parts)

      val inChild = session.createDataFrame(edges0.rdd, edges0.schema)
      val (edges, edgesKey) = trackedCheckpoint(
        inChild.repartition(parts, col("v")))
      var (labels, labelsKey) = trackedCheckpoint(
        edges.select(col("u").as("id"), col("u").as("component")).distinct())
      dropBlocks(edges0Key)
      // convergence via the label-sum invariant: labels only ever
      // decrease, so Σ component strictly decreases exactly while any
      // label changed — one tiny aggregate per round instead of a
      // full-frame join-and-compare. Decimal sum: a Long sum overflows
      // around 10^10 nodes with 10^12-scale ids.
      def labelSum(df: DataFrame): java.math.BigDecimal =
        df.agg(sum(col("component").cast("decimal(38,0)"))).head().getDecimal(0)
      var prevSum = labelSum(labels)
      var changed = true
      var iter = 0
      while (changed && iter < maxIters) {
        // min-label propagation over edges, PLUS pointer jumping
        // (follow the current label one hop): rounds drop from
        // O(diameter) to O(log diameter), so a 25-round budget covers
        // any realistic component — a long drifting boilerplate chain
        // would need diameter > 2^24 to exhaust it. `half` is
        // checkpointed before the self-join: both jump legs read the
        // materialized rows instead of re-running the neighbor-min
        // join+aggregate twice.
        val neighborMin = edges
          .join(labels, edges("v") === labels("id"))
          .groupBy(col("u")).agg(min(col("component")).as("nbr"))
        val (half, halfKey) = trackedCheckpoint(
          labels.join(neighborMin, labels("id") === neighborMin("u"), "left")
            .select(col("id"),
              least(col("component"), coalesce(col("nbr"), col("component")))
                .as("component")))
        val byId = half.select(col("id").as("pid"), col("component").as("pcomp"))
        val (next, nextKey2) = trackedCheckpoint(
          half.join(byId, half("component") === byId("pid"), "left")
            .select(half("id"),
              least(half("component"), coalesce(col("pcomp"), half("component")))
                .as("component")))
        dropBlocks(halfKey)
        val sumNow = labelSum(next)
        changed = sumNow.compareTo(prevSum) != 0
        prevSum = sumNow
        dropBlocks(labelsKey)
        labels = next
        labelsKey = nextKey2
        iter += 1
      }
      if (changed)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIters rounds — " +
            "raise maxIters")
      // hand the result back on the CALLER's session; the child
      // session's conf dies with it
      caller.createDataFrame(labels.rdd, labels.schema).localCheckpoint()
    } finally {
      // releases every checkpoint this call still holds — including on
      // non-convergence or a mid-loop job failure
      live.values.foreach(_.unpersist(false))
      live.clear()
    }
  }

  // ---- exact n-gram jaccard ----

  /** exact Jaccard over distinct 3-shingle sets, blocked by the
    * shared-shingle inverted index (never all-pairs).
    *
    * `maxDf` caps the document frequency of an index shingle: a
    * boilerplate "stop shingle" appearing in d documents contributes
    * d² candidate rows to the join — one hot shingle at 1% of a 100 TB
    * corpus would dominate the whole shuffle. Shingles above the cap
    * are dropped from the universe (index AND set sizes — as if they
    * did not exist), so reported Jaccard is over the capped shingle
    * space; pairs held together only by ubiquitous boilerplate lose
    * score, which is the standard trade (df-capped similarity join).
    * The cap is also the scale bound on the candidate join: with every
    * df ≤ maxDf, candidate rows Σ_sh df² ≤ maxDf·|index| — linear in
    * the corpus for a fixed cap. (A PPJoin-style size-ratio prescreen
    * on the legs was evaluated and rejected: attaching post-cap set
    * sizes to the index rows costs a full extra exchange by id, which
    * at this join's layout outweighs the candidate rows it would
    * prune — the legs below reuse the capped index's single by-`sh`
    * repartition with NO further exchange.) Returns a lazy plan (no
    * Spark job at call time).
    */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDf: Int = 100): DataFrame = {
    // the index key is the 60-bit shingle HASH, not the string: every
    // downstream shuffle (df count, inverted-index self-join, pair agg)
    // moves 8-byte longs instead of ~25-byte strings, and join equality
    // is integer comparison. A 2^-60 collision merges two shingles —
    // negligible, and mirrored exactly by the oracle's identical hash.
    val all = graft.util.Staged.explodeOnce(spread(docs),
      Seq(col(idCol).as("id")),
      TextExprs.shingleHashes(col(textCol), distinct = true), "sh")
    // df-cap in ONE aggregation pass: per shingle, a capped-ids
    // aggregate collects the posting list but holds at most maxDf+1
    // values per buffer — a shingle exceeding the cap evaluates to
    // NULL and is dropped, with its state freed the moment the cap
    // breaks, so the hottest boilerplate shingle costs O(maxDf) per
    // mapper and its occurrences die at the map-side combine. This
    // replaces the previous df-count + anti-join shape, which needed
    // TWO evaluations of the shingle kernel (df agg + index rebuild)
    // and a second full-index exchange; now the kernel runs once, the
    // index shuffles once (as bounded per-shingle lists), and the
    // groupBy's hash partitioning on `sh` is inherited by the exploded
    // posting rows, so the self-join legs below need no further
    // exchange. (A count-window df-cap was tried and reverted: a
    // window must shuffle EVERY occurrence of a hot shingle into one
    // task before the filter discards them — re-concentrating exactly
    // the key the cap exists to bound.)
    // no index persist: all three consumers (sizes agg + both
    // self-join legs) hang off the ONE groupBy(sh) exchange, which
    // ReusedExchange dedups — they re-read its shuffle files, never
    // re-run the kernel. The round-5 persist of the capped index was
    // measured this round at >3× the no-persist task time at sf0.1
    // (columnar cache encode/decode on every read).
    // the explode + self-join below EXPANDS (Σdf² candidate pairs from
    // a compact posting table): AQE sizes the post-aggregate read by
    // its input bytes and coalesces the expansion stage down to a few
    // tasks. Re-keying by `sh` at the session's configured shuffle
    // parallelism (explicit count ⇒ AQE keeps it) holds the expansion
    // wide; the exchange it adds carries only the capped posting
    // lists — bounded and small by construction at any scale.
    //
    // CappedIdsAgg collects BIGINT: integral ids are cast in and back
    // (the exploded posting id keeps the caller's id type, so output
    // schema is unchanged); a non-integral id column (e.g. string
    // keys) takes the pre-r6 df-count + anti-join shape below, which
    // is type-generic.
    val idType = all.schema("id").dataType
    val integral = idType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val sh =
      if (integral)
        graft.util.Staged.explodeOnce(
          all.groupBy("sh")
            .agg(CappedIds.cappedIds(col("id").cast("long"), maxDf).as("ids"))
            .filter(col("ids").isNotNull),
          Seq(col("sh")), col("ids"), "id")
          .select(col("sh"), col("id").cast(idType).as("id"))
          .repartition(parts, col("sh"))
      else {
        val hot = all.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select("sh")
        all.join(hot, Seq("sh"), "left_anti").repartition(parts, col("sh"))
      }
    // set sizes AFTER the cap: dropped shingles leave the universe
    // entirely (index AND set sizes), the standard df-capped trade
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

  // ---- span-level exact substring dedup ----

  /** Duplicated k-token spans — the span-removal flavor of exact
    * substring dedup (Lee et al., ACL 2022, "Deduplicating Training
    * Data Makes Language Models Better"): a token k-gram is DUPLICATED
    * when it occurs at least twice in the corpus (across documents or
    * within one). The globally-first occurrence — min (doc_id, pos) —
    * stays as the canonical copy; every OTHER occurrence marks its
    * k-token window [pos, pos+k), and overlapping or exactly-adjacent
    * marked windows merge into maximal spans.
    *
    * Returns one row per maximal span: (doc_id, span_start, span_end),
    * token positions, end-exclusive.
    *
    * Scale shape (100 TB): the occurrence frame is (doc_id, pos,
    * 60-bit gram hash) — 8-byte join keys from the native one-pass
    * [[TextExprs.shingleHashes]] kernel; gram TEXT never shuffles. (A
    * 2^-60 collision merges two grams — negligible, and mirrored
    * exactly by the oracle's identical hash.) Winner election is an
    * AGGREGATE min(struct(doc_id, pos)) with map-side combine — a rank
    * window would funnel every occurrence of a hot boilerplate gram
    * into one task (the dedupParagraphs lesson). The mark-join back is
    * an equi-join on the hash where the winner side carries ONE row
    * per gram — the AQE-splittable skew shape. Span merging is a
    * per-document window: keyed by doc_id, bounded by document length,
    * no hot-key exposure. The paper's suffix array is the
    * single-machine construction; this k-gram formulation is the
    * shuffle-native one, at the cost of fixing a minimum match
    * length of k tokens.
    *
    * Returns a lazy plan (no Spark job at call time).
    */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // no occurrence-frame persist: the winner election and the mark
    // join each evaluate the gram kernel map-side — measured cheaper
    // at sf0.1 than filling and re-reading a columnar cache of the
    // occurrence frame (and strictly better at 100 TB, where caching
    // one (doc_id, pos, hash) row per corpus token is a corpus-sized
    // cache; recompute is embarrassingly parallel)
    val grams = spread(docs).select(col(idCol).cast("long").as("doc_id"),
      TextExprs.shingleHashes(col(textCol), distinct = false, n = k).as("gs"))
    val occ = graft.util.Staged.posexplodeOnce(
      grams, Seq(col("doc_id")), col("gs"), "pos", "g")
    val winners = occ.groupBy("g")
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("g", "w")
    val dups = occ.join(winners, Seq("g"))
      .filter(struct(col("doc_id"), col("pos")) =!= col("w"))
      .select("doc_id", "pos")
    mergeWindows(dups, k)
  }

  /** gaps-and-islands merge of marked FIXED-width k-token windows
    * (doc_id, pos) into maximal spans: every window is k tokens, so
    * [prev, prev+k) and [pos, pos+k) merge iff pos - prev <= k
    * (overlap or exact adjacency); first row's lag is null -> null > k
    * -> otherwise(0), island ids start at 0. Per-document window —
    * keyed by doc_id, bounded by document length, no hot-key exposure.
    */
  private def mergeWindows(dups: DataFrame, k: Int): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    dups
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byDoc) > k, 1).otherwise(0))
      .withColumn("island", sum("brk").over(byDoc))
      .groupBy("doc_id", "island")
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + k).cast("long").as("span_end"))
      .select("doc_id", "span_start", "span_end")
  }

  /** Incremental substring dedup — the production ingestion shape
    * (the minhashPairsIncremental asymmetry): duplicated k-token
    * spans of a NEW batch against an already-ingested corpus plus the
    * batch itself. A batch occurrence is marked when its gram occurs
    * ANYWHERE in the corpus (every corpus copy is canonical — the
    * corpus is assumed already deduped), or when it occurs >= 2 times
    * within the batch and is not the batch's first occurrence.
    * Corpus text is never re-scanned for spans and never shuffles as
    * text: only its distinct gram-hash set travels. Returns batch
    * spans (doc_id, span_start, span_end).
    *
    * Scale shape: the batch's distinct gram-hash set is small by
    * construction (an ingest batch is bounded), so it is broadcast and
    * the corpus leg becomes a PURE MAP pass — tokenize, hash, probe
    * the broadcast set — with only the matching grams (≤ |batch
    * grams|) ever reaching a shuffle. The earlier shape materialized
    * the corpus' full distinct gram set and sort-merge-joined it
    * (shuffling one 8-byte hash per distinct corpus gram — at 100 TB
    * that is the corpus vocabulary, trillions of rows); the flipped
    * semi-join moves only grams the batch actually mentions, the
    * "decide with small rows" rule. Corpus text still never shuffles
    * and is never re-scanned for spans.
    */
  def dupSpansIncremental(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, k: Int = 8): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // the batch occurrence frame has THREE consumers (winner election,
    // mark join, broadcast probe-set build) — localCheckpoint it: one
    // job, UnsafeRow blocks (no columnar cache encode/decode), batch-
    // sized by contract; blocks are released before returning
    val occ = graft.util.Staged.posexplodeOnce(
      spread(batch).select(col(idCol).cast("long").as("doc_id"),
        TextExprs.shingleHashes(col(textCol), distinct = false, n = k)
          .as("gs")),
      Seq(col("doc_id")), col("gs"), "pos", "g").localCheckpoint()
    // corpus grams that the BATCH mentions: the corpus side streams
    // map-side against the broadcast batch-gram set, so the corpus
    // contributes at most |batch grams| rows — never its vocabulary
    val batchGramSet = occ.select("g").distinct()
    // distinct = false: the per-doc string dedup set costs more than
    // the duplicate hashes it saves — the broadcast probe drops
    // non-matching grams map-side and the tiny survivor set dedups in
    // the .distinct() below
    val corpusHits = graft.util.Staged.explodeOnce(
      spread(corpus).select(
        TextExprs.shingleHashes(col(textCol), distinct = false, n = k)
          .as("gs")),
      Seq.empty, col("gs"), "g")
      .join(broadcast(batchGramSet), Seq("g"), "left_semi")
      .distinct()
      .withColumn("in_corpus", lit(true))
    val batchWinners = occ.groupBy("g")
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"),
        count(lit(1)).as("cnt"))
    val dups = occ
      .join(batchWinners, Seq("g"))
      .join(corpusHits, Seq("g"), "left")
      .filter(coalesce(col("in_corpus"), lit(false)) ||
        (col("cnt") >= 2 &&
          struct(col("doc_id"), col("pos")) =!= col("w")))
      .select("doc_id", "pos")
    // release the batch checkpoint blocks eagerly — in finally, so a
    // failing merge job cannot strand them: a resident ingest engine
    // calls this per batch, and a retried bad batch would otherwise
    // accumulate leaked executor storage
    try mergeWindows(dups, k).localCheckpoint()
    finally org.apache.spark.sql.GraftExprBridge.checkpointedRdd(occ)
      .foreach(_.unpersist(false))
  }

  /** Per-document substring-dedup summary + cleaned text: token count,
    * maximal-span count, duplicated-token count, and the document
    * re-joined from the tokens OUTSIDE every duplicated span. The op
    * lives in token space — spans are token positions — so `cleaned`
    * is the single-space-joined kept-token stream, not the raw string
    * with original whitespace (the raw-string variant needs character
    * offsets through the tokenizer, which [[WordRegex]] discards).
    * Returns a lazy plan (no Spark job at call time).
    */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val spans = dupSpans(docs, idCol, textCol, k)
    val perDoc = spans.groupBy("doc_id").agg(
      count(lit(1)).cast("long").as("n_spans"),
      sum(col("span_end") - col("span_start")).cast("long").as("dup_tokens"),
      collect_list(struct(col("span_start"), col("span_end"))).as("sps"))
    // kept tokens via GAP SLICES over the sorted span list: spans are
    // disjoint maximal intervals by construction (mergeWindows), so
    // the kept stream is exactly the inter-span gaps — one native
    // `slice` per span plus the tail, O(spans) interpreted HOF steps
    // per document. (The earlier `filter(ts, i -> !exists(sps, ...))`
    // re-scanned the span list per TOKEN — O(tokens × spans) in the
    // interpreted evaluator, ~8 CPU-s of the sf0.1 bench pass.)
    val sortedSpans = array_sort(col("sps"))
    val emptyAcc = struct(lit(0L).as("pos"),
      array().cast("array<string>").as("kept"))
    val keptTokens = aggregate(sortedSpans, emptyAcc,
      (acc, s) => struct(
        s.getField("span_end").as("pos"),
        concat(acc.getField("kept"),
          slice(col("ts"), (acc.getField("pos") + 1).cast("int"),
            (s.getField("span_start") - acc.getField("pos")).cast("int")))
          .as("kept")),
      acc => concat(acc.getField("kept"),
        slice(col("ts"), (acc.getField("pos") + 1).cast("int"),
          (size(col("ts")) - acc.getField("pos")).cast("int"))))
    docs.select(col(idCol).cast("long").as("doc_id"),
        wordsCol(col(textCol)).as("ts"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("sps").isNull, concat_ws(" ", col("ts")))
          .otherwise(concat_ws(" ", keptTokens)).as("cleaned"))
  }
}
