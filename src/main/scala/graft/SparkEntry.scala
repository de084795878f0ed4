package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.chunk.{ChunkOps, Tokenizer}
import graft.extract.ExtractPipeline
import graft.gen.TranscriptGen
import graft.multimodal.Multimodal
import graft.rag.{AnnIvf, AnnLsh, AnnPq, Bm25, Confidence, HashEmbedder, Hybrid, TopK}
import graft.store.{Ids, StoreOps}
import graft.text.{Corpus, Dedup, TextOps, UrlOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` is one operator from SURVEY.md §2 run over
  * the driver-provided tables at `sfDir`; `oracleSql` carries the
  * DuckDB-equivalent SQL for the hash-compare gate. Operators whose
  * semantics DuckDB cannot express (golden-fixture extraction
  * equality, resume manifest protocol) are registered without an
  * oracle → rows-only check, with full coverage in ScalaTest.
  */
object SparkEntry {

  private[graft] def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  private[graft] def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  private[graft] def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ExtractPipeline.overDocuments(docs(spark, "/root/testdata/sf0.001"))

  /** Token regex shared by Spark queries and DuckDB oracles. */
  private val TokRe = Tokenizer.TokenRegex

  /** span-dedup fixture constants, shared with the oracle SQL:
    * 12-token banner, 14-token trailer (both > k = 8, so interior
    * grams duplicate; junction grams straddling fixture and document
    * text stay unique per doc)
    */
  private[graft] val SpanBanner =
    "start of document banner shared across every fifth document in this corpus"
  private[graft] val SpanTrailer =
    "this footer sentence repeats verbatim at the end of every even numbered document here"

  /** 11-token within-batch duplicate line for the incremental span
    * fixture (appears in half the batch, never in the corpus)
    */
  private[graft] val SpanBatchLine =
    "shared batch boilerplate sentence repeated across half of this ingest batch"

  /** deterministic duplicated-span fixture over the (unique-text)
    * corpus: shared trailer on even ids, shared banner ahead of
    * ids % 5 == 0, and for ids % 7 == 0 the doc's own first 12 tokens
    * appended (within-doc duplication — its winner is the doc's own
    * leading occurrence)
    */
  /** URL fixture: two URLs appended to every third doc — a per-doc
    * spam host (7 variants) and one shared clean host
    */
  private def urlFixture(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" see https://spam"),
            (col("doc_id") % 7).cast("string"),
            lit(".example.com/p"), col("doc_id").cast("string"),
            lit(" and https://ok.example.org/a")))
          .otherwise(lit(""))).as("text"))

  private def spanFixture(d: DataFrame): DataFrame = {
    val t2 = when(col("doc_id") % 5 === 0,
      concat_ws(" ", lit(SpanBanner), col("text"))).otherwise(col("text"))
    val t3 = when(col("doc_id") % 2 === 0,
      concat_ws(" ", t2, lit(SpanTrailer))).otherwise(t2)
    val t4 = when(col("doc_id") % 7 === 0,
      concat_ws(" ", t3, concat_ws(" ", slice(Dedup.wordsCol(t3), 1, 12))))
      .otherwise(t3)
    d.select(col("doc_id"), t4.as("text"))
  }

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- conversion core C1–C13 ----
    "extract_markdown" -> ((s, dir) =>
      ExtractPipeline.overDocuments(docs(s, dir))
        .select(col("doc_id"), col("markdown"))),
    "summary_counts" -> ((s, dir) =>
      ExtractPipeline.summary(ExtractPipeline.overDocuments(docs(s, dir)))),
    "golden_extract" -> ((s, _) => Queries.goldenExtract(s, numConvs = 200)),

    // ---- chunking K1–K5 ----
    "chunk_sections" -> ((s, dir) => {
      val md = ExtractPipeline.overDocuments(docs(s, dir))
        .select(col("doc_id"), col("markdown").as("text"))
      ChunkOps.sections(md).toDF()
    }),
    "chunk_tokens" -> ((s, dir) => ChunkOps.byTokens(docs(s, dir)).toDF()),
    "chunk_at_commands" -> ((s, dir) => ChunkOps.byAtCommands(docs(s, dir)).toDF()),
    // multi-chunk gates: synthesized documents that FORCE the chunker's
    // split paths (round-1 oracles only ever produced one `_0` chunk per
    // doc, leaving K1/K3/K4 split logic invisible to the driver gate)
    "chunk_sections_multi" -> ((s, dir) =>
      ChunkOps.sections(Queries.headingDocs(docs(s, dir))).toDF()),
    // bounded like chunk_tokens_multi (whole corpus at the oracle's
    // sf0.01): the overflow-split gate is per-doc identical, and each
    // fixture doc is ~800 synthetic tokens — unbounded, the query
    // benchmarks fixture construction, not the boundary splitter
    "chunk_overflow_multi" -> ((s, dir) =>
      ChunkOps.sections(Queries.overflowDocs(
        docs(s, dir).filter(col("doc_id") < 500))).toDF()),
    // K2's stride/overlap path: 1200 fixed-width tokens → 3 overlapping
    // windows per doc with closed-form char offsets. The fixture is
    // bounded to the first 500 docs (the whole corpus at the oracle's
    // sf0.01): the gate is per-doc identical, and each fixture doc is
    // a 12 KB synthetic string — unbounded it becomes a fixture-
    // construction benchmark, not a chunker gate.
    "chunk_tokens_multi" -> ((s, dir) =>
      ChunkOps.byTokens(Queries.tokenDocs(
        docs(s, dir).filter(col("doc_id") < 500))).toDF()),
    // K3's AT-trigger + discard-without-AT quirk: 2 chunks per doc,
    // the AT-free intro line dropped
    "chunk_at_multi" -> ((s, dir) =>
      ChunkOps.byAtCommands(Queries.atDocs(docs(s, dir))).toDF()),
    "chunk_meta" -> ((s, dir) => {
      val d = docs(s, dir)
      ChunkOps.metaColumns(col("text")).foldLeft(d.select(col("doc_id"), col("text"))) {
        case (acc, (name, c)) => acc.withColumn(name, c)
      }.drop("text")
    }),

    // ---- store / ids V5–V8, S7–S8 ----
    "doc_ids" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("document", concat(lit("doc-"), col("doc_id")))
      d.select(col("doc_id"), Ids.slugifyCol(col("document")).as("slug"),
        Ids.chunkKeyCol(col("document"), lit(0), col("text")).as("chunk_key"))
    }),
    "list_documents" -> ((s, dir) =>
      StoreOps.listDocuments(
        docs(s, dir).select(col("source").as("document"),
          col("lang").as("type"), col("source")),
        typeCol = "type", sourceCol = "source")),
    "paginate" -> ((s, dir) =>
      StoreOps.page(docs(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", offset = 100, limit = 50)),
    "delete_document" -> ((s, dir) =>
      StoreOps.deleteDocument(
        docs(s, dir).select(col("doc_id"), col("source").as("document")),
        "src0").select("doc_id")),
    "collection_count" -> ((s, dir) => StoreOps.collectionCount(docs(s, dir))),
    // store maintenance: splinter the corpus into a many-small-files
    // partitioned table, compact it, and aggregate what survived —
    // count + char mass + a content-hash sum per partition, so the
    // physical rewrite is provably multiset-preserving (the oracle
    // computes the same aggregates straight from `documents`)
    // bounded to the first 250 docs (half the corpus at the oracle's
    // sf0.01) like the other fixture queries — unbounded, the query
    // benchmarks fixture construction (a 128-file shuffle write), not
    // the maintenance op; CompactionSpec covers scale/recovery shapes
    "compact_roundtrip" -> ((s, dir) => {
      // fixture dirs are deleted at JVM exit, not here: the returned
      // DataFrame stays lazy over the dir, so deletion must outlive
      // the consumer's action (Bench runs each query several times —
      // without the hook every invocation leaked a corpus copy)
      val tmp = java.nio.file.Files.createTempDirectory("graft_compact_q").toString
      Queries.deleteOnExit(tmp)
      docs(s, dir).filter(col("doc_id") < 250)
        .select(col("doc_id"), col("text"), (col("doc_id") % 4).as("partition_id"))
        .repartition(6)
        .write.partitionBy("partition_id").mode("overwrite").parquet(tmp)
      val report = graft.store.Compaction
        .compactPartitions(s, tmp, targetBytes = 1L << 30).collect()
      require(report.forall(r => r.getBoolean(5) || r.getInt(2) <= 1),
        "splintered table should have been compacted")
      s.read.parquet(tmp).groupBy(col("partition_id").cast("long").as("partition_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("double").as("n_chars"),
          sum(TextOps.sampleHash60(col("text"), "compact") % 1000003)
            .cast("double").as("content_sum"))
    }),
    // S6 upsert semantics: batch (doc_id >= 300, re-labeled) wins on
    // chunk_id collision; untouched existing rows survive
    "append_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      val existing = d.filter(col("doc_id") < 400)
        .select(concat(lit("c"), col("doc_id")).as("chunk_id"),
          col("source").as("v"))
      val batch = d.filter(col("doc_id") >= 300)
        .select(concat(lit("c"), col("doc_id")).as("chunk_id"),
          concat(lit("new-"), col("source")).as("v"))
      StoreOps.appendDedup(existing, batch)
    }),

    // ---- S10 resume: pending = domain ∖ manifest(done), left_anti ----
    "resume_pending" -> ((s, dir) => {
      val done = s.range(10).select(col("id").cast("int").as("partition_id"))
      docs(s, dir)
        .withColumn("partition_id", pmod(col("doc_id"), lit(16)).cast("int"))
        .join(done, Seq("partition_id"), "left_anti")
        .select("doc_id")
    }),

    // ---- S10 time-travel: manifest snapshot as-of (Iceberg analog) ----
    // deterministic manifest fixture over 16 partitions: every
    // partition has an attempt-1 commit at epoch + p·600 s, every
    // p ≡ 2 (mod 3) a later attempt-2 commit at +5000 s, and every
    // p ≡ 0 (mod 4) a dangling 'started' intent row that a snapshot
    // must ignore. As-of epoch+7000 s the visible state is partitions
    // 0..11 with p=2 at attempt 2 — latest committed attempt wins,
    // uncommitted partitions are absent. The oracle replays the same
    // arithmetic; doc mass joins in from `documents` (doc → partition
    // by doc_id mod 16, the manifest's own hash-partition scheme).
    "snapshot_asof" -> ((s, dir) => {
      val epochSec = 1767225600L // 2026-01-01T00:00:00Z, fixture epoch
      val a1 = s.range(16).select(col("id").cast("int").as("partition_id"),
        lit("done").as("status"), lit(1).as("attempt"),
        (lit(epochSec) + col("id") * 600).cast("timestamp").as("finished_ts"),
        (lit(100L) + col("id")).as("rows_out"),
        (lit(90L) + col("id")).as("ok_rows"), lit(10L).as("err_rows"))
      val a2 = s.range(16).filter(col("id") % 3 === 2)
        .select(col("id").cast("int").as("partition_id"),
          lit("done").as("status"), lit(2).as("attempt"),
          (lit(epochSec) + col("id") * 600 + 5000).cast("timestamp")
            .as("finished_ts"),
          (lit(200L) + col("id")).as("rows_out"),
          (lit(195L) + col("id")).as("ok_rows"), lit(5L).as("err_rows"))
      val noise = s.range(16).filter(col("id") % 4 === 0)
        .select(col("id").cast("int").as("partition_id"),
          lit("started").as("status"), lit(3).as("attempt"),
          lit(null).cast("timestamp").as("finished_ts"),
          lit(0L).as("rows_out"), lit(0L).as("ok_rows"), lit(0L).as("err_rows"))
      val manifest = a1.unionByName(a2).unionByName(noise)
      val snap = graft.store.Manifest.snapshotAsOf(manifest,
        lit(epochSec + 7000).cast("timestamp"))
      val d = docs(s, dir)
        .groupBy(pmod(col("doc_id"), lit(16)).cast("int").as("partition_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("double").as("doc_chars"))
      snap.join(d, Seq("partition_id"))
        .select(col("partition_id").cast("long").as("partition_id"),
          col("attempt"), col("rows_out"), col("ok_rows"),
          col("n_docs"), col("doc_chars"))
    }),

    // ---- retrieval V1–V4, V10 ----
    // exploded to (doc_id, dim, value) scalar rows: the driver's
    // pandas comparator cannot sort/hash array columns, and the
    // exploded form is lossless (every dim value compared bit-exact)
    "embed_docs" -> ((s, dir) =>
      graft.util.Staged.posexplodeOnce(docs(s, dir), Seq(col("doc_id")),
        HashEmbedder.embedding(col("text")), "pos", "value")
        .select(col("doc_id"), col("pos").cast("long").as("dim"),
          col("value"))),
    "search_topk" -> ((s, dir) =>
      TopK.search(embeddings(s, dir), Queries.queryVec(s, dir), k = 20)
        .select("vec_id", "score")),
    "ann_lsh" -> ((s, dir) =>
      AnnLsh.search(embeddings(s, dir), Queries.queryVec(s, dir), k = 10)
        .select("vec_id", "score")),
    "ann_ivf" -> ((s, dir) =>
      AnnIvf.search(embeddings(s, dir), Queries.queryVec(s, dir), k = 10)
        .select("vec_id", "score")),
    "confidence" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        Confidence.perRow(col("text"), Queries.RagQuery).as("confidence"))),
    "rag_query" -> ((s, dir) => Queries.ragQuery(s, dir)),
    // V10's response `sources` list (llm_integration.py:213-239,
    // retrieval.py:123-138): the ranked retrieved chunks with document
    // name and relevance score
    "rag_sources" -> ((s, dir) => Queries.ragSources(s, dir)),
    "embed_neardup" -> ((s, dir) => Queries.embedNearDup(s, dir, 0.4)),
    "embed_neardup_exact" -> ((s, dir) => Queries.embedNearDupExact(s, dir, 0.4)),
    // V4's metadata-filter path (vector_store.py:137-139 `where`):
    // the conjunctive equality filter lands BELOW the score projection,
    // reaching the scan as a pushed predicate — only matching rows are
    // ever scored
    "search_topk_filtered" -> ((s, dir) =>
      TopK.search(embeddings(s, dir), Queries.queryVec(s, dir), k = 10,
        metaFilter = col("label") === 1)
        .select("vec_id", "label", "score")),
    // IVF write-time cell assignment (the ingest half of the IVF
    // contract: the cell id is a persisted small-int column, so a
    // probe is partition pruning, not per-query recomputation)
    "ivf_assign" -> ((s, dir) => {
      val e = embeddings(s, dir)
      e.select(col("vec_id"),
        AnnIvf.cellCol(col("embedding"), AnnIvf.centroids(e)).as("cell"))
    }),
    // IVF with k-means-trained centroids (sampled Lloyd,
    // deterministic). Training itself is not SQL-expressible, but it
    // is driver-side and bounded — so the TRAINED centroids and probe
    // cells are recorded here and inlined as literals into the DuckDB
    // oracle (oracleSql is dumped by Verify AFTER the queries run), the
    // same constants-shared pattern as AnnLsh.sqlBucketExpr. The
    // assignment+probe+rank downstream of training is then fully
    // oracle-checked.
    "ann_ivf_kmeans" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val cents = AnnIvf.kmeansCentroids(e)
      val qv = Queries.queryVec(s, dir)
      val probes = AnnIvf.probeCells(qv, cents)
      Queries.lastKmeans = Some((cents, probes))
      TopK.search(
        e.filter(AnnIvf.cellCol(col("embedding"), cents).isin(probes: _*)),
        qv, k = 10).select("vec_id", "score")
    }),
    // PQ codes per vector (AnnPq.M subspaces × AnnPq.Ks centroids),
    // comma-joined for the comparator — gates the trained codebooks +
    // native encode kernel over every row. The array<int>→array<string>
    // is a native Cast (codegen), not a per-element HOF transform
    "pq_encode" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val cbs = AnnPq.codebooks(e)
      Queries.lastPq = Some(cbs)
      e.select(col("vec_id"),
        array_join(AnnPq.encodeCol(col("embedding"), cbs)
          .cast("array<string>"), ",").as("codes"))
    }),
    // IVF coarse probe + PQ asymmetric-distance rank — the compressed-
    // domain scan (codes + LUT adds, no vector arithmetic per row)
    "ann_ivfpq" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Queries.lastPq = Some(AnnPq.codebooks(e))
      AnnPq.search(e, Queries.queryVec(s, dir), k = 10)
    }),

    // ---- training-data pipeline: dedup / text analysis / multimodal ----
    "dedup_exact" -> ((s, dir) => Dedup.exact(docs(s, dir), "doc_id", "text")),
    "dedup_minhash" -> ((s, dir) => Dedup.minhashPairs(docs(s, dir), "doc_id", "text")),
    "dedup_simhash" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), Dedup.simhashCol(col("text")).as("simhash"))),
    "simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), "doc_id", "text", maxHamming = 3)),
    "ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(docs(s, dir), "doc_id", "text", threshold = 0.5)),
    // sketch-then-verify scale path: banded MinHash prescreen → exact
    // Jaccard over candidates only (recall vs the exhaustive path is
    // ScalaTest-measured, like embed_neardup vs _exact)
    "ngram_jaccard_banded" -> ((s, dir) =>
      Dedup.ngramJaccardBanded(docs(s, dir), "doc_id", "text", threshold = 0.5)),
    // incremental ingest: near-dup candidates of a NEW batch
    // (doc_id % 10 == 0) against the EXISTING corpus — asymmetric
    // band join, batch-driven candidate set
    "dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.minhashPairsIncremental(
        d.filter(col("doc_id") % 10 =!= 0),
        d.filter(col("doc_id") % 10 === 0),
        "doc_id", "text")
    }),
    // canonical-doc selection: connected components over the simhash
    // near-dup graph (component = min reachable doc_id)
    "dedup_components" -> ((s, dir) =>
      Dedup.connectedComponents(
        Dedup.simhashPairs(docs(s, dir), "doc_id", "text", maxHamming = 3))),
    "lang_id" -> ((s, dir) => TextOps.langId(docs(s, dir), "doc_id", "text")),
    // deterministic hash-threshold sampling (never rand() at scale)
    "sample_hash" -> ((s, dir) =>
      TextOps.sampleHash(docs(s, dir), "doc_id", rate = 0.25).select("doc_id")),
    // exact per-language median quality (rank pick — engine-agnostic);
    // lang rides through the score projection (keepCols), so the whole
    // input is ONE map-side pass — no self-join of documents
    "group_median" -> ((s, dir) =>
      TextOps.groupMedianExact(
        TextOps.qualityScore(docs(s, dir), "doc_id", "text", keepCols = Seq("lang"))
          .select("doc_id", "lang", "quality"),
        "lang", "quality", "doc_id")),
    // exact per-language quality quartiles (rank pick, one window pass
    // for all three)
    "group_percentiles" -> ((s, dir) =>
      TextOps.groupPercentilesExact(
        TextOps.qualityScore(docs(s, dir), "doc_id", "text", keepCols = Seq("lang"))
          .select("doc_id", "lang", "quality"),
        "lang", "quality", "doc_id")),
    // adaptive curation: keep docs at/above their language's median
    "quality_filter" -> ((s, dir) =>
      TextOps.aboveGroupMedian(
        TextOps.qualityScore(docs(s, dir), "doc_id", "text", keepCols = Seq("lang"))
          .select("doc_id", "lang", "quality"),
        "lang", "quality", "doc_id")
        .select("doc_id", "lang", "quality")),
    // group-wise top-k: 3 best docs per language (the metadata column —
    // 5 real groups in the corpus; lang_pred would collapse to one) by
    // quality score
    "top_per_group" -> ((s, dir) =>
      TextOps.topPerGroup(
        TextOps.qualityScore(docs(s, dir), "doc_id", "text", keepCols = Seq("lang"))
          .select("doc_id", "lang", "quality"),
        "lang", "quality", "doc_id", k = 3)
        .select("lang", "rank", "doc_id", "quality")),
    "quality_score" -> ((s, dir) => TextOps.qualityScore(docs(s, dir), "doc_id", "text")),
    // trained-model-shaped quality classifier: linear scorer with
    // fixed public weights over the qualityScore feature basis (the
    // kmeans-centroid literal pattern applied to model weights)
    "quality_model" -> ((s, dir) =>
      graft.text.QualityModel.score(docs(s, dir), "doc_id", "text")),
    // benchmark decontamination: docs sharing any word 4-gram with the
    // held-out eval split (doc_id % 20 == 0 — deterministic, oracle-
    // reproducible); the benchmark n-gram set is broadcast
    "decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      Corpus.decontaminate(
        d.filter(col("doc_id") % 20 =!= 0),
        d.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", n = 4)
    }),
    // the bloom-prescreened twin: identical output (blooms have no
    // false negatives; the exact semi-join removes the false
    // positives), so it shares decontaminate's oracle — the gate
    // proves the two-phase path loses nothing
    "decontaminate_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      Corpus.decontaminateBloom(
        d.filter(col("doc_id") % 20 =!= 0),
        d.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", n = 4)
    }),
    // Gopher-style repetition signals: duplicate-line fraction +
    // top-2-gram occurrence share, with the repetitive flag
    "repetition_stats" -> ((s, dir) =>
      Corpus.repetitionStats(docs(s, dir), "doc_id", "text")),
    // top-3 distinctive terms per doc (TF-IDF with rational idf = 1/df
    // so the score is an exact IEEE division both engines share)
    "distinctive_terms" -> ((s, dir) =>
      Corpus.distinctiveTerms(docs(s, dir), "doc_id", "text", k = 3)),
    // corpus-wide exact paragraph dedup over a fixture that plants a
    // global banner + a per-language repeated notice around each doc's
    // own text (the corpus is one-paragraph-per-doc — both engines
    // build the same fixture): first occurrence wins, the short
    // closing line is exempt
    "dedup_paragraphs" -> ((s, dir) =>
      Dedup.dedupParagraphs(
        docs(s, dir).select(col("doc_id"),
          concat(
            lit("GLOBAL BANNER: this exact paragraph heads every single document in the corpus.\n\n"),
            col("text"),
            lit("\n\nRepeated notice for "), col("lang"),
            lit(" readers: this paragraph is shared by every document of the language."),
            lit("\n\nShort.")).as("text")),
        "doc_id", "text")),
    // span-level exact substring dedup (Lee et al., ACL 2022) over a
    // fixture that plants duplicated k-gram runs: a shared 14-token
    // trailer on even ids, a shared 12-token banner ahead of ids % 5
    // == 0, and for ids % 7 == 0 the doc's own first 12 tokens copied
    // to the end (within-doc duplication); the corpus' own text is
    // unique, so both engines derive the same spans
    "dup_spans" -> ((s, dir) =>
      Dedup.dupSpans(spanFixture(docs(s, dir)), "doc_id", "text")),
    "substring_dedup" -> ((s, dir) =>
      Dedup.dedupSpans(spanFixture(docs(s, dir)), "doc_id", "text")),
    // incremental (batch-vs-corpus) substring dedup: the batch is
    // every 10th doc rewritten as new text around a 12-token copy of
    // its own corpus document (corpus-hit spans), with half the batch
    // sharing an 11-token closing line (within-batch spans; the
    // lowest batch doc_id keeps it)
    "dup_spans_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val b0 = d.filter(col("doc_id") % 10 === 3)
        .select(col("doc_id"),
          concat_ws(" ", lit("newa newb newc"),
            concat_ws(" ", slice(Dedup.wordsCol(col("text")), 1, 12)),
            lit("trail1 trail2")).as("text"))
      val batch = b0.select(col("doc_id"),
        when(col("doc_id") % 20 === 3,
          concat_ws(" ", col("text"), lit(SpanBatchLine)))
          .otherwise(col("text")).as("text"))
      Dedup.dupSpansIncremental(d, batch, "doc_id", "text")
    }),
    // URL/domain family over a fixture that plants two URLs on every
    // third doc (the corpus text itself carries none): per-domain
    // census, blocklist filtering, URL-normalization dedup
    "domain_census" -> ((s, dir) =>
      UrlOps.domainCensus(urlFixture(docs(s, dir)), "doc_id", "text")),
    "domain_blocklist" -> ((s, dir) => {
      import s.implicits._
      val blocked = (0 to 3).map(i => s"spam$i.example.com").toDF("host")
      UrlOps.filterBlockedDomains(urlFixture(docs(s, dir)),
        "doc_id", "text", blocked).select("doc_id")
    }),
    // four URL spellings per site collapse under normalization:
    // explicit :80, uppercase host, a #fragment (all -> .../page),
    // and a lone trailing slash (its own group, host-only form)
    "url_dedup" -> ((s, dir) => {
      val pages = docs(s, dir).select(col("doc_id"),
        concat(
          when(col("doc_id") % 4 === 1, lit("http://SITE"))
            .otherwise(lit("http://site")),
          (col("doc_id") % 50).cast("string"),
          when(col("doc_id") % 4 === 1, lit(".EXAMPLE.COM"))
            .otherwise(lit(".example.com")),
          when(col("doc_id") % 4 === 0, lit(":80/page"))
            .when(col("doc_id") % 4 === 1, lit("/page"))
            .when(col("doc_id") % 4 === 2, lit("/page#frag"))
            .otherwise(lit("/"))).as("url"))
      UrlOps.dedupByUrl(pages, "doc_id", "url")
    }),
    // BM25 keyword retrieval (hybrid-search complement to the
    // embedding top-k family): three common corpus terms, top-10 by
    // (score desc, doc_id) — score doubles are hash-compared, so the
    // per-term conditional-aggregate combine is fixed-order
    "bm25_search" -> ((s, dir) =>
      Bm25.search(docs(s, dir), "doc_id", "text",
        Seq("hash", "join", "vector"), topK = 10)),
    // RRF hybrid fusion of the BM25 lexical list (depth 20) and the
    // exact cosine vector list (depth 20) — vec_id and doc_id are the
    // same entity space in the test corpus
    "hybrid_search" -> ((s, dir) => {
      val lex = Bm25.search(docs(s, dir), "doc_id", "text",
        Seq("hash", "join", "vector"), topK = 20)
      val vec = TopK.search(embeddings(s, dir), Queries.queryVec(s, dir),
        k = 20).select(col("vec_id").as("doc_id"), col("score"))
      Hybrid.rrfFuse(lex, vec, "doc_id", "score", k = 60, topK = 10)
    }),
    // normalization over a fixture that plants deterministic mess per
    // doc (the corpus is clean ASCII — both engines build the same
    // fixture): a decomposed accent (e + U+0301), CRLF, a bell control
    // char, a tab run, double spaces, and outer whitespace
    "normalize_text" -> ((s, dir) =>
      Corpus.normalizeText(
        docs(s, dir).select(col("doc_id"),
          concat(lit("  caf"), lit("é "), col("text"),
            lit("\r\nxy\t\tz  end ")).as("text")),
        "doc_id", "text")),
    // PII scrub over a fixture that plants one email + one phone per
    // doc (the corpus has none — both engines build the same fixture)
    "pii_redact" -> ((s, dir) =>
      Corpus.redactPii(
        docs(s, dir).select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-0199")).as("text")),
        "doc_id", "text")),
    // CCNet-style chrome removal over a fixture that wraps every doc
    // in a shared cookie banner + one of 3 footer variants
    "boilerplate_lines" -> ((s, dir) =>
      Corpus.removeBoilerplateLines(
        docs(s, dir).select(col("doc_id"),
          concat(lit("COOKIE NOTICE accept cookies\n"), col("text"),
            lit("\nfooter sitemap "), (col("doc_id") % 3).cast("string"))
            .as("text")),
        "doc_id", "text", minDocs = 10)),
    // relational set ops (a surface the reference lacks, SURVEY §2.6):
    // sampled ∩ quality-filtered − deleted — Spark plans these as
    // joins (left_semi/left_anti over a distinct), no custom code
    "set_ops" -> ((s, dir) => {
      val d = docs(s, dir)
      TextOps.sampleHash(d, "doc_id", rate = 0.5).select("doc_id")
        .intersect(d.filter(col("n_chars") >= 100).select("doc_id"))
        .except(d.filter(col("doc_id") % 7 === 0).select("doc_id"))
    }),
    // the dedup pipeline's last step end-to-end: near-dup components →
    // canonical per component = best quality (ties → lowest doc_id);
    // composes simhashPairs + connectedComponents + qualityScore +
    // a rank window, each individually oracled above
    "dedup_keep_best" -> ((s, dir) => {
      val d = docs(s, dir)
      val comps = Dedup.connectedComponents(
        Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 3))
      val scored = TextOps.qualityScore(d, "doc_id", "text")
        .select(col("doc_id"), col("quality"))
      TextOps.topPerGroup(
        comps.join(scored, comps("id") === scored("doc_id"))
          .select(col("component"), col("doc_id"), col("quality")),
        "component", "quality", "doc_id", k = 1)
        .select("component", "doc_id", "quality")
    }),
    // corpus vocabulary head: top-25 terms by document frequency
    // (combine-friendly df agg over per-doc-distinct terms, then
    // TakeOrderedAndProject — never a global sort)
    "vocab_top" -> ((s, dir) =>
      docs(s, dir)
        .transform(d => graft.util.Staged.explodeOnce(d, Seq.empty,
          array_distinct(Dedup.wordsCol(lower(col("text")))), "term"))
        .groupBy("term").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term").asc)
        .limit(25)),
    // per-language vocabulary census: token mass + EXACT distinct-term
    // count (count_distinct = partial agg keyed (lang, term), then a
    // count per lang — two map-combinable exchanges, no collect). The
    // 100 TB switch is approx_count_distinct (HLL++: O(1) mergeable
    // sketch per lang, ONE exchange) — same query shape, documented
    // like group_median → approx_percentile; TextOpsSpec pins the
    // estimate inside its error bound against this exact gate. Terms
    // share vocab_top's tokenizer (Dedup.wordsCol = [A-Za-z0-9]+ runs).
    "vocab_census" -> ((s, dir) =>
      graft.util.Staged.explodeOnce(
        docs(s, dir).withColumn("lang", coalesce(col("lang"), lit("<null>"))),
        Seq(col("lang")), Dedup.wordsCol(lower(col("text"))), "term")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          count_distinct(col("term")).as("n_terms"))),
    // stratified per-language keep rates (policy map, pure map-side)
    "sample_stratified" -> ((s, dir) =>
      Corpus.stratifiedSample(docs(s, dir), "doc_id", "lang",
        rates = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1),
        defaultRate = 0.05).select("doc_id", "lang")),
    // fixed-mixture domain sampling: downsample per language so output
    // token shares hit the target mix at the largest achievable size
    "mixture_sample" -> ((s, dir) =>
      Corpus.mixtureSample(docs(s, dir), "doc_id", "lang", "text",
        targets = Map("en" -> 0.55, "de" -> 0.3, "fr" -> 0.15))),
    // corpus census: (lang, source) grouping sets in one Expand+agg
    "corpus_rollup" -> ((s, dir) =>
      Corpus.compositionRollup(docs(s, dir), "lang", "source", "n_chars")),
    // pairwise language-slice overlap via mergeable bottom-k sketches
    // (the custom TypedImperativeAggregate)
    "corpus_similarity" -> ((s, dir) =>
      Corpus.corpusSimilarity(docs(s, dir), "lang", "text")),
    // training-sequence packing: concatenate per language in doc order,
    // cut every 2048 tokens; each doc's (seq, offset) placement
    // DuckDB's windowed sum(BIGINT) is HUGEINT, which the driver's
    // pandas bridge renders float64 — emit the derived positions as
    // DOUBLE on both sides (exact below 2^53; the operator itself keeps
    // exact longs)
    "pack_sequences" -> ((s, dir) =>
      Corpus.packSequences(docs(s, dir), "lang", "doc_id", "text")
        .select(col("doc_id"), col("grp"),
          col("n_tokens").cast("double").as("n_tokens"),
          col("seq_id").cast("double").as("seq_id"),
          col("seq_offset").cast("double").as("seq_offset"))),
    "fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.fingerprint(col("text")).as("fingerprint"))),
    // frame_offsets scalarized (comma-joined) for the same
    // pandas-comparator reason; the typed array form stays on the
    // Dataset[MediaMeta] API
    "mm_meta" -> ((s, dir) => Multimodal.decodeMeta(docs(s, dir)).toDF()
      .withColumn("frame_offsets", concat_ws(",", col("frame_offsets")))),
    // frame sampling + per-frame feature extraction (stub descriptor =
    // window digest; real plumbing: one row per sampled frame, no
    // shuffle)
    "mm_features" -> ((s, dir) => Multimodal.frameFeatures(docs(s, dir))),
    // REAL codec gates: one valid PPM/BMP payload per doc (pixel
    // bytes a closed-form function of doc_id), decoded by the actual
    // header/pixel parser — per-channel sums only exist if the pixel
    // array was genuinely recovered from the encoded bytes (BMP adds
    // row padding, bottom-up order and BGR swap to get wrong)
    "mm_decode_ppm" -> ((s, dir) =>
      Multimodal.decodeImage(
        Multimodal.syntheticImages(docs(s, dir), "ppm")).toDF()),
    "mm_decode_bmp" -> ((s, dir) =>
      Multimodal.decodeImage(
        Multimodal.syntheticImages(docs(s, dir), "bmp")).toDF()),
    // audio codec gate: one valid RIFF/WAVE PCM16 clip per doc
    // (interleaved samples a closed-form function of doc_id, odd-sized
    // LIST chunk forcing real chunk-walking) — amplitude stats only
    // exist if the PCM frames were genuinely parsed from the container
    "mm_decode_wav" -> ((s, dir) =>
      Multimodal.decodeAudio(
        Multimodal.syntheticAudio(docs(s, dir))).toDF()),

    // ---- stable ordering window (north rule) + event-time agg ----
    "stable_order" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"),
          row_number().over(w).as("turn_rank"))
    }),
    // event-time tumbling-window aggregate (batch analog of the
    // streaming windowed agg). The value sum is carried in integer
    // micro-units so it is associative — float summation order would
    // otherwise differ between engines/layouts. Emitted as DOUBLE
    // (exact below 2^53): the driver's pandas bridge renders DuckDB's
    // nullable BIGINT sum as float64, so an integer-typed column can
    // never hash-match it.
    "window_agg" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 1000000).cast("long")).cast("double")
            .as("total_micros"))),

    // ---- event-stream ops: sessionization + as-of join ----
    // (training-pipeline operators over behavioral logs; one exchange
    // by user, per-partition sort + window — see events.EventOps)
    "sessionize" -> ((s, dir) =>
      graft.events.EventOps.sessionize(tbl(s, dir, "events"))
        .select("event_id", "user_id", "session_idx")),
    "session_stats" -> ((s, dir) =>
      graft.events.EventOps.sessionStats(tbl(s, dir, "events"))),
    "asof_join" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val probe = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val ref = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts", "value")
      graft.events.EventOps.asofJoin(probe, ref, "user_id", "ts", "event_id",
        refCols = Seq("event_id", "value"))
        // nullable BIGINT renders as float64 through the driver's
        // pandas bridge — emit DOUBLE on both sides (exact < 2^53)
        .select(col("event_id"), col("user_id"),
          col("asof_event_id").cast("double").as("asof_event_id"),
          col("asof_value"))
    }),

    // JSON metadata extraction (events.props carries a JSON string —
    // the typed-extraction op every log pipeline needs; map-side,
    // codegen'd get_json_object, no UDF)
    "json_props" -> ((s, dir) =>
      tbl(s, dir, "events").select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))),

    // ---- relational/join coverage over the TPC-H-shaped tables ----
    // (the shuffle/broadcast story a 100 TB deployment lives on:
    // partial-agg sums over the fact table, broadcast hash joins on
    // dims, sort-merge on fact⋈fact — all money math in integer cents
    // so engines agree bit-for-bit)
    "tpch_pricing" -> ((s, dir) => Queries.tpchPricing(s, dir)),
    "tpch_top_orders" -> ((s, dir) => Queries.tpchTopOrders(s, dir)),
    "tpch_region_stats" -> ((s, dir) => Queries.tpchRegionStats(s, dir)),

    // ---- V9/V11: full ingest pipeline (extract → chunk → ids) ----
    "ingest_pipeline" -> ((s, dir) => {
      val md = ExtractPipeline.overDocuments(docs(s, dir))
        .select(col("doc_id"), col("markdown").as("text"))
      ChunkOps.sections(md).toDF()
        .select(col("chunk_id"), col("document"), col("content"),
          col("token_count"),
          Ids.chunkKeyCol(col("document"), col("chunk_index"),
            col("content")).as("chunk_key"))
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "extract_markdown" ->
      "SELECT doc_id, text || chr(10) AS markdown FROM documents",
    "summary_counts" ->
      ("SELECT count(*) FILTER (WHERE text IS NOT NULL AND text <> '') AS successful, " +
        "count(*) FILTER (WHERE text IS NULL OR text = '') AS failed, " +
        "count(*) AS total FROM documents"),
    "chunk_sections" ->
      (s"SELECT 'doc-'||doc_id||'_0' AS chunk_id, 'doc-'||doc_id AS document, " +
        "0 AS chunk_index, CAST(NULL AS VARCHAR) AS section, " +
        "text || chr(10) AS content, 0 AS start_char, 2 AS end_char, " +
        s"len(regexp_extract_all(text, '$TokRe')) AS token_count, " +
        "'' AS at_commands, 0 AS at_command_count, " +
        "false AS has_code_blocks, false AS has_tables FROM documents"),
    "chunk_tokens" ->
      (s"SELECT 'doc-'||doc_id||'_0' AS chunk_id, 'doc-'||doc_id AS document, " +
        "0 AS chunk_index, CAST(NULL AS VARCHAR) AS section, " +
        "trim(text) AS content, " +
        "length(text) - length(ltrim(text)) AS start_char, " +
        "length(rtrim(text)) AS end_char, " +
        s"len(regexp_extract_all(text, '$TokRe')) AS token_count, " +
        "'' AS at_commands, 0 AS at_command_count, " +
        "false AS has_code_blocks, false AS has_tables FROM documents"),
    "chunk_at_commands" ->
      (s"SELECT 'doc-'||doc_id||'_0' AS chunk_id, 'doc-'||doc_id AS document, " +
        "0 AS chunk_index, CAST(NULL AS VARCHAR) AS section, " +
        "text AS content, 0 AS start_char, 1 AS end_char, " +
        s"len(regexp_extract_all(text, '$TokRe')) AS token_count, " +
        "'' AS at_commands, 0 AS at_command_count, " +
        "false AS has_code_blocks, false AS has_tables FROM documents"),
    "chunk_meta" ->
      (s"SELECT doc_id, len(regexp_extract_all(text, '$TokRe')) AS token_count, " +
        "coalesce(array_to_string(regexp_extract_all(text, 'AT\\+[A-Z0-9]+'), ', '), '') AS at_commands, " +
        "len(regexp_extract_all(text, 'AT\\+[A-Z0-9]+')) AS at_command_count, " +
        "contains(text, '```') AS has_code_blocks, " +
        "(contains(text, '|') AND contains(text, chr(10))) AS has_tables " +
        "FROM documents"),
    "doc_ids" ->
      ("SELECT doc_id, " +
        "lower(trim(regexp_replace(regexp_replace('doc-'||doc_id, '[^\\w\\s-]', '_', 'g'), '[_\\s]+', '_', 'g'), '_')) AS slug, " +
        "substr(lower(trim(regexp_replace(regexp_replace('doc-'||doc_id, '[^\\w\\s-]', '_', 'g'), '[_\\s]+', '_', 'g'), '_')), 1, 30) " +
        "|| '_' || substr(sha256('doc-'||doc_id||'|0|'||substr(text,1,100)), 1, 16) AS chunk_key " +
        "FROM documents"),
    "list_documents" ->
      ("SELECT source AS document, min(lang) AS type, min(source) AS source, " +
        "count(*) AS chunk_count FROM documents GROUP BY source"),
    "paginate" ->
      "SELECT doc_id, n_chars FROM documents ORDER BY doc_id LIMIT 50 OFFSET 100",
    "delete_document" ->
      "SELECT doc_id FROM documents WHERE source <> 'src0'",
    "collection_count" ->
      "SELECT count(*) AS n FROM documents",
    // the roundtrip query aggregates the POST-COMPACTION table; the
    // oracle aggregates `documents` directly — equality proves the
    // physical rewrite preserved the row multiset bit-for-bit
    "compact_roundtrip" ->
      (s"""SELECT doc_id % 4 AS partition_id, count(*) AS n_docs,
         |  sum(length(text))::DOUBLE AS n_chars,
         |  sum(${graft.text.TextOps.sqlSampleHash60("compact", "text")} % 1000003)::DOUBLE AS content_sum
         |FROM documents WHERE doc_id < 250 GROUP BY 1""".stripMargin),
    "append_dedup" ->
      ("""SELECT 'c'||doc_id AS chunk_id, 'new-'||source AS v
         |FROM documents WHERE doc_id >= 300
         |UNION ALL
         |SELECT 'c'||doc_id AS chunk_id, source AS v
         |FROM documents WHERE doc_id < 300""".stripMargin),
    "resume_pending" ->
      "SELECT doc_id FROM documents WHERE doc_id % 16 >= 10",
    // time-travel replay: same fixture arithmetic as the query —
    // attempt-1 commit at p*600 s, attempt-2 (p%3=2) at +5000 s,
    // as-of cutoff 7000 s; latest committed attempt <= cutoff wins,
    // partitions beyond the cutoff (p*600 > 7000) are absent
    "snapshot_asof" ->
      ("""WITH w AS (
         |  SELECT p.range AS pid,
         |    CASE WHEN p.range % 3 = 2 AND p.range*600 + 5000 <= 7000
         |         THEN 2 ELSE 1 END AS attempt
         |  FROM range(0, 16) p WHERE p.range*600 <= 7000),
         |d AS (SELECT doc_id % 16 AS pid, count(*) AS n_docs,
         |        CAST(sum(n_chars) AS DOUBLE) AS doc_chars
         |      FROM documents GROUP BY 1)
         |SELECT CAST(w.pid AS BIGINT) AS partition_id,
         |  CAST(attempt AS INT) AS attempt,
         |  CAST(CASE WHEN attempt = 2 THEN 200 + w.pid
         |            ELSE 100 + w.pid END AS BIGINT) AS rows_out,
         |  CAST(CASE WHEN attempt = 2 THEN 195 + w.pid
         |            ELSE 90 + w.pid END AS BIGINT) AS ok_rows,
         |  n_docs, doc_chars
         |FROM w JOIN d ON w.pid = d.pid""".stripMargin),
    "stable_order" ->
      ("SELECT event_id, user_id, CAST(row_number() OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS turn_rank " +
        "FROM events"),
    "window_agg" ->
      ("SELECT date_trunc('hour', ts) AS hour, event_type, " +
        "count(*) AS n, CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE) AS total_micros " +
        "FROM events GROUP BY 1, 2"),
    // multi-chunk gates: content fully determined by construction, so
    // the oracle enumerates each chunk the Scala kernel must produce
    "chunk_sections_multi" ->
      (s"""WITH c AS (
         |  SELECT doc_id, 0 AS chunk_index, CAST(NULL AS VARCHAR) AS section,
         |    'Intro for doc '||doc_id||'.' AS content, 0 AS start_char, 1 AS end_char FROM documents
         |  UNION ALL SELECT doc_id, 1, 'Alpha',
         |    '# Alpha'||chr(10)||'Alpha body '||doc_id, 1, 3 FROM documents
         |  UNION ALL SELECT doc_id, 2, 'Beta',
         |    '# Beta'||chr(10)||'Beta body '||doc_id, 3, 5 FROM documents)
         |SELECT 'doc-'||doc_id||'_'||chunk_index AS chunk_id, 'doc-'||doc_id AS document,
         |  chunk_index, section, content, start_char, end_char,
         |  len(regexp_extract_all(content, '$TokRe')) AS token_count,
         |  '' AS at_commands, 0 AS at_command_count,
         |  false AS has_code_blocks,
         |  (contains(content, '|') AND contains(content, chr(10))) AS has_tables
         |FROM c""".stripMargin),
    "chunk_overflow_multi" ->
      (s"""WITH base AS (SELECT doc_id,
         |    'a'||doc_id||' '||repeat('tok ', 400)||'one.' AS l1,
         |    'b'||doc_id||' '||repeat('tok ', 400)||'two.' AS l2,
         |    'c'||doc_id||' short tail three.' AS l3 FROM documents WHERE doc_id < 500),
         |c AS (
         |  SELECT doc_id, 0 AS chunk_index, l1||chr(10)||l2 AS content,
         |    -1 AS start_char, 1 AS end_char FROM base
         |  UNION ALL SELECT doc_id, 1, l3, 2, 3 FROM base)
         |SELECT 'doc-'||doc_id||'_'||chunk_index AS chunk_id, 'doc-'||doc_id AS document,
         |  chunk_index, CAST(NULL AS VARCHAR) AS section, content, start_char, end_char,
         |  len(regexp_extract_all(content, '$TokRe')) AS token_count,
         |  '' AS at_commands, 0 AS at_command_count,
         |  false AS has_code_blocks,
         |  (contains(content, '|') AND contains(content, chr(10))) AS has_tables
         |FROM c""".stripMargin),
    // K2 window gate: token i of the 1200-token fixture spans chars
    // [10i, 10i+9); with maxTokens=512, stride=462 the windows start at
    // tokens 0/462/924, so (start_char, end_char) = (0,5119), (4620,
    // 9739), (9240,11999) and content is the matching substring
    "chunk_tokens_multi" ->
      (s"""WITH base AS (SELECT doc_id,
         |    'd'||lpad(doc_id::VARCHAR,4,'0')||'head '||'${Queries.TokenTail}' AS text
         |  FROM documents WHERE doc_id < 500),
         |c AS (
         |  SELECT doc_id, text, 0 AS chunk_index, 0 AS start_char, 5119 AS end_char FROM base
         |  UNION ALL SELECT doc_id, text, 1, 4620, 9739 FROM base
         |  UNION ALL SELECT doc_id, text, 2, 9240, 11999 FROM base)
         |SELECT 'doc-'||doc_id||'_'||chunk_index AS chunk_id, 'doc-'||doc_id AS document,
         |  chunk_index, CAST(NULL AS VARCHAR) AS section,
         |  substr(text, start_char + 1, end_char - start_char) AS content,
         |  start_char, end_char,
         |  len(regexp_extract_all(substr(text, start_char + 1, end_char - start_char), '$TokRe')) AS token_count,
         |  '' AS at_commands, 0 AS at_command_count,
         |  false AS has_code_blocks, false AS has_tables
         |FROM c""".stripMargin),
    // K3 gate: the AT-free intro chunk is DISCARDED (reference quirk),
    // leaving exactly the two AT-anchored chunks per doc
    "chunk_at_multi" ->
      (s"""WITH c AS (
         |  SELECT doc_id, 0 AS chunk_index,
         |    'AT+CMGF one '||doc_id||chr(10)||'filler between '||doc_id AS content,
         |    1 AS start_char, 3 AS end_char, 'AT+CMGF' AS at_commands FROM documents
         |  UNION ALL SELECT doc_id, 1, 'AT+CSQ two '||doc_id, 3, 4, 'AT+CSQ' FROM documents)
         |SELECT 'doc-'||doc_id||'_'||chunk_index AS chunk_id, 'doc-'||doc_id AS document,
         |  chunk_index, CAST(NULL AS VARCHAR) AS section, content, start_char, end_char,
         |  len(regexp_extract_all(content, '$TokRe')) AS token_count,
         |  at_commands, 1 AS at_command_count,
         |  false AS has_code_blocks, false AS has_tables
         |FROM c""".stripMargin),
    "json_props" ->
      "SELECT event_id, json_extract(props, '$.k')::INT AS k FROM events",
    // event ops: timestamps compared in integer microseconds
    // (epoch_us ↔ unix_micros) so both engines do exact integer math
    "sessionize" ->
      ("""SELECT event_id, user_id,
         |  CAST(sum(CASE WHEN prev IS NOT NULL AND epoch_us(ts) - prev > 1800000000 THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY user_id ORDER BY ts, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_idx
         |FROM (SELECT event_id, user_id, ts,
         |        lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |      FROM events)""".stripMargin),
    "session_stats" ->
      ("""WITH s AS (
         |  SELECT event_id, user_id, ts, value,
         |    CAST(sum(CASE WHEN prev IS NOT NULL AND epoch_us(ts) - prev > 1800000000 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_idx
         |  FROM (SELECT event_id, user_id, ts, value,
         |          lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |        FROM events))
         |SELECT user_id, session_idx, count(*) AS n_events,
         |  max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us,
         |  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE) AS value_micros
         |FROM s GROUP BY 1, 2""".stripMargin),
    // the carried payload is ONE struct (whole-row atomicity — a null
    // field must not fall back to an older ref row), mirroring
    // EventOps.asofJoin exactly
    "asof_join" ->
      ("""WITH u AS (
         |  SELECT user_id, ts, event_id, 0 AS tag,
         |    struct_pack(rid := event_id, rval := value) AS pay
         |  FROM events WHERE event_type = 'error'
         |  UNION ALL
         |  SELECT user_id, ts, event_id, 1, CAST(NULL AS STRUCT(rid BIGINT, rval DOUBLE))
         |  FROM events WHERE event_type = 'click'),
         |lv AS (SELECT user_id, event_id, tag,
         |  last_value(pay IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, tag, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a
         |  FROM u)
         |SELECT event_id, user_id, CAST(a.rid AS DOUBLE) AS asof_event_id, a.rval AS asof_value
         |FROM lv WHERE tag = 1""".stripMargin),
    // TPC-H-shaped relational coverage; money math in integer cents /
    // cent-percent units, final sums as DOUBLE for the pandas bridge
    "tpch_pricing" ->
      ("""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_qty,
         |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE) AS sum_base_cents,
         |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE) AS sum_disc_cp,
         |  count(*) AS n
         |FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-01'
         |GROUP BY 1, 2""".stripMargin),
    "tpch_top_orders" ->
      ("""SELECT l_orderkey, o_orderdate,
         |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE) AS revenue_cp
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND CAST(o_orderdate AS DATE) < DATE '1998-06-01'
         |  AND CAST(l_shipdate AS DATE) > DATE '1998-06-01'
         |GROUP BY 1, 2
         |ORDER BY revenue_cp DESC, l_orderkey LIMIT 10""".stripMargin),
    "tpch_region_stats" ->
      ("""SELECT r_name, n_name, count(*) AS n_customers,
         |  CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE) AS acctbal_cents
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY 1, 2""".stripMargin),
    "ingest_pipeline" ->
      (s"SELECT 'doc-'||doc_id||'_0' AS chunk_id, 'doc-'||doc_id AS document, " +
        "text || chr(10) AS content, " +
        s"len(regexp_extract_all(text, '${Tokenizer.TokenRegex}')) AS token_count, " +
        "substr(lower(trim(regexp_replace(regexp_replace('doc-'||doc_id, '[^\\w\\s-]', '_', 'g'), '[_\\s]+', '_', 'g'), '_')), 1, 30) " +
        "|| '_' || substr(sha256('doc-'||doc_id||'|0|'||substr(text||chr(10),1,100)), 1, 16) AS chunk_key " +
        "FROM documents")
  ) ++ OracleSql.retrieval ++ OracleSql.textOps ++
    // present only once the ann_ivf_kmeans query has trained (Verify
    // dumps oracleSql after running every query, so the driver's flow
    // always sees it); standalone evaluation before training degrades
    // to the old rows-only check rather than inventing centroids
    Queries.lastKmeans.map { case (cents, probes) =>
      "ann_ivf_kmeans" -> OracleSql.kmeansSql(cents, probes)
    } ++
    // same late-binding rule as the k-means oracle: the PQ codebooks
    // are training artifacts, inlined as literals once trained
    Queries.lastPq.toSeq.flatMap { cbs =>
      Seq("pq_encode" -> OracleSql.pqEncodeSql(cbs),
        "ann_ivfpq" -> OracleSql.ivfpqSql(cbs))
    }
}

/** DuckDB oracle SQL for the retrieval operators — built from the same
  * constants (token regex, LSH planes) as the Spark side, and the same
  * strict left-fold arithmetic so doubles compare bit-exactly.
  */
object OracleSql {
  import graft.rag.AnnLsh

  private def dot(a: String, b: String) =
    s"list_reduce(list_transform(list_zip($a, $b), x -> x[1]*x[2]), (a,b) -> a+b)"

  /** a double literal DuckDB parses as DOUBLE. A plain decimal literal
    * is typed DECIMAL(18,·) first and only then cast — ≥16-significant-
    * digit values lose their low bits in that intermediate (measured:
    * 0.094264176948105585 parses to ...599). An exponent suffix forces
    * the DOUBLE (strtod, correctly-rounded) parse; Scala's toString
    * already emits E-notation outside [1e-3, 1e7).
    */
  private def dlit(d: Double): String = {
    val s = d.toString
    if (s.contains('E') || s.contains('e')) s else s + "e0"
  }

  /** DOUBLE[] literal with exact element round-trip */
  private def dlist(a: Array[Double]): String =
    a.map(dlit).mkString("[", ",", "]") + "::DOUBLE[]"
  private def nrm(a: String) =
    s"sqrt(list_reduce(list_transform($a, x -> x*x), (a,b) -> a+b))"
  private val scoreCase =
    "CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot/(na*nb) END"

  /** scored embeddings vs the vec_id=0 query vector */
  private val scoredCte =
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
       |s AS (SELECT vec_id, ${dot("embedding::DOUBLE[]", "(SELECT qe FROM q)")} AS dot,
       |  ${nrm("embedding::DOUBLE[]")} AS na, (SELECT ${nrm("qe")} FROM q) AS nb
       |  FROM embeddings)""".stripMargin

  private val relevantCase =
    "CASE WHEN contains(lower(text),'spark') OR contains(lower(text),'join') " +
      "OR contains(lower(text),'performance') THEN 1 ELSE 0 END"

  val retrieval: Map[String, String] = Map(
    "embed_docs" ->
      (s"""WITH emb AS (
         |SELECT doc_id, CASE WHEN nrm = 0 THEN raw ELSE list_transform(raw, x -> x/nrm) END AS embedding
         |FROM (SELECT doc_id, raw, ${nrm("raw")} AS nrm
         |  FROM (SELECT doc_id, list_transform(range(0, 64), d ->
         |      list_reduce(list_prepend(0, list_transform(hashed,
         |        h -> CASE WHEN h % 64 = d THEN (CASE WHEN (h >> 6) % 2 = 0 THEN 1 ELSE -1 END) ELSE 0 END)),
         |        (a,b) -> a+b))::DOUBLE[] AS raw
         |    FROM (SELECT doc_id, list_transform(
         |        regexp_extract_all(text, '${graft.chunk.Tokenizer.TokenRegex}'),
         |        t -> CAST('0x'||substr(sha256(t),1,15) AS BIGINT)) AS hashed
         |      FROM documents))))
         |SELECT doc_id, d AS dim, embedding[d + 1] AS value
         |FROM emb, (SELECT unnest(range(0, 64)) AS d)""".stripMargin),
    "search_topk" ->
      (scoredCte +
        s"\nSELECT vec_id, $scoreCase AS score FROM s ORDER BY score DESC, vec_id LIMIT 20"),
    "search_topk_filtered" ->
      (s"""WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
         |s AS (SELECT vec_id, label, ${dot("embedding::DOUBLE[]", "(SELECT qe FROM q)")} AS dot,
         |  ${nrm("embedding::DOUBLE[]")} AS na, (SELECT ${nrm("qe")} FROM q) AS nb
         |  FROM embeddings WHERE label = 1)
         |SELECT vec_id, label, $scoreCase AS score FROM s
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin),
    // the Spark side emits the centroid's 0-based INDEX in the
    // sorted-by-key list (AnnIvf.cellCol), so the oracle labels cells
    // by row_number-1 over the same ordering — NOT by the centroid's
    // vec_id, which only coincides with the index for a dense 0-based
    // key domain
    "ivf_assign" -> {
      def cos(a: String, b: String) =
        s"(CASE WHEN ${nrm(a)} = 0 OR ${nrm(b)} = 0 THEN 0.0 ELSE ${dot(a, b)}/(${nrm(a)}*${nrm(b)}) END)"
      s"""WITH c AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cidx, embedding::DOUBLE[] AS cv FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT ${graft.rag.AnnIvf.NCells})),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sc AS (SELECT e.vec_id, c.cidx, ${cos("e.v", "c.cv")} AS s FROM e CROSS JOIN c)
         |SELECT vec_id, CAST(cidx AS INT) AS cell FROM (SELECT vec_id, cidx,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx) AS rn FROM sc) WHERE rn = 1""".stripMargin
    },
    "ann_lsh" ->
      (s"""WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE ${AnnLsh.sqlBucketExpr("embedding::DOUBLE[]")} =
         |        (SELECT ${AnnLsh.sqlBucketExpr("qe")} FROM q)),
         |s AS (SELECT vec_id, ${dot("embedding::DOUBLE[]", "(SELECT qe FROM q)")} AS dot,
         |  ${nrm("embedding::DOUBLE[]")} AS na, (SELECT ${nrm("qe")} FROM q) AS nb FROM c)
         |SELECT vec_id, $scoreCase AS score FROM s ORDER BY score DESC, vec_id LIMIT 10""".stripMargin),
    "ann_ivf" -> {
      def cos(a: String, b: String) =
        s"(CASE WHEN ${nrm(a)} = 0 OR ${nrm(b)} = 0 THEN 0.0 ELSE ${dot(a, b)}/(${nrm(a)}*${nrm(b)}) END)"
      s"""WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT ${graft.rag.AnnIvf.NCells})),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT v AS qe FROM e WHERE vec_id = 0),
         |sc AS (SELECT e.vec_id, c.cid, ${cos("e.v", "c.cv")} AS s FROM e CROSS JOIN c),
         |cells AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM sc) WHERE rn = 1),
         |qc AS (SELECT cid FROM sc WHERE vec_id = 0 ORDER BY s DESC, cid LIMIT ${graft.rag.AnnIvf.NProbe}),
         |cand AS (SELECT e.vec_id, e.v FROM e JOIN cells USING (vec_id)
         |  WHERE cells.cid IN (SELECT cid FROM qc)),
         |fs AS (SELECT vec_id, ${dot("v", "(SELECT qe FROM q)")} AS dot,
         |  ${nrm("v")} AS na, (SELECT ${nrm("qe")} FROM q) AS nb FROM cand)
         |SELECT vec_id, CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot/(na*nb) END AS score
         |FROM fs ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    },
    "confidence" ->
      ("SELECT doc_id, least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE), " +
        "(CAST(0.2 AS DOUBLE) + least(CAST(1.0 AS DOUBLE), length(text)/CAST(1000.0 AS DOUBLE)) + " +
        s"(CASE WHEN $relevantCase = 1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)) " +
        "/ CAST(3.0 AS DOUBLE))) AS confidence FROM documents"),
    "rag_query" ->
      (scoredCte +
        s""",
         |top5 AS (SELECT vec_id, $scoreCase AS score FROM s ORDER BY score DESC, vec_id LIMIT 5)
         |SELECT count(*) AS n_chunks,
         |  least(CAST(1.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE),
         |    (least(CAST(1.0 AS DOUBLE), count(*) * CAST(0.2 AS DOUBLE)) +
         |     least(CAST(1.0 AS DOUBLE), sum(length(text))/CAST(1000.0 AS DOUBLE)) +
         |     least(CAST(1.0 AS DOUBLE), sum($relevantCase) / CAST(count(*) AS DOUBLE)))
         |    / CAST(3.0 AS DOUBLE))) AS confidence
         |FROM top5 JOIN documents ON top5.vec_id = documents.doc_id""".stripMargin),
    "rag_sources" ->
      (scoredCte +
        s""",
         |top5 AS (SELECT vec_id, $scoreCase AS score FROM s ORDER BY score DESC, vec_id LIMIT 5)
         |SELECT vec_id, source AS document, score
         |FROM top5 JOIN documents ON top5.vec_id = documents.doc_id""".stripMargin),
    "embed_neardup_exact" ->
      (s"""WITH e AS (SELECT vec_id,
         |    CASE WHEN n = 0 THEN v ELSE list_transform(v, x -> x/n) END AS v
         |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v, ${nrm("embedding::DOUBLE[]")} AS n
         |        FROM embeddings))
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE ${dot("a.v", "b.v")} >= CAST(0.4 AS DOUBLE)""".stripMargin),
    "embed_neardup" ->
      (s"""WITH e AS (SELECT vec_id,
         |    CASE WHEN n = 0 THEN v ELSE list_transform(v, x -> x/n) END AS v,
         |    (${AnnLsh.sqlBucketExpr("v")} & ${(1 << Queries.NeardupPlanes) - 1}) AS bucket
         |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v, ${nrm("embedding::DOUBLE[]")} AS n
         |        FROM embeddings))
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |FROM e a JOIN e b ON bit_count(xor(a.bucket, b.bucket)) <= 1 AND a.vec_id < b.vec_id
         |WHERE ${dot("a.v", "b.v")} >= CAST(0.4 AS DOUBLE)""".stripMargin)
  )

  /** ann_ivf_kmeans oracle: the driver-trained centroids and probe
    * cells inlined as literals (Double.toString is shortest-round-trip,
    * so DuckDB parses back the bit-identical doubles); downstream
    * assignment (first-max-wins via ORDER BY s DESC, cidx), probe
    * filter and exact rank are plain SQL, mirroring the ann_ivf oracle.
    */
  def kmeansSql(cents: Seq[Array[Double]], probes: Seq[Int]): String = {
    def cos(a: String, b: String) =
      s"(CASE WHEN ${nrm(a)} = 0 OR ${nrm(b)} = 0 THEN 0.0 ELSE ${dot(a, b)}/(${nrm(a)}*${nrm(b)}) END)"
    val rows = cents.zipWithIndex.map { case (c, i) =>
      s"($i, ${dlist(c)})"
    }.mkString(", ")
    s"""WITH c(cidx, cv) AS (SELECT * FROM (VALUES $rows)),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qe FROM e WHERE vec_id = 0),
       |sc AS (SELECT e.vec_id, c.cidx, ${cos("e.v", "c.cv")} AS s FROM e CROSS JOIN c),
       |cells AS (SELECT vec_id, cidx FROM (SELECT vec_id, cidx,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx) AS rn FROM sc) WHERE rn = 1),
       |cand AS (SELECT e.vec_id, e.v FROM e JOIN cells USING (vec_id)
       |  WHERE cells.cidx IN (${probes.mkString(",")})),
       |fs AS (SELECT vec_id, ${dot("v", "(SELECT qe FROM q)")} AS dot,
       |  ${nrm("v")} AS na, (SELECT ${nrm("qe")} FROM q) AS nb FROM cand)
       |SELECT vec_id, CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot/(na*nb) END AS score
       |FROM fs ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
  }

  // ---- product quantization (codebooks inlined like kmeansSql) ----

  /** squared L2 over zipped lists — the oracle twin of AnnPq.l2sq
    * (fold starts at the first squared diff; squares are non-negative,
    * so the missing 0.0 seed cannot change the IEEE value)
    */
  private def l2d(a: String, b: String) =
    s"list_reduce(list_transform(list_zip($a, $b), x -> (x[1]-x[2])*(x[1]-x[2])), (a,b) -> a+b)"

  /** shared CTE chain: codebook literals (j, k, cv) → per-(vec, j)
    * subvectors → L2 distances → first-min codes (ORDER BY d, k = the
    * kernel's strict-< rule)
    */
  private def pqCodesCte(cbs: Seq[Seq[Array[Double]]]): String = {
    val m = cbs.length
    val sub = cbs.head.head.length
    val rows = (for { (cb, j) <- cbs.zipWithIndex; (c, k) <- cb.zipWithIndex }
      yield s"($j, $k, ${dlist(c)})").mkString(", ")
    s"""WITH cb(j, k, cv) AS (SELECT * FROM (VALUES $rows)),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sv AS (SELECT vec_id, j, list_slice(v, j*$sub+1, j*$sub+$sub) AS svec
       |  FROM e, (SELECT unnest(range(0, $m)) AS j)),
       |dists AS (SELECT vec_id, sv.j AS j, k, ${l2d("svec", "cv")} AS d
       |  FROM sv JOIN cb ON cb.j = sv.j),
       |code AS (SELECT vec_id, j, k AS c FROM (SELECT vec_id, j, k,
       |    row_number() OVER (PARTITION BY vec_id, j ORDER BY d, k) AS rn
       |  FROM dists) WHERE rn = 1)""".stripMargin
  }

  def pqEncodeSql(cbs: Seq[Seq[Array[Double]]]): String =
    pqCodesCte(cbs) +
      "\nSELECT vec_id, string_agg(c::VARCHAR, ',' ORDER BY j) AS codes FROM code GROUP BY 1"

  /** ann_ivfpq oracle: coarse cells/probes re-derived in SQL (first-
    * NCells centroids by key, cosine, first-max — the ann_ivf rules),
    * ADC = per-subspace LUT values summed in j order (list_reduce over
    * list(ORDER BY j) = the Spark side's left-assoc literal chain).
    */
  def ivfpqSql(cbs: Seq[Seq[Array[Double]]], k: Int = 10, refine: Int = 4): String = {
    def cos(a: String, b: String) =
      s"(CASE WHEN ${nrm(a)} = 0 OR ${nrm(b)} = 0 THEN 0.0 ELSE ${dot(a, b)}/(${nrm(a)}*${nrm(b)}) END)"
    val sub = cbs.head.head.length
    pqCodesCte(cbs) + s""",
       |q AS (SELECT v AS qe FROM e WHERE vec_id = 0),
       |lut AS (SELECT j, k, ${l2d(s"list_slice((SELECT qe FROM q), j*$sub+1, j*$sub+$sub)", "cv")} AS lv FROM cb),
       |coarse AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cidx, embedding::DOUBLE[] AS ccv
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT ${graft.rag.AnnIvf.NCells})),
       |sc AS (SELECT e.vec_id, coarse.cidx, ${cos("e.v", "coarse.ccv")} AS s FROM e CROSS JOIN coarse),
       |cells AS (SELECT vec_id, cidx FROM (SELECT vec_id, cidx,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx) AS rn FROM sc) WHERE rn = 1),
       |qc AS (SELECT cidx FROM sc WHERE vec_id = 0 ORDER BY s DESC, cidx LIMIT ${graft.rag.AnnIvf.NProbe}),
       |cand AS (SELECT code.vec_id, code.j, code.c FROM code JOIN cells USING (vec_id)
       |  WHERE cells.cidx IN (SELECT cidx FROM qc)),
       |ad AS (SELECT vec_id, list_reduce(list(lut.lv ORDER BY cand.j), (a,b) -> a+b) AS adist
       |  FROM cand JOIN lut ON lut.j = cand.j AND lut.k = cand.c GROUP BY vec_id),
       |shortlist AS (SELECT vec_id, adist FROM ad ORDER BY adist, vec_id LIMIT ${k * refine}),
       |refined AS (SELECT s.vec_id, s.adist, ${l2d("e.v", "(SELECT qe FROM q)")} AS dist
       |  FROM shortlist s JOIN e ON e.vec_id = s.vec_id)
       |SELECT vec_id, adist, dist FROM refined ORDER BY dist, vec_id LIMIT $k""".stripMargin
  }

  // ---- training-data ops ----

  private val sqlWords = "regexp_extract_all(text, '[A-Za-z0-9]+')"
  private def sqlHash(e: String) =
    s"CAST('0x'||substr(sha256($e),1,15) AS BIGINT)"

  /** span-dedup oracle CTE chain shared by dup_spans and
    * substring_dedup: the planted-duplication fixture (same constants
    * as the Spark side), k=8 gram hashing with the shared 60-bit hash
    * (collision semantics identical to the engine), first-occurrence
    * winner via row_number over (doc_id, pos), and fixed-width
    * gaps-and-islands span merging (new span iff gap > k)
    */
  private lazy val spanDedupCte =
    s"""WITH f0 AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN '${SparkEntry.SpanBanner}' || ' ' || text ELSE text END AS text FROM documents),
       |f1 AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN text || ' ' || '${SparkEntry.SpanTrailer}' ELSE text END AS text FROM f0),
       |fx AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' ' || array_to_string(($sqlWords)[1:12], ' ') ELSE text END AS text FROM f1),
       |t AS (SELECT doc_id, $sqlWords AS ts FROM fx),
       |gx AS (SELECT doc_id, ts, unnest(range(0, greatest(len(ts) - 7, 0)::BIGINT)) AS pos FROM t),
       |gr AS (SELECT doc_id, pos, ${sqlHash("array_to_string(ts[pos+1:pos+8], ' ')")} AS g FROM gx),
       |d AS (SELECT doc_id, pos FROM (SELECT doc_id, pos,
       |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn FROM gr) WHERE rn > 1),
       |i AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8 THEN 1 ELSE 0 END AS brk FROM d),
       |isl AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i),
       |sp AS (SELECT doc_id, min(pos)::BIGINT AS span_start, (max(pos) + 8)::BIGINT AS span_end FROM isl GROUP BY doc_id, island)""".stripMargin
  /** MinHash sig/band CTE chain — ONE definition for the full and
    * incremental pair oracles (a drifting hand copy is exactly how
    * oracle divergences start)
    */
  private lazy val minhashBandsCte =
    s"""WITH w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
       |sh AS (SELECT doc_id, list_transform(range(1, len(ws)-1), i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]) AS s FROM w WHERE len(ws) >= 3),
       |hs AS (SELECT doc_id, list_transform(s, x -> ${sqlHash("x")}) AS hl FROM sh),
       |sig AS (SELECT doc_id, list_transform(${graft.text.Dedup.sqlSeedsLiteral}, sd -> list_min(list_transform(hl, h -> ${graft.text.Dedup.sqlMix60("xor(h, sd)")}))) AS sg FROM hs),
       |bands AS (SELECT doc_id, bi, array_to_string(list_slice(sg, bi*4+1, bi*4+4), ',') AS bkey
       |  FROM sig, (SELECT unnest(range(0,4)) AS bi))""".stripMargin

  /** simhash near-dup components CTE chain (appended after a
    * WITH RECURSIVE simhashCte) — shared by dedup_components and
    * dedup_keep_best
    */
  private val componentsCtes =
    """p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM sims a JOIN sims b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
      |edges AS (SELECT a_id AS u, b_id AS v FROM p
      |  UNION SELECT b_id, a_id FROM p),
      |reach(node, lab) AS (
      |  SELECT u, u FROM edges
      |  UNION
      |  SELECT r.node, e.v FROM reach r JOIN edges e ON e.u = r.lab),
      |comp AS (SELECT node AS id, min(lab) AS component FROM reach GROUP BY node)""".stripMargin

  private val simhashCte =
    s"""WITH w AS (SELECT doc_id, list_transform($sqlWords, t -> ${sqlHash("t")}) AS hs FROM documents),
       |sims AS (SELECT doc_id, list_reduce(list_prepend(0::BIGINT, list_transform(range(0,60), b ->
       |  CASE WHEN list_reduce(list_prepend(0, list_transform(hs,
       |      h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)), (a,c) -> a+c) > 0
       |  THEN (1::BIGINT << b) ELSE 0::BIGINT END)), (a,c) -> a+c) AS simhash FROM w)""".stripMargin

  private def stopHits(name: String, list: Seq[String]) =
    s"len(list_filter(ws, x -> list_contains(${list.mkString("['", "','", "']")}, x))) AS ${name}_hits"

  /** lang_id / quality_score bodies, shared with top_per_group's CTEs */
  private val langIdSql =
    s"""SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
       |  CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
       |       WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
       |       WHEN fr_hits >= es_hits THEN 'fr' ELSE 'es' END AS lang_pred
       |FROM (SELECT doc_id,
       |  ${graft.text.TextOps.Stopwords.map { case (l, ws) => stopHits(l, ws) }.mkString(", ")}
       |  FROM (SELECT doc_id, list_transform($sqlWords, x -> lower(x)) AS ws FROM documents))""".stripMargin

  private val qualitySql =
    s"""SELECT doc_id, n_chars, n_tokens, punct_ratio, stopword_ratio, mean_word_len,
       |  (least(1.0::DOUBLE, n_tokens/50.0::DOUBLE) +
       |   (1.0::DOUBLE - least(1.0::DOUBLE, punct_ratio*10.0::DOUBLE)) +
       |   least(1.0::DOUBLE, stopword_ratio*5.0::DOUBLE) +
       |   least(1.0::DOUBLE, mean_word_len/8.0::DOUBLE)) / 4.0::DOUBLE AS quality
       |FROM (SELECT doc_id,
       |  length(text) AS n_chars,
       |  len(regexp_extract_all(text, '${graft.chunk.Tokenizer.TokenRegex}')) AS n_tokens,
       |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) / greatest(length(text), 1)::DOUBLE AS punct_ratio,
       |  len(list_filter(list_transform($sqlWords, x -> lower(x)),
       |    x -> list_contains(${graft.text.TextOps.Stopwords.head._2.mkString("['", "','", "']")}, x)))
       |    / greatest(len($sqlWords), 1)::DOUBLE AS stopword_ratio,
       |  list_reduce(list_prepend(0, list_transform($sqlWords, x -> length(x))), (a,b) -> a+b)
       |    / greatest(len($sqlWords), 1)::DOUBLE AS mean_word_len
       |  FROM documents)""".stripMargin

  // expected decoded-image statistics from the fixture's generating
  // formula (Multimodal.syntheticImages: w = 4 + id%5, h = 3 + id%3,
  // RGB byte i = (id + i) mod 256) — the engine must recover the same
  // numbers from the ENCODED bytes via the real header/pixel parser
  private def mmDecodeSql(codec: String): String =
    s"""WITH dims AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 3 AS h FROM documents),
       |s AS (SELECT doc_id, w, h,
       |  list_reduce(list_prepend(0::BIGINT, list_transform(range(0, w*h), j -> (doc_id + j*3) % 256)), (a,b) -> a+b) AS sum_r,
       |  list_reduce(list_prepend(0::BIGINT, list_transform(range(0, w*h), j -> (doc_id + j*3 + 1) % 256)), (a,b) -> a+b) AS sum_g,
       |  list_reduce(list_prepend(0::BIGINT, list_transform(range(0, w*h), j -> (doc_id + j*3 + 2) % 256)), (a,b) -> a+b) AS sum_b
       |  FROM dims)
       |SELECT doc_id, '$codec' AS codec, w::INT AS width, h::INT AS height,
       |  (w*h)::INT AS n_pixels, sum_r, sum_g, sum_b
       |FROM s""".stripMargin

  // word 4-grams via list slicing (range is end-exclusive; slice is
  // 1-based inclusive), distinct on the STRINGS before hashing —
  // exactly the native kernel's order of operations. One definition,
  // gated twice: decontaminate AND its bloom-prescreened twin.
  private val decontaminateSql =
    s"""WITH w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)-2), i -> array_to_string(ws[i:i+3], ' ')))) AS s
       |  FROM w WHERE len(ws) >= 4),
       |gh AS (SELECT doc_id, ${sqlHash("s")} AS g FROM g),
       |bench AS (SELECT DISTINCT g FROM gh WHERE doc_id % 20 = 0),
       |sizes AS (SELECT doc_id, count(*) AS n_grams FROM gh GROUP BY 1),
       |hits AS (SELECT doc_id, count(*) AS n_hits
       |  FROM gh SEMI JOIN bench USING (g)
       |  WHERE doc_id % 20 <> 0 GROUP BY 1)
       |SELECT doc_id, n_hits, n_grams, n_hits::DOUBLE / n_grams AS hit_frac
       |FROM hits JOIN sizes USING (doc_id)""".stripMargin

  val textOps: Map[String, String] = Map(
    "dedup_exact" ->
      ("SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id, " +
        "count(*) AS n_copies FROM documents GROUP BY 1"),
    "dedup_minhash" ->
      (minhashBandsCte +
        """
          |SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
          |FROM bands x JOIN bands y ON x.bi = y.bi AND x.bkey = y.bkey AND x.doc_id < y.doc_id""".stripMargin),
    // same sig/band CTE chain, asymmetric batch-vs-corpus join
    "dedup_incremental" ->
      (minhashBandsCte +
        """
          |SELECT DISTINCT x.doc_id AS batch_id, y.doc_id AS corpus_id
          |FROM bands x JOIN bands y ON x.bi = y.bi AND x.bkey = y.bkey
          |WHERE x.doc_id % 10 = 0 AND y.doc_id % 10 <> 0""".stripMargin),
    "dedup_simhash" ->
      (simhashCte + "\nSELECT doc_id, simhash FROM sims"),
    "simhash_pairs" ->
      (simhashCte +
        """
          |SELECT a.doc_id AS a_id, b.doc_id AS b_id, bit_count(xor(a.simhash, b.simhash)) AS hamming
          |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin),
    "dedup_components" ->
      (simhashCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        s""",
          |$componentsCtes
          |SELECT id, component FROM comp""".stripMargin),
    // components (the shared CTE chain) ⋈ quality, best per component
    // by (quality desc, doc_id)
    "dedup_keep_best" ->
      (simhashCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        s""",
          |$componentsCtes,
          |qual AS ($qualitySql),
          |j AS (SELECT c.component, q.doc_id, q.quality
          |  FROM comp c JOIN qual q ON q.doc_id = c.id)
          |SELECT component, doc_id, quality FROM (
          |  SELECT component, doc_id, quality,
          |    row_number() OVER (PARTITION BY component ORDER BY quality DESC, doc_id) AS rn
          |  FROM j) WHERE rn = 1""".stripMargin),
    "set_ops" ->
      (s"""SELECT doc_id FROM documents WHERE ${TextOps.sqlSampleHash60("sample", "doc_id")} < ${TextOps.hashThreshold60(0.5)}
         |INTERSECT SELECT doc_id FROM documents WHERE n_chars >= 100
         |EXCEPT SELECT doc_id FROM documents WHERE doc_id % 7 = 0""".stripMargin),
    "ngram_jaccard" ->
      (s"""WITH w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
         |sh0 AS (SELECT doc_id, ${sqlHash("unnest(list_distinct(list_transform(range(1, len(ws)-1), i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])))")} AS s FROM w WHERE len(ws) >= 3),
         |hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 100),
         |sh AS (SELECT doc_id, s FROM sh0 ANTI JOIN hot USING (s)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |common AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS common
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT a_id, b_id, common / (sa.n + sb.n - common)::DOUBLE AS jaccard
         |FROM common JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
         |WHERE common / (sa.n + sb.n - common)::DOUBLE >= 0.5""".stripMargin),
    // banded candidates (dedup_minhash construction) + exact Jaccard
    // over full distinct shingle-hash sets, verified only on candidates
    "ngram_jaccard_banded" ->
      (s"""WITH w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
         |strs AS (SELECT doc_id, list_transform(range(1, len(ws)-1), i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]) AS s FROM w WHERE len(ws) >= 3),
         |hs AS (SELECT doc_id, list_transform(s, x -> ${sqlHash("x")}) AS hl FROM strs),
         |sets AS (SELECT doc_id, list_distinct(hl) AS sh FROM hs),
         |sig AS (SELECT doc_id, list_transform(${graft.text.Dedup.sqlSeedsLiteral}, sd -> list_min(list_transform(hl, h -> ${graft.text.Dedup.sqlMix60("xor(h, sd)")}))) AS sg FROM hs),
         |bands AS (SELECT doc_id, bi, array_to_string(list_slice(sg, bi*4+1, bi*4+4), ',') AS bkey
         |  FROM sig, (SELECT unnest(range(0,4)) AS bi)),
         |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM bands x JOIN bands y ON x.bi = y.bi AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |scored AS (SELECT a_id, b_id,
         |    len(list_intersect(sa.sh, sb.sh)) AS common, len(sa.sh) AS na, len(sb.sh) AS nb
         |  FROM cand JOIN sets sa ON sa.doc_id = a_id JOIN sets sb ON sb.doc_id = b_id)
         |SELECT a_id, b_id, common / (na + nb - common)::DOUBLE AS jaccard
         |FROM scored WHERE common / (na + nb - common)::DOUBLE >= 0.5""".stripMargin),
    "lang_id" -> langIdSql,
    "quality_score" -> qualitySql,
    "quality_model" ->
      (s"""WITH q AS ($qualitySql)
         |SELECT doc_id, ${graft.text.QualityModel.sqlScore} AS model_score,
         |  CASE WHEN ${graft.text.QualityModel.sqlScore} > 0 THEN 1 ELSE 0 END AS keep
         |FROM q""".stripMargin),
    // same 60-bit sha-threshold basis as TextOps.sampleHash (the hash
    // and threshold come from the one shared definition)
    "sample_hash" ->
      (s"SELECT doc_id FROM documents WHERE " +
        s"${TextOps.sqlSampleHash60("sample", "doc_id")} < " +
        s"${TextOps.hashThreshold60(0.25)}"),
    // per-group thresholds are the same precomputed longs as
    // Corpus.stratifiedSample's CASE column
    "sample_stratified" -> {
      def t(r: Double) = TextOps.hashThreshold60(r)
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${TextOps.sqlSampleHash60("strat", "doc_id")} <
         |  CASE WHEN lang = 'de' THEN ${t(0.25)} WHEN lang = 'en' THEN ${t(0.5)}
         |       WHEN lang = 'fr' THEN ${t(0.1)} ELSE ${t(0.05)} END""".stripMargin
    },
    // mixture sampling: the rate derivation (S = min T/w; r = w*S/T;
    // thr = floor(r*2^60)) re-runs in SQL with the SAME IEEE-double
    // operation order as the Spark columns; 2^60 carries the e0 suffix
    // so DuckDB parses it as DOUBLE, not DECIMAL(19,0)
    "mixture_sample" ->
      (s"""WITH n AS (SELECT doc_id, lang AS grp,
         |    len(regexp_extract_all(text, '${graft.chunk.Tokenizer.TokenRegex}'))::BIGINT AS n_tokens,
         |    CASE WHEN lang = 'de' THEN 0.3 WHEN lang = 'en' THEN 0.55
         |         WHEN lang = 'fr' THEN 0.15 END AS w
         |  FROM documents WHERE lang IN ('en', 'de', 'fr')),
         |tot AS (SELECT grp, sum(n_tokens)::DOUBLE AS t, max(w) AS w2 FROM n GROUP BY 1),
         |s AS (SELECT min(t / w2) AS s FROM tot),
         |r AS (SELECT grp, CAST(floor(w2 * s.s / t * 1152921504606846976e0) AS BIGINT) AS thr FROM tot, s)
         |SELECT n.doc_id, n.grp, n.n_tokens FROM n JOIN r USING (grp)
         |WHERE ${TextOps.sqlSampleHash60("mix", "n.doc_id")} < r.thr""".stripMargin),
    // paragraph dedup: same fixture; first occurrence by (doc_id, idx)
    // wins per sha256, <50-char paragraphs exempt; kept paragraphs
    // rejoin with a blank line in original order
    "dedup_paragraphs" ->
      (s"""WITH base AS (SELECT doc_id,
         |    'GLOBAL BANNER: this exact paragraph heads every single document in the corpus.' || chr(10) || chr(10) ||
         |    text || chr(10) || chr(10) ||
         |    'Repeated notice for ' || lang || ' readers: this paragraph is shared by every document of the language.' ||
         |    chr(10) || chr(10) || 'Short.' AS text FROM documents),
         |ps AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\n{2,}'), x -> trim(x) <> '') AS l FROM base),
         |ex AS (SELECT doc_id, unnest(list_transform(range(1, len(l)+1), i -> {'idx': i, 'para': l[i]})) AS u FROM ps),
         |e AS (SELECT doc_id, u.idx AS idx, u.para AS para FROM ex),
         |d AS (SELECT doc_id, idx, para,
         |    (length(para) < 50 OR row_number() OVER (PARTITION BY sha256(para) ORDER BY doc_id, idx) = 1) AS keep
         |  FROM e)
         |SELECT doc_id, count(*)::BIGINT AS n_paras,
         |  sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_dropped,
         |  array_to_string(coalesce(list(para ORDER BY idx) FILTER (WHERE keep), []), chr(10)||chr(10)) AS cleaned
         |FROM d GROUP BY doc_id""".stripMargin),
    // span-level substring dedup: same planted-duplication fixture;
    // the CTE replays gram hashing, winner election, and span merging
    "dup_spans" ->
      (spanDedupCte + "\nSELECT doc_id, span_start, span_end FROM sp"),
    "substring_dedup" ->
      (spanDedupCte +
        s""",
           |agg AS (SELECT doc_id, list(struct_pack(s := span_start, e := span_end)) AS sps,
           |    count(*)::BIGINT AS n_spans, sum(span_end - span_start)::BIGINT AS dup_tokens
           |  FROM sp GROUP BY doc_id)
           |SELECT t.doc_id, len(ts)::BIGINT AS n_tokens,
           |  coalesce(n_spans, 0)::BIGINT AS n_spans,
           |  coalesce(dup_tokens, 0)::BIGINT AS dup_tokens,
           |  CASE WHEN sps IS NULL THEN coalesce(array_to_string(ts, ' '), '')
           |       ELSE coalesce(array_to_string(list_filter(ts, (x, i) ->
           |         len(list_filter(sps, q -> i-1 >= q.s AND i-1 < q.e)) = 0), ' '), '') END AS cleaned
           |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin),
    // incremental substring dedup: batch occurrences are marked when
    // the gram exists anywhere in the corpus OR repeats within the
    // batch after its first occurrence; same island merge
    "dup_spans_incremental" ->
      (s"""WITH ct AS (SELECT $sqlWords AS ts FROM documents),
         |cgx AS (SELECT ts, unnest(range(0, greatest(len(ts) - 7, 0)::BIGINT)) AS pos FROM ct),
         |cg AS (SELECT DISTINCT ${sqlHash("array_to_string(ts[pos+1:pos+8], ' ')")} AS g FROM cgx),
         |b0 AS (SELECT doc_id, 'newa newb newc' || ' ' || array_to_string(($sqlWords)[1:12], ' ') || ' ' || 'trail1 trail2' AS text
         |  FROM documents WHERE doc_id % 10 = 3),
         |bx AS (SELECT doc_id, CASE WHEN doc_id % 20 = 3 THEN text || ' ' || '${SparkEntry.SpanBatchLine}' ELSE text END AS text FROM b0),
         |bt AS (SELECT doc_id, $sqlWords AS ts FROM bx),
         |bgx AS (SELECT doc_id, ts, unnest(range(0, greatest(len(ts) - 7, 0)::BIGINT)) AS pos FROM bt),
         |bg AS (SELECT doc_id, pos, ${sqlHash("array_to_string(ts[pos+1:pos+8], ' ')")} AS g FROM bgx),
         |d AS (SELECT doc_id, pos FROM (
         |    SELECT b.doc_id, b.pos, cg.g AS ing,
         |      row_number() OVER (PARTITION BY b.g ORDER BY b.doc_id, b.pos) AS rn
         |    FROM bg b LEFT JOIN cg ON cg.g = b.g)
         |  WHERE ing IS NOT NULL OR rn > 1),
         |i AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8 THEN 1 ELSE 0 END AS brk FROM d),
         |isl AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i)
         |SELECT doc_id, min(pos)::BIGINT AS span_start, (max(pos) + 8)::BIGINT AS span_end FROM isl GROUP BY doc_id, island""".stripMargin),
    // BM25: independent full re-derivation — tf/df/N/avgdl from the
    // table, glibc ln == JVM Math.log (gate-asserted), constants as
    // shared-parse literal arithmetic ((1.2 + 1.0) parses and adds to
    // the same double in both engines), contribs combined in the same
    // fixed term order
    "bm25_search" ->
      (s"""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[A-Za-z0-9]+') AS ws FROM documents),
         |st AS (SELECT count(*)::BIGINT AS n, sum(len(ws))::BIGINT AS tok FROM t),
         |e AS (SELECT doc_id, len(ws)::BIGINT AS dl, unnest(ws) AS term FROM t),
         |f AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM e WHERE term IN ('hash', 'join', 'vector') GROUP BY 1, 2, 3),
         |d AS (SELECT term, count(*)::BIGINT AS df FROM f GROUP BY 1),
         |c AS (SELECT f.doc_id, f.term,
         |    ln(1.0 + (st.n::DOUBLE - d.df::DOUBLE + 0.5) / (d.df::DOUBLE + 0.5)) *
         |    ((f.tf * (1.2 + 1.0)) / (f.tf + 1.2 * ((1.0 - 0.75) + 0.75 * f.dl::DOUBLE / (st.tok::DOUBLE / st.n::DOUBLE)))) AS contrib
         |  FROM f JOIN d USING (term) CROSS JOIN st),
         |s AS (SELECT doc_id,
         |    sum(CASE WHEN term = 'hash' THEN contrib ELSE 0.0 END) +
         |    sum(CASE WHEN term = 'join' THEN contrib ELSE 0.0 END) +
         |    sum(CASE WHEN term = 'vector' THEN contrib ELSE 0.0 END) AS score,
         |    count(*)::BIGINT AS n_matched
         |  FROM c GROUP BY doc_id)
         |SELECT doc_id, score, n_matched FROM s ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),
    // RRF fusion: both retrieval legs re-derived at depth 20, ranked
    // with the same (score desc, id) tie-break, fused as fixed-order
    // 1/(60+r) sums
    "hybrid_search" ->
      (s"""WITH bt AS (SELECT doc_id, regexp_extract_all(lower(text), '[A-Za-z0-9]+') AS ws FROM documents),
         |bst AS (SELECT count(*)::BIGINT AS n, sum(len(ws))::BIGINT AS tok FROM bt),
         |be AS (SELECT doc_id, len(ws)::BIGINT AS dl, unnest(ws) AS term FROM bt),
         |bf AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf FROM be WHERE term IN ('hash', 'join', 'vector') GROUP BY 1, 2, 3),
         |bd AS (SELECT term, count(*)::BIGINT AS df FROM bf GROUP BY 1),
         |bc AS (SELECT bf.doc_id, bf.term,
         |    ln(1.0 + (bst.n::DOUBLE - bd.df::DOUBLE + 0.5) / (bd.df::DOUBLE + 0.5)) *
         |    ((bf.tf * (1.2 + 1.0)) / (bf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * bf.dl::DOUBLE / (bst.tok::DOUBLE / bst.n::DOUBLE)))) AS contrib
         |  FROM bf JOIN bd USING (term) CROSS JOIN bst),
         |bs AS (SELECT doc_id,
         |    sum(CASE WHEN term = 'hash' THEN contrib ELSE 0.0 END) +
         |    sum(CASE WHEN term = 'join' THEN contrib ELSE 0.0 END) +
         |    sum(CASE WHEN term = 'vector' THEN contrib ELSE 0.0 END) AS score
         |  FROM bc GROUP BY doc_id),
         |lex AS (SELECT doc_id, score FROM bs ORDER BY score DESC, doc_id LIMIT 20),
         |vq AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
         |vs AS (SELECT vec_id, ${dot("embedding::DOUBLE[]", "(SELECT qe FROM vq)")} AS dot,
         |  ${nrm("embedding::DOUBLE[]")} AS na, (SELECT ${nrm("qe")} FROM vq) AS nb
         |  FROM embeddings),
         |vec AS (SELECT vec_id AS doc_id, $scoreCase AS score FROM vs ORDER BY score DESC, vec_id LIMIT 20),
         |ra AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)::BIGINT AS r FROM lex),
         |rb AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)::BIGINT AS r FROM vec),
         |j AS (SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id, ra.r AS rra, rb.r AS rrb
         |  FROM ra FULL JOIN rb ON ra.doc_id = rb.doc_id)
         |SELECT doc_id,
         |  coalesce(1.0 / (60.0 + rra::DOUBLE), 0.0) + coalesce(1.0 / (60.0 + rrb::DOUBLE), 0.0) AS rrf,
         |  ((rra IS NOT NULL)::BIGINT + (rrb IS NOT NULL)::BIGINT) AS n_lists
         |FROM j ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin),
    // URL/domain family: same planted-URL fixture; hosts lowercased,
    // census is distinct-docs + occurrences per host
    "domain_census" ->
      (s"""WITH fx AS (SELECT doc_id, text || CASE WHEN doc_id % 3 = 0
         |    THEN ' see https://spam' || (doc_id % 7)::VARCHAR || '.example.com/p' || doc_id::VARCHAR || ' and https://ok.example.org/a'
         |    ELSE '' END AS text FROM documents),
         |u AS (SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9.-]+(:[0-9]+)?(/[^\\s]*)?')) AS url FROM fx),
         |h AS (SELECT doc_id, lower(regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1)) AS host FROM u)
         |SELECT host, count(DISTINCT doc_id)::BIGINT AS n_docs, count(*)::BIGINT AS n_urls FROM h GROUP BY host""".stripMargin),
    // blocklist: spam0..spam3 hosts appear exactly on docs with
    // doc_id % 3 = 0 and doc_id % 7 <= 3 — the oracle derives the
    // kept set in closed form, independent of the engine's join plan
    "domain_blocklist" ->
      "SELECT doc_id FROM documents WHERE NOT (doc_id % 3 = 0 AND doc_id % 7 <= 3)",
    // URL dedup: replay the normalization chain (fragment strip,
    // prefix lowercase, default-port strip, lone-slash strip)
    "url_dedup" ->
      (s"""WITH p AS (SELECT doc_id,
         |    CASE WHEN doc_id % 4 = 1 THEN 'http://SITE' ELSE 'http://site' END ||
         |    (doc_id % 50)::VARCHAR ||
         |    CASE WHEN doc_id % 4 = 1 THEN '.EXAMPLE.COM' ELSE '.example.com' END ||
         |    CASE doc_id % 4 WHEN 0 THEN ':80/page' WHEN 1 THEN '/page' WHEN 2 THEN '/page#frag' ELSE '/' END AS url
         |  FROM documents),
         |s1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS u FROM p),
         |s2 AS (SELECT doc_id, u, regexp_extract(u, '^(https?://[^/]+)', 1) AS raw FROM s1),
         |s3 AS (SELECT doc_id,
         |    regexp_replace(regexp_replace(lower(raw), '^(http://.*):80$$', '\\1'), '^(https://.*):443$$', '\\1') AS pre,
         |    substr(u, length(raw) + 1) AS tail FROM s2),
         |n AS (SELECT doc_id, pre || CASE WHEN tail = '/' THEN '' ELSE tail END AS nurl FROM s3)
         |SELECT nurl, min(doc_id)::BIGINT AS keep_id, count(*)::BIGINT AS n_dups FROM n GROUP BY nurl""".stripMargin),
    // normalization: the SAME injected fixture (decomposed accent,
    // CRLF, bell, tab run, double spaces, outer spaces), ICU
    // nfc_normalize = JDK Normalizer NFC, Java∩RE2-safe classes,
    // 'g' flag (DuckDB replaces first match only by default); both
    // engines count length in CODEPOINTS (verified: e+U+0301 is 2)
    "normalize_text" ->
      (s"""WITH base AS (SELECT doc_id,
         |    '  café ' || text || '\r\nxy\t\tz  end ' AS text FROM documents),
         |n AS (SELECT doc_id, length(text)::BIGINT AS n_chars_before,
         |    trim(regexp_replace(nfc_normalize(regexp_replace(regexp_replace(
         |      text,
         |      '\\r\\n?', chr(10), 'g'),
         |      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')),
         |      '[ \\x09]+', ' ', 'g')) AS cleaned
         |  FROM base)
         |SELECT doc_id, n_chars_before, length(cleaned)::BIGINT AS n_chars_after, cleaned
         |FROM n""".stripMargin),
    // DuckDB regexp_replace needs the 'g' flag (default = first match
    // only, unlike Spark)
    "pii_redact" ->
      (s"""WITH base AS (SELECT doc_id,
         |    text||' contact user'||doc_id||'@example.com or 555-'||lpad((doc_id % 1000)::VARCHAR, 3, '0')||'-0199' AS text
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '${Corpus.EmailRegex}')) AS n_emails,
         |  len(regexp_extract_all(text, '${Corpus.PhoneRegex}')) AS n_phones,
         |  regexp_replace(regexp_replace(text, '${Corpus.EmailRegex}', '[EMAIL]', 'g'), '${Corpus.PhoneRegex}', '[PHONE]', 'g') AS redacted
         |FROM base""".stripMargin),
    "boilerplate_lines" ->
      (s"""WITH base AS (SELECT doc_id,
         |    'COOKIE NOTICE accept cookies'||chr(10)||text||chr(10)||'footer sitemap '||(doc_id % 3) AS text
         |  FROM documents),
         |st AS (SELECT doc_id, list_filter(string_split(text, chr(10)), s -> s <> '') AS ls FROM base),
         |hot AS (SELECT line FROM (SELECT doc_id, unnest(list_distinct(ls)) AS line FROM st)
         |  GROUP BY line HAVING count(*) >= 10),
         |h AS (SELECT coalesce(list(line), []) AS hl FROM hot)
         |SELECT doc_id,
         |  len(ls) - len(list_filter(ls, l -> NOT list_contains(hl, l))) AS n_removed,
         |  array_to_string(list_filter(ls, l -> NOT list_contains(hl, l)), chr(10)) AS cleaned
         |FROM st, h""".stripMargin),
    // KMV sketches re-derived exactly: bottom-256 distinct shingle
    // hashes per language, union-sketch estimator per pair
    "corpus_similarity" ->
      (s"""WITH w AS (SELECT lang AS g, $sqlWords AS ws FROM documents),
         |d0 AS (SELECT g, unnest(list_distinct(list_transform(range(1, len(ws)-1), i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]))) AS s FROM w WHERE len(ws) >= 3),
         |d AS (SELECT DISTINCT g, ${sqlHash("s")} AS h FROM d0),
         |sk AS (SELECT g, h FROM (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM d) WHERE rn <= 256),
         |gs AS (SELECT DISTINCT g FROM sk),
         |pairs AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g),
         |pu AS (SELECT ga, gb, h FROM pairs JOIN sk ON sk.g = ga
         |  UNION SELECT ga, gb, h FROM pairs JOIN sk ON sk.g = gb),
         |u AS (SELECT ga, gb, h FROM (SELECT ga, gb, h, row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn FROM pu) WHERE rn <= 256),
         |inter AS (SELECT u.ga, u.gb, count(*) AS n_shared
         |  FROM u JOIN sk a ON a.g = u.ga AND a.h = u.h
         |         JOIN sk b ON b.g = u.gb AND b.h = u.h
         |  GROUP BY 1, 2),
         |usize AS (SELECT ga, gb, count(*) AS sketch_size FROM u GROUP BY 1, 2)
         |SELECT s.ga AS group_a, s.gb AS group_b,
         |  coalesce(i.n_shared, 0) AS n_shared, s.sketch_size,
         |  coalesce(i.n_shared, 0)::DOUBLE / s.sketch_size AS jaccard_est
         |FROM usize s LEFT JOIN inter i ON i.ga = s.ga AND i.gb = s.gb""".stripMargin),
    "pack_sequences" ->
      (s"""WITH n AS (SELECT doc_id, lang AS grp,
         |    len(regexp_extract_all(text, '${graft.chunk.Tokenizer.TokenRegex}'))::BIGINT AS n_tokens FROM documents),
         |c AS (SELECT doc_id, grp, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
         |  FROM n)
         |SELECT doc_id, grp, n_tokens::DOUBLE AS n_tokens,
         |  (start_tok // 2048)::DOUBLE AS seq_id,
         |  (start_tok % 2048)::DOUBLE AS seq_offset FROM c""".stripMargin),
    "vocab_top" ->
      ("""WITH t AS (SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text), '[A-Za-z0-9]+'))) AS term FROM documents)
         |SELECT term, count(*) AS df FROM t GROUP BY 1
         |ORDER BY df DESC, term LIMIT 25""".stripMargin),
    "vocab_census" ->
      ("""WITH t AS (SELECT coalesce(lang, '<null>') AS lang,
         |  unnest(regexp_extract_all(lower(text), '[A-Za-z0-9]+')) AS term
         |  FROM documents)
         |SELECT lang, count(*) AS n_tokens,
         |  count(DISTINCT term) AS n_terms
         |FROM t GROUP BY 1""".stripMargin),
    // GROUPING() labels subtotal rows — coalesce alone would collide
    // them with detail rows whose group value is genuinely NULL
    "corpus_rollup" ->
      ("""SELECT CASE WHEN GROUPING(lang) = 1 THEN '<all>' ELSE coalesce(lang, '<null>') END AS lang,
         |  CASE WHEN GROUPING(source) = 1 THEN '<all>' ELSE coalesce(source, '<null>') END AS source,
         |  count(*) AS n_docs, sum(n_chars)::DOUBLE AS total_weight
         |FROM documents GROUP BY ROLLUP (lang, source)""".stripMargin),
    // lower median by rank pick — integer division on both sides
    "group_median" ->
      (s"""WITH qual AS ($qualitySql)
         |SELECT lang, median_value FROM (
         |  SELECT d.lang, q.quality AS median_value,
         |    row_number() OVER (PARTITION BY d.lang ORDER BY q.quality, q.doc_id) AS rn,
         |    count(*) OVER (PARTITION BY d.lang) AS n
         |  FROM documents d JOIN qual q ON d.doc_id = q.doc_id
         |  WHERE q.quality IS NOT NULL)
         |WHERE rn = (n + 1) // 2""".stripMargin),
    // rank-pick quartiles: rank = max(1, floor(q*(n+1))); q=0.5
    // reproduces the lower-median pick exactly
    "group_percentiles" ->
      (s"""WITH qual AS ($qualitySql),
         |r AS (SELECT d.lang, q.quality,
         |    row_number() OVER (PARTITION BY d.lang ORDER BY q.quality, q.doc_id) AS rn,
         |    count(*) OVER (PARTITION BY d.lang) AS n
         |  FROM documents d JOIN qual q ON d.doc_id = q.doc_id
         |  WHERE q.quality IS NOT NULL)
         |SELECT lang, q, quality AS value
         |FROM r, (SELECT unnest([0.25e0, 0.5e0, 0.75e0]) AS q)
         |WHERE rn = greatest(1, floor(q * (n + 1))::BIGINT)""".stripMargin),
    "quality_filter" ->
      (s"""WITH qual AS ($qualitySql),
         |j AS (SELECT d.lang, q.doc_id, q.quality
         |      FROM documents d JOIN qual q ON d.doc_id = q.doc_id
         |      WHERE q.quality IS NOT NULL),
         |med AS (SELECT lang, median_value FROM (
         |  SELECT lang, quality AS median_value,
         |    row_number() OVER (PARTITION BY lang ORDER BY quality, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS n
         |  FROM j)
         |  WHERE rn = (n + 1) // 2)
         |SELECT j.doc_id, j.lang, j.quality
         |FROM j JOIN med ON j.lang = med.lang
         |WHERE j.quality >= med.median_value""".stripMargin),
    "top_per_group" ->
      (s"""WITH qual AS ($qualitySql)
         |SELECT lang, rank, doc_id, quality FROM (
         |  SELECT d.lang, q.doc_id, q.quality,
         |    CAST(row_number() OVER (PARTITION BY d.lang ORDER BY q.quality DESC, q.doc_id) AS INT) AS rank
         |  FROM documents d JOIN qual q ON d.doc_id = q.doc_id)
         |WHERE rank <= 3""".stripMargin),
    "fingerprint" ->
      (s"SELECT doc_id, list_reduce(list_prepend(0::BIGINT, list_transform($sqlWords, " +
        s"w -> ${sqlHash("w")} % 1000003)), (a,b) -> (a*31 + b) % 1000000007) AS fingerprint " +
        "FROM documents"),
    "decontaminate" -> decontaminateSql,
    // the bloom-prescreened twin is output-identical by construction
    // (no false negatives + exact verify), so it is gated against the
    // SAME oracle
    "decontaminate_bloom" -> decontaminateSql,
    "repetition_stats" ->
      (s"""WITH base AS (SELECT doc_id,
         |    list_filter(list_transform(string_split(text, chr(10)), s -> trim(s)), s -> s <> '') AS lines,
         |    $sqlWords AS ws FROM documents),
         |g AS (SELECT doc_id, len(lines) AS n_lines, len(list_distinct(lines)) AS n_distinct,
         |    CASE WHEN len(ws) >= 2 THEN list_transform(range(1, len(ws)), i -> ${sqlHash("ws[i]||' '||ws[i+1]")}) ELSE []::BIGINT[] END AS gs
         |  FROM base),
         |st AS (SELECT doc_id, n_lines, n_distinct, len(gs) AS n_grams,
         |    CASE WHEN len(gs) = 0 THEN 0 ELSE list_max(list_transform(list_distinct(gs), x -> len(list_filter(gs, y -> y = x)))) END AS top_cnt
         |  FROM g),
         |fr AS (SELECT doc_id, n_lines, n_grams,
         |    CASE WHEN n_lines > 0 THEN (n_lines - n_distinct)::DOUBLE / n_lines ELSE 0.0 END AS dup_line_frac,
         |    CASE WHEN n_grams > 0 THEN top_cnt::DOUBLE / n_grams ELSE 0.0 END AS top_bigram_frac
         |  FROM st)
         |SELECT doc_id, dup_line_frac, top_bigram_frac,
         |  CASE WHEN (n_lines >= ${Corpus.MinRepetitionLines} AND dup_line_frac > 0.3)
         |         OR (n_grams >= ${Corpus.MinRepetitionGrams} AND top_bigram_frac > 0.2)
         |       THEN 1 ELSE 0 END AS repetitive
         |FROM fr""".stripMargin),
    "distinctive_terms" ->
      (s"""WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[A-Za-z0-9]+')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |r AS (SELECT doc_id, term, tf, df, tf::DOUBLE / df AS score,
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tf::DOUBLE / df DESC, term) AS INT) AS rank
         |  FROM tf JOIN df USING (term))
         |SELECT doc_id, term, tf, df, score, rank FROM r WHERE rank <= 3""".stripMargin),
    "mm_features" ->
      ("""SELECT doc_id, i AS frame_idx, i*100 AS frame_offset,
         |  sha256(substr(text, i*100 + 1, 100)) AS frame_digest
         |FROM documents, (SELECT unnest(range(0, 5)) AS i)
         |WHERE i < least(length(text)//100 + 1, 5)""".stripMargin),
    // per-doc closed-form expected stats for the REAL-decoder gates:
    // the engine recovers these from encoded PPM/BMP bytes; the
    // oracle derives them from the generating formula
    "mm_decode_ppm" -> mmDecodeSql("ppm"),
    "mm_decode_bmp" -> mmDecodeSql("bmp"),
    // audio twin: expected PCM statistics from the generating formula
    // (Multimodal.syntheticAudio: 8000 Hz, ch = 1 + id%2, frames =
    // 50 + id%37, interleaved sample i = (id*31 + i*17) % 4001 - 2000);
    // the engine must recover them from the ENCODED RIFF bytes
    "mm_decode_wav" ->
      ("""WITH p AS (SELECT doc_id, 1 + doc_id % 2 AS ch, 50 + doc_id % 37 AS frames FROM documents),
         |s AS (SELECT doc_id, ch, frames, frames * ch AS n,
         |  list_transform(range(0, frames * ch), i -> (doc_id*31 + i*17) % 4001 - 2000) AS xs FROM p)
         |SELECT doc_id, 'wav' AS codec, 8000 AS sample_rate, ch::INT AS channels,
         |  n::INT AS n_samples, (frames * 1000 // 8000)::INT AS duration_ms,
         |  list_reduce(list_prepend(0::BIGINT, list_transform(xs, x -> abs(x)::BIGINT)), (a,b) -> a+b) AS sum_abs,
         |  list_reduce(list_prepend(0::BIGINT, list_transform(xs, x -> abs(x)::BIGINT)), (a,b) -> greatest(a,b))::INT AS max_abs,
         |  len(list_filter(range(1, n), j -> (xs[j] < 0) <> (xs[j+1] < 0)))::INT AS zero_crossings
         |FROM s""".stripMargin),
    "mm_meta" ->
      ("""SELECT doc_id, 'stub' AS codec,
         |  octet_length(encode(text)) AS byte_len, sha256(text) AS digest,
         |  1 + (CAST('0x'||substr(sha256(text),1,2) AS INT) << 2) AS width,
         |  1 + (CAST('0x'||substr(sha256(text),3,2) AS INT) << 2) AS height,
         |  octet_length(encode(text)) // 100 + 1 AS n_frames,
         |  coalesce(array_to_string(list_transform(range(0, least(octet_length(encode(text)) // 100 + 1, 5)), i -> i*100), ','), '') AS frame_offsets
         |FROM documents""".stripMargin)
  )
}

/** Query implementations too large for inline lambdas. */
object Queries {

  /** the fixed RAG question used by confidence/rag_query oracles */
  val RagQuery = "spark join performance"

  /** fixture temp dirs awaiting JVM-exit deletion (compact_roundtrip:
    * the returned frame reads the dir lazily, so cleanup must happen
    * after every consumer action — a shutdown hook is the only safe
    * point); one hook, registered on first use
    */
  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tmpDirs.forEach { d =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete()
        }
        rm(new java.io.File(d))
      }
    }))

  private[graft] def deleteOnExit(dir: String): Unit = {
    cleanupHook
    tmpDirs.add(dir)
  }

  /** artifacts of the latest ann_ivf_kmeans training — (centroids,
    * probe cells), recorded by the query lambda so oracleSql (dumped
    * by Verify after the queries run) can inline them as literals.
    */
  @volatile private[graft] var lastKmeans: Option[(Seq[Array[Double]], Seq[Int])] = None

  /** the latest PQ codebooks (per-subspace centroid tables), recorded
    * by pq_encode/ann_ivfpq so oracleSql can inline them as literals.
    */
  @volatile private[graft] var lastPq: Option[Seq[Seq[Array[Double]]]] = None

  /** query vector = embedding of vec_id 0, as doubles (the reference
    * embeds the query text; here the query arrives pre-embedded —
    * vector_store.py:151-179 search_with_embedding).
    */
  def queryVec(s: SparkSession, dir: String): Array[Double] =
    SparkEntry.embeddings(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray

  /** V10 — retrieval half of the query pipeline + deterministic
    * confidence over the retrieved context (LLM stubbed; SURVEY §2.4).
    */
  def ragQuery(s: SparkSession, dir: String): DataFrame = {
    val top = graft.rag.TopK.search(
      SparkEntry.embeddings(s, dir), queryVec(s, dir), k = 5).select("vec_id")
    val ctx = top.join(SparkEntry.docs(s, dir),
      col("vec_id") === col("doc_id"))
    graft.rag.Confidence.overChunks(ctx, "text", RagQuery)
  }

  /** V10's formatted sources list: the top-5 retrieved chunks joined
    * to document metadata — (vec_id, document, relevance score), the
    * response contract of llm_integration.py:213-239 with the LLM call
    * stubbed exactly like ragQuery.
    */
  def ragSources(s: SparkSession, dir: String): DataFrame = {
    val top = graft.rag.TopK.search(
      SparkEntry.embeddings(s, dir), queryVec(s, dir), k = 5)
      .select("vec_id", "score")
    top.join(SparkEntry.docs(s, dir), col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("source").as("document"), col("score"))
  }

  /** planes used for near-dup blocking (lower 4 of AnnLsh's 8 — fewer
    * planes = coarser buckets = higher recall at a moderate-cosine
    * threshold; at larger corpus scale raise planes to keep buckets
    * bounded and add probe tables instead)
    */
  val NeardupPlanes = 4

  /** Embedding-cosine near-duplicate pairs, LSH-bucket blocked with
    * hamming-1 multiprobe: vectors are L2-normalized ONCE per row and
    * keyed by the sign pattern of `NeardupPlanes` fixed hyperplanes
    * (AnnLsh); the A-leg explodes into the exact bucket plus its
    * single-bit flips, so pairs whose buckets differ in ≤1 plane meet
    * in an EQUI-join, then the exact dot product verifies the
    * threshold. The bucket key makes this a hash-partitioned shuffle
    * join — the round-1 `a_id < b_id` θ-join was a
    * BroadcastNestedLoopJoin cartesian, O(n²) at scale. Blocking
    * trades recall: a pair collides iff its buckets differ in ≤1
    * plane (P = p^k + k·p^(k−1)(1−p), p = 1 − θ/π); each qualifying
    * pair meets on exactly one key, so no distinct is needed. The
    * DuckDB oracle applies the identical bucket + hamming-≤1 rule.
    * Returns a lazy plan (no Spark job at call time): both join legs
    * read the one embeddings scan, and the bucket kernel is a cheap
    * per-row projection, so nothing is cached.
    */
  def embedNearDup(s: SparkSession, dir: String, threshold: Double): DataFrame = {
    import graft.rag.{AnnLsh, Similarity, VectorExprs}
    val bucketMask = (1 << NeardupPlanes) - 1
    val base = SparkEntry.embeddings(s, dir).select(col("vec_id"),
      VectorExprs.l2Normalize(col("embedding").cast("array<double>")).as("v"),
      AnnLsh.bucketCol(col("embedding").cast("array<double>"))
        .bitwiseAND(lit(bucketMask)).as("bucket"))
    val probes = array((col("bucket") +:
      (0 until NeardupPlanes).map(p => col("bucket").bitwiseXOR(lit(1 << p)))): _*)
    val e = base.select(col("vec_id").as("a_id"), col("v").as("va"),
      explode(probes).as("key"))
    val f = base.select(col("vec_id").as("b_id"), col("v").as("vb"),
      col("bucket").as("key"))
    e.join(f, Seq("key")).filter(col("a_id") < col("b_id"))
      .filter(Similarity.dot(col("va"), col("vb")) >= threshold)
      .select("a_id", "b_id")
  }

  /** the EXACT all-pairs near-dup — the recall baseline the blocked
    * query is measured against (ScaleShapeSpec asserts blocked ⊆ exact
    * and reports recall). The θ-join is O(n²): correct at oracle
    * scale, intentionally NOT the production path — `embed_neardup`
    * (blocked) is. Registered so the driver gate shows BOTH the exact
    * semantics and the blocked subset rather than hiding the recall
    * trade inside a rewritten oracle.
    */
  def embedNearDupExact(s: SparkSession, dir: String, threshold: Double,
      maxRows: Long = 100000L): DataFrame = {
    import graft.rag.{Similarity, VectorExprs}
    // misuse guard: this is the O(n²) RECALL BASELINE, never the
    // production path (embedNearDup, blocked, is). A hard row ceiling
    // makes pointing it at a large corpus an error, not a week-long
    // cartesian — 100k rows ≈ 5×10⁹ candidate pairs is already the
    // outer limit of a sane baseline run. The probe itself is bounded:
    // counting a LIMIT maxRows+1 stops the scan after the first
    // ceiling-breaking row instead of counting the whole corpus just
    // to refuse it. The ceiling must fit an Int so the LIMIT probe can
    // actually detect an overrun — a ceiling ≥ 2^31 rows is not a
    // baseline, it's the cartesian this guard exists to refuse.
    require(maxRows > 0 && maxRows < Int.MaxValue,
      s"maxRows must be in [1, ${Int.MaxValue - 1}], got $maxRows")
    val n = SparkEntry.embeddings(s, dir).limit(maxRows.toInt + 1).count()
    require(n <= maxRows,
      s"embedNearDupExact is the O(n^2) recall baseline: corpus has" +
        s" more than $maxRows rows — use embedNearDup (LSH-blocked) instead")
    def leg(idAs: String, vAs: String) =
      SparkEntry.embeddings(s, dir).select(col("vec_id").as(idAs),
        VectorExprs.l2Normalize(col("embedding").cast("array<double>")).as(vAs))
    leg("a_id", "va").join(leg("b_id", "vb"), col("a_id") < col("b_id"))
      .filter(Similarity.dot(col("va"), col("vb")) >= threshold)
      .select("a_id", "b_id")
  }

  /** synthetic multi-section docs: intro line + two headed sections →
    * the section chunker MUST emit 3 chunks per document (split on
    * each heading; chunking.py:44-114 semantics). Content is fully
    * determined, so the DuckDB oracle enumerates the chunks exactly.
    */
  def headingDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(lit("Intro for doc "), col("doc_id"),
        lit(".\n# Alpha\nAlpha body "), col("doc_id"),
        lit("\n# Beta\nBeta body "), col("doc_id")).as("text"))

  /** the constant tail of the K2 fixture: tokens 1..1199, each exactly
    * 9 chars ("t" + 8-digit position), single-space joined — shared
    * verbatim between the Spark literal and the DuckDB oracle SQL.
    */
  val TokenTail: String = (1 until 1200).map(i => f"t$i%08d").mkString(" ")

  /** synthetic fixed-geometry token docs for the K2 sliding-window
    * gate: 1200 tokens of exactly 9 chars (one doc-keyed head token +
    * the constant position-numbered tail), single-space joined, so
    * token i spans chars [10i, 10i+9). With maxTokens=512, overlap=50
    * (stride 462) the window MUST produce 3 overlapping chunks at char
    * offsets the oracle computes in closed form — the stride/overlap
    * arithmetic of reference chunking.py:116-144 becomes
    * driver-visible. (Built as ONE concat per doc: a per-position HOF
    * construction ran interpreted lpad 1200× per row and dominated the
    * whole query's bench time.)
    */
  def tokenDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(lit("d"), lpad(col("doc_id").cast("string"), 4, "0"),
        lit("head "), lit(TokenTail)).as("text"))

  /** synthetic multi-AT docs for the K3 gate: an AT-free intro line,
    * then alternating AT-command and filler lines. Exercises BOTH
    * distinctive reference behaviors (chunking.py:146-215): a new
    * chunk opens when a line has an AT command and the current chunk
    * already holds one, and a flushed chunk WITHOUT any AT command is
    * silently discarded (the intro line vanishes from the output).
    */
  def atDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      lit("intro doc "), col("doc_id"), lit(" no command here.\n"),
      lit("AT+CMGF one "), col("doc_id"), lit("\n"),
      lit("filler between "), col("doc_id"), lit("\n"),
      lit("AT+CSQ two "), col("doc_id")).as("text"))

  /** synthetic over-budget docs: two ~400-token sentence-final lines +
    * a short tail → the first two lines overflow maxTokens=512 and the
    * boundary splitter (chunking.py:262-284) cuts at the last
    * sentence-final line, yielding 2 chunks per document. (start_char
    * -1 on the split chunk mirrors the reference's line-index
    * bookkeeping quirk.)
    */
  def overflowDocs(docs: DataFrame): DataFrame = {
    val filler = repeat(lit("tok "), 400)
    docs.select(col("doc_id"),
      concat(lit("a"), col("doc_id"), lit(" "), filler, lit("one.\n"),
        lit("b"), col("doc_id"), lit(" "), filler, lit("two.\n"),
        lit("c"), col("doc_id"), lit(" short tail three.")).as("text"))
  }

  // ---- TPC-H-shaped relational queries ----
  //
  // Money columns are 2-decimal doubles; every aggregate converts to
  // integer cents per row FIRST (round(x·100) is exact — the true value
  // is an integer, never a rounding .5 boundary), so sums are
  // associative integers and Spark/DuckDB agree bit-for-bit regardless
  // of combine order. Discounted revenue stays exact as
  // cents × (100 − discount%) "cent-percent" units.

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  /** Q1-shaped pricing summary: one wide partial-agg over the fact
    * table — map-side combine does almost all the work; the shuffle
    * carries |flags×status| rows per task. The 100 TB shape.
    */
  def tpchPricing(s: SparkSession, dir: String): DataFrame =
    SparkEntry.tbl(s, dir, "lineitem")
      .filter(col("l_shipdate").cast("date") <= lit("1998-09-01").cast("date"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("long")).cast("double").as("sum_qty"),
        sum(cents(col("l_extendedprice"))).cast("double").as("sum_base_cents"),
        sum(cents(col("l_extendedprice")) *
          (lit(100L) - cents(col("l_discount")))).cast("double").as("sum_disc_cp"),
        count(lit(1)).as("n"))

  /** Q3-shaped: filtered dims join the fact, agg, top-10. customer is
    * broadcast (small after the segment filter); lineitem⋈orders is
    * the genuine fact⋈fact shuffle join; the top-10 is
    * TakeOrderedAndProject, not a global sort.
    */
  def tpchTopOrders(s: SparkSession, dir: String): DataFrame = {
    val c = SparkEntry.tbl(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = SparkEntry.tbl(s, dir, "orders")
      .filter(col("o_orderdate").cast("date") < lit("1998-06-01").cast("date"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val l = SparkEntry.tbl(s, dir, "lineitem")
      .filter(col("l_shipdate").cast("date") > lit("1998-06-01").cast("date"))
      .select(col("l_orderkey"),
        (cents(col("l_extendedprice")) *
          (lit(100L) - cents(col("l_discount")))).as("rev_cp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(sum(col("rev_cp")).cast("double").as("revenue_cp"))
      .orderBy(col("revenue_cp").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** star-shaped dim rollup: nation and region are broadcast hash
    * joins (tiny dims — never shuffle the fact side for them).
    */
  def tpchRegionStats(s: SparkSession, dir: String): DataFrame =
    SparkEntry.tbl(s, dir, "customer")
      .join(broadcast(SparkEntry.tbl(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(SparkEntry.tbl(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_customers"),
        sum(cents(col("c_acctbal"))).cast("double").as("acctbal_cents"))

  /** North-rule correctness gate: distributed fixture generation →
    * extraction → equality join vs golden (FIXTURES.md §3). Output:
    * one row (total_turns, mismatches); mismatches must be 0.
    */
  def goldenExtract(spark: SparkSession, numConvs: Int): DataFrame = {
    import spark.implicits._
    val convs = spark.range(0, numConvs)
    val transcripts = convs.flatMap(i => TranscriptGen.genConv(42L, i)._1)
    val golden = convs.flatMap(i => TranscriptGen.genConv(42L, i)._2)
      .toDF().withColumnRenamed("markdown", "golden_md")
    val extracted = ExtractPipeline.overTranscripts(transcripts.toDF())
    extracted.join(golden, Seq("conv_id", "turn_idx"))
      .agg(
        count(lit(1)).as("total_turns"),
        count(when(col("markdown") =!= col("golden_md"), 1)).as("mismatches"))
  }
}
