package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.chunk.ChunkOps
import graft.extract.ExtractPipeline
import graft.rag.{Bm25, HashEmbedder, Hybrid, TopK}
import graft.store.StoreOps

object RagServe {
  /** The generator's word vocabulary: query terms always occur. */
  val Vocab: Vector[String] = Vector(
    "spark", "merge", "join", "scan", "filter", "window", "batch",
    "stream", "table", "column", "vector", "query", "group", "order",
    "hash", "sort", "part", "agg", "key", "value", "row", "line",
    "data", "fast", "slow", "small", "big", "customer", "dup")

  /** One request cycle; the seed shuffles its order and draws the
    * parameters, so every cycle carries the same mix.
    */
  val Cycle: Seq[String] = Seq("topk", "topk", "topk", "topk", "topk_filtered", "topk_filtered",
    "bm25", "bm25", "hybrid", "hybrid", "list_documents", "page", "collection_count")

  val SloMs = 2000.0

  /** Store partition of a chunk, by document. */
  def StorePartition: org.apache.spark.sql.Column =
    pmod(xxhash64(col("document")), lit(4)).cast("int")

  /** Build the chunk store: extract → sections → embedding → parquet. */
  def buildStore(ctx: Ctx, transcripts: DataFrame, dir: String, partitionCol: Boolean): Unit = {
    val ok = ExtractPipeline.overTranscripts(transcripts).filter(col("status") === "ok")
      .select(concat_ws("/", col("conv_id"), col("turn_idx")).as("doc_id"),
        col("markdown").as("text"))
    val chunks = ChunkOps.sections(ok).toDF()
    val withMeta = chunks
      .withColumn("cid", xxhash64(col("chunk_id")))
      .withColumn("embedding", HashEmbedder.embedding(col("content")))
      .withColumn("type", when(col("has_code_blocks"), "code")
        .when(col("has_tables"), "table").otherwise("text"))
      .withColumn("source", substring_index(col("document"), "/", 1))
    if (partitionCol)
      withMeta.withColumn("partition_id", StorePartition)
        .write.partitionBy("partition_id").parquet(dir)
    else withMeta.write.parquet(dir)
  }
}

/** A request and what it returned (kept for the correctness check). */
final case class Req(kind: String, terms: Seq[String], k: Int, filterType: String, offset: Int) {
  def text: String = terms.mkString(" ")
}

/** rag_serve: one client in a closed loop over a chunk store built in
  * set-up. Each request embeds its query on the driver, then runs one
  * retrieval or store read. Unit = one cycle of [[RagServe.Cycle]]
  * (a fixed request mix, so its wall time is comparable between runs);
  * item = one request. Per-request latencies go to the run record.
  */
final class RagServe extends Workload {
  import RagServe._
  val name = "rag_serve"
  val Convs = 300L
  val CheckPerKind = 2

  private var storeDir: String = _
  private var store: DataFrame = _
  private var rng: scala.util.Random = _
  private val kept = mutable.Map[String, mutable.ArrayBuffer[(Req, Array[Row])]]()
  private val byKind = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private val embedUs = mutable.ArrayBuffer[Double]()
  private val resultRows = mutable.Map[Long, Long]()
  private var storeRows = 0L

  def setup(ctx: Ctx, dir: String): Unit = {
    storeDir = s"$dir/store"
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed + 1
    val transcripts = spark.range(0, Convs, 1, ctx.cpus)
      .flatMap(i => graft.gen.TranscriptGen.genConv(seed, i)._1).toDF()
    buildStore(ctx, transcripts, storeDir, partitionCol = false)
  }

  def inputs(ctx: Ctx): Map[String, Any] = Map(
    "conversations" -> Convs, "chunks" -> storeRows,
    "store_bytes" -> Inputs.bytes(storeDir), "request_cycle" -> Cycle)

  private def draw(kind: String): Req = {
    val terms = rng.shuffle(Vocab).take(2 + rng.nextInt(2))
    Req(kind, terms, Seq(5, 10, 20)(rng.nextInt(3)), Seq("text", "table", "code")(rng.nextInt(3)),
      rng.nextInt(200))
  }

  private def vectorLeg(q: Array[Double], k: Int, filter: org.apache.spark.sql.Column) =
    TopK.search(store, q, k, keyCol = "cid", metaFilter = filter).select("cid", "score")

  /** Run one request; returns its rows. */
  private def serve(ctx: Ctx, r: Req, id: Long): Array[Row] = {
    val t0 = System.nanoTime()
    val q = ctx.tracer.span("rag.embed_query", "rag", id) { HashEmbedder.embed(r.text) }
    embedUs += (System.nanoTime() - t0) / 1e3
    ctx.tracer.span(s"rag.${r.kind}", if (r.kind.startsWith("topk") || r.kind == "bm25" ||
        r.kind == "hybrid") "rag" else "store", id) {
      r.kind match {
        case "topk" => vectorLeg(q, r.k, lit(true)).collect()
        case "topk_filtered" => vectorLeg(q, r.k, col("type") === r.filterType).collect()
        case "bm25" => Bm25.search(store, "cid", "content", r.terms, topK = 10).collect()
        case "hybrid" =>
          val lex = Bm25.search(store, "cid", "content", r.terms, topK = 20)
          val vec = vectorLeg(q, 20, lit(true)).select(col("cid").as("doc_id"), col("score"))
          Hybrid.rrfFuse(lex, vec, "doc_id", "score", k = 60, topK = 10).collect()
        case "list_documents" => StoreOps.listDocuments(store).collect()
        case "page" => StoreOps.page(store, "chunk_id", r.offset, 20).select("chunk_id").collect()
        case "collection_count" => StoreOps.collectionCount(store).collect()
      }
    }
  }

  def warm(ctx: Ctx): Unit = {
    store = ctx.spark.read.parquet(storeDir)
    storeRows = store.count()
    rng = new scala.util.Random(ctx.seed)
    (1 to 2).foreach(_ => Cycle.distinct.foreach(k => serve(ctx, draw(k), -1L)))
    embedUs.clear()
  }

  private val latencies = mutable.ArrayBuffer[Double]()

  def measure(ctx: Ctx, seconds: Double): Window = {
    val cycles = mutable.ArrayBuffer[Double]()
    val times = mutable.ArrayBuffer[Double]()
    val errors = mutable.Map[String, Int]()
    var failed = 0L
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    var id = 0L
    byKind.clear()
    // whole cycles only, so every run serves the same request mix
    while (System.nanoTime() < deadline || cycles.isEmpty) {
      val c0 = System.nanoTime()
      rng.shuffle(Cycle).foreach { kind =>
        val r = draw(kind)
        id += 1
        val t0 = System.nanoTime()
        try {
          val rows = ctx.tracer.span("request", "client", id) { serve(ctx, r, id) }
          resultRows(id) = rows.length
          val keep = kept.getOrElseUpdate(kind, mutable.ArrayBuffer())
          if (keep.size < CheckPerKind) keep += ((r, rows))
          times += (System.nanoTime() - t0) / 1e6
        } catch {
          case e: Exception =>
            // a failed request misses every latency limit
            failed += 1
            errors(e.getClass.getSimpleName) = errors.getOrElse(e.getClass.getSimpleName, 0) + 1
            times += Double.PositiveInfinity
        }
        val ms = (System.nanoTime() - t0) / 1e6
        byKind.getOrElseUpdate(kind, mutable.ArrayBuffer()) += ms
      }
      cycles += (System.nanoTime() - c0) / 1e6
    }
    val wall = (System.nanoTime() - start) / 1e9
    latencies.clear()
    latencies ++= times
    Window(cycles.toSeq, times.size, failed, times.size - failed, wall, errors.toMap)
  }

  def named(ctx: Ctx, w: Window, cpuPerUnit: Double): Seq[(String, Double, String)] = {
    val padded = latencies.toSeq
    val tailQ = if (padded.size >= 200) 0.95 else math.max(0.5, 1.0 - 10.0 / padded.size)
    Seq(
      ("request_p50_ms", Stats.median(padded), "ms"),
      (f"request_p${tailQ * 100}%.0f_ms", Stats.quantile(padded, tailQ), "ms"),
      ("requests_per_s", w.items / w.wallS, "req/s"),
      ("slo_met_share", padded.count(_ <= SloMs).toDouble / math.max(1, padded.size), "ratio"))
  }

  override def record(ctx: Ctx): Map[String, Any] = Map(
    "request_ms" -> latencies.toSeq,
    "request_p50_ms_by_kind" -> byKind.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap)

  override def layers(ctx: Ctx, w: Window): Map[String, Double] = {
    val spans = ctx.tracer.spans
    val reqSpans = spans.filter(_.name == "request")
    val retrieval = spans.filter(s => Set("rag.topk", "rag.topk_filtered", "rag.bm25", "rag.hybrid")(s.name))
    val scored = retrieval.map(s => ctx.tracer.inclusive(s, ctx.traced).inputRecords).sum
    val returned = retrieval.map(s => resultRows.getOrElse(s.request, 0L)).sum
    val jobs = reqSpans.map(s => ctx.tracer.inclusive(s, ctx.traced).jobs).sum
    def p50(kinds: String*) = Stats.median(kinds.flatMap(k => byKind.getOrElse(k, Nil)))
    Map(
      "rag.topk_ms" -> p50("topk"),
      "rag.topk_filtered_ms" -> p50("topk_filtered"),
      "rag.bm25_ms" -> p50("bm25"),
      "rag.hybrid_ms" -> p50("hybrid"),
      "rag.store_read_ms" -> p50("list_documents", "page", "collection_count"),
      "rag.request_embed_us" -> Stats.median(embedUs.toSeq),
      "rag.rows_scored_per_result" -> scored.toDouble / math.max(1L, returned),
      "rag.jobs_per_request" -> jobs.toDouble / math.max(1, reqSpans.size))
  }

  // ---------------------------------------------------------------- check

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Driver-side recompute over the collected store. */
  def check(ctx: Ctx): Seq[String] = {
    val problems = mutable.ArrayBuffer[String]()
    val rows = store.select(col("cid"), col("chunk_id"), col("document"), col("type"),
      col("source"), col("embedding"), Bm25.termsCol(col("content")).as("terms")).collect()
    val n = rows.length
    if (rows.map(_.getLong(0)).distinct.length != n) problems += "store cid values are not unique"
    val emb = rows.map(r => r.getSeq[Double](5).toArray)
    val terms = rows.map(r => r.getSeq[String](6).toArray)
    val cids = rows.map(_.getLong(0))
    val types = rows.map(_.getString(3))

    def topk(r: Req, k: Int, onlyType: Option[String]): Seq[(Long, Double)] = {
      val q = HashEmbedder.embed(r.text)
      (0 until n).filter(i => onlyType.forall(_ == types(i)))
        .map(i => (cids(i), cosine(emb(i), q)))
        .sortBy { case (id, s) => (-s, id) }.take(k)
    }
    def bm25(r: Req, k: Int): Seq[(Long, Double)] = {
      val q = r.terms.map(_.toLowerCase(java.util.Locale.ROOT))
      val avgdl = terms.map(_.length.toLong).sum.toDouble / n
      val df = q.map(t => t -> terms.count(_.contains(t)).toLong).toMap
      def idf(t: String) = math.log(1.0 + (n.toDouble - df(t) + 0.5) / (df(t) + 0.5))
      val (k1, b) = (1.2, 0.75)
      (0 until n).flatMap { i =>
        val dl = terms(i).length.toDouble
        val tf = q.map(t => terms(i).count(_ == t).toDouble)
        if (tf.forall(_ == 0.0)) None
        else Some((cids(i), q.zip(tf).map { case (t, f) =>
          if (f == 0.0) 0.0
          else idf(t) * (f * (k1 + 1.0) / (f + k1 * ((1.0 - b) + b * dl / avgdl)))
        }.reduce(_ + _)))
      }.sortBy { case (id, s) => (-s, id) }.take(k)
    }
    def same(kind: String, got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Unit =
      if (got.map(_._1) != want.map(_._1) ||
          got.zip(want).exists { case (g, w) => !close(g._2, w._2) })
        problems += s"$kind result differs from the driver recompute: " +
          s"got ${got.take(3)} want ${want.take(3)}"

    kept.foreach { case (kind, reqs) => reqs.foreach { case (r, res) =>
      def pairs = res.map(x => (x.getLong(0), x.getDouble(1))).toSeq
      kind match {
        case "topk" => same(kind, pairs, topk(r, r.k, None))
        case "topk_filtered" => same(kind, pairs, topk(r, r.k, Some(r.filterType)))
        case "bm25" => same(kind, pairs, bm25(r, 10))
        case "hybrid" =>
          val lex = bm25(r, 20).map(_._1).zipWithIndex.toMap
          val vec = topk(r, 20, None).map(_._1).zipWithIndex.toMap
          val fused = (lex.keySet ++ vec.keySet).toSeq.map { id =>
            (id, lex.get(id).map(i => 1.0 / (60.0 + (i + 1))).getOrElse(0.0) +
              vec.get(id).map(i => 1.0 / (60.0 + (i + 1))).getOrElse(0.0))
          }.sortBy { case (id, s) => (-s, id) }.take(10)
          same(kind, pairs, fused)
        case "list_documents" =>
          val want = rows.groupBy(_.getString(2)).map { case (d, rs) =>
            (d, rs.map(_.getString(3)).min, rs.map(_.getString(4)).min, rs.length.toLong)
          }.toSet
          val got = res.map(x => (x.getString(0), x.getString(1), x.getString(2), x.getLong(3))).toSet
          if (got != want) problems += s"list_documents differs (${got.size} vs ${want.size} documents)"
        case "page" =>
          val want = rows.map(_.getString(1)).sorted.slice(r.offset, r.offset + 20).toSeq
          if (res.map(_.getString(0)).toSeq != want) problems += s"page at ${r.offset} differs"
        case "collection_count" =>
          if (res.head.getLong(0) != n) problems += s"collection_count ${res.head.getLong(0)} != $n"
      }
    } }
    Cycle.distinct.filterNot(kept.contains).foreach(k => problems += s"no checked $k request")
    problems.toSeq
  }
}
