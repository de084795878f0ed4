package perfbench

import org.apache.spark.unsafe.types.UTF8String
import graft.chunk.Chunker
import graft.extract.{BlockParser, ExtractPipeline, Headers, MarkdownEmitter, ReadingOrder}
import graft.gen.TranscriptGen
import graft.rag.HashEmbedder

/** Single-thread, driver-side timings of the per-row kernels over a
  * seeded sample: the extraction phases, the section chunker and the
  * query embedder. Each figure is the median of [[Rounds]] rounds
  * after one warm-up round.
  */
object Probes {
  val MinTurns = 10000
  val Rounds = 3
  val Queries = 2000

  /** keeps the probed results live */
  @volatile var blackhole = 0L

  private def perItemUs(n: Int)(body: => Unit): Double = {
    body // warm-up round
    Stats.median((1 to Rounds).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e3 / n
    })
  }

  /** `MinTurns`+ payloads of the seeded generator, skew included. */
  def payloads(seed: Long): Array[String] = {
    val out = Array.newBuilder[String]
    var n = 0
    var conv = 0L
    while (n < MinTurns) {
      val rows = TranscriptGen.genConv(seed, conv)._1
      rows.foreach(r => out += r.text)
      n += rows.size
      conv += 1
    }
    out.result()
  }

  def run(ctx: Ctx): Map[String, Double] = {
    val texts = payloads(ctx.seed * 31 + 7)
    val n = texts.length
    val utf8 = texts.map(UTF8String.fromString)
    val blocks = texts.map(BlockParser.parse)
    val headers = blocks.map(b => if (b.isEmpty) null else Headers.identify(b))
    val ordered = blocks.map(b => if (b.isEmpty) b else ReadingOrder.order(b))
    var sink = 0L
    val parseUs = perItemUs(n) { texts.foreach(t => sink += BlockParser.parse(t).size) }
    val headersUs = perItemUs(n) {
      blocks.foreach(b => if (b.nonEmpty) sink += Headers.identify(b).hashCode)
    }
    val orderUs = perItemUs(n) {
      blocks.foreach(b => if (b.nonEmpty) sink += ReadingOrder.order(b).size)
    }
    val emitUs = perItemUs(n) {
      var i = 0
      while (i < n) {
        if (blocks(i).nonEmpty) sink += MarkdownEmitter.emitNormalized(ordered(i), headers(i)).length
        i += 1
      }
    }
    val kernelUs = perItemUs(n) { texts.foreach(t => sink += ExtractPipeline.extract(t).length) }
    val rowUs = perItemUs(n) { utf8.foreach(u => sink += ExtractPipeline.extractRow(u).numFields) }

    val markdown = texts.map(ExtractPipeline.extract)
    val chunker = new Chunker(maxTokens = 512, overlapTokens = 50)
    var chunks = 0L
    val chunkUs = perItemUs(n) {
      chunks = 0L
      var i = 0
      while (i < n) { chunks += chunker.chunkBySections(markdown(i), s"doc-$i").size; i += 1 }
    }
    val rng = new scala.util.Random(ctx.seed)
    val vocab = RagServe.Vocab
    val queries = Array.fill(Queries)(
      rng.shuffle(vocab).take(2 + rng.nextInt(3)).mkString(" "))
    val embedUs = perItemUs(Queries) { queries.foreach(q => sink += HashEmbedder.embed(q).length) }
    blackhole = sink
    Map(
      "extract.parse_us" -> parseUs,
      "extract.headers_us" -> headersUs,
      "extract.order_us" -> orderUs,
      "extract.emit_us" -> emitUs,
      "extract.kernel_us" -> kernelUs,
      "extract.row_us" -> rowUs,
      "extract.sample_turns" -> n.toDouble,
      "chunk.sections_us_per_doc" -> chunkUs,
      "chunk.chunks_per_doc" -> chunks.toDouble / n,
      "rag.embed_query_us" -> embedUs)
  }
}
