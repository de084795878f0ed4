package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.extract.ExtractPipeline
import graft.gen.TranscriptGen

/** One transcript turn with its golden markdown beside it. The golden
  * column is never read by the timed passes (parquet column pruning).
  */
final case class GoldenTurn(conv_id: String, turn_idx: Int, role: String, text: String,
    tool: String, ts: Timestamp, golden: String)

object Inputs {
  /** Seeded transcript corpus of `convs` conversations (1% of them at
    * 50× the median turn count), written as `files` parquet files.
    */
  def write(ctx: Ctx, seed: Long, from: Long, convs: Long, files: Int, dir: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    spark.range(from, from + convs, 1, files).flatMap { i =>
      val (rows, golden) = TranscriptGen.genConv(seed, i)
      rows.zip(golden).map { case (r, g) =>
        GoldenTurn(r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts, g.markdown)
      }
    }.write.parquet(dir)
  }

  def bytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length
    walk(new java.io.File(dir))
  }

  def files(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else 1L
    walk(new java.io.File(dir))
  }
}

/** extract_bulk: repeated passes of ExtractPipeline.overTranscripts and
  * the C13 summary fold over a seeded, skewed corpus. Unit = one pass,
  * item = one turn.
  */
final class ExtractBulk extends Workload {
  val name = "extract_bulk"
  val Convs = 5000L
  val Files = 16
  /** pass times keep falling for ~1.5M turns while the kernel JITs */
  val WarmPasses = 16

  private var corpus: String = _
  private var turns = 0L
  private var firstHash: Option[Long] = None
  private val passProblems = scala.collection.mutable.ArrayBuffer[String]()
  private var outBytes = 0L
  private var errRows = 0L

  def setup(ctx: Ctx, dir: String): Unit = {
    corpus = s"$dir/corpus"
    Inputs.write(ctx, ctx.seed, 0L, Convs, Files, corpus)
  }

  def inputs(ctx: Ctx): Map[String, Any] = Map(
    "conversations" -> Convs, "turns" -> turns, "parquet_bytes" -> Inputs.bytes(corpus),
    "files" -> Files, "skewed_conversations" -> Convs / 100,
    "skewed_turns_each" -> TranscriptGen.turnCount(ctx.seed, 99L))

  private def extracted(ctx: Ctx): DataFrame =
    ExtractPipeline.overTranscripts(ctx.spark.read.parquet(corpus))

  /** One pass: kernel over every turn, then the summary fold with an
    * order-independent hash of the output.
    */
  private def pass(ctx: Ctx): (Long, Long, Long, Long, Long) = {
    val r = extracted(ctx).agg(
      count(when(col("status") === "ok", 1)),
      count(when(col("status") === "err", 1)),
      count(lit(1)),
      coalesce(bit_xor(xxhash64(col("conv_id"), col("turn_idx"), col("markdown"))), lit(0L)),
      coalesce(sum(octet_length(col("markdown"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  def warm(ctx: Ctx): Unit = {
    turns = ctx.spark.read.parquet(corpus).count()
    (1 to WarmPasses).foreach(_ => pass(ctx))
  }

  def measure(ctx: Ctx, seconds: Double): Window = {
    val times = scala.collection.mutable.ArrayBuffer[Double]()
    val errors = scala.collection.mutable.Map[String, Int]()
    var failed = 0L
    var items = 0L
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline || times.isEmpty) {
      val t0 = System.nanoTime()
      try {
        val (ok, err, total, hash, mdBytes) =
          ctx.tracer.span("extract.pass", "extract") { pass(ctx) }
        val bad = firstHash.exists(_ != hash) || err != 0 || total != turns || ok != turns
        if (firstHash.isEmpty) firstHash = Some(hash)
        if (bad) {
          failed += 1
          errors("WrongOutput") = errors.getOrElse("WrongOutput", 0) + 1
          passProblems += s"pass output differs: ok=$ok err=$err total=$total/$turns hash=$hash"
        } else items += total
        outBytes = mdBytes
        errRows += err
      } catch {
        case e: Exception =>
          failed += 1
          errors(e.getClass.getSimpleName) = errors.getOrElse(e.getClass.getSimpleName, 0) + 1
      }
      times += (System.nanoTime() - t0) / 1e6
    }
    Window(times.toSeq, times.size, failed, items, (System.nanoTime() - start) / 1e9, errors.toMap)
  }

  def check(ctx: Ctx): Seq[String] = {
    val golden = ctx.spark.read.parquet(corpus).select("conv_id", "turn_idx", "golden")
    val r = extracted(ctx).join(golden, Seq("conv_id", "turn_idx"), "full_outer").agg(
      count(lit(1)),
      count(when(col("markdown").isNull || col("golden").isNull ||
        col("markdown") =!= col("golden"), 1)),
      count(when(col("status") =!= "ok", 1))).head()
    val mismatches = r.getLong(1)
    val errs = r.getLong(2)
    passProblems.toSeq ++
      (if (r.getLong(0) != turns) Seq(s"golden join has ${r.getLong(0)} rows, corpus $turns") else Nil) ++
      (if (mismatches != 0) Seq(s"$mismatches turns differ from the golden markdown") else Nil) ++
      (if (errs != 0) Seq(s"$errs turns have status err") else Nil)
  }

  def named(ctx: Ctx, w: Window, cpuPerUnit: Double): Seq[(String, Double, String)] =
    Seq(("turns_per_s", w.items / w.wallS, "turns/s"))

  override def layers(ctx: Ctx, w: Window): Map[String, Double] = {
    // scan-only passes over the columns the kernel reads
    val scans = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val r = ctx.tracer.span("scan.pass", "scan") {
        ctx.spark.read.parquet(corpus)
          .agg(sum(octet_length(col("text"))), count(col("conv_id")), sum(col("turn_idx"))).head()
      }
      ((System.nanoTime() - t0) / 1e9, r.getLong(0))
    }
    ctx.drain()
    val passSpans = ctx.tracer.spans.filter(_.name == "extract.pass")
    val stageCpu = passSpans.map(s => ctx.tracer.inclusive(s, ctx.traced).cpuNs).sum / 1e9 /
      math.max(1, passSpans.size)
    Map(
      "scan.s" -> Stats.median(scans.map(_._1)),
      // payload bytes the scan decodes for the kernel
      "scan.bytes" -> scans.head._2.toDouble,
      "extract.stage_cpu_s" -> stageCpu,
      "extract.bytes_out_per_in" -> outBytes.toDouble / scans.head._2,
      "extract.err_rows" -> errRows.toDouble)
  }
}
