package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import graft.extract._
import graft.extract.ExtractReference.{Block, BlockKind, toBlocks}
import graft.gen.TranscriptGen
import org.apache.spark.unsafe.types.UTF8String

/** Per-turn text equality of the extraction kernel vs the golden
  * renderer (FIXTURES.md §3) — the inverse-check core of the
  * north-rule correctness gate, here exercised Spark-free so failures
  * localize to the kernel. Block-level cases state their blocks as
  * [[ExtractReference.Block]]s and hand the kernel the same blocks in
  * its byte representation ([[ExtractReference.toBlocks]]).
  */
class ExtractGoldenSpec extends AnyFunSuite {

  test("kernel markdown equals golden for 100 seeded conversations") {
    var turns = 0
    var mismatches = 0
    (0L until 100L).foreach { convIdx =>
      val (ts, gs) = TranscriptGen.genConv(42L, convIdx)
      ts.zip(gs).foreach { case (t, g) =>
        turns += 1
        val got = ExtractPipeline.extract(t.text)
        if (got != g.markdown) {
          mismatches += 1
          if (mismatches <= 3) {
            info(s"MISMATCH conv=${t.conv_id} turn=${t.turn_idx} role=${t.role}")
            info("--- payload ---\n" + t.text.take(800))
            info("--- expected ---\n" + g.markdown.take(800))
            info("--- got ---\n" + got.take(800))
          }
        }
      }
    }
    assert(mismatches == 0, s"$mismatches of $turns turns mismatched")
    assert(turns > 500)
  }

  test("fused emitNormalized equals normalizeJoin(emit(...)) on 100 seeded conversations") {
    var turns = 0
    (0L until 100L).foreach { convIdx =>
      val (ts, _) = TranscriptGen.genConv(1042L, convIdx)
      ts.foreach { t =>
        val blocks = BlockParser.parse(t.text)
        if (blocks.nonEmpty) {
          turns += 1
          val hm = Headers.identify(blocks)
          val ordered = ReadingOrder.order(blocks)
          val ref = ExtractReference.parse(t.text)
          val viaElements = ExtractReference.normalizeJoin(ExtractReference.emit(
            ExtractReference.readingOrder(ref), ExtractReference.headerLevels(ref)))
          val fused = new String(MarkdownEmitter.emitNormalized(ordered, hm), UTF_8)
          assert(fused == viaElements,
            s"fused/element divergence conv=${t.conv_id} turn=${t.turn_idx}")
        }
      }
    }
    assert(turns > 500)
  }

  test("'P'-prefixed prose without tabs stays Plain (bounded field scans)") {
    // regression guard for the in-place parser: a tab-free line
    // starting with 'P' must degrade to Plain without scanning beyond
    // its own end (the unbounded-indexOf form was O(payload) per line)
    val payload = "Please note there are no tabs here\n" +
      "P6 looks like a header but is prose\n" +
      "P0\t1,2,3,4\t10\t0\treal pdf line"
    val blocks = BlockParser.parse(payload)
    assert((0 until blocks.size).map(ExtractReference.block(blocks, _).kind) ==
      Vector(BlockKind.Plain, BlockKind.Plain, BlockKind.Pdf))
    assert(ExtractReference.block(blocks, 0).text == "Please note there are no tabs here")
  }

  test("plain single-line text passes through as one paragraph") {
    assert(ExtractPipeline.extract("hello world") == "hello world\n")
  }

  test("empty payload yields empty markdown") {
    assert(ExtractPipeline.extract("") == "")
  }

  /** the kernel's row as (status, markdown, error) */
  private def row(payload: String): (String, String, String) = {
    val r = ExtractPipeline.extractRow(
      if (payload == null) null else UTF8String.fromString(payload))
    (r.getUTF8String(0).toString, r.getUTF8String(1).toString,
      r.getUTF8String(2).toString)
  }

  test("error capture never throws") {
    val (s, _, _) = row(null)
    assert(s == "err")
  }

  test("null and empty payloads report the intended 'empty input' error") {
    assert(row(null) == ("err", "", "empty input"))
    assert(row("") == ("err", "", "empty input"))
  }

  /** C11 over a document, through the kernel's byte buffer */
  private def lintBytes(md: String): String = {
    val out = new LintNormalize.Out
    md.split("\n", -1).foreach { l =>
      out.beginLine(); out.put(l.getBytes(UTF_8)); out.endLine()
    }
    new String(out.result(), UTF_8)
  }

  test("lint normalize collapses blank runs and trailing space") {
    assert(ExtractReference.normalize("a  \n\n\n\nb\n\n") == "a\n\nb\n")
    assert(lintBytes("a  \n\n\n\nb\n\n") == "a\n\nb\n")
  }

  test("lint normalize leaves fenced code interiors verbatim (MD012/MD009 exemption)") {
    val md = "a\n\n```\ncode  \n\n\nmore\n```\n\nb"
    assert(ExtractReference.normalize(md) == "a\n\n```\ncode  \n\n\nmore\n```\n\nb\n")
    assert(lintBytes(md) == "a\n\n```\ncode  \n\n\nmore\n```\n\nb\n")
  }

  test("mixed-kind turn: page separator closes the PDF page before trailing plain text") {
    val payload = "P0\t50,50,490,62\t10\t0\tpdf body text here\n" +
      "this line is malformed plain text"
    val md = ExtractPipeline.extract(payload)
    assert(md == "pdf body text here\n\n-----\n\nthis line is malformed plain text\n")
  }

  test("coordinate parsing equals Double.parseDouble across shapes (fast path + fallbacks)") {
    // the parser's fast decimal path must be bit-identical to
    // parseDouble; exotic shapes must fall back to it (or degrade the
    // line to Plain exactly as the strict parse always did)
    val coords = Seq("72.0", "614.3", "0", "-0.0", "3", "-17.25", ".5",
      "-.5", "1.", "007", "123456789012345.5", "12345678901234567.5",
      "1e3", "1E-2", "Infinity", "-Infinity", "NaN", "0x1.8p1", " 1.5")
    coords.foreach { c =>
      val line = s"P0\t$c,$c,$c,$c\t$c\t0\tpayload"
      val parsed = BlockParser.parse(line)
      assert(parsed.size == 1)
      val b = ExtractReference.block(parsed, 0)
      val expectOk = try { java.lang.Double.parseDouble(c); true }
        catch { case _: NumberFormatException => false }
      if (expectOk) {
        assert(b.kind == BlockKind.Pdf, s"'$c' should parse as PDF")
        val e = java.lang.Double.parseDouble(c)
        assert(java.lang.Double.doubleToLongBits(b.x0) ==
          java.lang.Double.doubleToLongBits(e), s"x0 for '$c'")
        assert(java.lang.Double.doubleToLongBits(b.fontSize) ==
          java.lang.Double.doubleToLongBits(e), s"fontSize for '$c'")
      } else assert(b.kind == BlockKind.Plain, s"'$c' should degrade to Plain")
    }
  }

  test("header histogram ranks sizes above body descending") {
    val blocks = Vector(
      Block(BlockKind.Pdf, 0, 0, 0, 0, 0, 10.0, 0, "", 0, "x" * 100, 0),
      Block(BlockKind.Pdf, 0, 0, 0, 0, 0, 18.0, 0, "", 0, "t1", 1),
      Block(BlockKind.Pdf, 0, 0, 0, 0, 0, 14.0, 0, "", 0, "t2", 2))
    val m = Headers.identify(toBlocks(blocks))
    assert(m.toMap == Map(18.0 -> 1, 14.0 -> 2))
  }

  private def pdf(size: Double, text: String, seq: Int, flags: Int = 0) =
    Block(BlockKind.Pdf, 0, 0, 0, 0, 0, size, flags, "", 0, text, seq)

  /** identify's map and every block's level equal the linear-probe
    * reference (level compared by exact size bits)
    */
  private def assertHeadersMatchReference(bs: Blocks, blocks: Seq[Block], what: String): Unit = {
    val got = Headers.identify(bs)
    val ref = ExtractReference.headerLevels(blocks)
    assert(got.toMap == ref.toMap, what)
    assert(bs.size == blocks.size, what)
    blocks.zipWithIndex.foreach { case (b, i) =>
      assert(got.level(bs, i) == ExtractReference.level(ref, b),
        s"$what: level of size ${b.fontSize}")
    }
  }

  private def assertHeadersMatchReference(blocks: Seq[Block], what: String): Unit =
    assertHeadersMatchReference(toBlocks(blocks), blocks, what)

  test("header identification equals the linear-probe reference on seeded and adversarial blocks") {
    (0L until 100L).foreach { c =>
      TranscriptGen.genConv(7L, c)._1.foreach { t =>
        assertHeadersMatchReference(BlockParser.parse(t.text),
          ExtractReference.parse(t.text), s"conv $c turn ${t.turn_idx}")
      }
    }
    // random lists over a palette of adversarial sizes; HTML blocks,
    // table rows and empty text must stay out of the histogram
    val palette = Array(Double.NaN, -0.0, 0.0, -1.0, 1.0, 10.0, 10.0 + 1e-9,
      12.0, 14.0, 18.0, 1e300, Double.MinPositiveValue,
      Double.PositiveInfinity, Double.NegativeInfinity)
    val rng = new scala.util.Random(11)
    (0 until 500).foreach { k =>
      val bs = Vector.tabulate(rng.nextInt(40)) { i =>
        val kind = if (rng.nextInt(10) == 0) BlockKind.Html else BlockKind.Pdf
        val flags = if (rng.nextInt(8) == 0) Blocks.TableRow else 0
        Block(kind, 0, 0, 0, 0, 0, palette(rng.nextInt(palette.length)), flags,
          "", 0, "x" * rng.nextInt(4), i)
      }
      assertHeadersMatchReference(bs, s"random list $k")
    }
    // -0.0 and 0.0 are two sizes; NaN is one size, never a header
    val zeros = Vector(pdf(-1.0, "body text", 0), pdf(-0.0, "a", 1),
      pdf(0.0, "b", 2), pdf(Double.NaN, "cc", 3), pdf(Double.NaN, "cc", 4))
    val zb = toBlocks(zeros)
    assert(Headers.identify(zb).level(zb, 1) == 2)
    assert(Headers.identify(zb).level(zb, 2) == 1)
    assertHeadersMatchReference(zeros, "signed zeros and NaN")
    // equal counts: the smaller size is body
    val tie = Vector(pdf(12.0, "aaaa", 0), pdf(10.0, "bbbb", 1), pdf(14.0, "c", 2))
    assert(Headers.identify(toBlocks(tie)).toMap == Map(14.0 -> 1, 12.0 -> 2))
    assertHeadersMatchReference(tie, "tie")
    // 10^4 distinct sizes: every size above body is a header, levels cap at 6
    val many = Vector.tabulate(10000)(i =>
      pdf(1.0 + i * 0.25, if (i == 0) "body text" else "h", i))
    assert(Headers.identify(toBlocks(many)).toMap.size == 9999)
    assertHeadersMatchReference(many, "10^4 distinct sizes")
  }

  test("header identification cost is linear in distinct font sizes (n vs 4n)") {
    def blocksOf(d: Int) = toBlocks(Vector.tabulate(d)(i =>
      pdf(1.0 + i, if (i == 0) "body text" else "h", i)))
    val small = blocksOf(1 << 13)
    val large = blocksOf(1 << 15)
    // identify once, then one level lookup per block (the emitter's use)
    var sink = 0L
    def run(bs: Blocks): () => Unit = () => {
      val h = Headers.identify(bs)
      (0 until bs.size).foreach(i => sink += h.level(bs, i))
    }
    val ratio = Linearity.ratio(run(small), run(large))
    // linear reads ~4; quadratic would read ~16
    assert(ratio < 8.0, s"4n/n time ratio $ratio")
  }

  test("reading order: two columns read left column first") {
    def b(x0: Double, y0: Double, seq: Int, t: String) =
      Block(BlockKind.Pdf, 0, x0, y0, x0 + 100, y0 + 10, 10.0, 0, "", 0, t, seq)
    val blocks = Vector(b(300, 50, 0, "R1"), b(50, 60, 1, "L2"),
      b(50, 50, 2, "L1"), b(300, 60, 3, "R2"))
    val bs = ReadingOrder.order(toBlocks(blocks))
    val ordered = (0 until bs.size).map(k => ExtractReference.block(bs, bs.order(k)).text)
    assert(ordered == Vector("L1", "L2", "R1", "R2"))
  }

  /** the kernel's order (block indices) equals the reference's order of
    * the same blocks (their positions, found by identity)
    */
  private def assertOrderMatchesReference(bs: Blocks, blocks: Seq[Block], what: String): Unit = {
    val got = ReadingOrder.order(bs).order.take(bs.size).toVector
    val ref = ExtractReference.readingOrder(blocks).map(r => blocks.indexWhere(_ eq r))
    assert(got == ref, s"$what:\n$got\n$ref")
  }

  private def assertOrderMatchesReference(blocks: Seq[Block], what: String): Unit =
    assertOrderMatchesReference(toBlocks(blocks), blocks, what)

  test("reading order equals the linear-probe reference on seeded and adversarial pages") {
    (0L until 100L).foreach { c =>
      TranscriptGen.genConv(7L, c)._1.foreach { t =>
        assertOrderMatchesReference(BlockParser.parse(t.text),
          ExtractReference.parse(t.text), s"conv $c turn ${t.turn_idx}")
      }
    }
    // x coordinates from a palette with NaN, signed zeros, infinities
    // and values that make touching (x1 == next x0) and inverted
    // (x1 < x0) intervals; repeated seqs, y0 ties, several pages and
    // non-PDF blocks mixed in
    val xs = Array(Double.NaN, -0.0, 0.0, -1.0, 1.0, 2.0, 3.0, 5.0, 5.0 + 1e-9,
      100.0, Double.PositiveInfinity, Double.NegativeInfinity)
    val rng = new scala.util.Random(13)
    (0 until 2000).foreach { k =>
      val bs = Vector.tabulate(rng.nextInt(30)) { i =>
        val kind = if (rng.nextInt(10) == 0) BlockKind.Html else BlockKind.Pdf
        Block(kind, rng.nextInt(3), xs(rng.nextInt(xs.length)), rng.nextInt(4).toDouble,
          xs(rng.nextInt(xs.length)), 0, 10.0, 0, "", 0, "t", rng.nextInt(25))
      }
      assertOrderMatchesReference(bs, s"random page $k")
    }
    // many disjoint columns, one block each, plus blocks between them
    val cols = Vector.tabulate(300)(i =>
      Block(BlockKind.Pdf, 0, 3.0 * i, (i * 7919 % 300).toDouble, 3.0 * i + 1, 0,
        10.0, 0, "", 0, "c", i) )
    val gaps = Vector.tabulate(50)(i =>
      Block(BlockKind.Pdf, 0, 3.0 * i + 2, 0, 3.0 * i + 2, 0, 10.0, 0, "", 0, "g", 300 + i))
    assertOrderMatchesReference(cols ++ gaps, "300 columns")
  }

  test("reading order cost is linear-logarithmic in the columns of a page (n vs 4n)") {
    // n blocks in n disjoint x ranges on one page, seq shuffled
    def pageOf(n: Int) = {
      val seqs = new scala.util.Random(17).shuffle((0 until n).toVector)
      toBlocks(Vector.tabulate(n)(i => Block(BlockKind.Pdf, 0, 3.0 * seqs(i),
        (i % 11).toDouble, 3.0 * seqs(i) + 1, 0, 10.0, 0, "", 0, "c", i)))
    }
    val small = pageOf(1 << 12)
    val large = pageOf(1 << 14)
    val ratio = Linearity.ratio(() => ReadingOrder.order(small), () => ReadingOrder.order(large))
    // n log² n (a binary search per comparison) reads ~5.4; the linear
    // probe (n² log n) read 19
    assert(ratio < 8.0, s"4n/n time ratio $ratio")
  }

  test("boilerplate: nav/footer and link-dense blocks are dropped") {
    def h(path: String, lc: Int, t: String) =
      toBlocks(Vector(Block(BlockKind.Html, 0, 0, 0, 0, 0, 0, 0, path, lc, t, 0)))
    assert(Boilerplate.isBoilerplate(h("body/nav/a", 20, "home docs api blog"), 0))
    assert(Boilerplate.isBoilerplate(h("body/div/a", 40, "a" * 60), 0))
    assert(!Boilerplate.isBoilerplate(h("body/article/p", 0, "real content here"), 0))
  }
}
