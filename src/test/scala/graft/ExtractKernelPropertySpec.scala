package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.unsafe.types.UTF8String
import graft.extract._
import graft.gen.TranscriptGen

/** The byte kernel against the String reference ([[ExtractReference]]):
  * `extractRow` must return the same (status, markdown, error) bytes on
  * seeded conversations and on adversarial payloads, and its phases
  * must cost time linear in their input. Spark-free.
  */
class ExtractKernelPropertySpec extends AnyFunSuite {

  private def check(p: Prop, cases: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(cases).withWorkers(1), p)
    assert(res.passed, res.status.toString)
  }

  /** (status, markdown, error) of the kernel and of the reference */
  private def rows(u: UTF8String): (Seq[Array[Byte]], Seq[Array[Byte]]) = {
    val r = ExtractPipeline.extractRow(u)
    val (s, m, e) = ExtractReference.row(u)
    ((0 until 3).map(r.getUTF8String(_).getBytes), Seq(s, m, e).map(_.getBytes))
  }

  private def equal(got: Seq[Array[Byte]], ref: Seq[Array[Byte]]): Boolean =
    got.zip(ref).forall { case (g, r) => java.util.Arrays.equals(g, r) }

  /** the kernel's row equals the reference's, byte for byte */
  private def sameRow(u: UTF8String): Boolean = {
    val (got, ref) = rows(u)
    equal(got, ref)
  }

  test("extractRow equals the String reference on seeded conversations (3 seeds)") {
    val conv = for {
      seed <- Gen.oneOf(3L, 301L, 9001L)
      idx <- Gen.choose(0L, 4999L)
    } yield (seed, idx)
    check(Prop.forAllNoShrink(conv) { case (seed, idx) =>
      TranscriptGen.genConv(seed, idx)._1.forall(t => sameRow(UTF8String.fromString(t.text)))
    }, 300)
  }

  // ------------------------------------------------ adversarial payloads

  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** text pieces: 1- to 4-byte characters, Unicode spaces (whitespace or
    * not to `Character.isWhitespace`), list markers, table syntax,
    * fences, '\r', tabs, and malformed or surrogate byte sequences
    */
  private val malformed: Seq[Array[Byte]] = Seq(
    Array(0xff), Array(0x80), Array(0xc0, 0x80), Array(0xe2, 0x82),
    Array(0xed, 0xa0, 0x80), Array(0xed, 0xbf, 0xbf), Array(0xf4, 0x90, 0x80, 0x80),
    Array(0xf0, 0x80, 0x80, 0x80), Array(0xc2), Array(0xe0, 0x80, 0xaf),
    Array(0xf8, 0x88, 0x80, 0x80, 0x80)).map(_.map(_.toByte))
  private val spaces = Seq(" ", "\t", "\u2003", "\u00a0", "\u3000", "\u2028", "\u1680",
    "\u2007", "\u202f", "\u0085", "\u001c", "\u000b", "\f", "\r")
  private val piece: Gen[Array[Byte]] = Gen.frequency(
    6 -> Gen.oneOf("alpha", "beta gamma", "x", "Σ", "é", "ß", "中文", "€", "😀",
      "𝟎", "٣", "AT+CFUN", "a.b").map(utf8),
    3 -> Gen.oneOf(spaces).map(utf8),
    3 -> Gen.oneOf("- ", "* ", "• ", "1. ", "1) ", "12.", "3)", "•", "-", "*", "1.",
      "07. ", "١. ").map(utf8),
    2 -> Gen.oneOf("|", "||", " a | b |", "|-|", "```", "```py", "# ", "**", "\r",
      "\t\t", "/", ",").map(utf8),
    1 -> Gen.oneOf(malformed),
    1 -> Gen.const(utf8("\ud800")), // a lone surrogate: '?' once encoded
    1 -> Gen.oneOf(spaces).map(s => utf8(s + s)))
  private val text: Gen[Array[Byte]] =
    Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, piece)).map(_.toArray.flatten)
  private val longText: Gen[Array[Byte]] =
    Gen.zip(text, Gen.choose(1, 1 << 12)).map { case (t, k) =>
      cat(Seq.fill(k)(if (t.isEmpty) utf8("w") else t): _*) }

  private val page = Gen.oneOf("0", "0", "1", "2", "12", "-1", "+2", "", "x", "٣", "１",
    "99999999999", "2147483647", "2147483648", "007", "1 ")
  private val coord = Gen.oneOf("50", "300", "50.0", "240", "490", "72.0", "614.3", "0",
    "-0.0", ".5", "1.", "1e3", "1E-2", "NaN", "Infinity", "-Infinity", "0x1.8p1", " 1.5",
    "12345678901234567.5", "١٢", "1d", "-", "", "abc", "3")
  private val size = Gen.frequency(8 -> Gen.oneOf("10", "10.0", "12", "14", "18", "24"),
    1 -> coord)
  private val flags = Gen.frequency(6 -> Gen.oneOf("0", "1", "2", "3", "4", "8"),
    1 -> Gen.oneOf("9", "12", "٨", "", "+4", "-8", "x"))
  private val tag = Gen.oneOf("body/article/p", "body/nav/a", "body/article/h1",
    "body/article/h2", "body/article/h6", "body/article/h7", "body/article/pre",
    "body/article/code", "code", "body/ul/li", "li", "body/blockquote", "", "/", "nav",
    "body/footer/p", "a//b", "body/article/pré", "body/div/a", "body/aside")
  private val links = Gen.oneOf("0", "0", "5", "40", "٣", "", "-3", "999")

  private def cat(parts: Any*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    parts.foreach {
      case s: String => out.write(utf8(s))
      case b: Array[Byte] => out.write(b)
    }
    out.toByteArray
  }

  private val pdfLine: Gen[Array[Byte]] = for {
    p <- page; x0 <- coord; y0 <- coord; x1 <- coord; y1 <- coord
    fs <- size; fl <- flags; t <- text
  } yield cat("P", p, "\t", x0, ",", y0, ",", x1, ",", y1, "\t", fs, "\t", fl, "\t", t)
  private val htmlLine: Gen[Array[Byte]] = for {
    tg <- tag; lc <- links; t <- text
  } yield cat("H\t", tg, "\t", lc, "\t", t)
  private val brokenLine: Gen[Array[Byte]] = Gen.zip(text, tag, links, coord).flatMap {
    case (t, tg, lc, c) => Gen.oneOf(
      cat("P0\t1,2,3\t10\t0\t", t), cat("P0\t1,2,3,4\t10\t", t), cat("P0\t", c, "\t", t),
      cat("P", t), cat("P"), cat("P\t"), cat("H\t", tg), cat("H\t", tg, "\t", lc),
      cat("H"), cat("H\t"), cat("H", t), cat(t, "\t\t"), cat("P0\t1,2,3,4,5\t10\t0\t", t))
  }
  private val line: Gen[Array[Byte]] = Gen.frequency(
    5 -> pdfLine, 3 -> htmlLine, 2 -> brokenLine, 2 -> text, 1 -> Gen.const(cat("")),
    1 -> Gen.zip(Gen.oneOf("P0\t50,1,490,2\t10\t4\t", "H\tbody/p\t0\t", ""), longText)
      .map { case (h, t) => cat(h, t) })
  private val payload: Gen[Array[Byte]] = for {
    n <- Gen.choose(1, 14)
    ls <- Gen.listOfN(n, line)
    sep <- Gen.frequency(5 -> "\n", 1 -> "\r\n")
    tail <- Gen.oneOf("", "\n", "\n\n")
  } yield cat(ls.reduce((a, b) => cat(a, sep, b)), tail)

  test("extractRow equals the String reference on adversarial payloads") {
    // every case both as its own array and inside a larger one (the
    // kernel parses an on-heap row's bytes where they lie)
    check(Prop.forAll(payload) { p =>
      val before = utf8("P0\t1,2,3,4\t10\t0\tbefore\n")
      val padded = cat(before, p, "\nafter")
      sameRow(UTF8String.fromBytes(p)) &&
        sameRow(UTF8String.fromBytes(padded, before.length, p.length))
    }, 2000)
  }

  test("adversarial shapes, each named: byte equality with the reference") {
    val cases = Seq(
      "2-, 3- and 4-byte text" -> cat("P0\t1,2,3,4\t10\t0\té 中 😀\nH\tbody/p\t1\tß€😀\nplain 😀"),
      "lone surrogate" -> utf8("P0\t1,2,3,4\t10\t0\t\ud800 x\n\udc00"),
      "surrogate bytes" -> cat("H\tbody/p\t0\t", Array(0xed, 0xa0, 0x80).map(_.toByte), "x"),
      "malformed bytes" -> cat("• ", Array(0xff, 0xc0, 0x80).map(_.toByte), " item\nP0\t1,2"),
      "bullet + em space" -> utf8("•\u2003item\n-\u2003item\n*\u3000item\n1.\u2003x\n1)\u2028y"),
      "bullet + nbsp" -> utf8("•\u00a0item\n-\u00a0item\n1.\u00a0x\n1)\u202fy"),
      "Unicode digits in page/flags" -> utf8("P٣\t1,2,3,4\t10\t0\ta\nP0\t1,2,3,4\t10\t٨\tb"),
      "NaN/inf/hex/exponent coordinates" ->
        utf8("P0\tNaN,Infinity,-Infinity,0x1.8p1\t1e1\t1\tz\nP0\t1E-2,.5,1.,12345678901234567.5\t10\t0\tq"),
      "tab-free P lines" -> utf8("Please no tabs\nP6 prose\nP"),
      "H lines with missing fields" -> utf8("H\tbody/p\nH\tbody/p\t3\nH\tbody/h1\tx\ty\nH"),
      "empty and |-only table rows" -> utf8("P0\t1,2,3,4\t10\t8\t\nP0\t1,2,3,5\t10\t8\t|\nP0\t1,2,3,6\t10\t8\t||"),
      "carriage returns and trailing tabs" -> utf8("a\r\nP0\t1,2,3,4\t10\t1\tb\t\t\r\n\r\nH\tp\t0\tc\t"),
      "unbalanced fences" -> utf8("```\nP0\t1,2,3,4\t10\t4\tcode  \n\n\nH\tbody/pre\t0\t```py\ntext  "),
      "very long line" -> cat("P0\t1,2,3,4\t10\t2\t", "é" * (1 << 15), "\n", "x " * (1 << 16)))
    cases.foreach { case (what, p) =>
      val u = UTF8String.fromBytes(p)
      val (got, ref) = rows(u)
      assert(equal(got, ref),
        s"$what: ${got.map(new String(_, UTF_8))} != ${ref.map(new String(_, UTF_8))}")
      assert(new String(got.head, UTF_8) == "ok", what)
    }
  }

  test("extractRow returns a row on its deepest inputs, never an exception") {
    val cases = Seq(
      "a 4 MB tag path" -> cat("H\t", "div/" * (1 << 20), "p\t0\tcontent"),
      "10^4 distinct font sizes" -> utf8((0 until 10000).map(i =>
        s"P0\t0,$i,100,${i + 1}\t${1.0 + i * 0.25}\t0\th$i").mkString("\n")),
      "a 10 MB P line" -> cat("P0\t1,2,3,4\t10\t0\t", "é中😀x" * (1 << 20)),
      "a 4 MB plain line" -> utf8("x " * (1 << 21)))
    cases.foreach { case (what, p) =>
      val r = ExtractPipeline.extractRow(UTF8String.fromBytes(p))
      val (status, md, err) = (r.getUTF8String(0).toString, r.getUTF8String(1), r.getUTF8String(2))
      assert(status == "ok" || status == "err", what)
      assert(if (status == "ok") err.numBytes == 0 && md.numBytes > 0 else err.numBytes > 0, what)
    }
  }

  // ------------------------------------------------------ linear cost

  /** n lines of every kind, tab-free 'P' prose among them */
  private def mixedPayload(n: Int): Array[Byte] = utf8((0 until n).map { i =>
    (i % 5) match {
      case 0 => s"P${i % 3}\t${50 + i % 2 * 250},$i,${240 + i % 2 * 250},${i + 12}\t10\t0\tbody text é $i"
      case 1 => s"H\tbody/article/p\t0\tparagraph 中 $i"
      case 2 => s"P6 prose without tabs $i"
      case 3 => s"- item $i"
      case _ => s"P0\t50,$i,490,${i + 12}\t${if (i % 10 == 4) 18 else 10}\t${i % 16}\tcell|a $i"
    }
  }.mkString("\n"))

  test("block parsing cost is linear in lines and in line length (n vs 4n)") {
    val bs = new Blocks
    def parse(p: Array[Byte]) = () => { BlockParser.parseInto(bs, p, 0, p.length); () }
    val byLines = Linearity.ratio(parse(mixedPayload(1 << 12)), parse(mixedPayload(1 << 14)))
    // a linear parse reads ~4; a per-line scan to the payload's end ~16
    assert(byLines < 8.0, s"4n/n time ratio over lines $byLines")
    // tab-free 'P' prose only: a field scan that ran past its line would
    // cross every later line
    def prose(n: Int) = utf8((0 until n).map(i => s"P$i prose without a tab").mkString("\n"))
    val byProse = Linearity.ratio(parse(prose(1 << 12)), parse(prose(1 << 14)))
    assert(byProse < 8.0, s"4n/n time ratio over tab-free 'P' lines $byProse")
    def longLine(bytes: Int) = cat("P0\t1,2,3,4\t10\t0\t", "é中😀x" * (bytes / 10))
    val byLength = Linearity.ratio(parse(longLine(1 << 18)), parse(longLine(1 << 20)))
    assert(byLength < 8.0, s"4n/n time ratio over line length $byLength")
  }

  test("markdown emission cost is linear in blocks (n vs 4n)") {
    def prepared(n: Int) = {
      val p = mixedPayload(n)
      val bs = new Blocks
      BlockParser.parseInto(bs, p, 0, p.length)
      val levels = Headers.identify(bs)
      ReadingOrder.order(bs)
      () => { MarkdownEmitter.emitNormalized(bs, levels); () }
    }
    val r = Linearity.ratio(prepared(1 << 12), prepared(1 << 14))
    assert(r < 8.0, s"4n/n time ratio $r")
  }

  test("boilerplate classification cost is linear in the tag path (n vs 4n)") {
    def block(bytes: Int) = {
      val bs = new Blocks
      val p = cat("H\t", "div/" * (bytes / 4), "p\t0\tcontent")
      BlockParser.parseInto(bs, p, 0, p.length)
      () => { assert(!Boilerplate.isBoilerplate(bs, 0)); () }
    }
    val r = Linearity.ratio(block(1 << 18), block(1 << 20))
    assert(r < 8.0, s"4n/n time ratio $r")
  }
}
