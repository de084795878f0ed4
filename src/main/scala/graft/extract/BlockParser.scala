package graft.extract

import java.nio.charset.StandardCharsets.UTF_8

/** C1 — page/block tokenization (SURVEY.md §2.2).
  *
  * The reference delegates span extraction to PyMuPDF
  * (`page.get_text("dict")` inside pymupdf4llm 0.0.27; reference:
  * /root/reference/src/pdf_extractor/converter.py:218). In the
  * transcript table the same information arrives as a serialized
  * block stream — one line per block (FIXTURES.md §2):
  *
  *  - `P<page>\t<x0>,<y0>,<x1>,<y1>\t<fontSize>\t<flags>\t<content>`
  *  - `H\t<tagPath>\t<linkChars>\t<content>`
  *  - anything else → a Plain text block (body paragraph).
  *
  * Parsing is total: malformed structured lines degrade to Plain
  * blocks (mirrors the reference's per-document error tolerance,
  * converter.py:234-242, at line granularity).
  *
  * Lines are parsed IN PLACE over the payload's UTF-8 bytes: a block
  * records the offsets of its text and tag path, and its numeric
  * fields are read without decoding. Every separator of the grammar
  * is ASCII, and no byte of a multi-byte UTF-8 sequence is ASCII, so
  * byte offsets split the text exactly where the decoded String would.
  * The line scan also validates the UTF-8 as it goes; a block's
  * UTF-16 length is its byte length unless its line holds a non-ASCII
  * byte, and only then is it counted.
  */
object BlockParser {

  /** Blocks of a String payload (its UTF-8 encoding, a fresh instance). */
  def parse(payload: String): Blocks = {
    val out = new Blocks
    if (payload != null) {
      val b = payload.getBytes(UTF_8)
      parseInto(out, b, 0, b.length)
    }
    out
  }

  /** Parse `bytes[from, to)` into `out` (cleared first). Returns false,
    * leaving `out` unspecified, when the bytes are not well-formed
    * UTF-8: the caller re-encodes the decoded payload (malformed
    * sequences become U+FFFD, as `UTF8String.toString` makes them) and
    * parses that.
    */
  def parseInto(out: Blocks, bytes: Array[Byte], from: Int, to: Int): Boolean = {
    out.clear(bytes)
    var seq = 0
    var start = from
    while (start < to) {
      // to the line end, validating each non-ASCII character
      var i = start
      var ascii = true
      while (i < to && bytes(i) != '\n') {
        if (bytes(i) >= 0) i += 1
        else {
          val n = sequenceLength(bytes, i, to)
          if (n == 0) return false
          ascii = false
          i += n
        }
      }
      if (i > start) {
        parseLine(out, bytes, start, i, ascii, seq)
        seq += 1
      }
      start = i + 1
    }
    true
  }

  /** byte length of the well-formed UTF-8 sequence at `i` whose lead
    * byte is not ASCII (Unicode Table 3-7: no overlong forms, no
    * surrogates, nothing above U+10FFFF); 0 when it is malformed
    */
  private def sequenceLength(s: Array[Byte], i: Int, to: Int): Int = {
    val b0 = s(i) & 0xff
    @inline def cont(k: Int, lo: Int, hi: Int): Boolean =
      i + k < to && { val c = s(i + k) & 0xff; c >= lo && c <= hi }
    if (b0 >= 0xc2 && b0 <= 0xdf) { if (cont(1, 0x80, 0xbf)) 2 else 0 }
    else if (b0 >= 0xe0 && b0 <= 0xef) {
      val lo = if (b0 == 0xe0) 0xa0 else 0x80
      val hi = if (b0 == 0xed) 0x9f else 0xbf
      if (cont(1, lo, hi) && cont(2, 0x80, 0xbf)) 3 else 0
    } else if (b0 >= 0xf0 && b0 <= 0xf4) {
      val lo = if (b0 == 0xf0) 0x90 else 0x80
      val hi = if (b0 == 0xf4) 0x8f else 0xbf
      if (cont(1, lo, hi) && cont(2, 0x80, 0xbf) && cont(3, 0x80, 0xbf)) 4 else 0
    } else 0
  }

  /** UTF-16 length of well-formed UTF-8 `s[from, to)` */
  private def chars(s: Array[Byte], from: Int, to: Int): Int = {
    var n = 0
    var i = from
    while (i < to) {
      val b = s(i)
      if ((b & 0xc0) != 0x80) n += 1
      if ((b & 0xf8) == 0xf0) n += 1
      i += 1
    }
    n
  }

  /** the line `s[from, to)`, all ASCII or not */
  private def parseLine(out: Blocks, s: Array[Byte], from: Int, to: Int,
      ascii: Boolean, seq: Int): Unit = {
    val parsed =
      if (s(from) == 'P') parsePdf(out, s, from, to, ascii, seq)
      else if (to - from >= 2 && s(from) == 'H' && s(from + 1) == '\t')
        parseHtml(out, s, from, to, ascii, seq)
      else false
    if (!parsed)
      out.add(Blocks.Plain, 0, 0, 0, 0, 0, 0.0, 0, from, 0, 0,
        from, to - from, if (ascii) to - from else chars(s, from, to), seq)
  }

  // field scans are BOUNDED manual loops over the line: a missing
  // separator must not scan to the end of the payload (O(n²) on
  // adversarial 'P'-prefixed prose)

  /** next `c` within [from,to); -1 when missing */
  @inline private def next(s: Array[Byte], c: Int, from: Int, to: Int): Int = {
    var i = from
    while (i < to) {
      if (s(i) == c) return i
      i += 1
    }
    -1
  }

  private val Pow10: Array[Double] =
    Array.tabulate(16)(i => math.pow(10, i)) // 10^0..10^15, all exact

  /** Double.parseDouble of s[from,to) with an allocation-free fast
    * path for the dominant coordinate shape `-?d+(.d+)?` at ≤ 15
    * digits: both the mantissa integer and 10^frac are exactly
    * representable, so ONE correctly-rounded division yields the same
    * bits parseDouble's general algorithm produces (the classic
    * Clinger fast path). Anything else — signs, exponents, hex
    * floats, NaN/Infinity, whitespace, > 15 digits — decodes the
    * field and calls parseDouble, preserving exact JDK semantics
    * including its NumberFormatException.
    */
  private def parseDoubleField(s: Array[Byte], from: Int, to: Int): Double = {
    var i = from
    var neg = false
    if (i < to && s(i) == '-') { neg = true; i += 1 }
    var m = 0L
    var digits = 0
    var frac = 0
    var seenDot = false
    var simple = i < to
    while (simple && i < to) {
      val c = s(i)
      if (c >= '0' && c <= '9') {
        m = m * 10 + (c - '0')
        digits += 1
        if (seenDot) frac += 1
        i += 1
      } else if (c == '.' && !seenDot && i + 1 < to) {
        seenDot = true
        i += 1
      } else simple = false
    }
    if (!simple || digits == 0 || digits > 15 || (seenDot && frac == 0))
      return java.lang.Double.parseDouble(new String(s, from, to - from, UTF_8))
    val v = if (frac == 0) m.toDouble else m.toDouble / Pow10(frac)
    if (neg) -v else v
  }

  /** Integer.parseInt of s[from,to): ASCII digit runs of ≤ 9 digits in
    * place; anything else (signs, Unicode digits, overflow, empty)
    * decodes the field and calls parseInt, which throws on malformed.
    */
  private def parseIntField(s: Array[Byte], from: Int, to: Int): Int = {
    var v = 0
    var i = from
    while (i < to && i - from < 9 && s(i) >= '0' && s(i) <= '9') {
      v = v * 10 + (s(i) - '0')
      i += 1
    }
    if (i == to && to > from) v
    else Integer.parseInt(new String(s, from, to - from, UTF_8))
  }

  /** `P<page>\t<x0>,<y0>,<x1>,<y1>\t<fontSize>\t<flags>\t<content>`
    * parsed in [from,to); false on any malformed field (the caller
    * degrades the line to Plain). One pass finds the first four tabs
    * and the first three commas between the first two, then each field
    * is parsed alone.
    */
  private def parsePdf(out: Blocks, s: Array[Byte], from: Int, to: Int,
      ascii: Boolean, seq: Int): Boolean = {
    var t1, t2, t3, t4 = -1
    var c1, c2, c3 = -1
    var i = from + 1
    while (t4 < 0 && i < to) {
      val c = s(i)
      if (c == '\t') {
        if (t1 < 0) t1 = i else if (t2 < 0) t2 = i else if (t3 < 0) t3 = i else t4 = i
      } else if (c == ',' && t1 >= 0 && t2 < 0) {
        if (c1 < 0) c1 = i else if (c2 < 0) c2 = i else if (c3 < 0) c3 = i
      }
      i += 1
    }
    if (t4 < 0 || c3 < 0) return false
    try {
      val page = parseIntField(s, from + 1, t1)
      val x0 = parseDoubleField(s, t1 + 1, c1)
      val y0 = parseDoubleField(s, c1 + 1, c2)
      val x1 = parseDoubleField(s, c2 + 1, c3)
      val y1 = parseDoubleField(s, c3 + 1, t2)
      val fontSize = parseDoubleField(s, t2 + 1, t3)
      val flags = parseIntField(s, t3 + 1, t4)
      out.add(Blocks.Pdf, page, x0, y0, x1, y1, fontSize, flags, from, 0, 0,
        t4 + 1, to - t4 - 1, if (ascii) to - t4 - 1 else chars(s, t4 + 1, to), seq)
      true
    } catch { case _: NumberFormatException => false }
  }

  /** `H\t<tagPath>\t<linkChars>\t<content>` parsed in [from,to). */
  private def parseHtml(out: Blocks, s: Array[Byte], from: Int, to: Int,
      ascii: Boolean, seq: Int): Boolean = {
    val t1 = from + 1 // line starts with "H\t"
    val t2 = next(s, '\t', t1 + 1, to); if (t2 < 0) return false
    val t3 = next(s, '\t', t2 + 1, to); if (t3 < 0) return false
    try {
      val linkChars = parseIntField(s, t2 + 1, t3)
      out.add(Blocks.Html, 0, 0, 0, 0, 0, 0.0, 0, t1 + 1, t2 - t1 - 1, linkChars,
        t3 + 1, to - t3 - 1, if (ascii) to - t3 - 1 else chars(s, t3 + 1, to), seq)
      true
    } catch { case _: NumberFormatException => false }
  }
}
