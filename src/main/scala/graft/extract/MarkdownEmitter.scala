package graft.extract

/** C4–C10 — block classification and Markdown emission (SURVEY.md §2.2).
  *
  * Re-expresses the public rendering semantics of pymupdf4llm 0.0.27
  * (the library the reference pins and calls from
  * /root/reference/src/pdf_extractor/converter.py:218):
  *
  *  - C4 table rows → GitHub pipe tables (first row = header, then a
  *    `|---|` separator matching the header's cell count)
  *  - C5 bullet glyphs (`- `, `• `, `* `) → `- ` list items; numbered
  *    `1. ` / `1) ` items normalized to `1. `
  *  - C6 monospaced spans → fenced ``` code blocks (consecutive mono
  *    spans of a page fold into one fence)
  *  - C7 bold/italic span flags → `**…**` / `*…*` / `***…***`
  *  - C8 page separator `-----` after every PDF page
  *  - C9 HTML blocks rendered by tag (headings, li, pre/code,
  *    blockquote, paragraph) after boilerplate stripping
  *  - C10 reassembly: elements joined by one blank line
  *
  * All rules are pure functions of the ordered blocks; Spark's job is
  * only distribution (ExtractPipeline).
  *
  * The traversal writes every markdown LINE straight into
  * [[LintNormalize.Out]], one reused byte buffer per thread: text is
  * copied from the payload's bytes, and the markup around it is ASCII,
  * so no String is made per block or per line. The String form of
  * these rules (element strings joined by "\n\n", then normalized) is
  * kept in the test sources as the reference; the specs pin the two
  * byte-equal.
  */
object MarkdownEmitter {

  private val outs = ThreadLocal.withInitial[LintNormalize.Out](() => new LintNormalize.Out)

  private def ascii(s: String) = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val PageSep = ascii("-----")
  private val Fence = ascii("```")
  private val Dash = ascii("- ")
  private val NumSep = ascii(". ")
  private val Quote = ascii("> ")
  private val CellSep = ascii("---|")

  /** Markdown bytes (UTF-8) for blocks already put in reading order by
    * [[ReadingOrder.order]], with headers identified: emit + C11
    * lint-normalize + join in one pass over one buffer.
    */
  def emitNormalized(bs: Blocks, levels: Headers.HeaderLevels): Array[Byte] = {
    val out = outs.get()
    out.reset()
    emitTo(bs, levels, out)
    out.result()
  }

  private def emitTo(bs: Blocks, levels: Headers.HeaderLevels,
      out: LintNormalize.Out): Unit = {
    bs.ints1 = Blocks.atLeast(bs.ints1, bs.size)
    val kept = bs.ints1
    var m = 0
    var k = 0
    while (k < bs.size) {
      val b = bs.order(k)
      if (!Boilerplate.isBoilerplate(bs, b)) { kept(m) = b; m += 1 }
      k += 1
    }
    var i = 0
    var lastPdfPage = -1
    var pdfClosed = false
    while (i < m) {
      val b = kept(i)
      // close a PDF page with its separator when the page changes, or
      // when the flow leaves PDF blocks entirely (mixed-kind turns:
      // the separator belongs to the page it closes, not to trailing
      // HTML/plain content)
      if (bs.isPdf(b) && lastPdfPage >= 0 && bs.page(b) != lastPdfPage) {
        out.startElement(); line(out, PageSep)
      }
      if (!bs.isPdf(b) && lastPdfPage >= 0 && !pdfClosed) {
        out.startElement(); line(out, PageSep)
        pdfClosed = true
      }
      if (bs.isPdf(b)) lastPdfPage = bs.page(b)

      if (bs.isPdf(b) && bs.isTableRow(b)) {
        out.startElement()
        val cells = pipeRow(bs, b, out)
        out.beginLine()
        out.put('|')
        var c = 0
        while (c < cells) { out.put(CellSep); c += 1 }
        out.endLine()
        var j = i + 1
        while (j < m && bs.isPdf(kept(j)) && bs.isTableRow(kept(j)) &&
          bs.page(kept(j)) == bs.page(b)) {
          pipeRow(bs, kept(j), out); j += 1
        }
        i = j
      } else if (bs.isPdf(b) && bs.isMono(b)) {
        out.startElement()
        line(out, Fence)
        var j = i
        while (j < m && bs.isPdf(kept(j)) && bs.isMono(kept(j)) &&
          !bs.isTableRow(kept(j)) && bs.page(kept(j)) == bs.page(b)) {
          textLine(bs, kept(j), out); j += 1
        }
        line(out, Fence)
        i = j
      } else if (levels.level(bs, b) > 0) {
        out.startElement()
        heading(bs, b, levels.level(bs, b), out)
        i += 1
      } else if (isListItem(bs, b)) {
        out.startElement()
        var j = i
        while (j < m && sameFlow(bs, kept(j), b) && isListItem(bs, kept(j)) &&
          levels.level(bs, kept(j)) == 0) {
          listLine(bs, kept(j), out); j += 1
        }
        i = j
      } else if (bs.isHtml(b) && isPreOrCode(bs, b)) {
        // consecutive pre/code blocks fold into one fence (same rule
        // as C6 mono spans)
        out.startElement()
        line(out, Fence)
        var j = i
        while (j < m && bs.isHtml(kept(j)) && isPreOrCode(bs, kept(j))) {
          textLine(bs, kept(j), out); j += 1
        }
        line(out, Fence)
        i = j
      } else {
        // C9 — HTML tag → markdown element; C7 styling otherwise
        out.startElement()
        val tag = if (bs.isHtml(b)) tagOf(bs, b) else TagOther
        if (tag >= TagH1) heading(bs, b, tag - TagH1 + 1, out)
        else if (tag == TagQuote) {
          out.beginLine(); out.put(Quote); putTrimmed(bs, b, out); out.endLine()
        } else styled(bs, b, out)
        i += 1
      }
    }
    // terminate the final PDF page (unless already closed at the
    // PDF→non-PDF transition)
    if (lastPdfPage >= 0 && !pdfClosed) { out.startElement(); line(out, PageSep) }
  }

  private def line(out: LintNormalize.Out, s: Array[Byte]): Unit = {
    out.beginLine(); out.put(s); out.endLine()
  }

  private def textLine(bs: Blocks, b: Int, out: LintNormalize.Out): Unit = {
    out.beginLine(); out.put(bs.bytes, bs.textOff(b), bs.textEnd(b)); out.endLine()
  }

  /** `String.trim` is ASCII-only (it drops chars ≤ U+0020), and no
    * byte of a multi-byte sequence is ≤ 0x20: a byte trim is exact
    */
  @inline private def isTrimmed(c: Byte): Boolean = c >= 0 && c <= ' '

  private def putTrimmed(p: Array[Byte], from: Int, to: Int, out: LintNormalize.Out): Unit = {
    var s = from
    var e = to
    while (s < e && isTrimmed(p(s))) s += 1
    while (e > s && isTrimmed(p(e - 1))) e -= 1
    out.put(p, s, e)
  }

  private def putTrimmed(bs: Blocks, b: Int, out: LintNormalize.Out): Unit =
    putTrimmed(bs.bytes, bs.textOff(b), bs.textEnd(b), out)

  private def heading(bs: Blocks, b: Int, level: Int, out: LintNormalize.Out): Unit = {
    out.beginLine()
    var k = 0
    while (k < level) { out.put('#'); k += 1 }
    out.put(' ')
    putTrimmed(bs, b, out)
    out.endLine()
  }

  // list-item recognition is on the per-block hot path (called several
  // times per block) — byte checks, no regex/Matcher allocation

  /** position after the whitespace code points from `from`: the
    * decoded code point decides (`Character.isWhitespace`: U+2003 is
    * whitespace, U+00A0 is not; no supplementary code point is)
    */
  private def skipSpace(p: Array[Byte], from: Int, to: Int): Int = {
    var i = from
    while (i < to) {
      val c = p(i)
      if (c >= 0) {
        if (!Character.isWhitespace(c.toInt)) return i
        i += 1
      } else if ((c & 0xe0) == 0xc0) {
        if (!Character.isWhitespace(((c & 0x1f) << 6) | (p(i + 1) & 0x3f))) return i
        i += 2
      } else if ((c & 0xf0) == 0xe0) {
        if (!Character.isWhitespace(
          ((c & 0x0f) << 12) | ((p(i + 1) & 0x3f) << 6) | (p(i + 2) & 0x3f))) return i
        i += 3
      } else return i
    }
    i
  }

  /** "^[-•*]\s+(.*)$": the start of the item text, or -1 */
  private def bulletRest(bs: Blocks, b: Int): Int = {
    val p = bs.bytes
    val off = bs.textOff(b)
    val end = bs.textEnd(b)
    if (off >= end) return -1
    val after =
      if (p(off) == '-' || p(off) == '*') off + 1
      else if (end - off >= 3 && p(off) == 0xe2.toByte && p(off + 1) == 0x80.toByte &&
        p(off + 2) == 0xa2.toByte) off + 3 // U+2022 •
      else return -1
    val r = skipSpace(p, after, end)
    if (r == after) -1 else r
  }

  /** "^(\d+)[.)]\s+(.*)$": the position of the `.`/`)`, or -1 */
  private def numberedSep(bs: Blocks, b: Int): Int = {
    val p = bs.bytes
    val off = bs.textOff(b)
    val end = bs.textEnd(b)
    var i = off
    while (i < end && p(i) >= '0' && p(i) <= '9') i += 1
    if (i == off || i >= end || (p(i) != '.' && p(i) != ')')) return -1
    if (skipSpace(p, i + 1, end) == i + 1) -1 else i
  }

  private def isListItem(bs: Blocks, b: Int): Boolean =
    if (bulletRest(bs, b) >= 0) !bs.isHtml(b) || tagOf(bs, b) != TagPre
    else if (numberedSep(bs, b) >= 0) true
    else bs.isHtml(b) && tagOf(bs, b) == TagLi

  private def sameFlow(bs: Blocks, a: Int, b: Int): Boolean =
    bs.kind(a) == bs.kind(b) && (!bs.isPdf(a) || bs.page(a) == bs.page(b)) &&
      !bs.isMono(a) && !bs.isTableRow(a)

  private def listLine(bs: Blocks, b: Int, out: LintNormalize.Out): Unit = {
    val p = bs.bytes
    val end = bs.textEnd(b)
    out.beginLine()
    val r = bulletRest(bs, b)
    if (r >= 0) { out.put(Dash); out.put(p, r, end) }
    else {
      val sep = numberedSep(bs, b)
      if (sep >= 0) {
        out.put(p, bs.textOff(b), sep)
        out.put(NumSep)
        out.put(p, skipSpace(p, sep + 1, end), end)
      } else { out.put(Dash); putTrimmed(bs, b, out) }
    }
    out.endLine()
  }

  /** C7 — inline styling from span flags (headings/lists exempt). */
  private def styled(bs: Blocks, b: Int, out: LintNormalize.Out): Unit = {
    val p = bs.bytes
    val off = bs.textOff(b)
    val end = bs.textEnd(b)
    var blank = true
    var k = off
    while (blank && k < end) { blank = isTrimmed(p(k)); k += 1 }
    val stars =
      if (!bs.isPdf(b) || blank) 0
      else (if (bs.isBold(b)) 2 else 0) + (if (bs.isItalic(b)) 1 else 0)
    out.beginLine()
    k = 0
    while (k < stars) { out.put('*'); k += 1 }
    out.put(p, off, end)
    k = 0
    while (k < stars) { out.put('*'); k += 1 }
    out.endLine()
  }

  /** C4 — one pipe-table line from a row whose cells arrive `|`-joined
    * (`split("\\|", -1)` then trim per cell); returns the cell count,
    * which sizes the header row's `|---|` separator.
    */
  private def pipeRow(bs: Blocks, b: Int, out: LintNormalize.Out): Int = {
    val p = bs.bytes
    val end = bs.textEnd(b)
    out.beginLine()
    out.put('|')
    var cells = 0
    var s = bs.textOff(b)
    var more = true
    while (more) {
      var e = s
      while (e < end && p(e) != '|') e += 1
      putTrimmed(p, s, e, out)
      out.put('|')
      cells += 1
      more = e < end
      s = e + 1
    }
    out.endLine()
    cells
  }

  // the last segment of an HTML block's tag path, as a code
  private final val TagOther = 0
  private final val TagPre = 1
  private final val TagCode = 2
  private final val TagLi = 3
  private final val TagQuote = 4
  private final val TagH1 = 11 // h1..h6 = TagH1 .. TagH1 + 5

  private val Blockquote = ascii("blockquote")
  private val Code = ascii("code")
  private val Pre = ascii("pre")

  private def tagOf(bs: Blocks, b: Int): Int = {
    val p = bs.bytes
    val end = bs.tagOff(b) + bs.tagLen(b)
    var s = end
    while (s > bs.tagOff(b) && p(s - 1) != '/') s -= 1
    (end - s) match {
      case 2 if p(s) == 'l' && p(s + 1) == 'i' => TagLi
      case 2 if p(s) == 'h' && p(s + 1) >= '1' && p(s + 1) <= '6' => TagH1 + (p(s + 1) - '1')
      case 3 if Boilerplate.regionIs(p, s, Pre) => TagPre
      case 4 if Boilerplate.regionIs(p, s, Code) => TagCode
      case 10 if Boilerplate.regionIs(p, s, Blockquote) => TagQuote
      case _ => TagOther
    }
  }

  private def isPreOrCode(bs: Blocks, b: Int): Boolean = {
    val t = tagOf(bs, b)
    t == TagPre || t == TagCode
  }
}
