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
  * All rules are pure `Seq[Block] → Seq[String]`; Spark's job is only
  * distribution (ExtractPipeline).
  *
  * The traversal writes into a [[LineSink]]. The kernel's sink
  * ([[emitNormalized]]) streams every markdown LINE straight into
  * LintNormalize's state machine — the per-element strings, the
  * `\n\n` join and the re-split the normalizer then did were one extra
  * copy of the whole document on the kernel's hottest path. The
  * element-vector form, kept in the test sources as the reference,
  * is a second sink over the same traversal; ExtractGoldenSpec pins
  * the two equal, and the golden per-turn gate runs over the fused
  * path.
  */
object MarkdownEmitter {

  /** Consumer of the emitted markdown: elements arrive as one
    * startElement() followed by one line(...) per markdown line (block
    * text never contains '\n' — BlockParser splits on it).
    */
  private[extract] trait LineSink {
    def startElement(): Unit
    def line(s: String): Unit
  }

  /** streams lines into LintNormalize's state machine, byte-identical
    * to normalizing the elements joined by "\n\n": the element break
    * is the same empty line that join contributes.
    */
  private final class LintSink(st: LintNormalize.State) extends LineSink {
    private var first = true
    def startElement(): Unit = {
      if (!first) st.line("", 0, 0)
      first = false
    }
    def line(s: String): Unit = st.line(s, 0, s.length)
  }

  // list-item recognition is on the per-block hot path (called several
  // times per block) — char checks, no regex/Matcher allocation
  private def bulletRest(t: String): String = {
    // "^[-•*]\s+(.*)$"
    if (t.length < 2) return null
    val c = t.charAt(0)
    if (c != '-' && c != '•' && c != '*') return null
    var i = 1
    while (i < t.length && Character.isWhitespace(t.charAt(i))) i += 1
    if (i == 1) null else t.substring(i)
  }

  private def numberedParts(t: String): (String, String) = {
    // "^(\d+)[.)]\s+(.*)$"
    var i = 0
    while (i < t.length && t.charAt(i) >= '0' && t.charAt(i) <= '9') i += 1
    if (i == 0 || i >= t.length) return null
    val sep = t.charAt(i)
    if (sep != '.' && sep != ')') return null
    var j = i + 1
    while (j < t.length && Character.isWhitespace(t.charAt(j))) j += 1
    if (j == i + 1) null else (t.substring(0, i), t.substring(j))
  }

  /** Markdown for blocks already in reading order, with headers
    * identified: emit + C11 lint-normalize + join in one pass, with
    * one output buffer and no per-element strings. Byte-identical to
    * normalizing the emitted elements joined by "\n\n".
    */
  def emitNormalized(blocks: Seq[Block], headerMap: Headers.HeaderLevels): String = {
    val st = new LintNormalize.State(new java.lang.StringBuilder(256))
    emitTo(blocks, headerMap, new LintSink(st))
    st.finish()
  }

  private[extract] def emitTo(blocks: Seq[Block], headerMap: Headers.HeaderLevels,
      out: LineSink): Unit = {
    val kept = blocks.filterNot(Boilerplate.isBoilerplate)
    var i = 0
    var lastPdfPage = -1
    var pdfClosed = false
    while (i < kept.length) {
      val b = kept(i)
      // close a PDF page with its separator when the page changes, or
      // when the flow leaves PDF blocks entirely (mixed-kind turns:
      // the separator belongs to the page it closes, not to trailing
      // HTML/plain content)
      if (b.kind == BlockKind.Pdf && lastPdfPage >= 0 && b.page != lastPdfPage) {
        out.startElement(); out.line("-----")
      }
      if (b.kind != BlockKind.Pdf && lastPdfPage >= 0 && !pdfClosed) {
        out.startElement(); out.line("-----")
        pdfClosed = true
      }
      if (b.kind == BlockKind.Pdf) lastPdfPage = b.page

      b match {
        case t if t.kind == BlockKind.Pdf && t.isTableRow =>
          var j = i
          out.startElement()
          pipeHeader(kept(j).text, out)
          j += 1
          while (j < kept.length && kept(j).kind == BlockKind.Pdf &&
            kept(j).isTableRow && kept(j).page == t.page) {
            pipeRow(kept(j).text, out); j += 1
          }
          i = j

        case m if m.kind == BlockKind.Pdf && m.isMono =>
          out.startElement()
          out.line("```")
          var j = i
          while (j < kept.length && kept(j).kind == BlockKind.Pdf &&
            kept(j).isMono && !kept(j).isTableRow && kept(j).page == m.page) {
            out.line(kept(j).text); j += 1
          }
          out.line("```")
          i = j

        case h if headerMap.level(h) > 0 =>
          out.startElement()
          out.line("#" * headerMap.level(h) + " " + h.text.trim)
          i += 1

        case _ if isListItem(b) =>
          out.startElement()
          var j = i
          while (j < kept.length && sameFlow(kept(j), b) && isListItem(kept(j)) &&
            headerMap.level(kept(j)) == 0) {
            out.line(listLine(kept(j).text)); j += 1
          }
          i = j

        case pre if pre.kind == BlockKind.Html &&
          (pre.lastTag == "pre" || pre.lastTag == "code") =>
          // consecutive pre/code blocks fold into one fence (same rule
          // as C6 mono spans)
          out.startElement()
          out.line("```")
          var j = i
          while (j < kept.length && kept(j).kind == BlockKind.Html &&
            (kept(j).lastTag == "pre" || kept(j).lastTag == "code")) {
            out.line(kept(j).text); j += 1
          }
          out.line("```")
          i = j

        case html if html.kind == BlockKind.Html =>
          htmlElement(html, out)
          i += 1

        case _ =>
          out.startElement()
          out.line(styled(b))
          i += 1
      }
    }
    // terminate the final PDF page (unless already closed at the
    // PDF→non-PDF transition)
    if (lastPdfPage >= 0 && !pdfClosed) { out.startElement(); out.line("-----") }
  }

  private def isListItem(b: Block): Boolean =
    if (bulletRest(b.text) != null)
      b.kind != BlockKind.Html || b.lastTag != "pre"
    else if (numberedParts(b.text) != null) true
    else b.kind == BlockKind.Html && b.lastTag == "li"

  private def sameFlow(a: Block, b: Block): Boolean =
    a.kind == b.kind && (a.kind != BlockKind.Pdf || a.page == b.page) &&
      !a.isMono && !a.isTableRow

  private def listLine(text: String): String = {
    val b = bulletRest(text)
    if (b != null) return "- " + b
    val n = numberedParts(text)
    if (n != null) n._1 + ". " + n._2
    else "- " + text.trim
  }

  /** C7 — inline styling from span flags (headings/lists exempt). */
  private def styled(b: Block): String = {
    val t = b.text
    if (b.kind != BlockKind.Pdf || t.trim.isEmpty) t
    else if (b.isBold && b.isItalic) s"***$t***"
    else if (b.isBold) s"**$t**"
    else if (b.isItalic) s"*$t*"
    else t
  }

  /** C4 — pipe table; cells arrive `|`-joined in the row's text. The
    * header row also emits the `|---|` separator sized to its cells.
    */
  private def pipeHeader(text: String, out: LineSink): Unit = {
    val header = text.split("\\|", -1).map(_.trim)
    out.line(header.mkString("|", "|", "|"))
    out.line(header.map(_ => "---").mkString("|", "|", "|"))
  }

  private def pipeRow(text: String, out: LineSink): Unit =
    out.line(text.split("\\|", -1).map(_.trim).mkString("|", "|", "|"))

  /** C9 — HTML tag → markdown element (post boilerplate filter). */
  private def htmlElement(b: Block, out: LineSink): Unit = b.lastTag match {
    case "h1" => out.startElement(); out.line("# " + b.text.trim)
    case "h2" => out.startElement(); out.line("## " + b.text.trim)
    case "h3" => out.startElement(); out.line("### " + b.text.trim)
    case "h4" => out.startElement(); out.line("#### " + b.text.trim)
    case "h5" => out.startElement(); out.line("##### " + b.text.trim)
    case "h6" => out.startElement(); out.line("###### " + b.text.trim)
    case "pre" | "code" =>
      out.startElement(); out.line("```"); out.line(b.text); out.line("```")
    case "blockquote" => out.startElement(); out.line("> " + b.text.trim)
    case "li" => out.startElement(); out.line(listLine(b.text))
    case _ => out.startElement(); out.line(b.text)
  }
}
