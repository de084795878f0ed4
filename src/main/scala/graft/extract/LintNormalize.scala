package graft.extract

/** C11 — deterministic markdownlint-fix subset (SURVEY.md §2.2).
  *
  * The reference shells out to `markdownlint --fix` and silently skips
  * it when the binary is missing
  * (/root/reference/src/pdf_extractor/converter.py:147-196,227-230), so
  * its output is environment-dependent. We implement the deterministic
  * subset our golden fixtures exercise (generated on the `--no-lint`
  * path, converter.py:81-85):
  *
  *  - MD012: collapse runs of >1 blank line to exactly one
  *  - MD047: file ends with exactly one trailing newline
  *  - MD009: strip trailing whitespace on each line
  *
  * Fenced code blocks are EXEMPT from MD012/MD009 (matching
  * markdownlint: fence interiors pass through verbatim).
  *
  * Per-rule account of the remaining default `--fix`able rules (the
  * reference runs markdownlint-cli with NO config, converter.py:171):
  * they cannot fire on this engine's output because the markdown is
  * machine-emitted already normalized, not hand-written —
  * MD010 hard tabs, MD011 reversed links, MD018–MD023 heading
  * spacing/position, MD026 heading punctuation, MD027 blockquote
  * spaces, MD030 list-marker spacing, MD032 blanks around lists and
  * MD004/MD005/MD007 list style/indent are all properties the emitter
  * (MarkdownEmitter) controls at generation time: headings are emitted
  * as `#… text`, lists as `- item`, fences on their own lines, blank
  * lines inserted between blocks by the join. MD034 bare URLs and
  * MD037–MD039 emphasis/link spacing depend on source text the
  * reference also passes through unchanged (it would "fix" them only
  * if the PDF text itself contained them — behavior our golden
  * fixtures pin on the `--no-lint` path either way).
  */
object LintNormalize {

  /** The markdown output buffer, with the rules above applied as each
    * line is completed. A line is written in place: [[beginLine]]
    * writes the separator the previous lines call for, the caller
    * appends the line's bytes, and [[endLine]] strips its trailing
    * whitespace, or takes the whole line back when it is blank (a
    * blank line only counts towards the next separator).
    *
    * The separator can be written before the line is known: outside a
    * fence it is '\n', plus a second '\n' after blank lines; inside a
    * fence no blank line is ever counted (every fence line is
    * verbatim, and the opening line reset the count), so the same
    * rule gives the verbatim '\n'.
    */
  final class Out {
    private var buf = new Array[Byte](256)
    private var pos = 0
    private var blanks = 0
    private var wroteAny = false
    private var inFence = false
    private var firstElement = true
    private var lineMark = 0
    private var lineStart = 0

    def reset(): Unit = {
      pos = 0; blanks = 0
      wroteAny = false; inFence = false; firstElement = true
    }

    /** the blank line that joins two elements (the "\n\n" join) */
    def startElement(): Unit = {
      if (!firstElement) { beginLine(); endLine() }
      firstElement = false
    }

    def beginLine(): Unit = {
      lineMark = pos
      if (wroteAny) {
        put('\n')
        if (blanks > 0) put('\n')
      }
      lineStart = pos
    }

    def endLine(): Unit = {
      val opensOrCloses = pos - lineStart >= 3 &&
        buf(lineStart) == '`' && buf(lineStart + 1) == '`' && buf(lineStart + 2) == '`'
      // verbatim inside the fence: no blank collapsing, no trailing
      // whitespace strip
      if (inFence && !opensOrCloses) wroteAny = true
      else {
        var e = pos
        while (e > lineStart && (buf(e - 1) == ' ' || buf(e - 1) == '\t')) e -= 1
        if (e == lineStart) { blanks += 1; pos = lineMark }
        else { blanks = 0; wroteAny = true; pos = e }
        if (opensOrCloses) inFence = !inFence
      }
    }

    def put(b: Int): Unit = {
      if (pos == buf.length) buf = java.util.Arrays.copyOf(buf, pos * 2)
      buf(pos) = b.toByte
      pos += 1
    }

    def put(src: Array[Byte], from: Int, to: Int): Unit = {
      val n = to - from
      if (pos + n > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(pos + n, buf.length * 2))
      System.arraycopy(src, from, buf, pos, n)
      pos += n
    }

    def put(src: Array[Byte]): Unit = put(src, 0, src.length)

    /** the document: a copy of the buffer plus the final newline
      * (MD047), or no bytes for a document with no content line
      */
    def result(): Array[Byte] = {
      if (!wroteAny) return Array.emptyByteArray
      put('\n')
      val md = java.util.Arrays.copyOf(buf, pos)
      if (buf.length > Out.MaxRetained) buf = new Array[Byte](256)
      md
    }
  }

  private object Out {
    /** a thread keeps at most this much buffer between documents */
    val MaxRetained = 1 << 20
  }
}
