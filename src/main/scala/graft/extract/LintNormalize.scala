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

  private[extract] final class State(val out: java.lang.StringBuilder) {
    var blanks = 0
    var wroteAny = false
    var inFence = false

    def line(s: String, from: Int, to: Int): Unit = {
      val opensOrCloses = to - from >= 3 &&
        s.charAt(from) == '`' && s.charAt(from + 1) == '`' &&
        s.charAt(from + 2) == '`'
      if (inFence && !opensOrCloses) {
        // verbatim inside the fence: no blank collapsing, no trailing
        // whitespace strip
        if (wroteAny) out.append('\n')
        wroteAny = true
        out.append(s, from, to)
      } else {
        var e = to
        while (e > from && (s.charAt(e - 1) == ' ' || s.charAt(e - 1) == '\t')) e -= 1
        if (e == from) blanks += 1
        else {
          if (wroteAny) {
            out.append('\n')
            if (blanks > 0) out.append('\n')
          }
          blanks = 0
          wroteAny = true
          out.append(s, from, e)
        }
        if (opensOrCloses) inFence = !inFence
      }
    }

    def finish(): String =
      if (!wroteAny) "" else out.append('\n').toString
  }
}
