package graft.extract

/** A layout block extracted from one turn's serialized payload.
  *
  * Models the span dicts produced by PyMuPDF's `page.get_text("dict")`
  * as consumed by pymupdf4llm 0.0.27 (reference:
  * /root/reference/src/pdf_extractor/converter.py:218, pinned at
  * /root/reference/uv.lock:2123-2131) plus an HTML/DOM block variant for
  * the north-rule boilerplate path. See FIXTURES.md §2 for the line
  * encoding.
  *
  * Flags bitmask mirrors PyMuPDF span flags (public API):
  * 1=bold, 2=italic, 4=mono, 8=table-row (stand-in for
  * `page.find_tables()` regions — a table row's text holds `|`-joined
  * cells).
  */
final case class Block(
    kind: BlockKind,
    page: Int,
    x0: Double,
    y0: Double,
    x1: Double,
    y1: Double,
    fontSize: Double,
    flags: Int,
    tagPath: String,
    linkChars: Int,
    text: String,
    seq: Int // original position in the payload, stable tiebreak
) {
  def isBold: Boolean = (flags & Block.Bold) != 0
  def isItalic: Boolean = (flags & Block.Italic) != 0
  def isMono: Boolean = (flags & Block.Mono) != 0
  def isTableRow: Boolean = (flags & Block.TableRow) != 0
  def linkDensity: Double =
    if (text.isEmpty) 0.0 else linkChars.toDouble / text.length
  def lastTag: String = {
    val i = tagPath.lastIndexOf('/')
    if (i < 0) tagPath else tagPath.substring(i + 1)
  }
}

object Block {
  val Bold = 1
  val Italic = 2
  val Mono = 4
  val TableRow = 8
}

sealed trait BlockKind
object BlockKind {
  /** PDF text span (`P...` line). */
  case object Pdf extends BlockKind
  /** HTML/DOM block (`H...` line). */
  case object Html extends BlockKind
  /** Unstructured plain-text line (no recognized prefix). */
  case object Plain extends BlockKind
}
