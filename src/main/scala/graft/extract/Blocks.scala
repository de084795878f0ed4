package graft.extract

/** The layout blocks of one turn's payload, parsed in place over the
  * payload's UTF-8 bytes: one primitive array per field, one slot per
  * block, and no object or String per block.
  *
  * Models the span dicts produced by PyMuPDF's `page.get_text("dict")`
  * as consumed by pymupdf4llm 0.0.27 (the reference's
  * `src/pdf_extractor/converter.py:218`, pinned in its `uv.lock`) plus
  * an HTML/DOM block variant for the north-rule boilerplate path. See FIXTURES.md §2 for the line
  * encoding.
  *
  * A block's text and tag path are `[off, off + len)` slices of
  * [[bytes]]; `textChars` is the text's length in UTF-16 units (what
  * `String.length` of the decoded text would be), the unit of the
  * header histogram weights and the boilerplate link density.
  * Blocks are numbered in payload order.
  *
  * Flags bitmask mirrors PyMuPDF span flags (public API):
  * 1=bold, 2=italic, 4=mono, 8=table-row (stand-in for
  * `page.find_tables()` regions — a table row's text holds `|`-joined
  * cells).
  *
  * One instance is reused per thread by the kernel: [[clear]] keeps
  * the arrays, so a warm thread parses a turn without allocating. The
  * scratch arrays belong to [[ReadingOrder]], [[Headers]] and
  * [[MarkdownEmitter]].
  */
final class Blocks {
  var bytes: Array[Byte] = Array.emptyByteArray
  var size = 0
  // block i's fields sit together: ints at i * IntFields (kind, page,
  // flags, tag offset and length, link chars, text offset, byte length
  // and UTF-16 length, seq), reals at i * RealFields (x0, y0, x1, y1,
  // font size)
  private var ints = new Array[Int](Blocks.InitialCapacity * Blocks.IntFields)
  private var reals = new Array[Double](Blocks.InitialCapacity * Blocks.RealFields)
  /** block indices in reading order, set by [[ReadingOrder.order]] */
  var order = new Array[Int](Blocks.InitialCapacity)

  // scratch, sized on use
  private[extract] var ints1 = Array.emptyIntArray
  private[extract] var ints2 = Array.emptyIntArray
  private[extract] var doubles1 = Array.emptyDoubleArray
  private[extract] var doubles2 = Array.emptyDoubleArray
  private[extract] var histKeys = new Array[Long](8)
  private[extract] var histCounts = new Array[Long](8)
  private[extract] var histSlots = new Array[Int](16)

  def isEmpty: Boolean = size == 0
  def nonEmpty: Boolean = size != 0
  def capacity: Int = order.length

  /** drop every block and point at a new payload */
  def clear(payload: Array[Byte]): Unit = {
    bytes = payload
    size = 0
  }

  /** Append one block; returns its index. */
  def add(kind: Int, page: Int, x0: Double, y0: Double, x1: Double, y1: Double,
      fontSize: Double, flags: Int, tagOff: Int, tagLen: Int, linkChars: Int,
      textOff: Int, textLen: Int, textChars: Int, seq: Int): Int = {
    if (size == order.length) {
      val c = size * 2
      ints = java.util.Arrays.copyOf(ints, c * Blocks.IntFields)
      reals = java.util.Arrays.copyOf(reals, c * Blocks.RealFields)
      order = java.util.Arrays.copyOf(order, c)
    }
    val i = size * Blocks.IntFields
    ints(i) = kind; ints(i + 1) = page; ints(i + 2) = flags
    ints(i + 3) = tagOff; ints(i + 4) = tagLen; ints(i + 5) = linkChars
    ints(i + 6) = textOff; ints(i + 7) = textLen; ints(i + 8) = textChars; ints(i + 9) = seq
    val r = size * Blocks.RealFields
    reals(r) = x0; reals(r + 1) = y0; reals(r + 2) = x1; reals(r + 3) = y1
    reals(r + 4) = fontSize
    size += 1
    size - 1
  }

  def kind(i: Int): Int = ints(i * Blocks.IntFields)
  def page(i: Int): Int = ints(i * Blocks.IntFields + 1)
  def flags(i: Int): Int = ints(i * Blocks.IntFields + 2)
  def tagOff(i: Int): Int = ints(i * Blocks.IntFields + 3)
  def tagLen(i: Int): Int = ints(i * Blocks.IntFields + 4)
  def linkChars(i: Int): Int = ints(i * Blocks.IntFields + 5)
  def textOff(i: Int): Int = ints(i * Blocks.IntFields + 6)
  def textLen(i: Int): Int = ints(i * Blocks.IntFields + 7)
  /** the text's length in UTF-16 units */
  def textChars(i: Int): Int = ints(i * Blocks.IntFields + 8)
  /** original position in the payload, the stable tiebreak */
  def seq(i: Int): Int = ints(i * Blocks.IntFields + 9)
  def x0(i: Int): Double = reals(i * Blocks.RealFields)
  def y0(i: Int): Double = reals(i * Blocks.RealFields + 1)
  def x1(i: Int): Double = reals(i * Blocks.RealFields + 2)
  def y1(i: Int): Double = reals(i * Blocks.RealFields + 3)
  def fontSize(i: Int): Double = reals(i * Blocks.RealFields + 4)

  def isPdf(i: Int): Boolean = kind(i) == Blocks.Pdf
  def isHtml(i: Int): Boolean = kind(i) == Blocks.Html
  def isBold(i: Int): Boolean = (flags(i) & Blocks.Bold) != 0
  def isItalic(i: Int): Boolean = (flags(i) & Blocks.Italic) != 0
  def isMono(i: Int): Boolean = (flags(i) & Blocks.Mono) != 0
  def isTableRow(i: Int): Boolean = (flags(i) & Blocks.TableRow) != 0
  def linkDensity(i: Int): Double =
    if (textLen(i) == 0) 0.0 else linkChars(i).toDouble / textChars(i)
  def textEnd(i: Int): Int = textOff(i) + textLen(i)
}

object Blocks {
  /** block kinds: a PDF text span (`P...` line), an HTML/DOM block
    * (`H...` line), an unstructured plain-text line (no recognized
    * prefix)
    */
  final val Pdf = 0
  final val Html = 1
  final val Plain = 2

  final val Bold = 1
  final val Italic = 2
  final val Mono = 4
  final val TableRow = 8

  private final val IntFields = 10
  private final val RealFields = 5
  private final val InitialCapacity = 8

  /** `a` if it holds `n` elements, else a new array of at least `n` */
  private[extract] def atLeast(a: Array[Int], n: Int): Array[Int] =
    if (a.length >= n) a else new Array[Int](math.max(n, a.length * 2))
  private[extract] def atLeast(a: Array[Double], n: Int): Array[Double] =
    if (a.length >= n) a else new Array[Double](math.max(n, a.length * 2))
}
