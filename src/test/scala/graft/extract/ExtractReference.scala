package graft.extract

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.unsafe.types.UTF8String

/** The String form of the extraction kernel, kept as the specs'
  * reference for the byte kernel in `src/main`: blocks are objects
  * holding decoded Strings, each rule is written in its plainest form
  * (split, substring, a linear probe for the header level and the
  * reading-order column), markdown is built as element strings joined
  * by "\n\n" and then normalized line by line.
  */
object ExtractReference {

  sealed trait BlockKind
  object BlockKind {
    case object Pdf extends BlockKind
    case object Html extends BlockKind
    case object Plain extends BlockKind
  }

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
      seq: Int) {
    def isBold: Boolean = (flags & Blocks.Bold) != 0
    def isItalic: Boolean = (flags & Blocks.Italic) != 0
    def isMono: Boolean = (flags & Blocks.Mono) != 0
    def isTableRow: Boolean = (flags & Blocks.TableRow) != 0
    def linkDensity: Double =
      if (text.isEmpty) 0.0 else linkChars.toDouble / text.length
    def lastTag: String = tagPath.substring(tagPath.lastIndexOf('/') + 1)
  }

  /** The byte kernel's representation of `blocks`, in the same
    * positions: texts and tag paths encoded into one payload array.
    */
  def toBlocks(blocks: Seq[Block]): Blocks = {
    val buf = new java.io.ByteArrayOutputStream
    val out = new Blocks
    val spans = blocks.map { b =>
      val tag = b.tagPath.getBytes(UTF_8)
      val text = b.text.getBytes(UTF_8)
      val tOff = buf.size; buf.write(tag)
      val off = buf.size; buf.write(text)
      (tOff, tag.length, off, text.length)
    }
    out.clear(buf.toByteArray)
    blocks.zip(spans).foreach { case (b, (tOff, tLen, off, len)) =>
      val kind = b.kind match {
        case BlockKind.Pdf => Blocks.Pdf
        case BlockKind.Html => Blocks.Html
        case BlockKind.Plain => Blocks.Plain
      }
      out.add(kind, b.page, b.x0, b.y0, b.x1, b.y1, b.fontSize, b.flags,
        tOff, tLen, b.linkChars, off, len, b.text.length, b.seq)
    }
    out
  }

  /** block `i` of `bs` decoded back into a reference block */
  def block(bs: Blocks, i: Int): Block = {
    val kind = bs.kind(i) match {
      case Blocks.Pdf => BlockKind.Pdf
      case Blocks.Html => BlockKind.Html
      case _ => BlockKind.Plain
    }
    Block(kind, bs.page(i), bs.x0(i), bs.y0(i), bs.x1(i), bs.y1(i), bs.fontSize(i),
      bs.flags(i), new String(bs.bytes, bs.tagOff(i), bs.tagLen(i), UTF_8),
      bs.linkChars(i), new String(bs.bytes, bs.textOff(i), bs.textLen(i), UTF_8),
      bs.seq(i))
  }

  // ------------------------------------------------------------- kernel

  /** payload → markdown */
  def extract(payload: String): String = {
    val blocks = parse(payload)
    if (blocks.isEmpty) ""
    else normalizeJoin(emit(readingOrder(blocks), headerLevels(blocks)))
  }

  /** payload → (status, markdown, error), as the row the kernel returns */
  def row(payload: UTF8String): (UTF8String, UTF8String, UTF8String) = {
    if (payload == null || payload.numBytes() == 0)
      return (UTF8String.fromString("err"), UTF8String.fromString(""),
        UTF8String.fromString("empty input"))
    try (UTF8String.fromString("ok"),
      UTF8String.fromString(extract(payload.toString)), UTF8String.fromString(""))
    catch {
      case e: Exception => (UTF8String.fromString("err"), UTF8String.fromString(""),
        UTF8String.fromString(String.valueOf(e.getMessage)))
    }
  }

  // -------------------------------------------------------------- parse

  /** C1: one block per non-empty line; malformed structured lines are Plain */
  def parse(payload: String): Vector[Block] =
    if (payload == null) Vector.empty
    else payload.split("\n", -1).iterator.filter(_.nonEmpty).zipWithIndex
      .map { case (l, seq) => parseLine(l, seq) }.toVector

  private def parseLine(l: String, seq: Int): Block = {
    val plain = Block(BlockKind.Plain, 0, 0, 0, 0, 0, 0.0, 0, "", 0, l, seq)
    try {
      if (l.charAt(0) == 'P' && l.indexOf('\t') > 0) {
        // P<page> \t x0,y0,x1,y1 \t fontSize \t flags \t content
        val f = l.split("\t", 5)
        val c = if (f.length == 5) f(1).split(",", 4) else Array.empty[String]
        if (c.length < 4) plain
        else Block(BlockKind.Pdf, Integer.parseInt(f(0).substring(1)),
          c(0).toDouble, c(1).toDouble, c(2).toDouble, c(3).toDouble,
          f(2).toDouble, Integer.parseInt(f(3)), "", 0, f(4), seq)
      } else if (l.startsWith("H\t")) {
        // H \t tagPath \t linkChars \t content
        val f = l.split("\t", 4)
        if (f.length < 4) plain
        else Block(BlockKind.Html, 0, 0, 0, 0, 0, 0.0, 0, f(1),
          Integer.parseInt(f(2)), f(3), seq)
      } else plain
    } catch { case _: NumberFormatException => plain }
  }

  // ------------------------------------------------------------ headers

  /** C2 as a linear probe over the distinct sizes seen so far (O(blocks
    * × d) for d distinct sizes): (size, level) pairs, largest size
    * first. Size identity is doubleToLongBits equality.
    */
  def headerLevels(blocks: Seq[Block]): Vector[(Double, Int)] = {
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    blocks.foreach { b =>
      if (b.kind == BlockKind.Pdf && !b.isTableRow && b.text.nonEmpty) {
        val i = sizes.indexWhere(s => bits(s) == bits(b.fontSize))
        if (i >= 0) counts(i) += b.text.length
        else { sizes += b.fontSize; counts += b.text.length.toLong }
      }
    }
    if (sizes.isEmpty) return Vector.empty
    // body = most frequent size; a tie goes to the smaller size
    var body = sizes(0)
    var bodyCount = counts(0)
    sizes.indices.drop(1).foreach { i =>
      if (counts(i) > bodyCount ||
        (counts(i) == bodyCount && java.lang.Double.compare(sizes(i), body) < 0)) {
        body = sizes(i)
        bodyCount = counts(i)
      }
    }
    val above = sizes.filter(_ > body).toArray
    java.util.Arrays.sort(above)
    above.reverse.zipWithIndex.map { case (s, i) => s -> math.min(i + 1, 6) }.toVector
  }

  /** a block's heading level over [[headerLevels]]: a linear probe */
  def level(levels: Seq[(Double, Int)], b: Block): Int =
    if (b.kind != BlockKind.Pdf || b.isTableRow) 0
    else levels.collectFirst {
      case (s, l) if java.lang.Double.doubleToLongBits(s) ==
        java.lang.Double.doubleToLongBits(b.fontSize) => l
    }.getOrElse(0)

  // ------------------------------------------------------ reading order

  /** C3 with a block's column found by a linear probe over the merged
    * x-intervals (O(columns) per comparison): PDF pages ascending, each
    * by (column, y0, x0, seq), then the other blocks by seq.
    */
  def readingOrder(blocks: Seq[Block]): Vector[Block] = {
    val (pdf, rest) = blocks.partition(_.kind == BlockKind.Pdf)
    val pages = pdf.sortBy(b => (b.page, b.seq)).groupBy(_.page).toVector.sortBy(_._1)
    pages.flatMap { case (_, page) =>
      val (los, his) = mergeIntervals(page.map(b => (b.x0, b.x1)))
      def colOf(b: Block): Int = {
        var i = 0
        while (i < los.length) {
          if (b.x0 >= los(i) && b.x0 <= his(i)) return i
          i += 1
        }
        los.length
      }
      page.sorted(new Ordering[Block] {
        def compare(p: Block, q: Block): Int = {
          var c = Integer.compare(colOf(p), colOf(q))
          if (c == 0) c = java.lang.Double.compare(p.y0, q.y0)
          if (c == 0) c = java.lang.Double.compare(p.x0, q.x0)
          if (c == 0) c = Integer.compare(p.seq, q.seq)
          c
        }
      })
    } ++ rest.sortBy(_.seq)
  }

  /** x-intervals merged by overlap: (starts, ends), starts ascending */
  private def mergeIntervals(ivs: Seq[(Double, Double)]): (Array[Double], Array[Double]) = {
    if (ivs.isEmpty) return (Array.emptyDoubleArray, Array.emptyDoubleArray)
    val sorted = ivs.sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering,
      Ordering.Double.TotalOrdering))
    val los = Array.newBuilder[Double]
    val his = Array.newBuilder[Double]
    var (lo, hi) = sorted.head
    sorted.tail.foreach { case (a, b) =>
      if (a <= hi) { if (b > hi) hi = b }
      else { los += lo; his += hi; lo = a; hi = b }
    }
    los += lo
    his += hi
    (los.result(), his.result())
  }

  // --------------------------------------------------------------- emit

  private val ChromeTags =
    Set("nav", "footer", "header", "aside", "menu", "script", "style", "form", "button")

  /** C9: chrome tag anywhere on the path, or link-dominated */
  private def isBoilerplate(b: Block): Boolean =
    b.kind == BlockKind.Html && (
      b.tagPath.split("/").exists(ChromeTags) ||
      b.linkDensity > 0.5 ||
      (b.text.length < 10 && b.linkDensity > 0.25))

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

  private def cells(text: String): Array[String] = text.split("\\|", -1).map(_.trim)

  /** C9 — HTML tag → markdown element (post boilerplate filter). */
  private def htmlElement(b: Block): String = b.lastTag match {
    case "h1" => "# " + b.text.trim
    case "h2" => "## " + b.text.trim
    case "h3" => "### " + b.text.trim
    case "h4" => "#### " + b.text.trim
    case "h5" => "##### " + b.text.trim
    case "h6" => "###### " + b.text.trim
    case "pre" | "code" => "```\n" + b.text + "\n```"
    case "blockquote" => "> " + b.text.trim
    case "li" => listLine(b.text)
    case _ => b.text
  }

  /** C4–C10: markdown elements (each one or more lines joined by '\n')
    * for blocks already in reading order
    */
  def emit(blocks: Seq[Block], levels: Seq[(Double, Int)]): Vector[String] = {
    val kept = blocks.filterNot(isBoilerplate).toVector
    val out = Vector.newBuilder[String]
    var i = 0
    var lastPdfPage = -1
    var pdfClosed = false
    while (i < kept.length) {
      val b = kept(i)
      if (b.kind == BlockKind.Pdf && lastPdfPage >= 0 && b.page != lastPdfPage)
        out += "-----"
      if (b.kind != BlockKind.Pdf && lastPdfPage >= 0 && !pdfClosed) {
        out += "-----"
        pdfClosed = true
      }
      if (b.kind == BlockKind.Pdf) lastPdfPage = b.page
      // the run of blocks from i that satisfy p, as lines
      def run(p: Block => Boolean)(f: Block => String): Vector[String] = {
        val r = kept.drop(i).takeWhile(p)
        i += r.length
        r.map(f)
      }
      if (b.kind == BlockKind.Pdf && b.isTableRow) {
        val header = cells(b.text)
        i += 1
        val rows = run(t => t.kind == BlockKind.Pdf && t.isTableRow && t.page == b.page)(
          t => cells(t.text).mkString("|", "|", "|"))
        out += (Vector(header.mkString("|", "|", "|"),
          header.map(_ => "---").mkString("|", "|", "|")) ++ rows).mkString("\n")
      } else if (b.kind == BlockKind.Pdf && b.isMono) {
        val ls = run(m => m.kind == BlockKind.Pdf && m.isMono && !m.isTableRow &&
          m.page == b.page)(_.text)
        out += ("```" +: ls :+ "```").mkString("\n")
      } else if (level(levels, b) > 0) {
        out += "#" * level(levels, b) + " " + b.text.trim
        i += 1
      } else if (isListItem(b)) {
        out += run(l => sameFlow(l, b) && isListItem(l) && level(levels, l) == 0)(
          l => listLine(l.text)).mkString("\n")
      } else if (b.kind == BlockKind.Html && (b.lastTag == "pre" || b.lastTag == "code")) {
        val ls = run(p => p.kind == BlockKind.Html &&
          (p.lastTag == "pre" || p.lastTag == "code"))(_.text)
        out += ("```" +: ls :+ "```").mkString("\n")
      } else {
        out += (if (b.kind == BlockKind.Html) htmlElement(b) else styled(b))
        i += 1
      }
    }
    if (lastPdfPage >= 0 && !pdfClosed) out += "-----"
    out.result()
  }

  // --------------------------------------------------------------- lint

  /** C11 line by line: MD012 blank runs collapse to one, MD009 trailing
    * spaces and tabs go, MD047 one final newline; fence interiors pass
    * verbatim
    */
  private final class Lint {
    private val out = new java.lang.StringBuilder
    private var blanks = 0
    private var wroteAny = false
    private var inFence = false

    def line(s: String): Unit = {
      val opensOrCloses = s.startsWith("```")
      if (inFence && !opensOrCloses) {
        if (wroteAny) out.append('\n')
        wroteAny = true
        out.append(s)
      } else {
        var e = s.length
        while (e > 0 && (s.charAt(e - 1) == ' ' || s.charAt(e - 1) == '\t')) e -= 1
        if (e == 0) blanks += 1
        else {
          if (wroteAny) {
            out.append('\n')
            if (blanks > 0) out.append('\n')
          }
          blanks = 0
          wroteAny = true
          out.append(s, 0, e)
        }
        if (opensOrCloses) inFence = !inFence
      }
    }

    def lines(s: String): Unit = s.split("\n", -1).foreach(line)

    def finish(): String = if (!wroteAny) "" else out.append('\n').toString
  }

  /** join("\n\n") + normalize in one pass, without materializing the
    * joined document
    */
  def normalizeJoin(elements: Seq[String]): String = {
    val st = new Lint
    elements.zipWithIndex.foreach { case (el, k) =>
      if (k > 0) st.line("") // the joining blank line of mkString("\n\n")
      st.lines(el)
    }
    st.finish()
  }

  /** C11 over a whole markdown document */
  def normalize(md: String): String = {
    if (md == null || md.isEmpty) return ""
    val st = new Lint
    st.lines(md)
    st.finish()
  }
}
