package graft.extract

/** The forms the extraction kernel's fused, hashed and binary-search
  * paths replaced, kept as the specs' references: the element-vector
  * emitter, the two-step join + normalize, the linear-probe header
  * histogram and the linear-probe reading-order column.
  */
object ExtractReference {

  /** Emit markdown elements (each element = one or more lines) for
    * blocks already in reading order, with headers identified.
    */
  def emit(blocks: Seq[Block], headerMap: Headers.HeaderLevels): Vector[String] = {
    val sink = new ElementSink
    MarkdownEmitter.emitTo(blocks, headerMap, sink)
    sink.result()
  }

  /** builds the classic element vector: lines joined by '\n'. */
  private final class ElementSink extends MarkdownEmitter.LineSink {
    private val out = Vector.newBuilder[String]
    private val cur = new java.lang.StringBuilder(64)
    private var open = false
    // an element's first line may itself be empty — count lines, don't
    // infer from buffer length
    private var linesInCur = 0
    def startElement(): Unit = {
      if (open) out += cur.toString
      cur.setLength(0)
      linesInCur = 0
      open = true
    }
    def line(s: String): Unit = {
      if (linesInCur > 0) cur.append('\n')
      linesInCur += 1
      cur.append(s)
    }
    def result(): Vector[String] = {
      if (open) out += cur.toString
      open = false
      out.result()
    }
  }

  /** join("\n\n") + normalize in one pass: byte-identical to
    * `normalize(elements.mkString("\n\n"))` without materializing the
    * intermediate document.
    */
  def normalizeJoin(elements: Seq[String]): String = {
    val st = new LintNormalize.State(new java.lang.StringBuilder(256))
    var first = true
    elements.foreach { el =>
      // the joining blank line of mkString("\n\n"), routed through the
      // same state machine so the equivalence is exact
      if (!first) st.line("", 0, 0)
      first = false
      lines(el, st)
    }
    st.finish()
  }

  /** C11 over a whole markdown document */
  def normalize(md: String): String = {
    if (md == null || md.isEmpty) return ""
    val st = new LintNormalize.State(new java.lang.StringBuilder(md.length + 1))
    lines(md, st)
    st.finish()
  }

  private def lines(s: String, st: LintNormalize.State): Unit = {
    var start = 0
    var nl = s.indexOf('\n')
    while (nl >= 0) {
      st.line(s, start, nl)
      start = nl + 1
      nl = s.indexOf('\n', start)
    }
    st.line(s, start, s.length)
  }

  /** `Headers.identify` as a linear probe over the distinct sizes seen
    * so far (O(blocks × d) for d distinct sizes): (size, level) pairs,
    * largest size first. Size identity is doubleToLongBits equality.
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

  /** `HeaderLevels.level` over [[headerLevels]]: a linear probe */
  def level(levels: Seq[(Double, Int)], b: Block): Int =
    if (b.kind != BlockKind.Pdf || b.isTableRow) 0
    else levels.collectFirst {
      case (s, l) if java.lang.Double.doubleToLongBits(s) ==
        java.lang.Double.doubleToLongBits(b.fontSize) => l
    }.getOrElse(0)

  /** `ReadingOrder.order` with a block's column found by a linear
    * probe over the merged x-intervals (O(columns) per comparison):
    * PDF pages ascending, each by (column, y0, x0, seq), then the
    * other blocks by seq.
    */
  def readingOrder(blocks: Seq[Block]): Vector[Block] = {
    val (pdf, rest) = blocks.partition(_.kind == BlockKind.Pdf)
    val pages = pdf.sortBy(b => (b.page, b.seq)).groupBy(_.page).toVector.sortBy(_._1)
    pages.flatMap { case (_, page) =>
      val (los, his) = ReadingOrder.mergeIntervals(page.map(b => (b.x0, b.x1)))
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
}
