package graft.extract

/** C3 — reading-order reconstruction with multi-column detection
  * (SURVEY.md §2.2).
  *
  * Public semantics of pymupdf4llm's `multi_column.column_boxes`:
  * cluster blocks of a page into columns by x-interval overlap, then
  * read column-by-column (left to right), top-to-bottom within a
  * column. Input block order is arbitrary (the transcript payload may
  * serialize spans shuffled); output order is fully deterministic:
  * (page, column, y0, x0, seq).
  */
object ReadingOrder {

  /** Sort all blocks of one turn into reading order.
    *
    * Hot-path note: this runs once per turn inside the extraction
    * kernel (the bench's headline job). The implementation is
    * array-based — one pass to split PDF vs rest, one comparator sort
    * per group, page runs processed in place — because the previous
    * groupBy + tuple-keyed `sortBy` chain allocated a HashMap, key
    * tuples and boxed Double comparisons per turn and was the
    * kernel's single largest phase (~1/3). Ordering semantics are
    * IDENTICAL (golden gate + OrderSpec): PDF pages first ascending,
    * within a page by (column, y0, x0, seq) with IEEE Double.compare
    * (NaN-total like Ordering[Double]), then HTML/plain by seq.
    */
  def order(blocks: Seq[Block]): Vector[Block] = {
    var nPdf = 0
    blocks.foreach(b => if (b.kind == BlockKind.Pdf) nPdf += 1)
    val pdf = new Array[Block](nPdf)
    val rest = new Array[Block](blocks.size - nPdf)
    var pi = 0
    var ri = 0
    blocks.foreach { b =>
      if (b.kind == BlockKind.Pdf) { pdf(pi) = b; pi += 1 }
      else { rest(ri) = b; ri += 1 }
    }
    val out = Vector.newBuilder[Block]
    if (nPdf > 0) {
      // pre-sort by (page, seq): page runs become contiguous; the
      // within-page tie-break is irrelevant to the final order (the
      // per-page sort key is total) but keeps this sort deterministic
      java.util.Arrays.sort(pdf, (a: Block, b: Block) => {
        val c = Integer.compare(a.page, b.page)
        if (c != 0) c else Integer.compare(a.seq, b.seq)
      })
      var i = 0
      while (i < nPdf) {
        var j = i + 1
        while (j < nPdf && pdf(j).page == pdf(i).page) j += 1
        orderPageInPlace(pdf, i, j)
        var k = i
        while (k < j) { out += pdf(k); k += 1 }
        i = j
      }
    }
    java.util.Arrays.sort(rest,
      (a: Block, b: Block) => Integer.compare(a.seq, b.seq))
    rest.foreach(out += _)
    out.result()
  }

  /** sort a(from until until) into (column, y0, x0, seq) order */
  private def orderPageInPlace(a: Array[Block], from: Int, until: Int): Unit = {
    if (until - from <= 1) return
    val (los, his) = mergeIntervals((from until until).map(k => (a(k).x0, a(k).x1)))
    val nIv = los.length
    // the first interval containing x0, else nIv. The starts ascend
    // (NaN last) and each start exceeds every earlier interval's end,
    // so only the last interval starting at or before x0 can hold it:
    // binary-search for it, then check its end (a NaN end holds nothing)
    def colOf(b: Block): Int = {
      val x = b.x0
      var lo = 0
      var hi = nIv
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (los(mid) <= x) lo = mid + 1 else hi = mid
      }
      if (lo > 0 && x <= his(lo - 1)) lo - 1 else nIv
    }
    // colOf inside the comparator: no per-block key array to allocate
    // on the common 1-3-interval page, and O(log intervals) per
    // comparison on a page of many columns
    java.util.Arrays.sort(a, from, until, (p: Block, q: Block) => {
      var c = Integer.compare(colOf(p), colOf(q))
      if (c == 0) c = java.lang.Double.compare(p.y0, q.y0)
      if (c == 0) c = java.lang.Double.compare(p.x0, q.x0)
      if (c == 0) c = Integer.compare(p.seq, q.seq)
      c
    })
  }

  /** x-intervals merged by overlap: (starts, ends), starts ascending */
  private[extract] def mergeIntervals(ivs: Seq[(Double, Double)]): (Array[Double], Array[Double]) = {
    if (ivs.isEmpty) return (Array.emptyDoubleArray, Array.emptyDoubleArray)
    val sorted = ivs.sorted
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
}
