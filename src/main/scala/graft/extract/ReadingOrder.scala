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

  /** Sort all blocks of one turn into reading order: fills `bs.order`
    * with block indices and returns `bs`.
    *
    * PDF pages first ascending, within a page by (column, y0, x0, seq)
    * with IEEE Double.compare (NaN-total), then HTML/plain by seq;
    * blocks equal on all of these keep payload order. Two stable
    * merge sorts of int index arrays on the blocks' primitive fields:
    * the PDF blocks by (page, x0, x1), which lays out each page's
    * x-intervals for the column sweep, then every block by its final
    * key. Every array they use is scratch of `bs`.
    */
  def order(bs: Blocks): Blocks = {
    val n = bs.size
    bs.ints1 = Blocks.atLeast(bs.ints1, n)
    bs.ints2 = Blocks.atLeast(bs.ints2, n)
    val tmp = bs.ints1
    val col = bs.ints2 // by block index: its column on its page
    val byX = bs.order // the PDF blocks by (page, x0, x1), then the result
    var nPdf = 0
    var i = 0
    while (i < n) { if (bs.isPdf(i)) { byX(nPdf) = i; nPdf += 1 }; i += 1 }
    sort(byX, 0, nPdf, tmp, (a, b) => {
      var c = Integer.compare(bs.page(a), bs.page(b))
      if (c == 0) c = java.lang.Double.compare(bs.x0(a), bs.x0(b))
      if (c == 0) c = java.lang.Double.compare(bs.x1(a), bs.x1(b))
      c
    })
    // per page: merge the x-intervals by overlap (starts ascend, NaN
    // last, and each start exceeds every earlier interval's end), then
    // give each block the first interval holding its x0, else the
    // interval count: the last interval starting at or before x0 is the
    // only candidate (binary search), then its end is checked (a NaN
    // end holds nothing)
    bs.doubles1 = Blocks.atLeast(bs.doubles1, nPdf)
    bs.doubles2 = Blocks.atLeast(bs.doubles2, nPdf)
    val los = bs.doubles1
    val his = bs.doubles2
    i = 0
    while (i < nPdf) {
      var j = i + 1
      while (j < nPdf && bs.page(byX(j)) == bs.page(byX(i))) j += 1
      var nIv = 0
      var lo = bs.x0(byX(i))
      var hi = bs.x1(byX(i))
      var k = i + 1
      while (k < j) {
        val a = bs.x0(byX(k))
        val b = bs.x1(byX(k))
        if (a <= hi) { if (b > hi) hi = b }
        else { los(nIv) = lo; his(nIv) = hi; nIv += 1; lo = a; hi = b }
        k += 1
      }
      los(nIv) = lo; his(nIv) = hi; nIv += 1
      k = i
      while (k < j) {
        val x = bs.x0(byX(k))
        var l = 0
        var h = nIv
        while (l < h) {
          val mid = (l + h) >>> 1
          if (los(mid) <= x) l = mid + 1 else h = mid
        }
        col(byX(k)) = if (l > 0 && x <= his(l - 1)) l - 1 else nIv
        k += 1
      }
      i = j
    }
    val ord = bs.order
    i = 0
    while (i < n) { ord(i) = i; i += 1 }
    sort(ord, 0, n, tmp, (p, q) => {
      var c = java.lang.Boolean.compare(!bs.isPdf(p), !bs.isPdf(q))
      if (c == 0 && bs.isPdf(p)) {
        c = Integer.compare(bs.page(p), bs.page(q))
        if (c == 0) c = Integer.compare(col(p), col(q))
        if (c == 0) c = java.lang.Double.compare(bs.y0(p), bs.y0(q))
        if (c == 0) c = java.lang.Double.compare(bs.x0(p), bs.x0(q))
      }
      if (c == 0) c = Integer.compare(bs.seq(p), bs.seq(q))
      c
    })
    bs
  }

  /** comparator of two block indices */
  private trait IndexOrder { def compare(a: Int, b: Int): Int }

  /** stable sort of a[from, until), `tmp` as the merge buffer (at
    * least `until` long): a merge sort over insertion-sorted runs,
    * O(n log n) comparisons in the worst case and O(n) on input already
    * in order
    */
  private def sort(a: Array[Int], from: Int, until: Int, tmp: Array[Int],
      cmp: IndexOrder): Unit = {
    if (until - from <= 16) {
      var i = from + 1
      while (i < until) {
        val v = a(i)
        var j = i - 1
        while (j >= from && cmp.compare(a(j), v) > 0) { a(j + 1) = a(j); j -= 1 }
        a(j + 1) = v
        i += 1
      }
      return
    }
    val mid = (from + until) >>> 1
    sort(a, from, mid, tmp, cmp)
    sort(a, mid, until, tmp, cmp)
    if (cmp.compare(a(mid - 1), a(mid)) <= 0) return
    System.arraycopy(a, from, tmp, from, mid - from)
    var i = from
    var j = mid
    var k = from
    while (i < mid && j < until) {
      if (cmp.compare(a(j), tmp(i)) < 0) { a(k) = a(j); j += 1 }
      else { a(k) = tmp(i); i += 1 }
      k += 1
    }
    while (i < mid) { a(k) = tmp(i); i += 1; k += 1 }
  }
}
