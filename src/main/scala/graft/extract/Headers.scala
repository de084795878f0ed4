package graft.extract

/** C2 — header identification via font-size histogram (SURVEY.md §2.2).
  *
  * Reimplements the public semantics of pymupdf4llm 0.0.27's
  * `IdentifyHeaders` (the library pinned by the reference at
  * /root/reference/uv.lock:2123-2131 and invoked from
  * /root/reference/src/pdf_extractor/converter.py:218): build a
  * histogram of span font sizes weighted by character count; the most
  * frequent size is body text; every strictly-larger size is ranked
  * descending and mapped to heading levels `#`..`######`.
  *
  * Scope note (SURVEY.md §7.4): the reference computes the histogram per
  * *document*; in the transcript table each turn embeds one document, so
  * the histogram is per turn and computed kernel-locally — zero shuffle.
  */
object Headers {

  /** fontSize → heading level lookup for one turn: the header sizes in
    * ascending order, found by `java.util.Arrays.binarySearch`, whose
    * equality is doubleToLongBits identity (-0.0 distinct from 0.0; NaN
    * never enters the table). Every size above body is kept, so a turn
    * may have any number d of them and a lookup costs O(log d). The
    * largest size is level 1; levels are capped at 6.
    */
  final class HeaderLevels private[Headers] (private val ascending: Array[Double]) {
    /** heading level of block `i` of `bs`; 0 for body text */
    def level(bs: Blocks, i: Int): Int = {
      if (!bs.isPdf(i) || bs.isTableRow(i)) return 0
      val k = java.util.Arrays.binarySearch(ascending, bs.fontSize(i))
      if (k < 0) 0 else math.min(ascending.length - k, 6)
    }
    /** Map form (specs / golden comparisons), built largest size first */
    def toMap: Map[Double, Int] =
      ascending.indices.reverse.map(i =>
        ascending(i) -> math.min(ascending.length - i, 6)).toMap
  }

  private val EmptyLevels = new HeaderLevels(Array.emptyDoubleArray)

  /** fontSize → heading level (1..6); sizes not mapped are body.
    *
    * Runs once per turn in O(blocks) expected time plus a sort of the
    * header sizes: the char-count histogram is keyed by
    * doubleToLongBits (NaN self-equal, -0.0 distinct from 0.0) in a
    * small open-addressed table of indices into dense size/count
    * arrays, so a block's lookup does not grow with the number of
    * distinct sizes and no Double is boxed. The table is scratch of
    * `bs`, reused by the next turn.
    */
  def identify(bs: Blocks): HeaderLevels = {
    // char-count histogram over PDF spans, table rows excluded
    // (find_tables regions are removed from the text flow before
    // header identification in pymupdf4llm)
    var keys = bs.histKeys // distinct sizes' bits, first-seen order
    var counts = bs.histCounts
    var slots = bs.histSlots // 1 + index into keys; 0 = free, as left
    var n = 0
    var b = 0
    while (b < bs.size) {
      if (bs.isPdf(b) && !bs.isTableRow(b) && bs.textLen(b) > 0) {
        val k = java.lang.Double.doubleToLongBits(bs.fontSize(b))
        val mask = slots.length - 1
        var s = slotOf(k, mask)
        while (slots(s) != 0 && keys(slots(s) - 1) != k) s = (s + 1) & mask
        if (slots(s) != 0) counts(slots(s) - 1) += bs.textChars(b)
        else {
          keys(n) = k
          counts(n) = bs.textChars(b).toLong
          n += 1
          slots(s) = n
          if (n == keys.length) { // keep the table at most half full
            keys = java.util.Arrays.copyOf(keys, n * 2)
            counts = java.util.Arrays.copyOf(counts, n * 2)
            slots = new Array[Int](n * 4)
            val m = slots.length - 1
            var i = 0
            while (i < n) {
              var t = slotOf(keys(i), m)
              while (slots(t) != 0) t = (t + 1) & m
              slots(t) = i + 1
              i += 1
            }
            bs.histKeys = keys; bs.histCounts = counts; bs.histSlots = slots
          }
        }
      }
      b += 1
    }
    if (n == 0) return EmptyLevels
    // body = most frequent size; tie-break: smaller size (body text is
    // the smaller of two equally-frequent sizes in practice)
    var body = java.lang.Double.longBitsToDouble(keys(0))
    var bodyCount = counts(0)
    var i = 1
    while (i < n) {
      val size = java.lang.Double.longBitsToDouble(keys(i))
      if (counts(i) > bodyCount ||
        (counts(i) == bodyCount && java.lang.Double.compare(size, body) < 0)) {
        body = size
        bodyCount = counts(i)
      }
      i += 1
    }
    var m = 0
    i = 0
    while (i < n) { if (java.lang.Double.longBitsToDouble(keys(i)) > body) m += 1; i += 1 }
    val ascending = if (m == 0) Array.emptyDoubleArray else new Array[Double](m)
    m = 0
    // one pass collects the header sizes and frees the table for the
    // next turn: newest key first, so each probe chain is still intact
    // when its key is looked up
    i = n - 1
    while (i >= 0) {
      val size = java.lang.Double.longBitsToDouble(keys(i))
      if (size > body) { ascending(m) = size; m += 1 }
      val mask = slots.length - 1
      var s = slotOf(keys(i), mask)
      while (slots(s) != i + 1) s = (s + 1) & mask
      slots(s) = 0
      i -= 1
    }
    if (m == 0) return EmptyLevels
    java.util.Arrays.sort(ascending)
    new HeaderLevels(ascending)
  }

  /** Fibonacci-hash slot of a size's bits in a power-of-two table */
  private def slotOf(bits: Long, mask: Int): Int = {
    val h = bits * 0x9e3779b97f4a7c15L
    (h ^ (h >>> 32)).toInt & mask
  }
}
