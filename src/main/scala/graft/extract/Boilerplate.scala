package graft.extract

/** C9 — HTML boilerplate strip (north-rule extension; SURVEY.md §2.2).
  *
  * The reference handles PDF only; the north rule adds HTML
  * main-content extraction. Classification is a deterministic rules
  * tree over the public Boilerpipe/Readability-style features:
  * link density, tag path (nav/footer/header/aside subtrees), and
  * text length. A block is boilerplate iff any of:
  *   - its tag path contains a chrome tag (nav, footer, header, aside,
  *     menu, script, style, form, button),
  *   - link density > 0.5 (link-dominated),
  *   - text shorter than 10 chars AND link density > 0.25
  *     (short link stubs like "next »").
  */
object Boilerplate {

  /** chrome tags, matched per path segment: nav, footer, header,
    * aside, menu, script, style, form, button. The check runs once
    * per block inside the extraction kernel, so segments are matched
    * in place on the payload's bytes (length dispatch, then a byte
    * compare): one scan of the tag path.
    */
  def isBoilerplate(bs: Blocks, i: Int): Boolean =
    bs.isHtml(i) && (
      hasChromeTag(bs.bytes, bs.tagOff(i), bs.tagOff(i) + bs.tagLen(i)) ||
      bs.linkDensity(i) > 0.5 ||
      (bs.textChars(i) < 10 && bs.linkDensity(i) > 0.25))

  private def hasChromeTag(p: Array[Byte], from: Int, to: Int): Boolean = {
    var start = from
    while (start < to) {
      var end = start
      while (end < to && p(end) != '/') end += 1
      if (isChrome(p, start, end)) return true
      start = end + 1
    }
    false
  }

  private val Chrome: Array[Array[Array[Byte]]] = {
    val names = Seq("nav", "menu", "form", "aside", "style", "header", "footer",
      "script", "button").map(_.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    Array.tabulate(7)(len => names.filter(_.length == len).toArray)
  }

  private def isChrome(p: Array[Byte], s: Int, e: Int): Boolean = {
    if (e - s >= Chrome.length) return false
    val names = Chrome(e - s)
    var k = 0
    while (k < names.length) {
      if (regionIs(p, s, names(k))) return true
      k += 1
    }
    false
  }

  /** p[s, s + name.length) == name */
  private[extract] def regionIs(p: Array[Byte], s: Int, name: Array[Byte]): Boolean = {
    var k = 0
    while (k < name.length && p(s + k) == name(k)) k += 1
    k == name.length
  }
}
