package graft.gen

import java.sql.Timestamp

/** Deterministic transcript + golden fixture generator (FIXTURES.md §1–3).
  *
  * Mirrors how the reference tests conversion with local fixtures
  * (/root/reference/test/resources/README.md prescribes a golden
  * `expected/` convention; /root/reference/scripts/test_http_server.py
  * generates its PDF in-test). Two renderers over one intent model:
  *
  *  - `payload`: the serialized block stream a turn's `text` carries
  *    (FIXTURES.md §2 line encoding), with PDF span lines shuffled to
  *    force reading-order reconstruction (C3);
  *  - `golden`: the expected Markdown per (conv_id, turn_idx),
  *    computed from intent — NOT by running the extraction kernel —
  *    so the test is a genuine inverse check.
  *
  * Everything is seeded (splitmix64) and per-conversation derivable, so
  * generation distributes over executors (no driver materialization at
  * bench scale).
  */
object TranscriptGen {

  // ---------------------------------------------------------------- RNG

  /** splitmix64 — public-domain PRNG (Steele et al., "Fast Splittable
    * Pseudorandom Number Generators", OOPSLA 2014).
    */
  final class Rng(seed0: Long) {
    private var state = seed0
    def nextLong(): Long = {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def nextInt(bound: Int): Int = {
      val r = nextLong() >>> 1
      (r % bound).toInt
    }
    def nextBool(pct: Int): Boolean = nextInt(100) < pct
  }

  def mix(a: Long, b: Long): Long = {
    var z = a ^ (b * 0x9e3779b97f4a7c15L)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // ------------------------------------------------------------- intent

  sealed trait Elem
  final case class Heading(size: Double, text: String) extends Elem
  final case class Para(text: String, flags: Int) extends Elem
  final case class Bullets(items: Vector[String], numbered: Boolean) extends Elem
  final case class Table(rows: Vector[Vector[String]]) extends Elem
  final case class Code(lines: Vector[String]) extends Elem
  // HTML intent
  final case class HHead(level: Int, text: String) extends Elem
  final case class HPara(text: String) extends Elem
  final case class HList(items: Vector[String]) extends Elem
  final case class HPre(lines: Vector[String]) extends Elem
  final case class HQuote(text: String) extends Elem
  /** boilerplate — present in payload, absent from golden */
  final case class HBoiler(tagPath: String, text: String, linkChars: Int) extends Elem

  final case class Page(cols: Vector[Vector[Elem]]) // 1 or 2 columns

  private val Vocab: Vector[String] = Vector(
    "spark", "merge", "join", "scan", "filter", "window", "batch",
    "stream", "table", "column", "vector", "query", "group", "order",
    "hash", "sort", "part", "agg", "key", "value", "row", "line",
    "data", "fast", "slow", "small", "big", "the", "customer", "dup")

  private val CodeVocab: Vector[String] = Vector(
    "val", "def", "map", "flatMap", "reduce", "select", "where",
    "groupBy", "count", "limit", "x", "y", "acc", "fn")

  private val BodySize = 10.0
  private val H1Size = 18.0
  private val H2Size = 14.0

  private def words(rng: Rng, n: Int): String =
    (0 until n).map(_ => Vocab(rng.nextInt(Vocab.length))).mkString(" ")

  private def sentence(rng: Rng): String =
    words(rng, 8 + rng.nextInt(12)) + "."

  private def para(rng: Rng): String =
    (0 until 1 + rng.nextInt(2)).map(_ => sentence(rng)).mkString(" ")

  // --------------------------------------------------- element sampling

  /** groupable kinds must not be adjacent in reading order (the
    * emitter folds adjacent lists/fences/tables into one element)
    */
  private def kindKey(e: Elem): String = e match {
    case _: Bullets | _: HList => "list"
    case _: Code | _: HPre => "code"
    case _: Table => "table"
    case _ => "flow-" // never groups
  }

  private def samplePdfElem(rng: Rng, last: String): Elem = {
    var e: Elem = null
    do {
      e = rng.nextInt(10) match {
        case 0 | 1 | 2 | 3 => Para(para(rng), 0)
        case 4 => Para(words(rng, 5 + rng.nextInt(6)) + ".",
          1 + rng.nextInt(3)) // bold/italic/both
        case 5 => Bullets(Vector.fill(2 + rng.nextInt(3))(
          words(rng, 3 + rng.nextInt(4))), numbered = false)
        case 6 => Bullets(Vector.fill(2 + rng.nextInt(3))(
          words(rng, 3 + rng.nextInt(4))), numbered = true)
        case 7 => Table {
          val ncol = 2 + rng.nextInt(2)
          Vector.fill(2 + rng.nextInt(3))(
            Vector.fill(ncol)(words(rng, 1 + rng.nextInt(2))))
        }
        case 8 => Code(Vector.fill(2 + rng.nextInt(3))(
          (0 until 3 + rng.nextInt(3))
            .map(_ => CodeVocab(rng.nextInt(CodeVocab.length)))
            .mkString(" ")))
        case _ => Heading(H2Size, words(rng, 3 + rng.nextInt(4)))
      }
    } while (kindKey(e) != "flow-" && kindKey(e) == last)
    e
  }

  private def genPdfPages(rng: Rng): Vector[Page] = {
    val nPages = 1 + rng.nextInt(2)
    var lastKind = "flow-"
    val pages = (0 until nPages).map { p =>
      val twoCol = rng.nextBool(30)
      val nCols = if (twoCol) 2 else 1
      lastKind = "flow-" // grouping never crosses a page boundary
      val cols = (0 until nCols).map { c =>
        val base = Vector.newBuilder[Elem]
        if (p == 0 && c == 0) base += Heading(H1Size, words(rng, 2 + rng.nextInt(3)))
        else if (rng.nextBool(40)) base += Heading(H2Size, words(rng, 2 + rng.nextInt(3)))
        (0 until 2 + rng.nextInt(3)).foreach { _ =>
          val e = samplePdfElem(rng, lastKind)
          lastKind = kindKey(e)
          base += e
        }
        base.result()
      }.toVector
      Page(cols)
    }.toVector
    ensureBodyDominates(rng, pages)
  }

  /** C2 safety: the font-size histogram must elect BodySize as body —
    * guarantee body char count strictly exceeds every heading size's.
    */
  private def ensureBodyDominates(rng: Rng, pages: Vector[Page]): Vector[Page] = {
    def charsBySize(ps: Vector[Page]): Map[Double, Long] = {
      val m = collection.mutable.Map.empty[Double, Long].withDefaultValue(0L)
      ps.foreach(_.cols.foreach(_.foreach {
        case Heading(sz, t) => m(sz) += t.length
        case Para(t, _) => m(BodySize) += t.length
        case Bullets(items, _) => items.foreach(i => m(BodySize) += i.length + 2)
        case Code(lines) => lines.foreach(l => m(BodySize) += l.length)
        case _: Table => () // table rows excluded from the histogram
        case _ => ()
      }))
      m.toMap
    }
    var ps = pages
    var guard = 0
    while (guard < 50 && {
      val m = charsBySize(ps)
      val body = m.getOrElse(BodySize, 0L)
      m.exists { case (sz, n) => sz != BodySize && n + 10 >= body }
    }) {
      val p0 = ps.head
      val c0 = p0.cols.head :+ (Para(para(rng), 0): Elem)
      ps = ps.updated(0, Page(p0.cols.updated(0, c0)))
      guard += 1
    }
    ps
  }

  private def genHtmlElems(rng: Rng): Vector[Elem] = {
    val out = Vector.newBuilder[Elem]
    out += HBoiler("body/nav/a", "home docs api blog contact", 26)
    out += HHead(2, words(rng, 2 + rng.nextInt(3)))
    var lastKind = "flow-"
    (0 until 2 + rng.nextInt(4)).foreach { _ =>
      var e: Elem = null
      do {
        e = rng.nextInt(8) match {
          case 0 | 1 | 2 => HPara(para(rng))
          case 3 => HList(Vector.fill(2 + rng.nextInt(3))(
            words(rng, 3 + rng.nextInt(3))))
          case 4 => HPre(Vector.fill(2 + rng.nextInt(2))(
            (0 until 3).map(_ => CodeVocab(rng.nextInt(CodeVocab.length)))
              .mkString(" ")))
          case 5 => HQuote(sentence(rng))
          case 6 => HHead(3, words(rng, 2 + rng.nextInt(2)))
          case _ => HPara(para(rng))
        }
      } while (kindKey(e) != "flow-" && kindKey(e) == lastKind)
      lastKind = kindKey(e)
      out += e
      if (rng.nextBool(25)) {
        out += HBoiler("body/div/a", "read more", 9)
        // boilerplate is dropped before grouping — it does NOT reset
        // adjacency, so lastKind stays
      }
    }
    out += HBoiler("body/footer/p", "copyright 2026 all rights reserved", 34)
    out.result()
  }

  // ------------------------------------------------------ render payload

  private def pdfPayload(rng: Rng, pages: Vector[Page]): String = {
    val lines = Vector.newBuilder[String]
    pages.zipWithIndex.foreach { case (page, p) =>
      val colX: Vector[(Double, Double)] =
        if (page.cols.length == 2) Vector((50.0, 240.0), (300.0, 490.0))
        else Vector((50.0, 490.0))
      page.cols.zipWithIndex.foreach { case (col, c) =>
        var y = 50.0
        val (x0, x1) = colX(c)
        def span(fontSize: Double, flags: Int, text: String): Unit = {
          lines += s"P$p\t$x0,$y,$x1,${y + 12}\t$fontSize\t$flags\t$text"
          y += 14.0
        }
        col.foreach {
          case Heading(sz, t) => span(sz, 0, t)
          case Para(t, flags) => span(BodySize, flags, t)
          case Bullets(items, numbered) =>
            items.zipWithIndex.foreach { case (it, i) =>
              span(BodySize, 0, if (numbered) s"${i + 1}. $it" else s"- $it")
            }
          case Table(rows) =>
            rows.foreach(r => span(BodySize, Block_TableRow, r.mkString("|")))
          case Code(ls) => ls.foreach(l => span(BodySize, Block_Mono, l))
          case _ => ()
        }
      }
    }
    shuffle(rng, lines.result()).mkString("\n")
  }

  private val Block_TableRow = 8
  private val Block_Mono = 4

  private def htmlPayload(elems: Vector[Elem]): String = {
    val lines = Vector.newBuilder[String]
    def h(tagPath: String, linkChars: Int, text: String): Unit =
      lines += s"H\t$tagPath\t$linkChars\t$text"
    elems.foreach {
      case HHead(l, t) => h(s"body/article/h$l", 0, t)
      case HPara(t) => h("body/article/p", 0, t)
      case HList(items) => items.foreach(i => h("body/article/ul/li", 0, i))
      case HPre(ls) => ls.foreach(l => h("body/article/pre", 0, l))
      case HQuote(t) => h("body/article/blockquote", 0, t)
      case HBoiler(path, t, lc) => h(path, lc, t)
      case _ => ()
    }
    lines.result().mkString("\n")
  }

  private def shuffle(rng: Rng, v: Vector[String]): Vector[String] = {
    val a = v.toArray
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector
  }

  // ------------------------------------------------------- render golden

  /** Heading level map, same ranking the kernel applies: sizes above
    * body ranked descending → 1..6 (pymupdf4llm IdentifyHeaders rule).
    */
  private def levelMap(pages: Vector[Page]): Map[Double, Int] = {
    val sizes = pages.flatMap(_.cols.flatMap(_.collect {
      case Heading(sz, _) => sz
    })).distinct.sorted(Ordering[Double].reverse)
    sizes.zipWithIndex.map { case (sz, i) => sz -> math.min(i + 1, 6) }.toMap
  }

  private def goldenPdf(pages: Vector[Page]): String = {
    val lm = levelMap(pages)
    val elems = Vector.newBuilder[String]
    pages.foreach { page =>
      page.cols.foreach(_.foreach {
        case Heading(sz, t) => elems += ("#" * lm(sz) + " " + t)
        case Para(t, flags) =>
          elems += (flags match {
            case 3 => s"***$t***"
            case 1 => s"**$t**"
            case 2 => s"*$t*"
            case _ => t
          })
        case Bullets(items, numbered) =>
          elems += items.zipWithIndex.map { case (it, i) =>
            if (numbered) s"${i + 1}. $it" else s"- $it"
          }.mkString("\n")
        case Table(rows) =>
          val header = rows.head.mkString("|", "|", "|")
          val sep = rows.head.map(_ => "---").mkString("|", "|", "|")
          val body = rows.tail.map(_.mkString("|", "|", "|"))
          elems += (Vector(header, sep) ++ body).mkString("\n")
        case Code(ls) => elems += ("```\n" + ls.mkString("\n") + "\n```")
        case _ => ()
      })
      elems += "-----"
    }
    elems.result().mkString("\n\n") + "\n"
  }

  private def goldenHtml(elems: Vector[Elem]): String = {
    val out = Vector.newBuilder[String]
    var pendingList = Vector.empty[String]
    def flushList(): Unit = if (pendingList.nonEmpty) {
      out += pendingList.map("- " + _).mkString("\n")
      pendingList = Vector.empty
    }
    elems.foreach {
      case HList(items) => pendingList = pendingList ++ items
      case _: HBoiler => () // dropped; does not break list adjacency
      case e =>
        flushList()
        e match {
          case HHead(l, t) => out += ("#" * l + " " + t)
          case HPara(t) => out += t
          case HPre(ls) => out += ("```\n" + ls.mkString("\n") + "\n```")
          case HQuote(t) => out += ("> " + t)
          case _ => ()
        }
    }
    flushList()
    out.result().mkString("\n\n") + "\n"
  }

  // -------------------------------------------------------- public API

  final case class TranscriptRow(conv_id: String, turn_idx: Int, role: String,
      text: String, tool: String, ts: Timestamp)
  final case class GoldenRow(conv_id: String, turn_idx: Int, markdown: String)

  val Epoch: Long = 1767225600000L // 2026-01-01T00:00:00Z, fixed

  /** Turn count for conversation i: Zipf-ish skew — 1 in 100
    * conversations gets ~50x the median (FIXTURES.md §1), exercising
    * AQE skew handling.
    */
  def turnCount(seed: Long, convIdx: Long): Int = {
    val rng = new Rng(mix(seed, convIdx * 31 + 7))
    if (convIdx % 100 == 99) 50 * 13 else 8 + rng.nextInt(10)
  }

  /** Generate one conversation — pure, derivable per conv, so callable
    * inside a distributed flatMap.
    */
  def genConv(seed: Long, convIdx: Long): (Vector[TranscriptRow], Vector[GoldenRow]) = {
    val convId = f"conv-$convIdx%06d"
    val n = turnCount(seed, convIdx)
    val ts = Vector.newBuilder[TranscriptRow]
    val gs = Vector.newBuilder[GoldenRow]
    (0 until n).foreach { turnIdx =>
      val rng = new Rng(mix(mix(seed, convIdx), turnIdx.toLong))
      val role = Vector("user", "assistant", "tool")(turnIdx % 3)
      val (payload, golden, tool) = role match {
        case "user" =>
          val t = sentence(rng)
          (t, t + "\n", null)
        case "assistant" =>
          val pages = genPdfPages(rng)
          (pdfPayload(rng, pages), goldenPdf(pages), "pdf_reader")
        case _ =>
          val elems = genHtmlElems(rng)
          (htmlPayload(elems), goldenHtml(elems), "web_fetch")
      }
      ts += TranscriptRow(convId, turnIdx, role, payload, tool,
        new Timestamp(Epoch + turnIdx * 7000L))
      gs += GoldenRow(convId, turnIdx, golden)
    }
    (ts.result(), gs.result())
  }
}
