package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.text.Dedup

/** Span-level exact substring dedup (Dedup.dupSpans / dedupSpans):
  * exact span boundaries on hand fixtures — cross-doc copies,
  * within-doc repetition, winner exemption, adjacency merging — and
  * the cleaned-text reconstruction invariants.
  */
class SpanDedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def df(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def spans(d: DataFrame, k: Int = 8): Set[(Long, Long, Long)] =
    Dedup.dupSpans(d, "doc_id", "text", k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  // 20 distinct tokens to build from
  private val W = ('a' to 't').map(c => s"w$c").toArray
  private def toks(is: Range): String = is.map(W(_)).mkString(" ")

  test("cross-doc copy: the later doc carries the span, the first is exempt") {
    // doc 2 embeds doc 1's tokens 0..11 (12 tokens) inside unique text
    val d = df(
      1L -> toks(0 until 12),
      2L -> (s"unique1 unique2 unique3 ${toks(0 until 12)} tail1 tail2 tail3"))
    // doc 2: grams at pos 3..7 are dups (grams fully inside the copy:
    // positions 3..(3+12-8)); merged span = [3, 7+8) = [3, 15)
    assert(spans(d) == Set((2L, 3L, 15L)))
  }

  test("within-doc repetition: only the second occurrence is marked") {
    // tokens 0..11 then the same 12 tokens again: copy starts at 12;
    // dup grams at pos 12..16 -> span [12, 24). The junction grams
    // (pos 5..11 straddling both copies) repeat NOWHERE: e.g. pos 5 =
    // [5..11, 0] which occurs only once
    val d = df(1L -> (toks(0 until 12) + " " + toks(0 until 12)))
    assert(spans(d) == Set((1L, 12L, 24L)))
  }

  test("adjacent and overlapping windows merge; a gap > k splits") {
    // base doc owns three distinct 8-token sentences A, B, C; the copy
    // doc has A, one unique token, then C: A's span [0,8) and C's span
    // [9,17) stay separate (gap 9 - 0 > 8 between last dup gram starts)
    val a = toks(0 until 8); val c = toks(12 until 20)
    val d = df(
      1L -> s"$a x1 x2 x3 $c",
      2L -> s"$a y1 $c")
    // doc 2: dup grams at pos 0 (A) and pos 9 (C) -> two spans
    assert(spans(d) == Set((2L, 0L, 8L), (2L, 9L, 17L)))
  }

  test("documents shorter than k tokens produce no grams and no spans") {
    val d = df(1L -> "a b c", 2L -> "a b c", 3L -> toks(0 until 8),
      4L -> toks(0 until 8))
    // the 3-token docs are invisible to k=8 grams even though equal;
    // the twin 8-token docs dup: doc 4 carries the span
    assert(spans(d) == Set((4L, 0L, 8L)))
  }

  test("dedupSpans summary + cleaned text reconstruction") {
    val d = df(
      1L -> toks(0 until 12),
      2L -> (s"u1 u2 u3 ${toks(0 until 12)} t1 t2 t3"))
    val out = Dedup.dedupSpans(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // doc 1 untouched: cleaned = its own token stream
    assert(out(1L) == ((12L, 0L, 0L, toks(0 until 12))))
    // doc 2: 18 tokens, one span [3, 15) = 12 dup tokens removed
    assert(out(2L) == ((18L, 1L, 12L, "u1 u2 u3 t1 t2 t3")))
  }

  test("cleaned token count equals n_tokens - dup_tokens on a mixed corpus") {
    val d = df(
      1L -> toks(0 until 20),
      2L -> (toks(0 until 20) + " extra"),
      3L -> (s"z1 z2 ${toks(5 until 15)} z3"),
      4L -> "short text only")
    Dedup.dedupSpans(d, "doc_id", "text").collect().foreach { r =>
      val kept =
        if (r.getString(4).isEmpty) 0 else r.getString(4).split(" ").length
      assert(kept == r.getLong(1) - r.getLong(3),
        s"doc ${r.getLong(0)}: kept $kept != ${r.getLong(1)} - ${r.getLong(3)}")
    }
  }

  test("incremental: corpus hits are marked everywhere, corpus emits no rows") {
    val corpus = df(1L -> toks(0 until 12), 2L -> toks(8 until 20))
    // batch doc 10 embeds corpus doc 1's 12 tokens: EVERY copy in the
    // batch is marked (the corpus copy is the canonical one)
    val batch = df(10L -> s"n1 n2 n3 ${toks(0 until 12)} m1 m2")
    val out = Dedup.dupSpansIncremental(corpus, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((10L, 3L, 15L)))
  }

  test("incremental: within-batch dups elect a first occurrence; corpus-free") {
    val corpus = df(1L -> toks(0 until 12))
    // 10 tokens whose 8-grams need W(12..17) — beyond the corpus doc's
    // W(0..11), so no corpus gram matches; dup is batch-internal only
    val shared = toks(8 until 18)
    val batch = df(
      20L -> s"u1 u2 u3 u4 u5 u6 u7 u8 $shared",
      21L -> s"v1 v2 v3 v4 v5 v6 v7 v8 $shared")
    val out = Dedup.dupSpansIncremental(corpus, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 20 (first occurrence) keeps the shared run; doc 21's copy at
    // positions 8..17 is marked via grams fully inside -> [8, 18)
    assert(out == Set((21L, 8L, 18L)))
  }

  test("incremental: a unique batch is untouched") {
    val corpus = df(1L -> toks(0 until 20))
    val batch = df(30L -> "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10")
    assert(Dedup.dupSpansIncremental(corpus, batch, "doc_id", "text")
      .count() == 0)
  }
}
