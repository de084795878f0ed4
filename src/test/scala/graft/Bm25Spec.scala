package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.CollationFactory
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.rag.{Bm25, Bm25Score, Bm25Terms, Bm25TextScore}
import graft.text.TextKernels

/** BM25 retrieval: ranking sanity (tf saturation, idf down-weighting,
  * length normalization), determinism of the fixed-order combine, the
  * match-only result contract, and bit-equality of the native per-row
  * scorer with the explode/group-by plan it replaced. Then totality and
  * linear cost of the byte kernel, of the array-form reference scorer
  * and of the `AsciiWords` tokenizer both are built on.
  */
class Bm25Spec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def ranked(d: DataFrame, q: Seq[String], k: Int = 10): Seq[Long] =
    Bm25.search(d, "doc_id", "text", q, k).collect().map(_.getLong(0)).toSeq

  test("docs matching more query terms outrank single-term docs") {
    val d = df(
      1L -> "alpha beta gamma delta",
      2L -> "alpha epsilon zeta eta",
      3L -> "theta iota kappa lambda")
    val r = ranked(d, Seq("alpha", "beta"))
    assert(r == Seq(1L, 2L)) // doc 3 matches nothing and is absent
  }

  test("rare terms outweigh common ones (idf)") {
    // 'common' is in every doc, 'rare' in one: a doc matching only
    // 'rare' must outrank docs matching only 'common'
    val d = df(
      1L -> "common rare filler words here",
      2L -> "common other filler words here",
      3L -> "common more filler words here")
    val r = ranked(d, Seq("common", "rare"))
    assert(r.head == 1L)
  }

  test("shorter docs outrank longer ones at equal tf (length norm)") {
    val d = df(
      1L -> "needle plus a very long tail of many extra words diluting it",
      2L -> "needle short doc")
    val r = ranked(d, Seq("needle"))
    assert(r == Seq(2L, 1L))
  }

  test("case-insensitive matching, uppercase query accepted") {
    val d = df(1L -> "Needle IN a haystack", 2L -> "nothing relevant")
    assert(ranked(d, Seq("NEEDLE")) == Seq(1L))
  }

  test("scores are bit-identical across partition layouts") {
    val d = df((1L to 40L).map(i =>
      i -> s"term$i hash ${if (i % 2 == 0) "join join" else "vector"} filler"): _*)
    val a = Bm25.search(d, "doc_id", "text", Seq("hash", "join", "vector"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = Bm25.search(d.repartition(7), "doc_id", "text",
        Seq("hash", "join", "vector"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b)
  }

  test("duplicate query terms are rejected") {
    val d = df(1L -> "a b c")
    intercept[IllegalArgumentException] {
      Bm25.search(d, "doc_id", "text", Seq("a", "A"))
    }
  }

  test("query terms the tokenizer can never produce are rejected") {
    val d = df(1L -> "hash join naive a b c")
    for (q <- Seq(Seq("hash-join"), Seq(""), Seq("na\u00efve"), Seq("join", "a b"))) {
      val e = intercept[IllegalArgumentException] {
        Bm25.search(d, "doc_id", "text", q)
      }
      assert(e.getMessage.contains("[A-Za-z0-9]+"), q)
    }
  }

  test("two rows sharing an id are scored as two rows") {
    val d = df(1L -> "alpha beta", 1L -> "alpha alpha gamma delta",
      2L -> "beta gamma")
    val got = Bm25.search(d, "doc_id", "text", Seq("alpha")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    // N = 3 rows, df(alpha) = 2 rows, avgdl = 8/3
    val idf = math.log(1.0 + (3.0 - 2.0 + 0.5) / (2.0 + 0.5))
    def s(tf: Double, dl: Double): Double =
      idf * ((tf * (1.2 + 1.0)) / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (8.0 / 3.0))))
    assert(got.toSet == Set((1L, s(1, 2), 1L), (1L, s(2, 4), 1L)))
  }

  test("an all-null corpus returns no rows, as a corpus of no words does; an empty one is rejected") {
    assert(ranked(df(1L -> null, 2L -> null), Seq("a")).isEmpty)
    assert(ranked(df(1L -> "!!! ...", 2L -> ""), Seq("a")).isEmpty)
    // null texts count in N and add no words: dl/avgdl as if empty
    assert(ranked(df(1L -> null, 2L -> "a b"), Seq("a")) == Seq(2L))
    val e = intercept[IllegalArgumentException] {
      Bm25.search(df(1L -> "a").filter(col("doc_id") < 0L), "doc_id", "text", Seq("a"))
    }
    assert(e.getMessage.contains("empty corpus"))
  }

  // ---- the native scorer against the explode/group-by reference ----

  /** The plan `search` ran before the per-row scorer: explode every
    * token, tf per (doc_id, dl, term), then one fixed-order conditional
    * sum per query term per doc_id. Kept as the cross-check only.
    */
  private def referenceSearch(docs: DataFrame, idCol: String, textCol: String,
      query: Seq[String], topK: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val q = query.map(_.toLowerCase(java.util.Locale.ROOT))
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      Bm25.termsCol(col(textCol)).as("ws"))
    val statsRow = base.agg(
      count(lit(1)),
      (sum(size(col("ws"))) +:
        q.map(t => count(when(array_contains(col("ws"), t), 1)))): _*).head()
    val nDocs = statsRow.getLong(0)
    val avgdl = statsRow.getLong(1).toDouble / nDocs.toDouble
    val dfs = q.zipWithIndex.map { case (t, i) => t -> statsRow.getLong(2 + i) }.toMap
    val terms = graft.util.Staged.explodeOnce(
      base.select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
        col("ws")),
      Seq(col("doc_id"), col("dl")), col("ws"), "term")
      .filter(col("term").isin(q: _*))
    val tf = terms.groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    def idf(term: String): Double = {
      val df = dfs(term).toDouble
      math.log(1.0 + (nDocs.toDouble - df + 0.5) / (df + 0.5))
    }
    val norm = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / lit(avgdl)))
    val score = q.map(t =>
      sum(when(col("term") === t, lit(idf(t)) * norm).otherwise(lit(0.0))))
      .reduce(_ + _)
    tf.groupBy("doc_id")
      .agg(score.as("score"), count(lit(1)).cast("long").as("n_matched"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** (doc_id, raw score bits, n_matched) in result order */
  private def bits(d: DataFrame): Seq[(Option[Long], Long, Long)] =
    d.collect().toSeq.map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
      java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.getLong(2)))

  test("property: rows, order, n_matched and score bits equal the explode/group-by plan") {
    val rnd = new scala.util.Random(20261017L)
    val vocab = (0 until 40).map(i => s"w$i") ++ Seq("hash", "join", "vector", "bm25")
    def word(): String = {
      // skewed: low vocabulary indices are common, so dfs and tfs vary
      val w = vocab(math.min(vocab.size - 1, (rnd.nextDouble() * rnd.nextDouble() * vocab.size).toInt))
      if (rnd.nextInt(5) == 0) w.toUpperCase else w
    }
    val seps = Seq(" ", "  ", ", ", "-", "\n", ". ")
    val rows = (1L to 300L).map { i =>
      val n = rnd.nextInt(30)
      Row(java.lang.Long.valueOf(i),
        (0 until n).map(_ => word()).mkString(seps(rnd.nextInt(seps.size))))
    } ++ Seq(Row(java.lang.Long.valueOf(301L), ""), Row(java.lang.Long.valueOf(302L), null),
      Row(null, "w0 w1 hash hash join"))
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = true),
      StructField("text", StringType, nullable = true)))
    val corpus = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val spread = corpus.repartition(7)
    val absent = Seq("absent", "nowhere", "zz9")
    var compared = 0
    for (qi <- 0 until 50) {
      val nTerms = 1 + rnd.nextInt(4)
      val q = rnd.shuffle(vocab ++ absent).take(nTerms)
        .map(t => if (rnd.nextBoolean()) t.toUpperCase else t)
      val k = Seq(1, 10, 200)(qi % 3)
      for ((name, d) <- Seq("plain" -> corpus, "repartition(7)" -> spread)) {
        val got = bits(Bm25.search(d, "doc_id", "text", q, k))
        val want = bits(referenceSearch(d, "doc_id", "text", q, k))
        assert(got == want, s"query $q k=$k on $name")
        compared += got.size
      }
    }
    assert(compared > 1000) // the queries do match, at every k
  }

  // ---- kernel totality and cost ----

  private val binary = new Bm25Terms(Seq("a", "c"), CollationFactory.UTF8_BINARY_COLLATION_ID, false)

  private def textKernel(s: UTF8String): InternalRow =
    Bm25TextScore.score(s, binary, Array(1.5, 2.5), Array(2.2, 1.2, 0.25, 0.75, 3.0))

  test("Bm25TextScore is total: null text, empty, invalid UTF-8, a 2^20-word row") {
    import org.apache.spark.sql.GraftExprBridge._
    val invalid = Array[Byte]('A', ' ', 0xff.toByte, 'c', 0xc3.toByte, ' ', 'a', 0x80.toByte)
    val big = Array.fill(1 << 20)("A").mkString(" ")
    val raws: Seq[Array[Byte]] = Seq(null, Array.emptyByteArray, invalid,
      "b c\u212A, C".getBytes("UTF-8"), big.getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("raw", BinaryType)))
    val d = spark.createDataFrame(spark.sparkContext.parallelize(
        raws.zipWithIndex.map { case (r, i) => Row(i.toLong, r) }, 2), schema)
      .select(col("id"), col("raw").cast("string").as("text"))
    val got = d.select(col("id"),
        toColumn(Bm25TextScore(toExpression(col("text")), Seq("a", "c"), Seq(1.5, 2.5),
          1.2, 0.75, 3.0, useICU = false)).as("m"),
        toColumn(Bm25Score(toExpression(Bm25.termsCol(col("text"))), Seq("a", "c"),
          Seq(1.5, 2.5), 1.2, 0.75, 3.0)).as("ref"))
      .orderBy("id").collect()
    def bitsOf(r: Row, i: Int): Option[(Long, Long)] = Option(r.getStruct(i))
      .map(s => (java.lang.Double.doubleToRawLongBits(s.getDouble(0)), s.getLong(1)))
    assert(got.map(r => bitsOf(r, 1)).toSeq == got.map(r => bitsOf(r, 2)).toSeq)
    assert(got.map(r => bitsOf(r, 1).isDefined).toSeq == Seq(false, false, true, true, true))
    // the interpreted path and the direct kernel agree with the generated one
    raws.zip(got).foreach { case (raw, r) =>
      val s = if (raw == null) null else UTF8String.fromBytes(raw)
      val interpreted = Bm25TextScore(Literal.create(s, StringType),
          Seq("a", "c"), Seq(1.5, 2.5), 1.2, 0.75, 3.0, useICU = false)
        .eval(null).asInstanceOf[InternalRow]
      val direct = if (s == null) null else textKernel(s)
      for (k <- Seq(interpreted, direct))
        assert(Option(k).map(x => (java.lang.Double.doubleToRawLongBits(x.getDouble(0)),
          x.getLong(1))) == bitsOf(r, 1))
    }
    // dl and tf of the big row, counted in place
    val tf = new Array[Int](2)
    assert(binary.count(UTF8String.fromString(big), tf) == (1 << 20) && tf.toSeq == Seq(1 << 20, 0))
  }

  test("Bm25TextScore cost is linear in one row's bytes and in the number of rows (n vs 4n)") {
    def words(n: Int, sep: String) =
      (0 until n).map(i => if (i % 5 == 0) "A" else s"t${i % 97}").mkString(sep)
    val shapes = Seq(
      ("one huge row", Seq(UTF8String.fromString(words(1 << 17, " "))),
        Seq(UTF8String.fromString(words(1 << 19, " ")))),
      ("one huge non-ASCII row", Seq(UTF8String.fromString(words(1 << 15, " \u00e9 "))),
        Seq(UTF8String.fromString(words(1 << 17, " \u00e9 ")))),
      ("many short rows", Seq.tabulate(1 << 13)(i => UTF8String.fromString(s"c ${words(8, " ")} $i")),
        Seq.tabulate(1 << 15)(i => UTF8String.fromString(s"c ${words(8, " ")} $i"))))
    for ((shape, small, large) <- shapes) {
      val r = Linearity.ratio(() => small.foreach(textKernel), () => large.foreach(textKernel))
      // linear reads ~4; quadratic would read ~16
      assert(r < 8.0, s"$shape: 4n/n time ratio $r")
    }
  }

  test("AsciiWords cost is linear in one row's bytes and in the number of rows (n vs 4n)") {
    def text(n: Int) = UTF8String.fromString((0 until n).map(i => s"w$i,").mkString(" "))
    val small = text(1 << 16)
    val large = text(1 << 18)
    val r = Linearity.ratio(() => TextKernels.asciiWords(small), () => TextKernels.asciiWords(large))
    assert(r < 8.0, s"one huge row: 4n/n time ratio $r")
    val rows = Seq.tabulate(1 << 14)(i => UTF8String.fromString(s"row $i of some words"))
    val r2 = Linearity.ratio(() => rows.take(1 << 12).foreach(TextKernels.asciiWords),
      () => rows.foreach(TextKernels.asciiWords))
    assert(r2 < 8.0, s"many short rows: 4n/n time ratio $r2")
  }

  private def kernel(tokens: Array[UTF8String], terms: Seq[String]): InternalRow =
    Bm25Score.score(new GenericArrayData(tokens.asInstanceOf[Array[Any]]),
      terms.map(UTF8String.fromString).toArray, Array.fill(terms.size)(1.5),
      Array(2.2, 1.2, 0.25, 0.75, 3.0))

  test("Bm25Score is total: null array, null elements, a 2^20-token row") {
    import org.apache.spark.sql.GraftExprBridge._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("ws", ArrayType(StringType, containsNull = true))))
    val d = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, null), Row(2L, Seq("a", null, "b", null)), Row(3L, Seq(null, null)),
      Row(4L, Seq.empty[String])), 2), schema)
    val scoreCol = toColumn(Bm25Score(toExpression(col("ws")), Seq("a", "c"),
      Seq(1.5, 2.5), 1.2, 0.75, 3.0))
    val got = d.select(col("id"), scoreCol.as("m")).orderBy("id").collect()
      .map(r => r.getLong(0) -> Option(r.getStruct(1)).map(s => (s.getDouble(0), s.getLong(1))))
      .toSeq
    // row 2: dl = 4 (null elements count), tf(a) = 1, c absent
    val s2 = 1.5 * ((1.0 * (1.2 + 1.0)) / (1.0 + 1.2 * ((1.0 - 0.75) + 0.75 * 4.0 / 3.0))) + 0.0
    assert(got == Seq(1L -> None, 2L -> Some((s2, 1L)), 3L -> None, 4L -> None))
    // the interpreted path agrees with the generated one
    def interpreted(ws: Seq[String]): Option[(Double, Long)] =
      Option(Bm25Score(Literal.create(ws, ArrayType(StringType)), Seq("a", "c"),
          Seq(1.5, 2.5), 1.2, 0.75, 3.0).eval(null).asInstanceOf[InternalRow])
        .map(s => (s.getDouble(0), s.getLong(1)))
    assert(Seq(null, Seq("a", null, "b", null), Seq(null, null), Seq.empty[String])
      .map(interpreted) == got.map(_._2))
    val big = Array.tabulate(1 << 20)(i => UTF8String.fromString(if (i % 3 == 0) "a" else "b"))
    val r = kernel(big, Seq("a", "b", "c"))
    assert(r.getLong(1) == 2L && r.getDouble(0) > 0.0)
    // and end to end through search: one 2^20-word document
    val huge = df(1L -> Array.fill(1 << 20)("a").mkString(" "), 2L -> "b a")
    assert(ranked(huge, Seq("a")).toSet == Set(1L, 2L))
  }

  test("Bm25Score cost is linear in the row's tokens (n vs 4n)") {
    val n = 1 << 17
    val small = Array.tabulate(n)(i => UTF8String.fromString(s"t${i % 97}"))
    val large = Array.tabulate(4 * n)(i => UTF8String.fromString(s"t${i % 97}"))
    val terms = Seq("t1", "t50", "absent", "t96")
    val r = Linearity.ratio(() => kernel(small, terms), () => kernel(large, terms))
    // linear reads ~4; quadratic would read ~16
    assert(r < 8.0, s"4n/n time ratio $r")
  }

  // ---- RRF fusion ----

  private def list(rows: (Long, Double)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "score")
  }

  test("rrfFuse: exact scores, both-list ids first, n_lists counts") {
    val lex = list(1L -> 0.9, 2L -> 0.8)
    val vec = list(2L -> 0.7, 3L -> 0.6)
    val out = graft.rag.Hybrid.rrfFuse(lex, vec, "doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(out == Seq(
      (2L, 1.0 / 61 + 1.0 / 62, 2L), // rank 2 lexically, rank 1 vector
      (1L, 1.0 / 61, 1L),
      (3L, 1.0 / 62, 1L)))
  }

  test("rrfFuse ranks break score ties by id, layout-invariantly") {
    val lex = list(5L -> 0.5, 4L -> 0.5, 3L -> 0.5)
    val vec = list(9L -> 0.5)
    val a = graft.rag.Hybrid.rrfFuse(lex, vec, "doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = graft.rag.Hybrid.rrfFuse(lex.repartition(5), vec, "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b)
    // lex ranks break the 0.5 tie by id (3,4,5 -> ranks 1,2,3); the
    // 1/61 rrf tie between ids 3 and 9 breaks by id in the fusion
    assert(a.map(_._1) == Seq(3L, 9L, 4L, 5L))
  }
}
