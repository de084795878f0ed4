package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.rag.{Bm25, Bm25Reference}

/** `Bm25.search` (one stats job, the byte kernel over the text) equals
  * its reference form (`agg(...).head()` stats and the array-form
  * scorer over `Bm25.termsCol`'s word arrays): the same rows in the
  * same order, n_matched equal and every score equal bit for bit. On a
  * seeded corpus and an adversarial one, with AQE on and off, over 1
  * and 7 partitions, and over a local relation (interpreted scoring).
  */
class Bm25PropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType(Seq(StructField("doc_id", LongType, nullable = true),
    StructField("raw", BinaryType, nullable = true)))

  /** (doc_id, text) over `parts` partitions; the text is cast from the
    * raw bytes, so invalid UTF-8 reaches both forms as it is
    */
  private def corpus(rows: Seq[(java.lang.Long, Array[Byte])], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (id, raw) => Row(id, raw) }, parts), schema)
      .select(col("doc_id"), col("raw").cast("string").as("text"))

  private def utf8(s: String): Array[Byte] = if (s == null) null else s.getBytes("UTF-8")

  private val rnd = new scala.util.Random(20261019L)

  private val vocab = (0 until 40).map(i => s"w$i") ++ Seq("hash", "join", "vector", "bm25")

  private val seeded: Seq[(java.lang.Long, Array[Byte])] = {
    def word(): String = {
      // skewed: low vocabulary indices are common, so dfs and tfs vary
      val w = vocab(math.min(vocab.size - 1, (rnd.nextDouble() * rnd.nextDouble() * vocab.size).toInt))
      if (rnd.nextInt(5) == 0) w.toUpperCase(java.util.Locale.ROOT) else w
    }
    val seps = Seq(" ", "  ", ", ", "-", "\n", ". ", " ", "é")
    (1L to 300L).map { i =>
      val n = rnd.nextInt(30)
      (java.lang.Long.valueOf(i), utf8((0 until n).map(_ => word())
        .mkString(seps(rnd.nextInt(seps.size)))))
    }
  }

  private val adversarialTerms = Seq("hash", "join", "vector", "k", "key", "hashk", "i", "ndex",
    "caf", "cole", "stra", "e", "42", "0042", "x42y", "na", "ve", "absent")

  private val adversarial: Seq[(java.lang.Long, Array[Byte])] = {
    val texts: Seq[Array[Byte]] = Seq(
      "hash", "HASH join Vector", "Hash-JOIN_vector42 42hash 0042 x42y X42Y",
      "join,hash.", " hash ", "vector\nvector\tVECTOR",
      "\u212Aey hash\u212A \u212A", // KELVIN SIGN lowers to ASCII k
      "\u0130ndex \u0130 hash", // U+0130 lowers to i + U+0307
      "naïve café Straße ÉCOLE HASH", // the row is lowered as a whole
      "\uff28\uff21\uff33\uff28 hash", // fullwidth letters are not words
      "ΣΑ Ж join 日本42", "", null,
      Array.fill(1 << 20)("hash").mkString(" "),
      Array.fill(1 << 12)("Join vector e").mkString(" ")).map(utf8) ++ Seq(
      Array[Byte]('h', 'a', 's', 'h', ' ', 0xff.toByte, 'j', 'o', 'i', 'n'),
      Array[Byte](0xc3.toByte, 'K', 'E', 'Y', ' ', 0x80.toByte),
      Array[Byte]('v', 'e', 'c', 't', 'o', 'r', ' ', 0xe2.toByte, 0x84.toByte))
    texts.zipWithIndex.map { case (t, i) => (java.lang.Long.valueOf(1000L + i), t) } ++
      seeded.take(40) :+ ((null: java.lang.Long, utf8("hash join")))
  }

  /** (doc_id, raw score bits, n_matched) in result order */
  private def bits(d: DataFrame): Seq[(Option[Long], Long, Long)] =
    d.collect().toSeq.map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
      java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.getLong(2)))

  private def queries(terms: Seq[String], n: Int): Seq[(Seq[String], Int)] =
    (0 until n).map { qi =>
      val q = rnd.shuffle(terms).take(1 + rnd.nextInt(4))
        .map(t => if (rnd.nextBoolean()) t.toUpperCase(java.util.Locale.ROOT) else t)
      (q, Seq(1, 10, 200)(qi % 3))
    }

  private def assertSame(name: String, d: DataFrame, qs: Seq[(Seq[String], Int)]): Int =
    qs.map { case (q, k) =>
      val got = bits(Bm25.search(d, "doc_id", "text", q, k))
      assert(got == bits(Bm25Reference.search(d, "doc_id", "text", q, k)),
        s"query $q k=$k on $name")
      got.size
    }.sum

  private def withAqe[A](on: Boolean)(f: => A): A = {
    val conf = spark.conf
    val saved = conf.get("spark.sql.adaptive.enabled")
    try { conf.set("spark.sql.adaptive.enabled", on.toString); f }
    finally conf.set("spark.sql.adaptive.enabled", saved)
  }

  for ((corpusName, rows, terms, nq) <- Seq(
      ("seeded", seeded, vocab ++ Seq("absent", "zz9"), 12),
      ("adversarial", adversarial, adversarialTerms, 10));
      aqe <- Seq(true, false)) {
    test(s"search equals the agg + array-scorer reference on the $corpusName corpus, AQE $aqe") {
      val qs = queries(terms, nq)
      withAqe(aqe) {
        val matched = Seq(1, 7).map(p => assertSame(s"$p partition(s)", corpus(rows, p), qs)).sum
        assert(matched > 0) // the queries do match
      }
    }
  }

  test("search equals the reference over a local relation (interpreted scoring)") {
    import spark.implicits._
    val local = adversarial
      .filter { case (id, raw) => id != null && raw != null && raw.length < 100 }
      .map { case (id, raw) => (id.longValue, new String(raw, "UTF-8")) }.toDF("doc_id", "text")
    assert(assertSame("local relation", local, queries(adversarialTerms, 8)) > 0)
  }
}
