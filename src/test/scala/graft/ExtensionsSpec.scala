package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** SQL surface via SparkSessionExtensions: the custom Catalyst
  * DotProduct expression callable from plain SQL.
  */
class ExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    // getOrCreate ignores withExtensions when another suite leaked a
    // live session — stop it so injection is actually exercised,
    // independent of suite order
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = spark.stop()

  test("dot_product callable from SQL (extension injection)") {
    val r = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .head().getDouble(0)
    assert(r == 32.0)
  }

  test("dot_product registrable on an existing session") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT dot_product(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS d")
      .head().getDouble(0)
    assert(r == 0.0)
  }

  test("all native kernels callable from SQL") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT size(hash_embed('spark join')) AS d,
        |  simhash60('alpha beta gamma') AS sh,
        |  size(minhash_sig('a b c d e')) AS mh,
        |  size(shingle_hashes('a b c d')) AS all_sh,
        |  size(shingle_hashes_distinct('a b c a b c a b')) AS dst_sh,
        |  l2_normalize(array(3.0D, 4.0D)) AS n""".stripMargin).head()
    assert(r.getInt(0) == graft.rag.HashEmbedder.Dim)
    assert(r.getLong(1) != 0L)
    assert(r.getInt(2) == graft.text.Dedup.NumHashes)
    assert(r.getInt(3) == 2)
    assert(r.getInt(4) == 3) // "a b c","b c a","c a b" distinct of 6
    assert(r.getSeq[Double](5) == Seq(0.6, 0.8))
    // word_stats struct + the bottom_k AGGREGATE through plain SQL
    val s = spark.sql(
      """SELECT word_stats('the quick the fox').n_words AS nw,
        |  word_stats('the quick the fox').hits[0] AS en_hits""".stripMargin).head()
    assert(s.getInt(0) == 4 && s.getInt(1) == 2)
    val bk = spark.sql(
      "SELECT bottom_k(v, 3) FROM VALUES (9L),(1L),(5L),(1L),(7L) t(v)").head()
    assert(bk.getSeq[Long](0) == Seq(1L, 5L, 7L))
    // nfc_normalize: decomposed e+U+0301 composes to é through SQL
    val nn = spark.sql("SELECT nfc_normalize('café') AS s").head()
    assert(nn.getString(0) == "café")
  }

  test("nearest_centroid fails loudly on dim mismatch and null elements") {
    import org.apache.spark.sql.functions._
    val cents = Seq(Array(1.0, 0.0), Array(0.0, 1.0))
    def msgOf(t: Throwable): String = {
      val sb = new StringBuilder
      var c: Throwable = t
      while (c != null) { sb ++= " " + String.valueOf(c.getMessage); c = c.getCause }
      sb.toString
    }
    val mismatch = intercept[Throwable] {
      spark.range(1).select(graft.rag.VectorExprs.nearestCentroid(
        array(lit(1.0), lit(2.0), lit(3.0)), cents)).collect()
    }
    assert(msgOf(mismatch).contains("dim"))
    val nul = intercept[Throwable] {
      spark.range(1).select(graft.rag.VectorExprs.nearestCentroid(
        array(lit(1.0), lit(null).cast("double")), cents)).collect()
    }
    assert(msgOf(nul).contains("null element"))
    val ok = spark.range(1).select(graft.rag.VectorExprs.nearestCentroid(
      array(lit(0.9), lit(0.1)), cents)).head().getInt(0)
    assert(ok == 0)
  }
}
