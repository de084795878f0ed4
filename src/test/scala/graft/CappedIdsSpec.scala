package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.text.{CappedIds, CappedIdsAgg, CappedLongs, Dedup}

/** `CappedIdsAgg` under a hot key: one shingle at 100× the cap. The
  * group must evaluate to NULL (poisoned), no buffer may ever hold
  * more than cap+1 values on the way, and the df-capped `ngramJaccard`
  * built on it must agree on the same data with the type-generic
  * df-count + anti-join reference (`ReferenceForms`), run on string ids.
  */
class CappedIdsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val cap = 5
  private val hotRows = 100 * cap

  private def assertBounded(buf: CappedLongs): Unit = {
    assert(buf.n <= cap + 1, s"buffer holds ${buf.n} values, cap $cap")
    assert(buf.arr.length <= cap + 1, s"buffer array of ${buf.arr.length}, cap $cap")
  }

  test("hot key: every update, serialize and merge keeps the buffer within cap+1; result is NULL") {
    val agg = CappedIdsAgg(BoundReference(0, LongType, nullable = false), cap)
    val rnd = new scala.util.Random(17)
    val ids = Array.fill(hotRows)(rnd.nextLong())
    // four mapper-side partial buffers, then a reducer merge of their
    // serialized forms — the aggregate's full partial/final path
    val partials = ids.grouped(hotRows / 4).map { part =>
      val buf = agg.createAggregationBuffer()
      part.foreach { v => agg.update(buf, InternalRow(v)); assertBounded(buf) }
      val back = agg.deserialize(agg.serialize(buf))
      assertBounded(back)
      back
    }.toSeq
    assert(partials.forall(_.poisoned))
    val fin = agg.createAggregationBuffer()
    partials.foreach { p => agg.merge(fin, p); assertBounded(fin) }
    assert(agg.eval(fin) == null)
    // a group at exactly the cap keeps every value
    val atCap = agg.createAggregationBuffer()
    ids.take(cap).foreach(v => agg.update(atCap, InternalRow(v)))
    assert(!atCap.poisoned && atCap.arr.take(atCap.n).toSeq == ids.take(cap).toSeq)
  }

  test("hot key in a groupBy: NULL for the hot group, exact id sets for the rest") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val hot = (0 until hotRows).map(i => (0L, i.toLong))
    val cold = (1L to 40L).flatMap(k => (0 until 1 + rnd.nextInt(cap)).map(j => (k, k * 100 + j)))
    val df = rnd.shuffle(hot ++ cold).toDF("k", "v").repartition(7)
    val got = df.groupBy("k").agg(CappedIds.cappedIds(col("v"), cap).as("ids"))
      .as[(Long, Option[Seq[Long]])].collect().toMap
    assert(got(0L).isEmpty, "the hot key must be poisoned")
    val want = cold.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    assert(got.removed(0L).map { case (k, v) => k -> v.get.sorted } == want)
  }

  /** seeded corpus with one shingle ("zeta eta theta") in every one of
    * 100×cap documents, plus near-duplicate pairs among random bodies
    */
  private def hotCorpus: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val vocab = (0 until 60).map(i => s"v$i")
    val bodies = Array.fill(hotRows)(Seq.fill(10)(vocab(rnd.nextInt(vocab.size))))
    // every 10th doc copies its predecessor's body with one word changed
    (1 until hotRows by 10).foreach { i =>
      bodies(i) = bodies(i - 1).updated(rnd.nextInt(10), "changed")
    }
    bodies.zipWithIndex.map { case (b, i) =>
      (i.toLong, ("zeta eta theta" +: b).mkString(" "))
    }.toSeq.toDF("doc_id", "text")
  }

  test("ngramJaccard: integral ids (CappedIdsAgg) == string ids (df count + anti-join)") {
    val docs = hotCorpus
    def norm(df: DataFrame): Set[(Long, Long, Double)] =
      df.collect().map { r =>
        val (a, b) = (r.get(0).toString.toLong, r.get(1).toString.toLong)
        (math.min(a, b), math.max(a, b), r.getDouble(2))
      }.toSet
    val viaCapped = norm(Dedup.ngramJaccard(docs, "doc_id", "text", 0.5, maxDf = cap))
    val viaAntiJoin = norm(ReferenceForms.ngramJaccardAntiJoin(
      docs.select(col("doc_id").cast("string").as("doc_id"), col("text")),
      "doc_id", "text", 0.5, maxDf = cap))
    assert(viaCapped.nonEmpty)
    assert(viaCapped == viaAntiJoin)
    // the hot shingle really was dropped: without the cap it lifts
    // pairs the capped index does not see
    val uncapped = norm(Dedup.ngramJaccard(docs, "doc_id", "text", 0.5,
      maxDf = Int.MaxValue))
    assert(uncapped != viaCapped)
  }
}
