package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.text.{CappedIds, Dedup, PostingPairs, TextKernels}

/** The posting-pair generator and the `ngramJaccard` built on it.
  *
  * The generator must emit exactly the multiset of (a, b), a < b, that
  * a self-join of the list with itself gives — duplicate ids included —
  * plus one (x, x) per entry (the join's diagonal), on both the codegen
  * and the interpreted path, and nothing for a null or empty list. `ngramJaccard` must return the rows of its former
  * explode + self-join form (`ReferenceForms.ngramJaccardSelfJoin`)
  * with bit-equal `jaccard`, over seeded and adversarial corpora, Int
  * and Long ids, several caps and thresholds, AQE on and off, and 1 and
  * 7 input partitions. Both the generator and the shingle kernel under
  * it cost time linear in what they produce.
  */
class PostingPairsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def withConf[A](key: String, value: String)(f: => A): A = {
    val conf = spark.conf
    val saved = conf.get(key)
    try { conf.set(key, value); f } finally conf.set(key, saved)
  }

  /** the self-join multiset: every ordered pair of positions i != j
    * whose ids satisfy a < b, and the diagonal i == j
    */
  private def bruteForce(ids: Seq[Long]): Seq[(Long, Long)] =
    (for {
      i <- ids.indices; j <- ids.indices
      if i == j || ids(i) < ids(j)
    } yield (ids(i), ids(j))).sorted

  private def drain(ids: ArrayData): Seq[(Long, Long)] =
    PostingPairs.pairs(ids).map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private val lists: Seq[Seq[Long]] = Seq(
    Seq(1L), Seq(5L, 5L), Seq(3L, 1L, 3L, 2L), Seq(7L, 7L, 7L),
    Seq(Long.MaxValue, Long.MinValue, 0L, -1L, Long.MaxValue),
    Seq(9L, 8L, 7L, 6L, 5L, 4L, 3L, 2L, 1L, 1L))

  test("pairs == the self-join multiset, duplicates included; null and empty lists give none") {
    assert(drain(null).isEmpty)
    assert(drain(ArrayData.toArrayData(Array.emptyLongArray)).isEmpty)
    val rnd = new scala.util.Random(41)
    val random = Seq.fill(30)(Seq.fill(rnd.nextInt(12))(rnd.nextInt(6).toLong - 2))
    for (ids <- lists ++ random)
      assert(drain(ArrayData.toArrayData(ids.toArray)) == bruteForce(ids), ids)
    val it = PostingPairs.pairs(ArrayData.toArrayData(Array(1L, 2L)))
    assert(Seq.fill(3)(it.next().getLong(1)) == Seq(1L, 2L, 2L) && !it.hasNext)
    intercept[NoSuchElementException](it.next())
  }

  test("the generator in a plan: codegen and interpreted paths agree with the self-join") {
    import spark.implicits._
    val withNulls: Seq[Option[Seq[Long]]] = None +: Some(Seq.empty[Long]) +: lists.map(Some(_))
    val df = withNulls.zipWithIndex.map { case (ids, k) => (k, ids) }.toDF("k", "ids")
      .repartition(3)
    val want = withNulls.flatMap(_.toSeq).flatMap(bruteForce).sorted
    for (wholeStage <- Seq("true", "false"))
      withConf("spark.sql.codegen.wholeStage", wholeStage) {
        val out = df.select(CappedIds.postingPairs(col("ids")))
        assert(out.columns.toSeq == Seq("a_id", "b_id"))
        val got = out.as[(Long, Long)].collect().toSeq.sorted
        assert(got == want, s"wholeStage=$wholeStage")
        if (wholeStage == "true") {
          out.collect()
          val plan = out.queryExecution.executedPlan.toString
          assert(plan.linesIterator.exists(l => l.contains("Generate") && l.contains("*(")),
            s"the generator left whole-stage codegen:\n$plan")
        }
      }
  }

  // ---- ngramJaccard == the explode + self-join form ----

  /** near-duplicate clusters over a small vocabulary, exact copies
    * among them (jaccard 1.0)
    */
  private def seeded: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(57)
    val vocab = (0 until 40).map(i => s"t$i")
    val bases = Seq.fill(12)(Seq.fill(14)(vocab(rnd.nextInt(vocab.size))))
    (0 until 72).map { i =>
      val base = bases(i % bases.size)
      val body = (i / bases.size) match {
        case 0 | 1 => base
        case 2 => base.updated(rnd.nextInt(base.size), "edit")
        case _ => base.take(7) ++ Seq.fill(7)(vocab(rnd.nextInt(vocab.size)))
      }
      (i.toLong, body.mkString(" "))
    }.toDF("doc_id", "text")
  }

  /** duplicate ids (same and different text), null ids, null texts,
    * texts below three words, and two shingles whose posting lists
    * hold exactly 3 and exactly 4 ids (maxDf 3 keeps one, drops the
    * other)
    */
  private def adversarial: DataFrame = {
    import spark.implicits._
    val rows: Seq[(Option[Long], Option[String])] = Seq(
      (Some(1L), Some("alpha beta gamma delta epsilon")),
      (Some(1L), Some("alpha beta gamma delta epsilon")),
      (Some(1L), Some("alpha beta gamma zeta eta")),
      (Some(2L), Some("alpha beta gamma delta epsilon")),
      (Some(3L), Some("beta gamma delta theta iota")),
      (None, Some("alpha beta gamma delta epsilon")),
      (None, None),
      (Some(4L), None),
      (Some(5L), Some("two words")),
      (Some(6L), Some("")),
      (Some(10L), Some("cap three at zeta eta")),
      (Some(11L), Some("cap three at kappa")),
      (Some(12L), Some("cap three at lambda mu")),
      (Some(20L), Some("cap four at omega")),
      (Some(21L), Some("cap four at omega psi")),
      (Some(22L), Some("cap four at chi")),
      (Some(23L), Some("cap four at phi")),
      (Some(-7L), Some("beta gamma delta theta iota")))
    rows.toDF("doc_id", "text")
  }

  /** (a_id, b_id, jaccard bits), sorted — ids read as longs, whatever
    * their declared type
    */
  private def rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().toSeq.map { r =>
      (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))
    }.sorted

  test("ngramJaccard == the explode + self-join form: rows and jaccard bits") {
    val thresholds = Seq(0.05, 0.5, 1.0)
    val cases = Seq(("seeded", seeded, 100), ("seeded", seeded, 2),
      ("adversarial", adversarial, 1), ("adversarial", adversarial, 2),
      ("adversarial", adversarial, 3), ("adversarial", adversarial, 100))
    var nonEmpty = 0
    for ((name, corpus, maxDf) <- cases; idType <- Seq(IntegerType, LongType)) {
      val docs = corpus.select(col("doc_id").cast(idType).as("doc_id"), col("text"))
      // the reference at threshold 0, filtered here with the same
      // double comparison its plan would apply
      val ref = ReferenceForms.ngramJaccardSelfJoin(docs, "doc_id", "text", 0.0, maxDf)
      assert(ref.schema("a_id").dataType == idType)
      val all = rows(ref)
      for (aqe <- Seq("true", "false"); parts <- Seq(1, 7))
        withConf("spark.sql.adaptive.enabled", aqe) {
          val input = docs.repartition(parts)
          for (t <- thresholds) {
            val what = s"$name maxDf=$maxDf $idType aqe=$aqe partitions=$parts threshold=$t"
            val got = Dedup.ngramJaccard(input, "doc_id", "text", t, maxDf)
            assert(got.schema("a_id").dataType == idType, what)
            val want = all.filter(r => java.lang.Double.longBitsToDouble(r._3) >= t)
            assert(rows(got) == want, what)
            if (want.nonEmpty) nonEmpty += 1
          }
        }
    }
    // the corpora do produce pairs, at every threshold
    assert(nonEmpty >= 40, s"only $nonEmpty non-empty comparisons")
    val exactAtCap = rows(Dedup.ngramJaccard(adversarial, "doc_id", "text", 0.05, maxDf = 3))
    assert(exactAtCap.exists { case (a, b, _) => a == 10L && b == 11L },
      "the posting list of exactly maxDf ids was dropped")
  }

  // ---- linear cost ----

  test("the generator's cost is linear in the pairs it emits (n vs 4n pairs)") {
    // k ids emit k self rows and k(k-1)/2 pairs: doubling k is ~4x the
    // rows; every third id repeats its predecessor, so the equal-id skip
    // is timed too
    def drainAll(k: Int) = {
      val ids = ArrayData.toArrayData(Array.tabulate(k)(i => (i - i % 3 / 2).toLong))
      () => {
        var sum = 0L
        PostingPairs.pairs(ids).foreach(r => sum += r.getLong(0) ^ r.getLong(1))
        assert(sum != 42L); ()
      }
    }
    val r = Linearity.ratio(drainAll(1 << 10), drainAll(1 << 11))
    assert(r < 8.0, s"4n/n time ratio over emitted pairs $r")
  }

  test("ShingleHashes cost is linear in words (n vs 4n), with and without distinct") {
    def text(words: Int) = UTF8String.fromString(
      (0 until words).map(i => s"w${i % 997}x${i % 13}").mkString(" "))
    for (distinct <- Seq(true, false)) {
      def run(t: UTF8String) = () => {
        assert(TextKernels.shingleHashes(t, distinct, 3).numElements() > 0); ()
      }
      val r = Linearity.ratio(run(text(1 << 14)), run(text(1 << 16)))
      assert(r < 8.0, s"4n/n time ratio (distinct=$distinct) $r")
    }
  }
}
