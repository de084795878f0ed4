package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.rag.{AnnIvf, AnnPq}

/** Product quantization vs brute-force JVM oracles: encode argmin,
  * ADC arithmetic, and recall of the IVF-PQ search against the exact
  * L2 ranking.
  */
class PqSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("encodeCol = per-subspace brute-force argmin over the codebooks") {
    import spark.implicits._
    val cbs = AnnPq.codebooks(emb)
    val got = emb
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        AnnPq.encodeCol(col("embedding"), cbs).as("codes"))
      .as[(Long, Seq[Double], Seq[Int])].collect()
    assert(got.nonEmpty)
    val cbArr = cbs.map(_.toArray).toArray
    got.foreach { case (id, v, codes) =>
      val sub = cbs.head.head.length
      val want = (0 until cbs.length).map { j =>
        val qj = v.slice(j * sub, (j + 1) * sub).toArray
        AnnPq.argminL2(qj, cbArr(j))
      }
      assert(codes == want, s"vec $id")
      assert(codes.forall(c => c >= 0 && c < AnnPq.Ks))
    }
  }

  test("adcScore column = JVM lut-sum over the encoded codes") {
    import spark.implicits._
    val cbs = AnnPq.codebooks(emb)
    val q = Queries.queryVec(spark, sf)
    val lut = AnnPq.lut(q, cbs)
    val got = emb
      .withColumn("codes", AnnPq.encodeCol(col("embedding"), cbs))
      .select(col("vec_id"), col("codes"),
        AnnPq.adcScore(col("codes"), lut).as("adist"))
      .as[(Long, Seq[Int], Double)].collect()
    got.foreach { case (id, codes, adist) =>
      val want = codes.zipWithIndex.map { case (c, j) => lut(j)(c) }
        .reduceLeft(_ + _)
      assert(adist == want, s"vec $id") // bit-exact, same fold order
    }
  }

  test("ivf-pq search with refine: ascending exact dist, recall vs exact L2 within probed cells") {
    import spark.implicits._
    val q = Queries.queryVec(spark, sf)
    val got = AnnPq.search(emb, q, k = 10).as[(Long, Double, Double)].collect()
    assert(got.length == 10)
    assert(got.map(_._3).sliding(2).forall(p => p.head <= p.last))
    // the refine step re-ranks the ADC shortlist exactly, so within
    // the probed candidate set recall@10 vs exact L2 must be high
    // (1.0 whenever the candidates fit the k·refine shortlist)
    val cents = AnnIvf.centroids(emb)
    val probes = AnnIvf.probeCells(q, cents)
    val cand = emb
      .filter(AnnIvf.cellCol(col("embedding"), cents).isin(probes: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val exact = cand.map { case (id, v) =>
      (id, AnnPq.l2sq(v.toArray, q))
    }.sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
    val recall = got.map(_._1).count(exact) / 10.0
    assert(recall >= 0.9, s"refined recall@10 vs exact L2 = $recall")
    // exact dist column matches the JVM fold bit-for-bit
    val byId = cand.toMap
    got.foreach { case (id, _, dist) =>
      assert(dist == AnnPq.l2sq(byId(id).toArray, q), s"vec $id")
    }
  }

  test("codebook training is deterministic and cached per snapshot") {
    val a = AnnPq.codebooks(emb)
    val b = AnnPq.codebooks(emb)
    assert(a eq b) // cache hit returns the same artifact
    // a new session over the same path has its own registry entry
    val c = AnnPq.codebooks(spark.newSession().read.parquet(s"$sf/embeddings.parquet"))
    assert(c ne a) // a retrain happened
    assert(a.zip(c).forall { case (x, y) =>
      x.zip(y).forall { case (u, w) => u.sameElements(w) }
    }) // retraining reproduces identical codebooks
  }

  test("PqEncode rejects malformed rows loudly") {
    import spark.implicits._
    val cbs = AnnPq.codebooks(emb)
    val bad = Seq(Seq(1.0, 2.0)).toDF("embedding") // dim 2 != 64
    val e = intercept[Exception] {
      bad.select(AnnPq.encodeCol(col("embedding"), cbs)).collect()
    }
    assert(e.getMessage != null)
  }
}
