package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.text.{Corpus, Dedup}

/** The operator contract: the dedup, decontamination and near-dup
  * operators return plans. Calling one starts no Spark job (the
  * caller's action runs it), and no returned plan reads a checkpoint
  * (`LogicalRDD`, printed as `Scan ExistingRDD`) — the plan is the
  * whole lineage. `decontaminateBloom` is the one exception by design:
  * it runs the jobs that produce its plan inputs (sizing count, bloom
  * build) and nothing else.
  */
class OperatorPlansSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val jobs = new AtomicInteger

  override def beforeAll(): Unit =
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })

  /** a data dir holding `embeddings.parquet`, the input embedNearDup
    * reads itself
    */
  private lazy val embDir: java.nio.file.Path = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("operator_plans")
    val rnd = new scala.util.Random(5)
    (0L until 30L).map(i => (i, Seq.fill(graft.rag.AnnLsh.Dim)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
    }
    rm(embDir.toFile)
    spark.stop()
  }

  /** (result, Spark jobs started while computing it) */
  private def countingJobs[A](f: => A): (A, Int) = {
    ListenerBusDrain.drain(spark.sparkContext)
    val before = jobs.get
    val out = f
    ListenerBusDrain.drain(spark.sparkContext)
    (out, jobs.get - before)
  }

  private def assertNoCheckpoint(name: String, df: DataFrame): Unit = {
    val analyzed = df.queryExecution.analyzed
    assert(!analyzed.exists(_.isInstanceOf[LogicalRDD]), s"$name:\n$analyzed")
  }

  private lazy val docs: DataFrame = {
    import spark.implicits._
    val shared = (0 until 12).map(i => s"w$i").mkString(" ")
    (0L until 24L).map { i =>
      val body = if (i % 3 == 0) shared else s"own$i words for doc $i alone"
      (i, s"$body tail ${i % 4} end\n\npara for $i is long enough to count as one here")
    }.toDF("doc_id", "text")
  }

  test("the eight pure operators start no job when called and plan no checkpoint") {
    // embedNearDup reads its own input, and a parquet read infers the
    // schema with a job of its own — the operator may add none to it
    val dir = embDir.toString
    val (_, readJobs) = countingJobs(SparkEntry.embeddings(spark, dir))
    val ops: Seq[(String, Int, () => DataFrame)] = Seq(
      ("minhashPairs", 0, () => Dedup.minhashPairs(docs, "doc_id", "text")),
      ("simhashPairs", 0, () => Dedup.simhashPairs(docs, "doc_id", "text", 3)),
      ("ngramJaccard", 0, () => Dedup.ngramJaccard(docs, "doc_id", "text", 0.5)),
      ("ngramJaccardBanded", 0,
        () => Dedup.ngramJaccardBanded(docs, "doc_id", "text", 0.5)),
      ("dupSpans", 0, () => Dedup.dupSpans(docs, "doc_id", "text")),
      ("dedupSpans", 0, () => Dedup.dedupSpans(docs, "doc_id", "text")),
      ("dedupParagraphs", 0, () => Dedup.dedupParagraphs(docs, "doc_id", "text")),
      ("embedNearDup", readJobs, () => Queries.embedNearDup(spark, dir, 0.4)))
    for ((name, inputJobs, op) <- ops) {
      val (df, n) = countingJobs(op())
      assert(n == inputJobs, s"$name started ${n - inputJobs} Spark job(s) when called")
      assertNoCheckpoint(name, df)
      // the plan is runnable: the caller's action does the work
      val (_, ran) = countingJobs(df.collect())
      assert(ran > 0, s"$name: the action ran no job")
    }
  }

  test("decontaminateBloom runs only its two input jobs: sizing count + bloom build") {
    // AQE submits each shuffle stage as its own job; with it off, one
    // action is one job, so the count below is the number of actions
    val conf = spark.conf
    val saved = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      val train = docs.filter(col("doc_id") % 5 =!= 0)
      val bench = docs.filter(col("doc_id") % 5 === 0)
      val (sized, nSized) = countingJobs(
        Corpus.decontaminateBloom(train, bench, "doc_id", "text", n = 4))
      assert(nSized == 2, s"expected count + bloom build, got $nSized job(s)")
      assertNoCheckpoint("decontaminateBloom", sized)
      val (given, nGiven) = countingJobs(Corpus.decontaminateBloom(
        train, bench, "doc_id", "text", n = 4, expectedGrams = 1000L))
      assert(nGiven == 1, s"expected the bloom build only, got $nGiven job(s)")
      assertNoCheckpoint("decontaminateBloom(expectedGrams)", given)
      // the bench-side cache is released before returning
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
      val exact = Corpus.decontaminate(train, bench, "doc_id", "text", n = 4)
        .collect().toSet
      assert(exact.nonEmpty)
      assert(sized.collect().toSet == exact)
      assert(given.collect().toSet == exact)
    } finally conf.set("spark.sql.adaptive.enabled", saved)
  }
}
