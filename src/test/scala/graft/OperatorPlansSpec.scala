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
  * whole lineage. `decontaminateBloom` holds to it too: its filter is
  * a scalar subquery of the plan, sized without a job, so calling it
  * starts none and persists nothing. `Bm25.search` is the exception:
  * it runs only its corpus stats job.
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
    * reads itself (the BM25 test adds `docs.parquet`)
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

  /** `docs` written as parquet: over a local relation the optimizer
    * would score the rows on the driver, interpreted, and compile
    * nothing
    */
  private lazy val docsScan: DataFrame = {
    val path = s"$embDir/docs.parquet"
    docs.write.parquet(path)
    spark.read.parquet(path)
  }

  private def withAqe[A](on: Boolean)(f: => A): A = {
    val conf = spark.conf
    val saved = conf.get("spark.sql.adaptive.enabled")
    try { conf.set("spark.sql.adaptive.enabled", on.toString); f }
    finally conf.set("spark.sql.adaptive.enabled", saved)
  }

  private lazy val docs: DataFrame = {
    import spark.implicits._
    val shared = (0 until 12).map(i => s"w$i").mkString(" ")
    (0L until 24L).map { i =>
      val body = if (i % 3 == 0) shared else s"own$i words for doc $i alone"
      (i, s"$body tail ${i % 4} end\n\npara for $i is long enough to count as one here")
    }.toDF("doc_id", "text")
  }

  test("the pure operators start no job when called and plan no checkpoint") {
    // embedNearDup reads its own input; the read takes its schema from
    // the parquet footer on the driver, so it starts no job either
    val dir = embDir.toString
    val (_, readJobs) = countingJobs(SparkEntry.embeddings(spark, dir))
    assert(readJobs == 0, s"reading embeddings started $readJobs job(s)")
    val ops: Seq[(String, () => DataFrame)] = Seq(
      ("minhashPairs", () => Dedup.minhashPairs(docs, "doc_id", "text")),
      ("simhashPairs", () => Dedup.simhashPairs(docs, "doc_id", "text", 3)),
      ("ngramJaccard", () => Dedup.ngramJaccard(docs, "doc_id", "text", 0.5)),
      ("ngramJaccardBanded",
        () => Dedup.ngramJaccardBanded(docs, "doc_id", "text", 0.5)),
      ("dupSpans", () => Dedup.dupSpans(docs, "doc_id", "text")),
      ("dedupSpans", () => Dedup.dedupSpans(docs, "doc_id", "text")),
      ("dedupParagraphs", () => Dedup.dedupParagraphs(docs, "doc_id", "text")),
      ("dupSpansIncremental", () => Dedup.dupSpansIncremental(
        docs.filter(col("doc_id") % 4 =!= 0), docs.filter(col("doc_id") % 4 === 0),
        "doc_id", "text")),
      ("embedNearDup", () => Queries.embedNearDup(spark, dir, 0.4)),
      ("decontaminateBloom", () => Corpus.decontaminateBloom(
        docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", n = 4)))
    for ((name, op) <- ops) {
      val (df, n) = countingJobs(op())
      assert(n == 0, s"$name started $n Spark job(s) when called")
      assertNoCheckpoint(name, df)
      // the plan is runnable: the caller's action does the work
      val (_, ran) = countingJobs(df.collect())
      assert(ran > 0, s"$name: the action ran no job")
    }
  }

  test("decontaminateBloom starts no job when called and equals decontaminate") {
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val bench = docs.filter(col("doc_id") % 5 === 0)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
    val exact = rows(Corpus.decontaminate(train, bench, "doc_id", "text", n = 4))
    assert(exact.nonEmpty)
    for (aqe <- Seq(true, false); expected <- Seq(0L, 1000L)) withAqe(aqe) {
      val what = s"aqe=$aqe expectedGrams=$expected"
      val (plan, n) = countingJobs(Corpus.decontaminateBloom(
        train, bench, "doc_id", "text", n = 4, expectedGrams = expected))
      assert(n == 0, s"$what: started $n Spark job(s) when called")
      assertNoCheckpoint(s"decontaminateBloom($what)", plan)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty, what)
      assert(rows(plan) == exact, what)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty, s"$what: the action left a cache")
    }
  }

  test("Bm25.search runs only its stats job, plans no Generate/Exchange, compiles once per arity") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val conf = spark.conf
    val saved = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      val scan = docsScan
      val (plan, n) = countingJobs(
        graft.rag.Bm25.search(scan, "doc_id", "text", Seq("w1", "para"), 5))
      assert(n == 1, s"expected the stats aggregate only, got $n job(s)")
      assertNoCheckpoint("bm25", plan)
      assert(plan.collect().nonEmpty)
      val executed = plan.queryExecution.executedPlan
      assert(executed.collect { case g: GenerateExec => g }.isEmpty, executed)
      assert(executed.collect { case e: Exchange => e }.isEmpty, executed)
      // other terms, same arity: the per-query constants are reference
      // objects, so neither the stats nor the scoring compiles a class
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val again = graft.rag.Bm25.search(scan, "doc_id", "text", Seq("tail", "doc"), 5)
        .collect()
      assert(again.nonEmpty)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
        "a second query of the same arity compiled new classes")
    } finally conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("listDocuments plans two object hash aggregates and no sort") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
    withAqe(on = false) {
      // null and empty values, and one document whose types are all
      // null: MinString's null buffer must survive the exchange as null
      val d = col("doc_id")
      val none = lit(null).cast("string")
      val chunks = docsScan.select(
        when(d % 11 === 0, lit("all-null")).otherwise((d % 3).cast("string")).as("document"),
        when(d % 11 === 0 || d % 5 === 0, none).otherwise(col("text")).as("type"),
        when(d % 7 === 1, lit("")).when(d % 7 === 2, none).otherwise(col("text")).as("source"))
      val listed = graft.store.StoreOps.listDocuments(chunks)
      val p = listed.queryExecution.executedPlan
      assert(p.collect { case a: ObjectHashAggregateExec => a }.size == 2, p)
      assert(p.collect { case s: SortExec => s; case s: SortAggregateExec => s }.isEmpty, p)
      val want = chunks.groupBy("document")
        .agg(min("type").as("type"), min("source").as("source"), count(lit(1)).as("chunk_count"))
        .collect().toSet
      assert(want.exists(r => r.getString(0) == "all-null" && r.isNullAt(1)), want)
      assert(want.exists(r => r.getString(2) == ""), want)
      assert(listed.collect().toSet == want)
    }
  }

  test("Bm25.search runs one job when called with AQE on too") {
    // the stats partials are one job under AQE as well; a global
    // agg(...).head() there is 2 (the partial-aggregate stage is a job)
    withAqe(on = true) {
      val (plan, n) = countingJobs(
        graft.rag.Bm25.search(docsScan, "doc_id", "text", Seq("w1", "para"), 5))
      assert(n == 1, s"expected the stats job only, got $n job(s)")
      assert(plan.collect().nonEmpty)
    }
  }

  test("TopK.search compiles nothing for a second non-unit query vector of one dimension") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import graft.rag.{AnnLsh, Similarity, TopK}
    val emb = SparkEntry.embeddings(spark, embDir.toString)
    val rnd = new scala.util.Random(11)
    // norms far from 1: a folded norm would be a new literal per query
    val (q1, q2) = (Array.fill(AnnLsh.Dim)(rnd.nextGaussian() * 3),
      Array.fill(AnnLsh.Dim)(rnd.nextGaussian() * 5))
    // (vec_id, score bits) in result order
    def bits(d: DataFrame): Seq[(Long, Long)] = d.collect().toSeq.map(r =>
      (r.getAs[Long]("vec_id"), java.lang.Double.doubleToRawLongBits(r.getAs[Double]("score"))))
    def top(q: Array[Double]): Seq[(Long, Long)] = bits(TopK.search(emb, q, 10))
    val first = top(q1)
    assert(first.size == 10)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = top(q2)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "a second query vector compiled new classes")
    // scores equal the cosine against a literal vector, bit for bit
    for ((q, got) <- Seq(q1 -> first, q2 -> second)) {
      val ref = emb.withColumn("score", Similarity.cosine(col("embedding"), typedLit(q)))
        .orderBy(col("score").desc, col("vec_id").asc).limit(10)
      assert(got == bits(ref))
    }
  }
}
