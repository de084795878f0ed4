package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.rag.{Bm25, TopK}
import graft.store.{Snapshot, StoreOps}

/** The store's read side over resident snapshots (`Snapshot.resident`):
  * every routed operator returns what a direct scan of the files
  * returns (rows, order, score bits), with AQE on and off, over 1 and
  * 7 files; a new snapshot of the same path (append, or an in-place
  * rewrite of a same-named file) releases the older copy; inputs that
  * are not a bare scan, or too big for storage memory, are scanned as
  * given; a copy serves one session; Spark's CacheManager never sees
  * a copy.
  */
class SnapshotSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val jobs = new AtomicInteger
  private lazy val root: Path = Files.createTempDirectory("snapshot_spec")

  override def beforeAll(): Unit =
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
    }
    rm(root.toFile)
    spark.stop()
  }

  private val words = Seq("spark", "merge", "join", "scan", "hash", "vector", "table", "row")

  /** chunk rows: unique cid/chunk_id, repeated embeddings (score ties)
    * and texts, a few null contents
    */
  private def chunks(from: Int, until: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(from)
    (from until until).map { i =>
      val emb = Seq.fill(8)(((i % 23) * 7 + rnd.nextInt(3)).toDouble / 11.0 - 8.0)
      val text = if (i % 17 == 0) null
        else Seq.fill(3 + i % 9)(words(rnd.nextInt(words.size))).mkString(" ")
      (i.toLong, f"c$i%05d", s"doc${i % 13}", Seq("text", "code", "table")(i % 3),
        s"src${i % 5}", text, emb)
    }.toDF("cid", "chunk_id", "document", "type", "source", "content", "embedding")
  }

  private var dirs = 0
  private def write(df: DataFrame, files: Int): String = {
    dirs += 1
    val path = s"$root/store$dirs"
    df.repartition(files).write.parquet(path)
    path
  }

  private def withConf[A](key: String, value: String)(f: => A): A = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def countingJobs[A](f: => A): (A, Int) = {
    ListenerBusDrain.drain(spark.sparkContext)
    val before = jobs.get
    val out = f
    ListenerBusDrain.drain(spark.sparkContext)
    (out, jobs.get - before)
  }

  /** rows in result order, doubles as raw bits */
  private def bits(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case v => v
  })

  /** the plan reads a resident copy (adaptive plans included) */
  private def resident(df: DataFrame): Boolean =
    find(df.queryExecution.executedPlan)(_.isInstanceOf[InMemoryTableScanExec]).isDefined

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private val q = Array.tabulate(8)(i => (i * 3 % 5).toDouble - 1.7)

  /** every routed operator; `sorted` for the unordered one */
  private val ops: Seq[(String, DataFrame => DataFrame, Boolean)] = Seq(
    ("topk", TopK.search(_, q, 15, keyCol = "cid"), false),
    ("bm25", Bm25.search(_, "cid", "content", Seq("join", "vector"), topK = 12), false),
    ("listDocuments", StoreOps.listDocuments(_), true),
    ("page", StoreOps.page(_, "chunk_id", 40, 25), false),
    ("collectionCount", StoreOps.collectionCount(_), false))

  test("each routed operator reads the resident copy and equals a direct scan") {
    for (files <- Seq(1, 7); aqe <- Seq(true, false)) withConf("spark.sql.adaptive.enabled", aqe.toString) {
      val path = write(chunks(0, 300), files)
      val scan = spark.read.parquet(path)
      // a projection of every column is not a bare scan: read as given
      val direct = scan.select(scan.columns.map(col).toSeq: _*)
      for ((name, op, sorted) <- ops) {
        val what = s"$name files=$files aqe=$aqe"
        def rows(df: DataFrame) = if (sorted) bits(df).sortBy(_.toString) else bits(df)
        // twice: the first action builds the copy, the second reads it
        val viaCopy = Seq.fill(2)(op(scan))
        viaCopy.foreach(df => assert(resident(df), s"$what:\n${df.queryExecution.executedPlan}"))
        val plain = op(direct)
        assert(!resident(plain), what)
        val want = rows(plain)
        assert(want.nonEmpty, what)
        viaCopy.foreach(df => assert(rows(df) == want, what))
      }
    }
  }

  test("calling a routed operator starts no job; Bm25.search starts its one stats job") {
    val path = write(chunks(0, 200), 3)
    for (aqe <- Seq(true, false)) withConf("spark.sql.adaptive.enabled", aqe.toString) {
      val scan = spark.read.parquet(path)
      for ((name, op, _) <- ops) {
        val (df, n) = countingJobs(op(scan))
        assert(n == (if (name == "bm25") 1 else 0), s"$name aqe=$aqe started $n job(s)")
        df.collect()
      }
    }
  }

  test("an append is a new snapshot and releases the older copy's blocks") {
    val path = write(chunks(0, 150), 2)
    val before = persisted
    val first = bits(TopK.search(spark.read.parquet(path), q, 10, keyCol = "cid"))
    val older = persisted -- before
    assert(older.size == 1, s"one copy expected, got $older")
    assert(spark.sparkContext.getRDDStorageInfo.exists(i => older(i.id) && i.numCachedPartitions > 0))
    chunks(150, 260).repartition(2).write.mode("append").parquet(path)
    val scan = spark.read.parquet(path)
    val after = TopK.search(scan, q, 10, keyCol = "cid")
    assert(bits(after) == bits(TopK.search(scan.select(scan.columns.map(col).toSeq: _*), q, 10,
      keyCol = "cid")))
    assert(bits(after) != first, "the appended rows must reach the result")
    assert((persisted & older).isEmpty, "the older copy is still persisted")
    assert(!spark.sparkContext.getRDDStorageInfo.exists(i => older(i.id)))
    assert((persisted -- before).size == 1)
  }

  test("an in-place rewrite of a same-named file is a new snapshot, for copies and artifacts") {
    val path = write(chunks(0, 120), 1)
    val trained = new AtomicInteger
    def artifact(df: DataFrame): Integer =
      Snapshot.artifact[Integer](df, "snapshot-spec")(Integer.valueOf(trained.incrementAndGet()))
    def count(df: DataFrame): Long = StoreOps.collectionCount(df).head().getLong(0)
    val before = persisted
    val scan1 = spark.read.parquet(path)
    assert(count(scan1) == 120 && artifact(scan1) == 1)
    assert(artifact(spark.read.parquet(path)) == 1, "the same snapshot must hit the cache")
    val older = persisted -- before
    assert(older.size == 1)

    // same file names, other content and length: copy a fresh write's
    // part file (and its checksum) over the old one's name
    val part = new java.io.File(path).listFiles.map(_.getName).filter(_.startsWith("part-")).head
    val other = write(chunks(500, 700), 1)
    val otherPart = new java.io.File(other).listFiles.map(_.getName).filter(_.startsWith("part-")).head
    Files.copy(Path.of(other, otherPart), Path.of(path, part), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Path.of(other, s".$otherPart.crc"), Path.of(path, s".$part.crc"),
      StandardCopyOption.REPLACE_EXISTING)
    val scan2 = spark.read.parquet(path)
    assert(count(scan2) == 200, "the rewritten file must be read")
    assert(artifact(scan2) == 2, "a rewrite must retrain the artifact")
    assert((persisted & older).isEmpty, "the older copy is still persisted")

    // same bytes, new mtime: still a new snapshot
    val file = Path.of(path, part)
    Files.setLastModifiedTime(file, java.nio.file.attribute.FileTime.fromMillis(
      Files.getLastModifiedTime(file).toMillis - 60000L))
    val scan3 = spark.read.parquet(path)
    assert(Snapshot.key(scan3) != Snapshot.key(scan2))
    assert(artifact(scan3) == 3 && count(scan3) == 200)
  }

  test("non-bare and oversized inputs are scanned as given") {
    import spark.implicits._
    val path = write(chunks(0, 100), 2)
    val scan = spark.read.parquet(path)
    val inputs = Seq(
      "filtered" -> scan.filter(col("cid") % 2 === 0),
      "projected" -> scan.select("cid", "chunk_id", "document", "type", "source", "content",
        "embedding"),
      "joined" -> scan.join(Seq(1L, 2L, 3L).toDF("cid"), "cid"),
      "local" -> chunks(0, 50))
    for ((what, df) <- inputs; (name, op, _) <- ops)
      assert(!resident(op(df)), s"$name over a $what input")
    // planned size = file bytes x the compression factor: far beyond
    // any block manager's storage memory
    withConf("spark.sql.sources.fileCompressionFactor", "1e12") {
      val huge = spark.read.parquet(write(chunks(0, 100), 2))
      for ((name, op, _) <- ops) assert(!resident(op(huge)), s"$name over an oversized input")
    }
  }

  test("a copy serves only the session that planned it") {
    val path = write(chunks(0, 100), 2)
    val before = persisted
    val first = TopK.search(spark.read.parquet(path), q, 5, keyCol = "cid")
    val want = bits(first)
    val mine = persisted -- before
    val other = spark.newSession()
    val second = TopK.search(other.read.parquet(path), q, 5, keyCol = "cid")
    assert(resident(second) && bits(second) == want)
    val theirs = persisted -- before
    assert(mine.size == 1 && theirs.size == 1 && mine != theirs, s"$mine then $theirs")
  }

  test("a resident copy never enters Spark's CacheManager and never redirects user queries") {
    val path = write(chunks(0, 100), 2)
    val top = TopK.search(spark.read.parquet(path), q, 5, keyCol = "cid")
    top.collect()
    assert(resident(top))
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager.isEmpty)
    assert(!resident(spark.read.parquet(path).filter(col("cid") > 3)))
  }
}
