package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.store.Parquet

/** Job-free table reads: `Parquet.read` takes the schema from the first
  * data file's footer on the driver. It must resolve to exactly the
  * schema Spark's inference job produces, return the same rows, start
  * no job, and fail loudly, naming the path, when there is no data file.
  */
class ParquetReadSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val testdata = "/root/testdata"
  private val jobs = new AtomicInteger
  private lazy val root = java.nio.file.Files.createTempDirectory("parquet_read").toFile

  override def beforeAll(): Unit =
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
    }
    rm(root)
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

  private def assertSameAsInferred(path: String, rows: Boolean = true): Unit = {
    val (df, n) = countingJobs(Parquet.read(spark, path))
    assert(n == 0, s"$path: the read started $n job(s)")
    val inferred = spark.read.parquet(path)
    assert(df.schema == inferred.schema, path)
    assert(Parquet.schema(spark, path) == inferred.schema, path)
    if (rows) assert(df.collect().toSeq == inferred.collect().toSeq, path)
  }

  /** Spark-written rows over the types the converter maps */
  private def typed(n: Int, offset: Int = 0): DataFrame =
    spark.range(offset, offset + n).select(
      col("id"),
      col("id").cast("int").as("i"),
      (col("id") / 7).as("d"),
      (col("id") / 3).cast("decimal(12,2)").as("dec"),
      concat(lit("row "), col("id")).as("s"),
      col("id").cast("string").cast("binary").as("bin"),
      timestamp_seconds(col("id") * 3600).as("ts"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")), col("id").cast("int")).as("day"),
      array(col("id").cast("float"), lit(0.5f)).as("vec"),
      map(lit("k"), col("id")).as("m"),
      struct(col("id").as("a"), lit("b").as("b")).as("st"),
      (col("id") % 4).cast("int").as("part"))

  private def dir(name: String): String = new java.io.File(root, name).getPath

  test("every fixture table: the footer schema is the inferred schema, with no job") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1");
         f <- new java.io.File(s"$testdata/$sf").listFiles().sortBy(_.getName)
         if f.getName.endsWith(".parquet"))
      // rows too at the two small scales; sf0.1 reads the schema only
      assertSameAsInferred(f.getPath, rows = sf != "sf0.1")
  }

  test("Spark-written file, multi-file dir, partitioned dir and appended dir read as inferred") {
    typed(20).coalesce(1).write.parquet(dir("single"))
    val file = new java.io.File(dir("single")).listFiles()
      .find(_.getName.startsWith("part-")).get.getPath
    assertSameAsInferred(file)
    assertSameAsInferred(dir("single"))

    typed(40).repartition(3).write.parquet(dir("multi"))
    assertSameAsInferred(dir("multi"))

    typed(40).repartition(3).write.partitionBy("part").parquet(dir("parted"))
    assertSameAsInferred(dir("parted"))
    // the partition column is still there, typed and placed as inferred
    val parted = Parquet.read(spark, dir("parted")).schema
    assert(parted.last.name == "part" && parted.last.dataType.typeName == "integer")

    typed(10).write.mode("append").parquet(dir("appended"))
    typed(10, offset = 10).write.mode("append").parquet(dir("appended"))
    assertSameAsInferred(dir("appended"))
    assert(Parquet.read(spark, dir("appended")).count() == 20)
  }

  test("a missing path and a directory without data files fail, naming the path") {
    def failure(path: String): Throwable = intercept[Exception](Parquet.read(spark, path))
    val missing = dir("missing")
    assert(failure(missing).getMessage.contains(missing))
    val empty = dir("empty")
    new java.io.File(empty).mkdirs()
    new java.io.File(empty, "_SUCCESS").createNewFile()
    val e = failure(empty)
    assert(!e.isInstanceOf[NoSuchElementException], e)
    assert(e.getMessage.contains(empty), e.getMessage)
  }

  test("queryVec runs its job once per corpus snapshot") {
    import spark.implicits._
    val data = dir("qv")
    val path = s"$data/embeddings.parquet"
    // several files, vec_id 0 alone in the smallest: Spark scans the
    // largest split first, so a partition-by-partition scan misses it
    def write(scale: Float): Unit = {
      def rows(ids: Seq[Long]): DataFrame =
        ids.map(i => (i, Seq.tabulate(4)(j => scale * (i + j).toFloat))).toDF("vec_id", "embedding")
      rows(Seq(0L)).coalesce(1).write.mode("overwrite").parquet(path)
      rows(1L until 64L).repartition(3).write.mode("append").parquet(path)
    }
    write(1f)
    val (first, n1) = countingJobs(Queries.queryVec(spark, data))
    assert(first.toSeq == Seq(0.0, 1.0, 2.0, 3.0))
    assert(n1 == 1, s"first call started $n1 jobs")
    val (second, n2) = countingJobs(Queries.queryVec(spark, data))
    assert(second.toSeq == first.toSeq)
    assert(n2 == 0, s"a repeat call on the same files started $n2 job(s)")
    write(2f)
    val (rewritten, n3) = countingJobs(Queries.queryVec(spark, data))
    assert(rewritten.toSeq == Seq(0.0, 2.0, 4.0, 6.0))
    assert(n3 >= 1, "the rewritten files were served from the cache")
  }
}
