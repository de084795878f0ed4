package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.store.Compaction

/** Small-file compaction: multiset preservation, file-count drop,
  * idempotence, and crash-recovery at every swap kill point.
  */
class CompactionSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  /** a 4-partition table where every partition is splintered into
    * many small files (the post-append state compaction exists for)
    */
  private def splinteredTable(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    (0L until 400L).map(i => (i, s"row $i text ${"x" * 50}"))
      .toDF("id", "text")
      .withColumn("partition_id", col("id") % 4)
      .repartition(24) // ~24 files per partition dir after partitionBy
      .write.partitionBy("partition_id").mode("overwrite").parquet(dir)
    dir
  }

  private def snapshot(dir: String): Set[(Long, String, Long)] = {
    import spark.implicits._
    spark.read.parquet(dir).select("id", "text", "partition_id")
      .as[(Long, String, Long)].collect().toSet
  }

  test("compaction preserves the row multiset and collapses file counts") {
    val dir = splinteredTable()
    try {
      val before = snapshot(dir)
      val layoutBefore = Compaction.layout(dir)
      assert(layoutBefore.forall(_.files > 1), layoutBefore.toString)
      val manifestDir = dir + "_manifest"
      val report = Compaction.compactPartitions(spark, dir, targetBytes = 1L << 30,
        manifestDir = Some(manifestDir)).collect()
      assert(report.length == 4 && report.forall(_.getBoolean(5)))
      val layoutAfter = Compaction.layout(dir)
      assert(layoutAfter.forall(_.files == 1), layoutAfter.toString)
      assert(snapshot(dir) == before)
      // manifest lineage: one started + one done row per partition
      val m = spark.read.parquet(s"$manifestDir/compactions")
      assert(m.filter(col("status") === "compact_started").count() == 4)
      assert(m.filter(col("status") === "compact_done").count() == 4)
      // idempotent: a second run compacts nothing
      val again = Compaction.compactPartitions(spark, dir, 1L << 30).collect()
      assert(again.forall(!_.getBoolean(5)))
      assert(snapshot(dir) == before)
      rm(new java.io.File(manifestDir))
    } finally rm(new java.io.File(dir))
  }

  test("targetBytes actually sizes the output files") {
    val dir = splinteredTable()
    try {
      val bytes = Compaction.layout(dir).map(_.bytes).max
      // target ~ half a partition -> 2 files per partition, not 1
      Compaction.compactPartitions(spark, dir, targetBytes = bytes / 2 + 1)
      assert(Compaction.layout(dir).forall(p => p.files >= 2 && p.files <= 3))
    } finally rm(new java.io.File(dir))
  }

  test("a failed rewrite leaves its partition live; the others compact; the error propagates") {
    val dir = splinteredTable()
    try {
      val before = snapshot(dir)
      val p3 = new java.io.File(dir, "partition_id=3")
      // a data file no parquet reader can open fails partition 3 only
      val bad = new java.io.File(p3, "part-99999-unreadable.parquet")
      java.nio.file.Files.write(bad.toPath, "not parquet".getBytes("UTF-8"))
      def listing(d: java.io.File) =
        d.listFiles().map(f => f.getName -> f.length()).toSet
      val p3Before = listing(p3)
      val err = intercept[Exception](Compaction.compactPartitions(spark, dir, 1L << 30))
      assert(Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("unreadable")), err.toString)
      // every sibling finished its swap before the error propagated
      val layout = Compaction.layout(dir).map(p => p.name -> p.files).toMap
      assert((0 to 2).forall(i => layout(s"partition_id=$i") == 1), layout.toString)
      assert(listing(p3) == p3Before, "the failed partition's live dir changed")
      assert(bad.delete())
      assert(snapshot(dir) == before)
      // the next run recovers and compacts the partition left over
      Compaction.compactPartitions(spark, dir, 1L << 30)
      assert(Compaction.layout(dir).forall(_.files == 1))
      assert(snapshot(dir) == before)
      assert(!new java.io.File(dir, ".compact_staging").exists())
      assert(!new java.io.File(dir, ".compact_trash").exists())
    } finally rm(new java.io.File(dir))
  }

  test("recovery converges from every swap kill point") {
    // simulate the three interrupted states the swap can die in by
    // constructing them from a healthy table, then assert recover()
    // (as run by the next compactPartitions) restores the multiset
    val dir = splinteredTable()
    try {
      val before = snapshot(dir)
      val table = new java.io.File(dir)
      val p0 = new java.io.File(table, "partition_id=0")

      // kill point A: live moved to trash, staging COMPLETE -> forward
      val stagingA = new java.io.File(table, ".compact_staging/partition_id=0")
      stagingA.getParentFile.mkdirs()
      spark.read.parquet(p0.getAbsolutePath).coalesce(1)
        .write.parquet(stagingA.getAbsolutePath)
      val trashA = new java.io.File(table, ".compact_trash/partition_id=0")
      trashA.getParentFile.mkdirs()
      assert(p0.renameTo(trashA))
      Compaction.compactPartitions(spark, dir, 1L << 30)
      assert(snapshot(dir) == before, "roll-forward lost rows")

      // kill point B: live in trash, staging INCOMPLETE -> roll back
      val stagingB = new java.io.File(table, ".compact_staging/partition_id=1")
      stagingB.mkdirs() // no _SUCCESS: a write that died mid-flight
      val p1 = new java.io.File(table, "partition_id=1")
      val trashB = new java.io.File(table, ".compact_trash/partition_id=1")
      trashB.getParentFile.mkdirs()
      assert(p1.renameTo(trashB))
      Compaction.compactPartitions(spark, dir, 1L << 30)
      assert(snapshot(dir) == before, "roll-back lost rows")

      // kill point C: swap done but trash not deleted -> drop trash
      val p2 = new java.io.File(table, "partition_id=2")
      val trashC = new java.io.File(table, ".compact_trash/partition_id=2")
      trashC.mkdirs()
      java.nio.file.Files.copy(
        dataFile(p2).toPath, new java.io.File(trashC, "stale.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // (copy into trash stands in for the pre-delete trash content)
      Compaction.compactPartitions(spark, dir, 1L << 30)
      assert(snapshot(dir) == before, "trash cleanup changed live data")
      assert(!new java.io.File(table, ".compact_trash").exists())
      assert(!new java.io.File(table, ".compact_staging").exists())
    } finally rm(new java.io.File(dir))
  }

  private def dataFile(dir: java.io.File): java.io.File =
    dir.listFiles().filter(f => f.isFile && !f.getName.startsWith("_") &&
      !f.getName.startsWith(".")).head
}
