package graft

import java.lang.ref.WeakReference
import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.store.{Snapshot, StoreOps}

/** The per-snapshot registry (`Snapshot`): one entry per root paths
  * holds the resident copy and the trained artifacts of one session's
  * view of one file set. Appends leave one copy and one artifact set;
  * sessions train their own; concurrent first callers train once, and
  * a training does not hold up other registry calls; a stopped
  * context's entries are let go at the next call. The last test stops
  * the suite's context, so it runs last.
  */
class SnapshotRegistrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private def session(): SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val spark: SparkSession = session()

  private lazy val root: Path = Files.createTempDirectory("snapshot_registry_spec")

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
    }
    rm(root.toFile)
    SparkSession.getActiveSession.foreach(_.stop())
    spark.stop()
  }

  private def rows(from: Int, until: Int): DataFrame =
    spark.range(from, until).selectExpr("id", "cast(id % 7 as string) as document")

  private var dirs = 0
  private def write(df: DataFrame): String = {
    dirs += 1
    val path = s"$root/store$dirs"
    df.coalesce(1).write.parquet(path)
    path
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** true once every reference is cleared, after at most 10 collections */
  private def collected(refs: Seq[WeakReference[AnyRef]]): Boolean =
    (0 until 10).exists { _ =>
      System.gc()
      Thread.sleep(100)
      refs.forall(_.get == null)
    }

  test("after N appends to one root, one resident copy and one artifact set remain") {
    val path = write(rows(0, 100))
    val before = persisted
    val trained = new AtomicInteger
    def artifact(df: DataFrame, params: String): AnyRef =
      Snapshot.artifact[AnyRef](df, params) { trained.incrementAndGet(); new Array[Long](64) }
    val n = 4
    val refs = (0 to n).map { i =>
      if (i > 0) rows(100 * i, 100 * i + 50).coalesce(1).write.mode("append").parquet(path)
      val scan = spark.read.parquet(path)
      assert(StoreOps.collectionCount(scan).head().getLong(0) == 100 + 50 * i)
      val set = Seq("a", "b").map(artifact(scan, _))
      // the same snapshot read again hits both
      val again = spark.read.parquet(path)
      assert(Seq("a", "b").map(artifact(again, _)).zip(set).forall { case (x, y) => x eq y })
      set.map(new WeakReference[AnyRef](_))
    }
    assert(trained.get == 2 * (n + 1), "one training per snapshot and params")
    assert((persisted -- before).size == 1, "one resident copy")
    assert(collected(refs.init.flatten), "an older snapshot's artifact is still held")
    assert(refs.last.forall(_.get != null), "the live snapshot's artifacts were let go")
  }

  test("two sessions over the same files each train their own artifact") {
    val path = write(rows(0, 80))
    val trained = new AtomicInteger
    def artifact(s: SparkSession): Int =
      Snapshot.artifact[Integer](s.read.parquet(path), "spec")(Integer.valueOf(trained.incrementAndGet()))
    assert(artifact(spark) == 1 && artifact(spark) == 1)
    val other = spark.newSession()
    assert(artifact(other) == 2 && artifact(other) == 2)
  }

  test("concurrent first calls train once, and other registry calls do not wait on it") {
    val path = write(rows(0, 60))
    val elsewhere = write(rows(0, 40))
    val trained = new AtomicInteger
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val timedOut = new AtomicBoolean
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val calls = (0 until 4).map { _ =>
        pool.submit(new Callable[AnyRef] {
          def call(): AnyRef = {
            go.await()
            Snapshot.artifact[AnyRef](spark.read.parquet(path), "spec") {
              trained.incrementAndGet()
              started.countDown()
              timedOut.set(!release.await(30, TimeUnit.SECONDS))
              new Object
            }
          }
        })
      }
      go.countDown()
      assert(started.await(30, TimeUnit.SECONDS))
      // while the training runs: another snapshot's copy and artifact
      assert(StoreOps.collectionCount(spark.read.parquet(elsewhere)).head().getLong(0) == 40)
      assert(Snapshot.artifact[String](spark.read.parquet(elsewhere), "spec")("other") == "other")
      release.countDown()
      val got = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(!timedOut.get, "a registry call waited on a training")
      assert(trained.get == 1)
      assert(got.forall(_ eq got.head))
    } finally pool.shutdownNow()
  }

  /** an artifact and a resident copy of `path`; the artifact is
    * reachable only through the registry
    */
  private def held(path: String): WeakReference[AnyRef] = {
    val scan = spark.read.parquet(path)
    assert(StoreOps.collectionCount(scan).head().getLong(0) == 30)
    new WeakReference(Snapshot.artifact[AnyRef](scan, "spec")(new Array[Long](64)))
  }

  test("a stopped context's entries are let go at the next registry call") {
    val path = write(rows(0, 30))
    val next = write(rows(0, 20))
    val ref = held(path)
    spark.stop()
    val s = session()
    assert(s.sparkContext ne spark.sparkContext)
    assert(StoreOps.collectionCount(s.read.parquet(next)).head().getLong(0) == 20)
    assert(collected(Seq(ref)), "the stopped session's artifact is still held")
  }
}
