package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Partition-layout determinism sweep: every registered query must
  * produce the SAME row multiset when the scan splits and shuffle
  * partitioning change. This is the suite-wide check of a claim the
  * operators make individually (integer-micro money instead of float
  * sums, hash-threshold sampling instead of df.sample, rank-pick
  * medians, seeded hyperplanes): at 100 TB the partition layout is
  * never the same twice — input files compact, AQE coalesces, skew
  * splits — so any result that depends on it is a latent flaky
  * production diff, even if today's single-layout oracle gate passes.
  *
  * The kmeans/PQ family is INCLUDED: its training sample is
  * xxhash64-ordered TakeOrdered with a key tiebreak (AnnIvf/AnnPq),
  * which is layout-invariant, so the trained centroids/codebooks must
  * be too. Each layout runs in its own session: the per-snapshot
  * registry (`store.Snapshot`) keeps a resident copy and the trained
  * artifacts per session, so layout B plans its own copy under its
  * splits and retrains its centroids and codebooks.
  */
class DeterminismSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private def canonAll(s: SparkSession, names: Seq[String]): Map[String, Seq[String]] =
    names.map { n =>
      n -> SparkEntry.queries(n)(s, sf).collect()
        .map(_.toString).sorted.toSeq
    }.toMap

  test("every query is invariant to scan splits and shuffle partitioning") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    // layout A: many tiny scan splits, small odd shuffle count
    val sa = spark.newSession()
    sa.conf.set("spark.sql.shuffle.partitions", "5")
    sa.conf.set("spark.sql.files.maxPartitionBytes", "131072")
    val a = canonAll(sa, names)
    // layout B: default-sized splits, different shuffle count
    val sb = spark.newSession()
    sb.conf.set("spark.sql.shuffle.partitions", "17")
    sb.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
    val b = canonAll(sb, names)
    val diff = names.filter(n => a(n) != b(n))
    assert(diff.isEmpty, s"partition-layout-dependent queries: $diff")
  }
}
