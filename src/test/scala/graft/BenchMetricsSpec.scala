package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.bench.BenchExtra

/** The one listener in src/main: once the bus is drained,
  * `BenchExtra.Metrics` holds the jobs, stages, task CPU and shuffle
  * bytes of everything that ran while it was attached.
  */
class BenchMetricsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def measured(action: => Unit): BenchExtra.Metrics = {
    val sc = spark.sparkContext
    val m = new BenchExtra.Metrics
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(m)
    try { action; ListenerBusDrain.drain(sc) }
    finally sc.removeSparkListener(m)
    m
  }

  test("exchange query: jobs, stages, shuffle bytes and CPU are counted") {
    val m = measured {
      spark.range(0, 200000, 1, 4).withColumn("k", col("id") % 13)
        .repartition(4, col("k")).groupBy("k").count().collect()
    }
    assert(m.jobs > 0)
    assert(m.stages >= 2)
    assert(m.shuffleWrite > 0 && m.shuffleRead > 0)
    assert(m.cpuNs > 0)
    assert(m.stageDetail.size == m.stages)
    assert(m.stageDetail.forall(_.contains("spill=")))
    m.reset()
    assert(m.jobs == 0 && m.stages == 0 && m.cpuNs == 0 &&
      m.shuffleWrite == 0 && m.stageDetail.isEmpty)
  }

  test("map-only projection writes and reads no shuffle bytes") {
    val m = measured {
      spark.range(0, 200000, 1, 4).select(col("id") * 2).collect()
    }
    assert(m.jobs > 0 && m.stages > 0)
    assert(m.shuffleWrite == 0 && m.shuffleRead == 0)
  }
}
