package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The operator registry: each name is registered once, with its plan
  * and its DuckDB oracle in one entry, and `queries` / `oracleSql` are
  * derived from it. No plan runs here.
  */
class OperatorRegistrySpec extends AnyFunSuite {

  private val plan: (SparkSession, String) => DataFrame = (s, _) => s.range(1).toDF()

  test("a name registered twice is rejected when the registry is built") {
    val e = intercept[IllegalArgumentException](SparkEntry.registryOf(
      new SparkEntry.Op("a", plan, Some("SELECT 1")),
      new SparkEntry.Op("b", plan, None),
      new SparkEntry.Op("a", plan, Some("SELECT 2"))))
    assert(e.getMessage.contains("registered more than once: a"))
    val ok = SparkEntry.registryOf(
      new SparkEntry.Op("a", plan, Some("SELECT 1")),
      new SparkEntry.Op("b", plan, None))
    assert(ok.map(_.name) == Seq("a", "b"))
  }

  test("91 unique names; golden_extract alone declares no oracle, trained oracles bind late") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 91)
    assert(names.distinct == names)
    def noOracle = SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name).toSet
    val (kmeans, pq) = (Queries.lastKmeans, Queries.lastPq)
    try {
      // before training: the trained oracles have nothing to inline yet
      Queries.lastKmeans = None
      Queries.lastPq = None
      assert(noOracle == Set("golden_extract", "ann_ivf_kmeans", "pq_encode", "ann_ivfpq"))
      // the artifacts a plan records bind at the next read of oracleSql
      Queries.lastKmeans = Some((Seq(Array(0.5, -0.25)), Seq(0)))
      Queries.lastPq = Some(Seq(Seq(Array(0.5), Array(-0.25))))
      assert(noOracle == Set("golden_extract"))
      val sql = SparkEntry.oracleSql
      assert(sql("ann_ivf_kmeans").contains("-0.25e0"))
      assert(sql("pq_encode").contains("-0.25e0"))
      assert(sql("ann_ivfpq").contains("-0.25e0"))
      // the derived maps carry exactly the registry's entries
      assert(SparkEntry.queries.keySet == names.toSet)
      assert(sql.keySet == names.toSet - "golden_extract")
      assert(SparkEntry.registry.forall(o => sql.get(o.name) == o.oracle))
    } finally {
      Queries.lastKmeans = kmeans
      Queries.lastPq = pq
    }
  }
}
