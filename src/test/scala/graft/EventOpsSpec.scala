package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.events.EventOps

/** Sessionization + as-of join semantics on hand-computed fixtures,
  * plus the single-exchange plan shape both operators rely on at scale.
  */
class EventOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def ts(minute: Int) = new Timestamp(minute * 60000L)

  test("sessionize: gaps above the threshold open new sessions per key") {
    import spark.implicits._
    // user 1: events at minutes 0, 10, 50 (gap 40 > 30 → new session), 60
    // user 2: single event
    val ev = Seq(
      (0L, 1L, ts(0)), (1L, 1L, ts(10)), (2L, 1L, ts(50)), (3L, 1L, ts(60)),
      (4L, 2L, ts(5)))
      .toDF("event_id", "user_id", "ts")
    val got = EventOps.sessionize(ev, gapSeconds = 1800L)
      .select("event_id", "session_idx").as[(Long, Int)].collect().toMap
    assert(got == Map(0L -> 0, 1L -> 0, 2L -> 1, 3L -> 1, 4L -> 0))
  }

  test("sessionStats: per-session count, duration, exact value sum") {
    import spark.implicits._
    val ev = Seq(
      (0L, 1L, ts(0), 1.25), (1L, 1L, ts(10), 2.50),
      (2L, 1L, ts(50), 4.00))
      .toDF("event_id", "user_id", "ts", "value")
    val got = EventOps.sessionStats(ev).orderBy("session_idx")
      .as[(Long, Int, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 0, 2L, 600000000L, 3750000.0), // minutes 0–10, 1.25+2.50
      (1L, 1, 1L, 0L, 4000000.0)))
  }

  test("asofJoin: inclusive at-or-before, greatest ref wins ties, null before first ref") {
    import spark.implicits._
    val probe = Seq(
      (10L, 1L, ts(5)), // before any ref → null
      (11L, 1L, ts(20)), // after ref@20 (inclusive, same ts)
      (12L, 1L, ts(90)), // two refs at ts 60 → greater event_id wins
      (13L, 2L, ts(50))) // other key: ref@40
      .toDF("event_id", "user_id", "ts")
    val ref = Seq(
      (100L, 1L, ts(20), 1.0), (101L, 1L, ts(60), 2.0),
      (102L, 1L, ts(60), 3.0), (103L, 2L, ts(40), 4.0))
      .toDF("event_id", "user_id", "ts", "value")
    val got = EventOps.asofJoin(probe, ref, "user_id", "ts", "event_id",
      refCols = Seq("event_id", "value"))
      .select("event_id", "asof_event_id", "asof_value")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSet
    assert(got == Set(
      (10L, -1L, -1.0),
      (11L, 100L, 1.0),
      (12L, 102L, 3.0),
      (13L, 103L, 4.0)))
  }

  test("asofJoin carries whole ref rows: a null field never falls back to an older row") {
    import spark.implicits._
    val probe = Seq((10L, 1L, ts(90))).toDF("event_id", "user_id", "ts")
    val ref = Seq((100L, 1L, ts(20), Option(1.0)),
      (101L, 1L, ts(60), Option.empty[Double]))
      .toDF("event_id", "user_id", "ts", "value")
    val r = EventOps.asofJoin(probe, ref, "user_id", "ts", "event_id",
      refCols = Seq("event_id", "value")).head()
    assert(r.getAs[Long]("asof_event_id") == 101L)
    // the latest ref row's value IS null — stitching 1.0 from the older
    // row would fabricate a (101, 1.0) pair no ref row ever held
    assert(r.isNullAt(r.fieldIndex("asof_value")))
  }

  test("sessionize rejects NTZ input under a non-UTC session time zone") {
    import spark.implicits._
    val ev = Seq((0L, 1L, "2026-03-08T01:50:00")).toDF("event_id", "user_id", "s")
      .select(col("event_id"), col("user_id"),
        col("s").cast("timestamp_ntz").as("ts"))
    val old = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val e = intercept[IllegalArgumentException] { EventOps.sessionize(ev) }
      assert(e.getMessage.contains("DST"))
    } finally spark.conf.set("spark.sql.session.timeZone", old)
  }

  test("NTZ guard accepts fixed-offset zones and rejects reserved asof names") {
    import spark.implicits._
    val ev = Seq((0L, 1L, "2026-03-08T01:50:00"), (1L, 1L, "2026-03-08T01:55:00"))
      .toDF("event_id", "user_id", "s")
      .select(col("event_id"), col("user_id"),
        col("s").cast("timestamp_ntz").as("ts"))
    val old = spark.conf.get("spark.sql.session.timeZone")
    try {
      // +02:00 has no transitions — NTZ gaps are safe, must NOT throw
      spark.conf.set("spark.sql.session.timeZone", "+02:00")
      assert(EventOps.sessionize(ev).count() == 2)
    } finally spark.conf.set("spark.sql.session.timeZone", old)
    // internal column names are reserved
    val probe = Seq((1L, 1L, ts(1), "x")).toDF("event_id", "user_id", "ts", "_asof")
    val ref = Seq((2L, 1L, ts(0), 1.0)).toDF("event_id", "user_id", "ts", "value")
    val e = intercept[IllegalArgumentException] {
      EventOps.asofJoin(probe, ref, "user_id", "ts", "event_id", Seq("value"))
    }
    assert(e.getMessage.contains("reserves"))
  }

  test("sessionize equals a per-key sequential fold on random event sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // about 1 row in 12 has a null user_id, and 1 in 12 a null ts
    def maybe[A](a: A): Option[A] = if (rnd.nextInt(12) == 0) None else Some(a)
    val conf = spark.conf
    for (round <- 1 to 3; interpreted <- Seq(false, true)) {
      val rows = (0L until 300L).map { i =>
        (i, maybe(rnd.nextInt(8).toLong), maybe(new Timestamp(rnd.nextInt(172800) * 1000L)))
      }
      // SessionIndex's generated code, or its interpreted evalInternal
      val modes = Seq("spark.sql.codegen.wholeStage" -> (!interpreted).toString,
        "spark.sql.codegen.factoryMode" -> (if (interpreted) "NO_CODEGEN" else "FALLBACK"))
      val saved = modes.map { case (k, _) => k -> conf.getOption(k) }
      val got = try {
        modes.foreach { case (k, v) => conf.set(k, v) }
        val out = EventOps.sessionize(rows.toDF("event_id", "user_id", "ts"),
          gapSeconds = 900L).select("event_id", "session_idx")
        val ds = out.as[(Long, Int)]
        val result = ds.collect().toMap
        val executed = ds.queryExecution.executedPlan.toString
        // "*(n)" marks an operator inside a whole-stage-codegen span
        assert(executed.contains("*(") != interpreted, executed)
        result
      } finally saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
      // reference: sort each user's events (null users one group) by
      // (ts, id), nulls first as the sort orders them, and fold the gap
      // rule; a null ts, or a null predecessor, opens no session
      val expected = rows.groupBy(_._2).flatMap { case (_, evs) =>
        val sorted = evs.sortBy(e => (e._3.map(_.getTime), e._1))
        var idx = 0
        var prev: Option[Long] = None
        sorted.map { e =>
          val t = e._3.map(_.getTime)
          if (prev.isDefined && t.isDefined && t.get - prev.get > 900000L) idx += 1
          prev = t
          e._1 -> idx
        }
      }
      assert(rows.exists(_._2.isEmpty) && rows.exists(_._3.isEmpty))
      assert(got == expected, s"round $round interpreted=$interpreted")
    }
  }

  test("asofJoin equals brute force on random probe/ref sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val probe = (0L until 150L).map(i =>
      (i, rnd.nextInt(5).toLong, new Timestamp(rnd.nextInt(10000) * 1000L)))
    val ref = (1000L until 1100L).map(i =>
      (i, rnd.nextInt(5).toLong, new Timestamp(rnd.nextInt(10000) * 1000L),
        rnd.nextInt(100).toDouble))
    val got = EventOps.asofJoin(probe.toDF("event_id", "user_id", "ts"),
      ref.toDF("event_id", "user_id", "ts", "value"),
      "user_id", "ts", "event_id", refCols = Seq("event_id"))
      .select("event_id", "asof_event_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val expected = probe.map { case (pid, key, pts) =>
      val candidates = ref.filter(r => r._2 == key && r._3.getTime <= pts.getTime)
      pid -> (if (candidates.isEmpty) -1L
              else candidates.maxBy(r => (r._3.getTime, r._1))._1)
    }.toMap
    assert(got == expected)
  }

  test("sessionize plans exactly one exchange, hash-partitioned by the key") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val p = EventOps.sessionize(ev).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("asofJoin plans one window pass, no join operator at all") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val probe = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val ref = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "ts", "value")
    val p = EventOps.asofJoin(probe, ref, "user_id", "ts", "event_id",
      refCols = Seq("value")).queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p) // union + window, never a pair join
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
  }
}
