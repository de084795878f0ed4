package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** Seeded stand-ins for the TPC-H-shaped fixture tables the operators
  * read (`region nation customer supplier part orders lineitem events
  * documents embeddings`), with the same schemas and row counts as the
  * sf0.01 scale. Each table is written as one `<name>.parquet` file.
  */
object Fixtures {
  val Words: Seq[String] = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "merge", "batch", "spark", "a", "the", "line", "sort", "window", "order",
    "data", "column", "join", "small", "customer", "query", "big", "stream", "group", "vector",
    "filter", "index", "shuffle")

  private def pick(values: Seq[String], h: Column): Column =
    element_at(typedLit(values), (pmod(h, lit(values.size.toLong)) + 1).cast("int"))

  def tables(spark: SparkSession, seed: Long): Seq[(String, DataFrame)] = {
    def h(salt: Int): Column = xxhash64(lit(seed), col("id"), lit(salt))
    def u(salt: Int, n: Long): Column = pmod(h(salt), lit(n))
    def cents(salt: Int, lo: Long, hi: Long): Column = ((u(salt, hi - lo) + lo) / 100.0)
    def day(salt: Int, fromEpochS: Long, days: Long): Column =
      (lit(fromEpochS) + u(salt, days) * 86400L).cast("timestamp")
    val r = (n: Long) => spark.range(0, n, 1, 1)
    Seq(
      "region" -> r(5).select(col("id").cast("int").as("r_regionkey"),
        pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), col("id")).as("r_name")),
      "nation" -> r(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")),
      "customer" -> r(1500).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"), u(1, 25).cast("int").as("c_nationkey"),
        cents(2, -99999, 999999).as("c_acctbal"),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), h(3)).as("c_mktsegment")),
      "supplier" -> r(100).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"), u(4, 25).cast("int").as("s_nationkey"),
        cents(5, -99999, 999999).as("s_acctbal")),
      "part" -> r(2000).select(col("id").as("p_partkey"),
        concat_ws(" ", pick(Seq("small", "red", "large", "blue", "green"), h(6)),
          pick(Seq("ring", "widget", "bolt", "gear", "panel"), h(7))).as("p_name"),
        concat(lit("Brand#"), u(8, 25) + 1).as("p_brand"),
        pick(Seq("ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM"), h(9)).as("p_type"),
        (u(10, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice")),
      "orders" -> r(15000).select(col("id").as("o_orderkey"), u(11, 1500).as("o_custkey"),
        pick(Seq("F", "O", "P"), h(12)).as("o_orderstatus"), cents(13, 100000, 50000000).as("o_totalprice"),
        day(14, 694224000L, 2400).as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), h(15)).as("o_orderpriority")),
      "lineitem" -> r(60000).select(u(16, 15000).as("l_orderkey"), u(17, 2000).as("l_partkey"),
        u(18, 100).as("l_suppkey"), (u(19, 7) + 1).cast("int").as("l_linenumber"),
        (u(20, 50) + 1).cast("double").as("l_quantity"), cents(21, 100000, 10000000).as("l_extendedprice"),
        (u(22, 11) / 100.0).as("l_discount"), (u(23, 9) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), h(24)).as("l_returnflag"), pick(Seq("F", "O"), h(25)).as("l_linestatus"),
        day(26, 694224000L, 2600).as("l_shipdate")),
      "events" -> r(10000).select(col("id").as("event_id"),
        (lit(1704067200L) + u(27, 30L * 86400L * 1000000L) / 1000000.0).cast("timestamp").as("ts"),
        u(28, 150).as("user_id"),
        pick(Seq("click", "signup", "error", "view", "purchase"), h(29)).as("event_type"),
        cents(30, 1, 49002).as("value"),
        concat(lit("{\"k\": "), u(31, 100), lit("}")).as("props")),
      "documents" -> {
        val text = array_join(transform(sequence(lit(1), (u(32, 84) + 8).cast("int")),
          i => pick(Words, xxhash64(lit(seed), col("id"), i))), " ")
        r(500).select(col("id").as("doc_id"), text.as("text"),
          pick(Seq("en", "en", "en", "zh", "de", "fr", "es"), h(33)).as("lang"),
          concat(lit("src"), col("id") % 20).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      },
      "embeddings" -> r(500).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          d => ((pmod(xxhash64(lit(seed), col("id"), d), lit(20001L)) - 10000) / 40000.0).cast("float"))
          .as("embedding"),
        u(34, 10).cast("int").as("label")))
  }

  /** Write every table as `<dir>/<name>.parquet`, a single file. */
  def write(spark: SparkSession, seed: Long, dir: String): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = tables(spark, seed).map { case (name, df) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val tmp = s"$dir/.$name"
            df.coalesce(1).write.parquet(tmp)
            val part = new java.io.File(tmp).listFiles().find(f =>
              f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
            java.nio.file.Files.move(part.toPath, new java.io.File(s"$dir/$name.parquet").toPath)
            Main.rm(new java.io.File(tmp))
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
  }
}

/** operator_suite: a fixed cross-section of `SparkEntry.queries`, one
  * or more operators per module, run in seeded order with a noop sink
  * (every output column is computed; `count()` would let the optimizer
  * drop them). Unit = one pass over the list, item = one operator.
  */
final class OperatorSuite extends Workload {
  val name = "operator_suite"

  /** operator -> module */
  val Operators: Seq[(String, String)] = Seq(
    "extract_markdown" -> "extract", "chunk_sections" -> "chunk",
    "list_documents" -> "store", "append_dedup" -> "store", "bm25_search" -> "rag",
    "ngram_jaccard" -> "text", "decontaminate_bloom" -> "text", "lang_id" -> "text",
    "sessionize" -> "events", "mm_decode_ppm" -> "multimodal",
    "tpch_pricing" -> "tpch", "tpch_top_orders" -> "tpch")

  private var tablesDir: String = _
  private var dumpDir: String = _
  private val warmErrors = mutable.ArrayBuffer[String]()
  private val passErrors = mutable.ArrayBuffer[String]()
  private val opMs = mutable.Map[String, mutable.ArrayBuffer[Double]]()

  private def fn(op: String) = SparkEntry.queries(op)

  def setup(ctx: Ctx, dir: String): Unit = {
    tablesDir = s"$dir/tables"
    new java.io.File(tablesDir).mkdirs()
    Fixtures.write(ctx.spark, ctx.seed, tablesDir)
    dumpDir = s"$dir/dump"
  }

  def inputs(ctx: Ctx): Map[String, Any] = Map(
    "operators" -> Operators.map(_._1), "registered_operators" -> SparkEntry.queries.size,
    "table_bytes" -> Inputs.bytes(tablesDir), "scale" -> "sf0.01 row counts")

  /** Two warm passes: the first dumps each output to parquet for the
    * DuckDB oracle, the second runs the timed form once more.
    */
  def warm(ctx: Ctx): Unit = {
    Operators.foreach { case (op, _) =>
      try {
        fn(op)(ctx.spark, tablesDir).coalesce(1).write.parquet(s"$dumpDir/$op")
        fn(op)(ctx.spark, tablesDir).write.format("noop").mode("overwrite").save()
      } catch { case e: Exception => warmErrors += s"$op threw ${e.getClass.getSimpleName}: ${e.getMessage}" }
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Operators.exists(_._1 == k) }
    java.nio.file.Files.writeString(new java.io.File(s"$dumpDir/oracle_sql.json").toPath, Json(oracle))
  }

  def measure(ctx: Ctx, seconds: Double): Window = {
    val rng = new scala.util.Random(ctx.seed)
    val times = mutable.ArrayBuffer[Double]()
    val errors = mutable.Map[String, Int]()
    var failed = 0L
    var attempted = 0L
    var items = 0L
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline || times.isEmpty) {
      var passMs = 0.0
      rng.shuffle(Operators).foreach { case (op, module) =>
        attempted += 1
        val t0 = System.nanoTime()
        try {
          ctx.tracer.span(op, module) {
            fn(op)(ctx.spark, tablesDir).write.format("noop").mode("overwrite").save()
          }
          items += 1
        } catch {
          case e: Exception =>
            failed += 1
            errors(e.getClass.getSimpleName) = errors.getOrElse(e.getClass.getSimpleName, 0) + 1
            passErrors += s"$op threw ${e.getClass.getSimpleName}"
        }
        // a failing operator's time stays in the pass
        val ms = (System.nanoTime() - t0) / 1e6
        opMs.getOrElseUpdate(op, mutable.ArrayBuffer()) += ms
        passMs += ms
      }
      times += passMs
    }
    Window(times.toSeq, attempted, failed, items, (System.nanoTime() - start) / 1e9, errors.toMap)
  }

  def check(ctx: Ctx): Seq[String] = (warmErrors ++ passErrors).toSeq

  def named(ctx: Ctx, w: Window, cpuPerUnit: Double): Seq[(String, Double, String)] =
    Seq(("suite_s", Stats.median(w.unitMs) / 1e3, "s"),
      ("operators_per_s", w.items / w.wallS, "1/s"))

  override def record(ctx: Ctx): Map[String, Any] = Map(
    "oracle_dump" -> Map("tables" -> tablesDir, "outputs" -> dumpDir),
    "operator_ms_p50" -> opMs.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap)

  override def layers(ctx: Ctx, w: Window): Map[String, Double] = {
    val t = ctx.tracer
    val passes = math.max(1, w.units).toDouble
    val byModule = t.spans.filter(_.parent == 0L).groupBy(_.layer)
    byModule.flatMap { case (module, spans) =>
      val g = new GroupStats
      spans.foreach(s => g.add(t.inclusive(s, ctx.traced)))
      Seq(s"$module.suite_s" -> spans.map(_.durS).sum / passes,
        s"$module.jobs" -> g.jobs / passes,
        s"$module.shuffle_bytes" -> (g.shuffleRead + g.shuffleWrite) / passes)
    } ++ t.spans.filter(_.parent == 0L).groupBy(_.name).flatMap { case (op, spans) =>
      Seq(s"op.$op.s" -> spans.map(_.durS).sum / spans.size,
        s"op.$op.jobs" -> spans.map(s => t.inclusive(s, ctx.traced).jobs).sum.toDouble / spans.size)
    }
  }
}
