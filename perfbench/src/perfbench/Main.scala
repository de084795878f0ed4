package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one measured window produced. `unitMs` holds one wall time per
  * unit of work (a corpus pass, a request, a commit, a suite pass),
  * failed units included; `items` counts the workload's own items
  * (turns, requests, input turns, operators) completed in `wallS`.
  */
final case class Window(unitMs: Seq[Double], attempted: Long, failed: Long, items: Long,
    wallS: Double, errors: Map[String, Int]) {
  def units: Int = unitMs.size
}

/** Run-wide state handed to a workload. */
final class Ctx(val seed: Long, val work: String, val cpus: Int) {
  var spark: SparkSession = _
  var counts: Counts = _
  var tracer: Tracer = _
  var traced: Counts = _

  /** (Re)start the Spark session with the aggregate listener only. */
  def startSession(): Unit = {
    if (spark != null) spark.stop()
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    counts = new Counts(traced = false)
    spark.sparkContext.addSparkListener(counts)
    tracer = new Tracer(spark.sparkContext, on = false)
  }

  /** Turn tracing on: spans plus the per-group listener. */
  def startTracing(): Unit = {
    traced = new Counts(traced = true)
    spark.sparkContext.addSparkListener(traced)
    tracer = new Tracer(spark.sparkContext, on = true)
  }

  def drain(): Unit = org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)

  def path(rel: String): String = new File(work, rel).getAbsolutePath
}

/** One benchmark workload. */
trait Workload {
  def name: String
  /** Build this workload's inputs into the fresh directory `dir`. */
  def setup(ctx: Ctx, dir: String): Unit
  /** Input sizes of the last set-up, for the record. */
  def inputs(ctx: Ctx): Map[String, Any]
  /** JIT and plan warm-up, untimed. */
  def warm(ctx: Ctx): Unit
  /** Run units of work for about `seconds`. */
  def measure(ctx: Ctx, seconds: Double): Window
  /** Correctness checks after the timed window; each string is a failure. */
  def check(ctx: Ctx): Seq[String]
  /** This workload's own end-to-end figures, by the names in README.md. */
  def named(ctx: Ctx, w: Window, cpuPerUnit: Double): Seq[(String, Double, String)]
  /** Layer figures from the traced window (run record only). */
  def layers(ctx: Ctx, w: Window): Map[String, Double] = Map.empty
  /** Extra record entries. */
  def record(ctx: Ctx): Map[String, Any] = Map.empty
}

object Main {
  val SetupReps = 3

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def workload(name: String): Workload = name match {
    case "extract_bulk" => new ExtractBulk
    case "rag_serve" => new RagServe
    case "ingest_commit" => new IngestCommit
    case "operator_suite" => new OperatorSuite
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Per-unit engine and driver figures of a traced window. */
  private def engineLayers(ctx: Ctx, w: Window): Map[String, Double] = {
    val roots = ctx.tracer.spans.filter(_.parent == 0L)
    val all = new GroupStats
    var planMs = 0.0
    var idleMs = 0.0
    roots.foreach { r =>
      val g = ctx.tracer.inclusive(r, ctx.traced)
      all.add(g)
      val jobs = g.jobIntervals
      if (jobs.nonEmpty) planMs += math.max(0L, jobs.map(_._1).min - r.startMs)
      idleMs += (r.endMs - r.startMs) - Stats.unionMs(jobs.toSeq, r.startMs, r.endMs)
    }
    val n = math.max(1, w.units).toDouble
    Map(
      "spark.jobs" -> all.jobs / n,
      "spark.stages" -> all.stages / n,
      "spark.tasks" -> all.tasks / n,
      "spark.task_run_s" -> all.runMs / 1e3 / n,
      "spark.task_cpu_s" -> all.cpuNs / 1e9 / n,
      "spark.scheduler_delay_s" -> all.schedDelayMs / 1e3 / n,
      "spark.shuffle_write_bytes" -> all.shuffleWrite / n,
      "spark.shuffle_read_bytes" -> all.shuffleRead / n,
      "spark.spill_bytes" -> all.spill / n,
      "spark.gc_s" -> all.gcMs / 1e3 / n,
      "spark.peak_exec_mem_mb" -> all.peakExecMem / 1048576.0,
      "spark.input_bytes" -> all.inputBytes / n,
      "driver.plan_ms" -> planMs / n,
      "driver.idle_ms" -> idleMs / n)
  }

  def main(args: Array[String]): Unit = {
    val wl = workload(arg(args, "--workload"))
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val work = arg(args, "--work")
    val launch = arg(args, "--config")
    val ctx = new Ctx(seed, work, arg(args, "--cpus").toInt)
    val problems = mutable.ArrayBuffer[String]()

    // set-up: session start + inputs into a fresh directory, repeated;
    // the last repetition's session and inputs are the ones measured
    val setupS = (1 to SetupReps).map { r =>
      val dir = ctx.path(s"setup-$r")
      val t0 = System.nanoTime()
      ctx.startSession()
      wl.setup(ctx, dir)
      val s = (System.nanoTime() - t0) / 1e9
      if (r > 1) rm(new File(ctx.path(s"setup-${r - 1}")))
      s
    }
    val w0 = System.nanoTime()
    wl.warm(ctx)
    val warmS = (System.nanoTime() - w0) / 1e9

    ctx.drain()
    val cpu0 = ctx.counts.cpuNs.get
    val failedTasks0 = ctx.counts.failedTasks.get
    val window = wl.measure(ctx, seconds)
    ctx.drain()
    val cpuPerUnit = (ctx.counts.cpuNs.get - cpu0) / 1e9 / math.max(1, window.units)
    val e2e = Map(
      "setup_s" -> Stats.median(setupS),
      "unit_p50_ms" -> Stats.median(window.unitMs),
      "items_per_s" -> window.items / window.wallS,
      "task_cpu_s" -> cpuPerUnit,
      "peak_rss_mb" -> vmHwmMb())

    var attempted = window.attempted
    var failed = window.failed
    val layerMetrics = mutable.LinkedHashMap[String, Double]()
    var tracedWindow: Option[Window] = None
    if (trace) {
      ctx.startTracing()
      val tw = wl.measure(ctx, seconds)
      ctx.drain()
      tracedWindow = Some(tw)
      attempted += tw.attempted
      failed += tw.failed
      layerMetrics ++= engineLayers(ctx, tw)
      layerMetrics ++= wl.layers(ctx, tw)
      layerMetrics ++= Probes.run(ctx)
      ctx.tracer.selfByLayer.foreach { case (l, s) => layerMetrics(s"self.$l" + "_s") = s }
    }
    val c0 = System.nanoTime()
    problems ++= wl.check(ctx)
    val checkS = (System.nanoTime() - c0) / 1e9
    if (ctx.counts.failedTasks.get > failedTasks0)
      problems += s"${ctx.counts.failedTasks.get - failedTasks0} Spark tasks failed"

    val named = wl.named(ctx, window, cpuPerUnit) ++ Seq(
      ("setup_s", e2e("setup_s"), "s"),
      ("task_cpu_s", cpuPerUnit, "s"),
      ("failed_share", window.failed.toDouble / math.max(1L, window.attempted), "ratio"),
      ("peak_rss_mb", e2e("peak_rss_mb"), "MB"))
    val sc = ctx.spark.sparkContext
    val config = Map[String, Any](
      "launch" -> RawJson(launch),
      "spark_version" -> sc.version,
      "jdk" -> System.getProperty("java.version"),
      "master" -> sc.master,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "gc" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getName).toSeq,
      "spark.local.dir" -> sc.getConf.get("spark.local.dir", ""),
      "spark.shuffle.sort.bypassMergeThreshold" ->
        sc.getConf.get("spark.shuffle.sort.bypassMergeThreshold", "200"),
      "spark.sql.shuffle.partitions" -> ctx.spark.conf.get("spark.sql.shuffle.partitions"),
      "spark.sql.adaptive.enabled" -> ctx.spark.conf.get("spark.sql.adaptive.enabled"),
      "seed" -> seed,
      "seconds" -> seconds,
      "inputs" -> wl.inputs(ctx))
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> seed, "trace" -> trace,
      "config" -> config,
      "setup_reps_s" -> setupS, "warmup_s" -> warmS, "check_s" -> checkS,
      "end_to_end" -> e2e,
      "named" -> named.map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "window" -> Map("units" -> window.units, "attempted" -> window.attempted,
        "failed" -> window.failed, "items" -> window.items, "wall_s" -> window.wallS,
        "unit_ms" -> window.unitMs, "errors" -> window.errors))
    record ++= wl.record(ctx)
    if (trace) {
      record("per_layer") = layerMetrics
      record("traced_window") = tracedWindow.map(t => Map("units" -> t.units,
        "unit_p50_ms" -> Stats.median(t.unitMs), "items_per_s" -> t.items / t.wallS,
        "errors" -> t.errors))
      record("spans") = ctx.tracer.toJson
    }
    val metrics = if (trace) layerMetrics.toMap else e2e
    val result = Map[String, Any](
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, v) => k -> Map("value" -> v, "unit" -> Units.of(k)) },
      "problems" -> problems.toSeq,
      "record" -> record,
      "oracle_dump" -> wl.record(ctx).get("oracle_dump").orNull)
    java.nio.file.Files.writeString(new File(arg(args, "--out")).toPath, Json(result))

    val out = new StringBuilder
    out ++= s"workload ${wl.name}  seed $seed  trace ${if (trace) 1 else 0}  " +
      s"units ${window.units}  attempted $attempted  failed $failed\n"
    named.foreach { case (n, v, u) => out ++= f"  $n%-28s $v%14.4f $u\n" }
    if (trace) layerMetrics.foreach { case (n, v) => out ++= f"  $n%-28s $v%14.4f ${Units.of(n)}\n" }
    print(out)
    ctx.spark.stop()
  }
}

/** A pre-rendered JSON fragment. */
final case class RawJson(text: String) {
  override def toString: String = text
}

object Units {
  def of(metric: String): String = metric match {
    case "items_per_s" => "1/s"
    case m if m.endsWith("_us") || m.endsWith("_us_per_doc") => "us"
    case m if m.endsWith("_ms") => "ms"
    case m if m.endsWith("_s") || m.endsWith(".s") => "s"
    case m if m.endsWith("_mb") => "MB"
    case m if m.endsWith("_pct") => "%"
    case m if m.contains("bytes") && !m.contains("_per_") => "bytes"
    case _ => "count"
  }
}
