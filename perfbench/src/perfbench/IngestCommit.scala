package perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.chunk.ChunkOps
import graft.rag.HashEmbedder
import graft.store.{Compaction, Manifest, StoreOps}

/** ingest_commit: the write path of the store. A seeded batch goes
  * through Manifest.runResumable one commit at a time, the committed
  * turns are chunked, embedded, merged into the store with
  * appendDedup, one document is deleted, and the table is compacted.
  * Unit = one commit; item = one input turn, counted when its cycle
  * has compacted the store.
  */
final class IngestCommit extends Workload {
  val name = "ingest_commit"
  val BatchConvs = 200L
  val BaseConvs = 100L
  val Partitions = 16
  val PerCommit = 4
  val TargetBytes: Long = 64L << 20

  private var batchDir: String = _
  private var baseDir: String = _
  private var batchTurns = 0L
  private var cycle = 0
  private var last: Option[CycleDirs] = None
  private var deleted: String = _

  /** (bytes, files) the last cycle left in its output, manifests and store. */
  private def written: (Long, Long) = last.map { d =>
    val dirs = Seq(d.out, d.manifest, d.store, d.compactions)
    (dirs.map(Inputs.bytes).sum, dirs.map(Inputs.files).sum)
  }.getOrElse((0L, 0L))

  final case class CycleDirs(root: String) {
    val out = s"$root/out"
    val manifest = s"$root/manifest"
    val store = s"$root/store"
    val compactions = s"$root/compaction_manifest"
  }

  def setup(ctx: Ctx, dir: String): Unit = {
    batchDir = s"$dir/batch"
    baseDir = s"$dir/base_store"
    Inputs.write(ctx, ctx.seed + 2, 1000000L, BatchConvs, ctx.cpus, batchDir)
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed + 2
    val base = spark.range(0, BaseConvs, 1, ctx.cpus)
      .flatMap(i => graft.gen.TranscriptGen.genConv(seed, i)._1).toDF()
    RagServe.buildStore(ctx, base, baseDir, partitionCol = true)
  }

  def inputs(ctx: Ctx): Map[String, Any] = Map(
    "batch_conversations" -> BatchConvs, "batch_turns" -> batchTurns,
    "batch_bytes" -> Inputs.bytes(batchDir), "base_conversations" -> BaseConvs,
    "base_store_bytes" -> Inputs.bytes(baseDir), "partitions" -> Partitions,
    "partitions_per_commit" -> PerCommit)

  private def batch(ctx: Ctx): DataFrame =
    ctx.spark.read.parquet(batchDir).select("conv_id", "turn_idx", "role", "text", "tool", "ts")

  /** Chunks of the committed turns, with the store's columns. */
  private def batchChunks(ctx: Ctx, d: CycleDirs): DataFrame = {
    val spark = ctx.spark
    val snap = Manifest.readSnapshot(spark, d.out, Manifest.load(spark, d.manifest),
      lit(new java.sql.Timestamp(System.currentTimeMillis() + 86400000L)))
    val docs = snap.filter(col("status") === "ok")
      .select(concat_ws("/", col("conv_id"), col("turn_idx")).as("doc_id"), col("markdown").as("text"))
    ChunkOps.sections(docs).toDF()
      .withColumn("cid", xxhash64(col("chunk_id")))
      .withColumn("embedding", HashEmbedder.embedding(col("content")))
      .withColumn("type", when(col("has_code_blocks"), "code")
        .when(col("has_tables"), "table").otherwise("text"))
      .withColumn("source", substring_index(col("document"), "/", 1))
      .withColumn("partition_id", RagServe.StorePartition)
  }

  private def merged(ctx: Ctx, d: CycleDirs): DataFrame = {
    val base = ctx.spark.read.parquet(baseDir)
    val cols = base.columns.toSeq
    StoreOps.deleteDocument(
      StoreOps.appendDedup(base, batchChunks(ctx, d).select(cols.map(col): _*)), deleted)
  }

  /** One cycle; returns the commit times (failed commits as +inf). */
  private def runCycle(ctx: Ctx, errors: mutable.Map[String, Int]): (Seq[Double], Boolean) = {
    cycle += 1
    val d = CycleDirs(ctx.path(s"cycle-$cycle"))
    val commits = mutable.ArrayBuffer[Double]()
    val input = batch(ctx)
    try {
      var more = true
      while (more) {
        val t0 = System.nanoTime()
        val n = ctx.tracer.span("store.commit", "store") {
          Manifest.runResumable(ctx.spark, input, d.out, d.manifest, Partitions,
            partitionsPerCommit = PerCommit, maxBatches = 1)
        }
        if (n > 0) commits += (System.nanoTime() - t0) / 1e6 else more = false
      }
      ctx.tracer.span("store.append_dedup", "store") {
        merged(ctx, d).repartition(ctx.cpus * 2)
          .write.partitionBy("partition_id").parquet(d.store)
      }
      ctx.tracer.span("store.compaction", "store") {
        Compaction.compactPartitions(ctx.spark, d.store, TargetBytes, Some(d.compactions)).collect()
      }
      last.foreach(p => Main.rm(new java.io.File(p.root)))
      last = Some(d)
      (commits.toSeq, true)
    } catch {
      case e: Exception =>
        errors(e.getClass.getSimpleName) = errors.getOrElse(e.getClass.getSimpleName, 0) + 1
        (commits.toSeq :+ Double.PositiveInfinity, false)
    }
  }

  def warm(ctx: Ctx): Unit = {
    batchTurns = batch(ctx).count()
    val docs = ctx.spark.read.parquet(baseDir).select("document").distinct()
      .orderBy("document").collect().map(_.getString(0))
    deleted = docs(new scala.util.Random(ctx.seed).nextInt(docs.length))
    runCycle(ctx, mutable.Map())
  }

  def measure(ctx: Ctx, seconds: Double): Window = {
    val times = mutable.ArrayBuffer[Double]()
    val errors = mutable.Map[String, Int]()
    var items = 0L
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline || times.isEmpty) {
      val (commits, ok) = runCycle(ctx, errors)
      times ++= commits
      if (ok) items += batchTurns
    }
    val wall = (System.nanoTime() - start) / 1e9
    val failed = times.count(_.isInfinite).toLong
    Window(times.toSeq, times.size, failed, items, wall, errors.toMap)
  }

  def check(ctx: Ctx): Seq[String] = {
    val d = last.getOrElse(return Seq("no ingest cycle completed"))
    val spark = ctx.spark
    val problems = mutable.ArrayBuffer[String]()
    val manifest = Manifest.load(spark, d.manifest)
    val snap = Manifest.snapshotAsOf(manifest,
      lit(new java.sql.Timestamp(System.currentTimeMillis() + 86400000L))).collect()
    val done = manifest.filter(col("status") === "done").groupBy("partition_id").count().collect()
    if (snap.length != Partitions || snap.map(_.getInt(0)).distinct.length != Partitions)
      problems += s"snapshot has ${snap.length} partitions, want $Partitions"
    if (done.length != Partitions || done.exists(_.getLong(1) != 1L))
      problems += "a partition is not done exactly once in the manifest"
    val rowsIn = manifest.filter(col("status") === "done").agg(sum("rows_in"), sum("rows_out")).head()
    val outRows = spark.read.parquet(d.out).count()
    if (rowsIn.getLong(0) != batchTurns || rowsIn.getLong(1) != batchTurns || outRows != batchTurns)
      problems += s"rows in ${rowsIn.getLong(0)} / manifest out ${rowsIn.getLong(1)} / " +
        s"table $outRows differ from the batch's $batchTurns turns"
    val store = spark.read.parquet(d.store)
    val hash = (df: DataFrame) => df.agg(count(lit(1)), countDistinct(col("chunk_id")),
      coalesce(bit_xor(xxhash64(col("chunk_id"), col("content"), col("document"))), lit(0L))).head()
    val got = hash(store)
    val want = hash(merged(ctx, d))
    if (got.getLong(0) != got.getLong(1)) problems += "chunk_id values are not unique after appendDedup"
    if (got.getLong(0) != want.getLong(0) || got.getLong(2) != want.getLong(2))
      problems += s"compacted store (${got.getLong(0)} rows) differs from the merged rows (${want.getLong(0)})"
    if (store.filter(col("document") === deleted).count() != 0) problems += s"$deleted was not deleted"
    val files = Compaction.layout(d.store)
    if (files.exists(_.files > 1)) problems += "compaction left a partition with several files"
    problems.toSeq
  }

  def named(ctx: Ctx, w: Window, cpuPerUnit: Double): Seq[(String, Double, String)] = {
    val ok = w.unitMs.filterNot(_.isInfinite)
    Seq(
      ("commit_p50_s", Stats.median(w.unitMs) / 1e3, "s"),
      ("ingest_turns_per_s", w.items / w.wallS, "turns/s"),
      ("write_bytes_per_input_byte", written._1.toDouble / Inputs.bytes(batchDir), "ratio"),
      ("commits", ok.size.toDouble, "count"))
  }

  override def record(ctx: Ctx): Map[String, Any] = Map(
    "store_bytes_written" -> written._1, "store_files_written" -> written._2)

  override def layers(ctx: Ctx, w: Window): Map[String, Double] = {
    val t = ctx.tracer
    val commits = t.spans.filter(_.name == "store.commit")
    // SQL executions inside commit spans, classified by what they write
    val execs = ctx.traced.sql.values().toArray(Array.empty[SqlExec]).toSeq
    def inCommit(e: SqlExec) = commits.exists(s => e.startMs >= s.startMs && e.startMs <= s.endMs)
    val mine = execs.filter(inCommit)
    def secs(p: SqlExec => Boolean) = mine.filter(p).map(e => (e.endMs - e.startMs) / 1e3).sum
    val writesTo = (e: SqlExec, dir: String) =>
      e.plan.contains("InsertIntoHadoopFsRelationCommand") && e.plan.contains(dir)
    val isManifest = (e: SqlExec) => writesTo(e, "/manifest")
    val isData = (e: SqlExec) => writesTo(e, "/out")
    val n = math.max(1, commits.size).toDouble
    val cycles = t.spans.count(_.name == "store.compaction").max(1)
    // chunking alone over the last cycle's committed turns
    val d = last.get
    val chunkS = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      t.span("chunk.sections", "chunk") {
        batchChunks(ctx, d).select("chunk_id", "content").write.format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e9
    })
    Map(
      "store.pending_s" -> secs(e => !isManifest(e) && !isData(e)) / n,
      "store.data_write_s" -> secs(isData) / n,
      "store.manifest_write_s" -> secs(isManifest) / n,
      "store.append_dedup_s" -> t.spans.filter(_.name == "store.append_dedup").map(_.durS).sum / cycles,
      "store.compaction_s" -> t.spans.filter(_.name == "store.compaction").map(_.durS).sum / cycles,
      "store.bytes_written" -> written._1.toDouble,
      "store.files_written" -> written._2.toDouble,
      "store.input_scans_per_commit" -> mine.count(_.plan.contains(batchDir)) / n,
      "store.jobs_per_commit" -> commits.map(s => t.inclusive(s, ctx.traced).jobs).sum / n,
      "chunk.s" -> chunkS)
  }
}
