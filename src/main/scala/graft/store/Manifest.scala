package graft.store

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.ExtractPipeline

/** S10 — per-partition checkpoint, lineage + metrics manifest, exact
  * resume (north rule; SURVEY.md §2.1 S10, §7.1).
  *
  * The north star stores this in an Iceberg manifest table; no Iceberg
  * runtime ships in this sandbox (/opt/spark/jars has none), so the
  * same contract is realized as partitioned parquet + an explicit
  * manifest table:
  *
  *   manifest(partition_id int, status string, rows_in long,
  *            rows_out long, ok_rows long, err_rows long,
  *            started_ts timestamp, finished_ts timestamp, attempt int)
  *
  * Work unit = hash partition `pmod(xxhash64(conv_id), numPartitions)`.
  * Commit protocol per batch of partitions:
  *   1. append one 'started' manifest row per partition (attempt
  *      lineage: a crash before completion leaves the started row, so
  *      the resume's attempt counter increments);
  *   2. write extracted rows partitionBy(partition_id), dynamic
  *      partition overwrite → idempotent re-run of any partition;
  *   3. append one 'done' manifest row per completed partition
  *      (rows_in from the input batch, rows_out/ok/err from the output).
  * Resume = left_anti join of the partition domain against
  * `manifest.status='done'` — exactly the not-yet-committed work,
  * regardless of where the previous run died. A partition that was
  * written but whose manifest append was lost is simply rewritten
  * (overwrite ⇒ same bytes, exactly-once output semantics).
  *
  * At cluster scale the same protocol holds per real executor fleet:
  * the manifest append is the only serial point and is O(partitions),
  * not O(rows).
  */
object Manifest {

  def partitionId(numPartitions: Int) =
    pmod(xxhash64(col("conv_id")), lit(numPartitions.toLong)).cast("int")

  def load(spark: SparkSession, manifestDir: String): DataFrame = {
    val p = new java.io.File(manifestDir)
    if (p.exists() && p.listFiles() != null && p.listFiles().nonEmpty)
      Parquet.read(spark, manifestDir)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "partition_id int, status string, rows_in long, rows_out long, " +
            "ok_rows long, err_rows long, started_ts timestamp, " +
            "finished_ts timestamp, attempt int"))
  }

  /** Partitions still to do: domain \ done (left_anti). */
  def pending(spark: SparkSession, numPartitions: Int, manifest: DataFrame): DataFrame = {
    import spark.implicits._
    val domain = spark.range(numPartitions).select($"id".cast("int").as("partition_id"))
    val done = manifest.filter(col("status") === "done").select("partition_id")
    domain.join(done, Seq("partition_id"), "left_anti")
  }

  /** Time-travel over the manifest — the Iceberg-snapshot analog for
    * the parquet+manifest stand-in: the table state visible at `asOf`
    * is, per partition, the LATEST 'done' attempt whose manifest
    * commit finished at or before `asOf`; partitions with no such
    * commit are absent (their data may exist on disk mid-write — the
    * manifest row IS the commit, exactly like an Iceberg snapshot
    * only exposing files its manifest list references). 'started'
    * rows (intent lineage) never surface in a snapshot.
    *
    * Winner election is max(struct(attempt, finished_ts, …)) — an
    * AGGREGATE, not a rank window, so a hot partition with many
    * attempts never funnels through one task (the dedupParagraphs
    * lesson). Cost is O(manifest rows) = O(partitions·attempts),
    * never O(data).
    */
  def snapshotAsOf(manifest: DataFrame, asOf: Column): DataFrame =
    manifest
      .filter(col("status") === "done" && col("finished_ts") <= asOf)
      .groupBy("partition_id")
      .agg(max(struct(col("attempt"), col("finished_ts"), col("rows_out"),
        col("ok_rows"), col("err_rows"))).as("w"))
      .select(col("partition_id"), col("w.attempt").as("attempt"),
        col("w.finished_ts").as("finished_ts"),
        col("w.rows_out").as("rows_out"), col("w.ok_rows").as("ok_rows"),
        col("w.err_rows").as("err_rows"))

  /** Read the data as of a snapshot: scan pruned to the committed
    * partition set. The snapshot frame is tiny (one row per committed
    * partition), so the semi join broadcasts and — because the output
    * table is `partitionBy(partition_id)` — becomes partition pruning
    * at the scan (uncommitted partitions' files are never opened).
    * This is the read half of exactly-once: a partition written but
    * not manifest-committed is invisible, matching `pending`'s
    * decision to rewrite it.
    */
  def readSnapshot(spark: SparkSession, outDir: String, manifest: DataFrame,
      asOf: Column): DataFrame =
    Parquet.read(spark, outDir).join(
      broadcast(snapshotAsOf(manifest, asOf).select("partition_id")),
      Seq("partition_id"), "left_semi")

  /** Run extraction over the pending partitions only, committing in
    * batches of `partitionsPerCommit` (the kill/resume granularity).
    * Returns number of partitions processed this invocation.
    */
  def runResumable(spark: SparkSession, transcripts: DataFrame, outDir: String,
      manifestDir: String, numPartitions: Int,
      partitionsPerCommit: Int = Int.MaxValue,
      maxBatches: Int = Int.MaxValue): Int = {
    val withPid = transcripts.withColumn("partition_id", partitionId(numPartitions))
    var processed = 0
    var batches = 0
    while (batches < maxBatches) {
      val manifest = load(spark, manifestDir)
      val todo = pending(spark, numPartitions, manifest)
        .orderBy("partition_id").limit(partitionsPerCommit)
        .collect().map(_.getInt(0))
      if (todo.isEmpty) return processed
      val started = new java.sql.Timestamp(System.currentTimeMillis())
      // attempt counts PRIOR 'started' rows for these partitions — a
      // crash between the started append and the done append leaves the
      // started row behind, so a resume records attempt 2, not 1
      val attempt = 1 + manifest.filter(col("partition_id").isin(todo.toIndexedSeq: _*)
          && col("status") === "started")
        .agg(coalesce(max("attempt"), lit(0))).collect()(0).getInt(0)

      import spark.implicits._
      val batch = withPid.filter(col("partition_id").isin(todo.toIndexedSeq: _*))
      // rows_in comes from the INPUT batch (what this attempt was
      // handed), independent of what extraction emits. Collected ONCE
      // (≤ partitionsPerCommit rows) — as a lazy frame it would re-scan
      // the input for the 'started' write and again for the 'done' one
      val inCounts = batch.groupBy("partition_id")
        .agg(count(lit(1)).as("rows_in"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
        .toDF("partition_id", "rows_in")
      def manifestRows(status: String, stats: DataFrame,
          finishedTs: Column): DataFrame =
        todo.toSeq.toDF("partition_id")
          .join(inCounts, Seq("partition_id"), "left")
          .join(stats, Seq("partition_id"), "left")
          .na.fill(0L, Seq("rows_in", "rows_out", "ok_rows", "err_rows"))
          .withColumn("status", lit(status))
          .withColumn("started_ts", lit(started))
          .withColumn("finished_ts", finishedTs)
          .withColumn("attempt", lit(attempt))
          .select("partition_id", "status", "rows_in", "rows_out", "ok_rows",
            "err_rows", "started_ts", "finished_ts", "attempt")
      val noStats = spark.range(0).select(col("id").cast("int").as("partition_id"),
        lit(0L).as("rows_out"), lit(0L).as("ok_rows"), lit(0L).as("err_rows"))
      // 1. intent commit: one 'started' row per partition (attempt
      // lineage; ignored by pending(), which keys on status='done')
      manifestRows("started", noStats, lit(null).cast("timestamp"))
        .write.mode(SaveMode.Append).parquet(manifestDir)

      val extracted = ExtractPipeline.overTranscripts(
        batch.select("conv_id", "turn_idx", "partition_id", "text"))
      // 2. data commit (idempotent: dynamic overwrite by partition).
      // A write option, not the session conf: the caller's other
      // partitioned overwrites keep their own mode
      extracted.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("partition_id").parquet(outDir)
      // 3. manifest commit (lineage + metrics per partition). The row
      // domain is `todo`, NOT the written data — an EMPTY partition
      // must still be marked done or resume would retry it forever.
      val finished = new java.sql.Timestamp(System.currentTimeMillis())
      val outStats = scala.util.Try(Parquet.read(spark, outDir))
        .map(_.filter(col("partition_id").isin(todo.toIndexedSeq: _*))
          .groupBy("partition_id").agg(
            count(lit(1)).as("rows_out"),
            count(when(col("status") === "ok", 1)).as("ok_rows"),
            count(when(col("status") === "err", 1)).as("err_rows")))
        .getOrElse(noStats)
      manifestRows("done", outStats, lit(finished))
        .write.mode(SaveMode.Append).parquet(manifestDir)
      processed += todo.length
      batches += 1
    }
    processed
  }
}
