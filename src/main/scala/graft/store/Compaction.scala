package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Table maintenance — small-file compaction for the partitioned
  * parquet chunk store (the S6–S10 family's missing op: the store
  * APPENDS per batch, so at 100 TB the partition dirs accumulate
  * thousands of batch-sized files and scan planning + open cost —
  * not data volume — becomes the first operational fire; every table
  * format ships this as `rewrite_data_files` / OPTIMIZE).
  *
  * Contract: per `partition_id=P` directory, if the file count
  * exceeds what `targetBytes` requires, rewrite the partition's rows
  * into ceil(bytes/targetBytes) files. Row multiset is PRESERVED
  * exactly (verified by footer counts before any destructive step);
  * the rewrite is resume-safe at every kill point.
  *
  * Commit protocol per partition (the Manifest batch protocol applied
  * to a metadata rewrite):
  *   1. intent row (status='compact_started') appended to the
  *      compaction manifest;
  *   2. rows rewritten DISTRIBUTED (read partition dir → coalesce →
  *      write) into a staging dir; footer-count equality checked;
  *   3. swap: live dir → trash, staging → live, trash deleted;
  *   4. result row (status='compact_done', files/bytes before+after)
  *      appended.
  * [[recover]] (always run first) completes or rolls back a swap
  * interrupted at any point, keyed purely on directory state: a
  * trash dir with a complete staging dir → roll FORWARD (finish the
  * swap); with an incomplete staging dir → roll BACK (restore trash).
  * A re-run after any kill therefore converges to the compacted
  * state with the original multiset.
  *
  * Scale shape: the data movement (step 2) is a distributed
  * scan+write bounded by the partition's own bytes — partitions
  * compact independently and could fan out. The swap is O(1) dir
  * renames on a posix FS; on an object store / Iceberg the same
  * protocol is the manifest-swap commit the table format provides
  * natively (this class is the parquet-dir stand-in, exactly like
  * [[Manifest]]'s dynamic-overwrite checkpoint).
  */
object Compaction {

  private val StagingName = ".compact_staging"
  private val TrashName = ".compact_trash"

  final case class PartitionState(name: String, files: Int, bytes: Long) {
    def targetFiles(targetBytes: Long): Int =
      math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    def needsCompaction(targetBytes: Long): Boolean =
      files > targetFiles(targetBytes)
  }

  private def dataFiles(dir: java.io.File): Array[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))

  private def partitionDirs(tableDir: String): Seq[java.io.File] =
    Option(new java.io.File(tableDir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.contains("=")).toSeq
      .sortBy(_.getName)

  /** current per-partition file layout (name → files, bytes) */
  def layout(tableDir: String): Seq[PartitionState] =
    partitionDirs(tableDir).map { d =>
      val fs = dataFiles(d)
      PartitionState(d.getName, fs.length, fs.map(_.length()).sum)
    }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def mv(from: java.io.File, to: java.io.File): Unit =
    require(from.renameTo(to), s"rename $from -> $to failed")

  /** Complete or roll back any swap a previous run left interrupted.
    * Pure directory-state machine — no manifest read needed:
    *   - trash/P exists, live P missing, staging/P complete (_SUCCESS)
    *     → roll forward: staging → live, drop trash;
    *   - trash/P exists, live P missing, staging absent/incomplete
    *     → roll back: trash → live;
    *   - trash/P exists, live P exists → the swap finished but the
    *     trash delete didn't: drop trash;
    *   - any leftover staging dirs → drop (never made live).
    */
  def recover(tableDir: String): Unit = {
    val table = new java.io.File(tableDir)
    val trash = new java.io.File(table, TrashName)
    val staging = new java.io.File(table, StagingName)
    for (t <- Option(trash.listFiles()).getOrElse(Array.empty) if t.isDirectory) {
      val live = new java.io.File(table, t.getName)
      val staged = new java.io.File(staging, t.getName)
      if (live.exists()) rm(t)
      else if (new java.io.File(staged, "_SUCCESS").exists()) {
        mv(staged, live); rm(t)
      } else mv(t, live)
    }
    if (trash.exists()) rm(trash)
    if (staging.exists()) rm(staging)
  }

  /** Compact every partition of `tableDir` that has more files than
    * `targetBytes` requires; returns one report row per partition of
    * the table: (partition, rows, files_before, files_after,
    * bytes_before, compacted) — `rows` is -1 for partitions left
    * untouched (counting them would read all their footers for pure
    * reporting). When `manifestDir` is set, intent + result rows are
    * appended there (see class doc) for lineage alongside the
    * extraction manifest.
    *
    * Partitions compact CONCURRENTLY (bounded driver thread pool,
    * each thread submitting independent Spark jobs over disjoint
    * dirs) — at 100 TB the rewrites are embarrassingly parallel and
    * serializing them would make wall time O(partitions) instead of
    * O(partitions / cluster slots); the manifest appends are batched
    * into one intent write and one result write so the serial point
    * stays O(1) jobs, not O(partitions).
    */
  def compactPartitions(spark: SparkSession, tableDir: String,
      targetBytes: Long, manifestDir: Option[String] = None,
      maxConcurrent: Int = 8): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be > 0, got $targetBytes")
    require(maxConcurrent >= 1, s"maxConcurrent must be >= 1, got $maxConcurrent")
    recover(tableDir)
    val table = new java.io.File(tableDir)
    val (todo, keep) = layout(tableDir).partition(_.needsCompaction(targetBytes))
    // one batched intent append BEFORE any rewrite starts (the
    // Manifest batch protocol: a crash leaves the started rows as
    // attempt lineage; recovery itself is directory-state-driven)
    manifest(spark, manifestDir, todo.map(p =>
      (p.name, "compact_started", 0L, p.files, 0, p.bytes)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(maxConcurrent, todo.size)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    // every future is lifted to Try and ALL of them are awaited before
    // any failure propagates: compactPartitions must never return (or
    // throw) while a sibling swap is still mutating live/trash/staging
    // dirs — recover()'s directory-state machine assumes no concurrent
    // mutators, so an immediate retry after a propagated failure could
    // otherwise rm a staging dir mid-write or delete trash during a
    // live swap
    val compacted =
      try {
        val fs = todo.map { p =>
          scala.concurrent.Future {
            val live = new java.io.File(table, p.name)
            val staged = new java.io.File(new java.io.File(table, StagingName), p.name)
            if (staged.exists()) rm(staged)
            // multiset guard, job-free: the row counts in the parquet
            // footers of the live files, before the rewrite reads them,
            // and of the staged files after it wrote them must agree
            // before anything destructive happens
            val rowsBefore = Parquet.rowCount(spark, live.getAbsolutePath)
            // distributed rewrite: one scan of the partition's own
            // bytes, coalesce (no shuffle) to the target file count
            Parquet.read(spark, live.getAbsolutePath)
              .coalesce(p.targetFiles(targetBytes))
              .write.mode(SaveMode.Overwrite).parquet(staged.getAbsolutePath)
            val rowsAfter = Parquet.rowCount(spark, staged.getAbsolutePath)
            require(rowsBefore == rowsAfter,
              s"compaction would change ${p.name}: $rowsBefore -> $rowsAfter rows")
            // swap (each step atomic; recover() completes/rolls back
            // any prefix): live -> trash, staging -> live, drop trash
            val trashDir = new java.io.File(table, TrashName)
            trashDir.mkdirs()
            val trashed = new java.io.File(trashDir, p.name)
            mv(live, trashed)
            mv(staged, live)
            rm(trashed)
            (p.name, rowsAfter, p.files, dataFiles(live).length, p.bytes, true)
          }
        }
        val results = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(
            fs.map(_.transform(t => scala.util.Success(t)))),
          scala.concurrent.duration.Duration.Inf)
        results.collectFirst { case scala.util.Failure(e) => e }
          .foreach(e => throw e)
        results.map(_.get)
      } finally pool.shutdown()
    manifest(spark, manifestDir, compacted.map(r =>
      (r._1, "compact_done", r._2, r._3, r._4, r._5)))
    val staging = new java.io.File(table, StagingName)
    val trash = new java.io.File(table, TrashName)
    if (staging.exists()) rm(staging)
    if (trash.exists()) rm(trash)
    import spark.implicits._
    (compacted ++ keep.map(p => (p.name, -1L, p.files, p.files, p.bytes, false)))
      .sortBy(_._1)
      .toDF("partition", "rows", "files_before", "files_after",
        "bytes_before", "compacted")
  }

  /** compaction lineage rows, kept in their own table under
    * `manifestDir` (schema differs from the extraction manifest;
    * same append-only protocol), batched per phase
    */
  private def manifest(spark: SparkSession, manifestDir: Option[String],
      rows: Seq[(String, String, Long, Int, Int, Long)]): Unit =
    manifestDir.foreach { dir =>
      if (rows.nonEmpty) {
        import spark.implicits._
        val ts = new java.sql.Timestamp(System.currentTimeMillis())
        rows.map { case (p, st, n, fb, fa, b) => (p, st, n, fb, fa, b, ts) }
          .toDF("partition", "status", "rows", "files_before", "files_after",
            "bytes_before", "ts")
          .write.mode(SaveMode.Append).parquet(s"$dir/compactions")
      }
    }
}
