package graft.store

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, GraftExprBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.storage.StorageLevel

/** A snapshot of a collection: what one read of its files saw, and
  * the one registry of what is kept per snapshot.
  *
  * `key` names it: the analyzed plan's semanticHash plus each data
  * file's path, length and modification time, taken from the file
  * index the read already resolved (no listing, no job). An append adds
  * a file and an in-place rewrite of a same-named file changes its
  * length or mtime, so either gives a new key.
  *
  * The registry has one entry per root paths (of every file leaf of
  * the plan), made for one session and one file set. It holds the
  * resident copy below and the snapshot's trained artifacts (IVF
  * centroids, PQ codebooks, the query vector) by plan semanticHash and
  * params. A call over a newer file set, or from another session,
  * releases both together, so a store has one copy at a time; a
  * session whose SparkContext has stopped loses its entries at the
  * next call. A retrain comes from new files or a new session.
  *
  * `resident` is the read side of the store. A bare scan of a file
  * relation (the read itself, no filter or projection on it) whose
  * planned size fits in the block managers' free storage memory is
  * answered from one resident columnar copy per snapshot: Spark's
  * `InMemoryRelation` of the caller's scan, MEMORY_ONLY, built by the
  * first action that reads it. Its lineage is the scan, so an evicted
  * block is recomputed from the files. Plans over it read
  * `InMemoryTableScan` instead of decoding parquet again. Any other
  * input is returned as given. A copy keeps the scan splits its
  * session planned it with; two reads of one root with different
  * schemas take turns. It is not registered in Spark's `CacheManager`:
  * its file indexes compare by root path, so after an append a fresh
  * read of the same path would match a stale entry and user queries
  * would be redirected to it.
  */
object Snapshot {

  def key(df: DataFrame): String = s"${df.queryExecution.analyzed.semanticHash()}|${files(df)}"

  /** digest of the input files' paths, lengths and mtimes: 256 bits, as
    * 32 could collide across rewrites of one path and serve stale state
    */
  private def files(df: DataFrame): String = {
    val stamps = fileIndexes(df.queryExecution.analyzed).flatMap(_.allFiles())
      .map(f => f.getPath.toUri.toString -> s"${f.getLen}\t${f.getModificationTime}").toMap
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(df.inputFiles.sorted.map(p => s"$p\t${stamps.getOrElse(p, "")}")
        .mkString("\n").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  /** `copy` (the resident copy, its scan's semanticHash) is guarded by the registry's lock */
  private final class Entry(val session: SparkSession, val files: String) {
    var copy: Option[(Int, InMemoryRelation)] = None
    val artifacts = new ConcurrentHashMap[String, AnyRef]()
    def unpersist(): Unit = copy.foreach(_._2.cacheBuilder.cachedColumnBuffers.unpersist(blocking = true))
  }

  private val held = scala.collection.mutable.Map[Seq[String], Entry]()

  /** the entry for `session` and `files` under `roots`; under the lock */
  private def entry(session: SparkSession, roots: Seq[String], files: String): Entry = {
    held.filterInPlace((_, e) => !e.session.sparkContext.isStopped)
    held.updateWith(roots) {
      case Some(e) if (e.session eq session) && e.files == files => Some(e)
      case older => older.foreach(_.unpersist()); Some(new Entry(session, files))
    }.get
  }

  /** the artifact `params` of `df`'s snapshot, trained by `train` on
    * first use, outside the registry's lock; concurrent first callers
    * train once. A plan that reads no file has no snapshot: it trains
    * on every call.
    */
  def artifact[T <: AnyRef](df: DataFrame, params: String)(train: => T): T = {
    val plan = df.queryExecution.analyzed
    val roots = rootPaths(plan)
    if (roots.isEmpty) train
    else {
      val f = files(df)
      synchronized(entry(df.sparkSession, roots, f)).artifacts
        .computeIfAbsent(s"${plan.semanticHash()}|$params", _ => train).asInstanceOf[T]
    }
  }

  def resident(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    // a scan the caller cached already reads Spark's cache
    if (fileIndex(qe.analyzed).isEmpty || fileIndex(qe.optimizedPlan).isEmpty) df
    else {
      val roots = rootPaths(qe.analyzed)
      val plan = qe.analyzed.semanticHash()
      val f = files(df)
      val copy = synchronized {
        val e = entry(df.sparkSession, roots, f)
        e.copy.filter(_._1 == plan).orElse {
          e.unpersist()
          val free = df.sparkSession.sparkContext.getExecutorMemoryStatus.values.map(_._2).sum
          e.copy = if (qe.optimizedPlan.stats.sizeInBytes > free) None
            else Some(plan -> InMemoryRelation(StorageLevel.MEMORY_ONLY, qe,
              Some(s"snapshot ${roots.mkString(",")}")))
          e.copy
        }
      }
      copy.fold(df)(c => GraftExprBridge.ofRows(df.sparkSession, c._2.withOutput(qe.analyzed.output)))
    }
  }

  private def fileIndexes(plan: LogicalPlan) = plan.collectLeaves().flatMap(fileIndex)
  private def rootPaths(plan: LogicalPlan) =
    fileIndexes(plan).flatMap(_.rootPaths.map(_.toString)).distinct.sorted

  /** the file index of a plan that is a bare batch file-relation scan */
  private def fileIndex(plan: LogicalPlan): Option[PartitioningAwareFileIndex] = Some(plan).collect {
    case LogicalRelation(HadoopFsRelation(p: PartitioningAwareFileIndex, _, _, _, _, _), _, _, false, _) => p
  }
}
