package graft.store

import org.apache.spark.sql.{DataFrame, GraftExprBridge, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.storage.StorageLevel

/** A snapshot of a collection: what one read of its files saw.
  *
  * `key` names it: the analyzed plan's semanticHash plus each data
  * file's path, length and modification time, taken from the file
  * index the read already resolved (no listing, no job). An append adds
  * a file and an in-place rewrite of a same-named file changes its
  * length or mtime, so either gives a new key. Per-snapshot artifacts
  * (IVF centroids, PQ codebooks, the query vector) and the resident
  * copies below are both keyed by it.
  *
  * `resident` is the read side of the store. A bare scan of a file
  * relation (the read itself, no filter or projection on it) whose
  * planned size fits in the block managers' free storage memory is
  * answered from one resident columnar copy per snapshot: Spark's
  * `InMemoryRelation` of the caller's scan, MEMORY_ONLY, built by the
  * first action that reads it. Its lineage is the scan, so an evicted
  * block is recomputed from the files. Plans over it read
  * `InMemoryTableScan` instead of decoding parquet again. Any other
  * input is returned as given. A copy serves only the session that
  * planned it, and keeps the scan splits it was planned with.
  *
  * The copy is not registered in Spark's `CacheManager`: its file
  * indexes compare by root path, so after an append a fresh read of
  * the same path would match a stale entry and user queries would be
  * redirected to it. Here the key carries the files, and a new
  * snapshot of the same root paths releases the older copy (its blocks
  * are dropped; a plan still holding it reads the files again). Two
  * live reads of one root with different schemas take turns.
  */
object Snapshot {

  def key(df: DataFrame): String = {
    val stamps = df.queryExecution.analyzed.collectLeaves().flatMap(fileIndex)
      .flatMap(_.allFiles())
      .map(f => f.getPath.toUri.toString -> s"${f.getLen}\t${f.getModificationTime}").toMap
    // 256-bit digest: a 32-bit hash could collide across successive
    // rewrites of one path and serve a stale artifact
    val files = java.security.MessageDigest.getInstance("SHA-256")
      .digest(df.inputFiles.sorted.map(p => s"$p\t${stamps.getOrElse(p, "")}")
        .mkString("\n").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    s"${df.queryExecution.analyzed.semanticHash()}|$files"
  }

  /** root paths → (snapshot key, session, its resident copy); a copy
    * serves only the session that planned it
    */
  private val held =
    scala.collection.mutable.Map[Seq[String], (String, SparkSession, InMemoryRelation)]()

  def resident(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    // a scan the caller cached already reads Spark's cache
    fileIndex(qe.analyzed).filter(_ => fileIndex(qe.optimizedPlan).isDefined) match {
      case None => df
      case Some(index) =>
        val roots = index.rootPaths.map(_.toString).sorted
        val k = key(df)
        val copy = synchronized {
          held.get(roots) match {
            case Some((`k`, s, rel)) if s eq df.sparkSession => Some(rel)
            case older =>
              older.foreach { case (_, s, rel) =>
                if (!s.sparkContext.isStopped)
                  rel.cacheBuilder.cachedColumnBuffers.unpersist(blocking = true)
                held -= roots
              }
              val free = df.sparkSession.sparkContext.getExecutorMemoryStatus.values.map(_._2).sum
              if (qe.optimizedPlan.stats.sizeInBytes > free) None
              else {
                val rel = InMemoryRelation(StorageLevel.MEMORY_ONLY, qe,
                  Some(s"snapshot ${roots.mkString(",")}"))
                held(roots) = (k, df.sparkSession, rel)
                Some(rel)
              }
          }
        }
        copy.fold(df)(rel => GraftExprBridge.ofRows(df.sparkSession, rel.withOutput(qe.analyzed.output)))
    }
  }

  /** the file index of a plan that is a bare batch file-relation scan */
  private def fileIndex(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[PartitioningAwareFileIndex] = plan match {
    case l: LogicalRelation if !l.isStreaming => l.relation match {
      case h: HadoopFsRelation => h.location match {
        case p: PartitioningAwareFileIndex => Some(p)
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }
}
