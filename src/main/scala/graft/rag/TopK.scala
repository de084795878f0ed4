package graft.rag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.store.Snapshot

/** V4 — top-k retrieval with optional metadata filter
  * (/root/reference/src/rag_engine/vector_store.py:116-179).
  *
  * Exact top-k: score every row, `ORDER BY score DESC LIMIT k`.
  * Catalyst plans this as TakeOrderedAndProject — each partition keeps
  * a k-row heap, the driver merges k·partitions rows; no global sort,
  * no full shuffle. That is the correct 100 TB shape for small k: the
  * reference's ANN index trades recall for latency on a single node,
  * while a cluster scan is recall-1.0 and bounded by scan throughput.
  * For repeated queries at scale, AnnLsh (bucketed) cuts the scanned
  * fraction.
  *
  * An unfiltered search of a bare collection scan reads its resident
  * snapshot ([[graft.store.Snapshot.resident]]). A metadata filter
  * keeps the file scan, so the filter is pushed into the parquet reader
  * and skips row groups by their footer statistics.
  */
object TopK {

  /** Deterministic total order: score desc, then key asc (ties). */
  def search(chunks: DataFrame, queryVec: Array[Double], k: Int,
      embeddingCol: String = "embedding", keyCol: String = "vec_id",
      metaFilter: Column = lit(true)): DataFrame = {
    val rows = if (metaFilter == lit(true)) Snapshot.resident(chunks) else chunks
    rows.filter(metaFilter)
      .withColumn("score", Similarity.cosineTo(col(embeddingCol), queryVec))
      .orderBy(col("score").desc, col(keyCol).asc)
      .limit(k)
  }
}
