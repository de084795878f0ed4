package graft.store

import org.apache.spark.sql.{functions, DataFrame}
import org.apache.spark.sql.functions._

/** Table-maintenance operators of the vector store re-expressed
  * relationally (SURVEY.md §2.1, §2.4). The backing "collection" is a
  * partitioned parquet table of chunks; every op is a plain Catalyst
  * plan so pushdown/pruning stay free. The read ops (count, list,
  * page) answer a bare collection scan from its resident snapshot
  * ([[Snapshot.resident]]).
  */
object StoreOps {

  /** V5 — collection count (vector_store.py:181-196). */
  def collectionCount(chunks: DataFrame): DataFrame =
    Snapshot.resident(chunks).agg(functions.count(lit(1)).as("n"))

  /** V6 — `list_documents` (vector_store.py:198-264): group chunks by
    * document, per-doc representative metadata + chunk_count. The
    * reference takes the dict-iteration "first"; a distributed engine
    * needs a deterministic representative → min().
    * Planned as two ObjectHashAggregates, partial and final, around
    * one exchange by document: the string mins are [[MinString]]s, so
    * no Sort and no SortAggregate is planned (Spark's `min` over a
    * string would plan both, each side of the exchange).
    */
  def listDocuments(chunks: DataFrame, typeCol: String = "type",
      sourceCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.GraftExprBridge.{toColumn, toExpression}
    def minString(c: String) =
      toColumn(MinString(toExpression(col(c))).toAggregateExpression())
    Snapshot.resident(chunks).groupBy(col("document")).agg(
      minString(typeCol).as("type"),
      minString(sourceCol).as("source"),
      toColumn(RowCount().toAggregateExpression()).as("chunk_count"))
  }

  /** S7 — paginated scan (vector_store.py:198-264 get() loop): only an
    * API-parity surface; in Spark the primitive is the full scan.
    * Deterministic page = ORDER BY key LIMIT n OFFSET m.
    */
  def page(chunks: DataFrame, orderCol: String, offset: Int, limit: Int): DataFrame =
    Snapshot.resident(chunks).orderBy(col(orderCol)).offset(offset).limit(limit)

  /** S8 — filtered delete (vector_store.py:284-308): parquet has no
    * row-level delete, so the op is the retained-set rewrite (the
    * Iceberg `DELETE FROM ... WHERE document = ?` drop-in is isolated
    * here).
    */
  def deleteDocument(chunks: DataFrame, document: String): DataFrame =
    chunks.filter(col("document") =!= lit(document))

  /** S6 — append sink with the reference's dedup-on-id semantics
    * (vector_store.py:66-114 upsert behavior): new batch wins on
    * chunk_id collision.
    */
  def appendDedup(existing: DataFrame, batch: DataFrame): DataFrame =
    batch.unionByName(
      existing.join(batch.select("chunk_id"), Seq("chunk_id"), "left_anti"))
}
