package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** S1/S5/S9 + C14 — file-level source/sink surface (SURVEY.md §2.1).
  */
object Sources {

  /** S1 — file-glob scan. The reference enumerates `*.pdf` under a
    * directory, optionally recursive (converter.py:128-144). The true
    * file-level analogue is the binaryFile source; the table-level
    * analogue (normal operation) is a parquet scan with partition
    * predicates.
    */
  def binaryFiles(spark: SparkSession, dir: String, glob: String = "*.pdf",
      recursive: Boolean = true): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", recursive.toString)
      .load(dir)

  /** S5 — markdown sink: one output row per (conv_id, turn_idx),
    * bucket-partitioned so a single conversation never concentrates in
    * one output file and re-runs overwrite deterministically.
    */
  def writeMarkdown(extracted: DataFrame, outDir: String, buckets: Int = 64): Unit =
    extracted
      .withColumn("bucket", pmod(xxhash64(col("conv_id")), lit(buckets.toLong)))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(outDir)

  /** S9 — truncate/reset: overwrite with an empty frame of the same
    * schema (vector_store.py:266-282).
    */
  def truncate(spark: SparkSession, tableDir: String): Unit = {
    val schema = graft.store.Parquet.schema(spark, tableDir)
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      .write.mode(SaveMode.Overwrite).parquet(tableDir)
  }

  /** C14 — exit-code reduce: 0 iff no row failed (converter.py:295).
    * Input: the one-row summary from ExtractPipeline.summary.
    */
  def exitCode(summary: DataFrame): Int =
    if (summary.head().getAs[Long]("failed") == 0L) 0 else 1
}
