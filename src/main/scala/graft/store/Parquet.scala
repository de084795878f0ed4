package graft.store

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.FileListing
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Parquet table reads that start no Spark job.
  *
  * `spark.read.parquet(path)` without a schema infers it with a job
  * that opens one footer on an executor. Here the driver reads that
  * footer itself — the first data file of the path — and converts it
  * with Spark's own converter, so the schema is the one inference
  * would produce, and it cannot drift from the file. Partition columns
  * are still discovered from the directory names when the relation is
  * resolved (a driver-side listing, as before). The driver-side cost
  * is one getFileStatus on the path, one listStatus per directory
  * level down to the first data file and one footer read, in place of
  * a scheduled job; Spark still lists the whole tree when it resolves
  * the relation, as it did before.
  */
object Parquet {

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(footerSchema(spark, path)).parquet(path)

  /** the schema `read` resolves to, partition columns included */
  def schema(spark: SparkSession, path: String): StructType =
    read(spark, path).schema

  /** rows under `path`: the row-group counts in the footers of its
    * data files, summed on the driver (the metadata a parquet
    * `count()` reads, with no job)
    */
  def rowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    dataFiles(fs, fs.getFileStatus(root)).map { file =>
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
        ParquetMetadataConverter.NO_FILTER).getBlocks.asScala.map(_.getRowCount).sum
    }.sum
  }

  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val file = dataFiles(fs, fs.getFileStatus(root)).nextOption().getOrElse(
      throw new java.io.FileNotFoundException(s"no parquet data file under $path"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** the path itself, or its non-empty leaf files in name order
    * (partition directories included) among the names Spark's file
    * index lists; the summary files it also lists hold no rows and are
    * skipped (nothing here writes them, and Spark writes none by default)
    */
  private def dataFiles(fs: FileSystem, st: FileStatus): Iterator[FileStatus] =
    if (!st.isDirectory) Iterator(st).filter(_.getLen > 0)
    else fs.listStatus(st.getPath).filterNot(s => skipped(s.getPath.getName))
      .sortBy(_.getPath.getName).iterator
      .flatMap(dataFiles(fs, _))

  private def skipped(name: String): Boolean =
    FileListing.skipped(name) || name == "_metadata" || name == "_common_metadata"
}
