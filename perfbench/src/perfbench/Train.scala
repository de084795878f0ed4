package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._

/** Class-list training run for the JVM's class-data-sharing archive
  * (see build.py): touches the Spark paths every workload uses —
  * session start, parquet write and read, partitioned writes, shuffles,
  * joins, windows, typed flatMaps and the extraction kernel — so later
  * runs map those classes instead of loading them one by one.
  *
  *   perfbench.Train <scratch dir>
  */
object Train {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-train")
      .config("spark.sql.shuffle.partitions", 2L).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    try {
      val turns = spark.range(0, 20, 1, 2)
        .flatMap(i => graft.gen.TranscriptGen.genConv(1L, i)._1).toDF()
      turns.write.partitionBy("role").parquet(s"$dir/t")
      val t = spark.read.parquet(s"$dir/t")
      val ex = graft.extract.ExtractPipeline.overTranscripts(t)
      ex.agg(count(lit(1)), bit_xor(xxhash64(col("markdown")))).collect()
      ex.groupBy("status").count().join(t.groupBy("role").count(), lit(true)).collect()
      t.withColumn("r", row_number().over(W.partitionBy("conv_id").orderBy("turn_idx")))
        .write.format("noop").mode("overwrite").save()
      t.orderBy("conv_id").limit(3).collect()
    } finally spark.stop()
  }
}
