package graft.bench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Diagnostic bench (guide §1: measure first) — NOT the driver
  * contract; graft.Bench stays the artifact of record. For each named
  * query this main runs one warm pass then `reps` timed passes and
  * reports, per query: min seconds, Spark job count, stage count,
  * summed executor task time, and shuffle bytes — the numbers that
  * separate "too many jobs/exchanges" from "slow per-task compute".
  *
  * Usage: sbt "runMain graft.bench.BenchExtra [query ...]"
  *   env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *        SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_REPS (default 3),
  *        SPARK_GRAFT_EXPLAIN_DIR (dump explain("formatted") per query)
  */
object BenchExtra {

  private class Metrics extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var taskTimeMs = 0L
    @volatile var shuffleRead = 0L
    @volatile var shuffleWrite = 0L
    val stageDetail = scala.collection.mutable.ArrayBuffer[String]()
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        taskTimeMs += m.executorRunTime
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        if (sys.env.get("SPARK_GRAFT_STAGES").contains("1"))
          stageDetail += f"    stage ${s.stageInfo.stageId}%4d tasks=${s.stageInfo.numTasks}%3d " +
            f"run=${m.executorRunTime / 1e3}%7.2fs cpu=${m.executorCpuTime / 1e9}%7.2fs " +
            f"rd=${m.shuffleReadMetrics.totalBytesRead / 1e6}%6.2fMB " +
            f"wr=${m.shuffleWriteMetrics.bytesWritten / 1e6}%6.2fMB  ${s.stageInfo.name.take(80)}"
      }
    }
    def reset(): Unit = { jobs = 0; stages = 0; taskTimeMs = 0L; shuffleRead = 0L; shuffleWrite = 0L }
  }

  /** single-threaded extraction-kernel microbench with per-phase
    * timing: `runMain graft.bench.BenchExtra kernel [numConvs]`
    */
  private def kernelBench(numConvs: Int): Unit = {
    val turns = (0L until numConvs.toLong).flatMap(i =>
      graft.gen.TranscriptGen.genConv(42L, i)._1).map(_.text).toArray
    println(s"turns: ${turns.length}, chars: ${turns.map(_.length.toLong).sum}")
    // warm
    var sink = 0L
    (0 until 2).foreach { _ =>
      turns.foreach(t => sink += graft.extract.ExtractPipeline.extract(t).length)
    }
    (0 until 3).foreach { rep =>
      var tParse, tHead, tOrder, tEmit = 0L
      var t0 = 0L
      turns.foreach { t =>
        t0 = System.nanoTime()
        val blocks = graft.extract.BlockParser.parse(t)
        tParse += System.nanoTime() - t0
        if (blocks.nonEmpty) {
          t0 = System.nanoTime()
          val hm = graft.extract.Headers.identify(blocks)
          tHead += System.nanoTime() - t0
          t0 = System.nanoTime()
          val ordered = graft.extract.ReadingOrder.order(blocks)
          tOrder += System.nanoTime() - t0
          t0 = System.nanoTime()
          // fused emit+lint+join — the pipeline's real path
          sink += graft.extract.MarkdownEmitter.emitNormalized(ordered, hm).length
          tEmit += System.nanoTime() - t0
        }
      }
      val tot = (tParse + tHead + tOrder + tEmit) / 1e9
      println(f"rep $rep: total ${tot}%6.3f s (${turns.length / tot}%.0f turns/s/core) " +
        f"parse ${tParse / 1e9}%5.3f head ${tHead / 1e9}%5.3f order ${tOrder / 1e9}%5.3f " +
        f"emit ${tEmit / 1e9}%5.3f")
    }
    println(s"sink $sink")
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("kernel")) {
      kernelBench(args.lift(1).map(_.toInt).getOrElse(2000))
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val explainDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    val explainSuffix = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_SUFFIX", "")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/documents.parquet").count()

    val m = new Metrics
    spark.sparkContext.addSparkListener(m)

    val names =
      if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    println(f"${"query"}%-24s ${"sec"}%8s ${"jobs"}%5s ${"stages"}%7s ${"taskSec"}%8s ${"shufRdMB"}%9s ${"shufWrMB"}%9s")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(s"bench-extra: $name")
      explainDir.foreach { dir =>
        val df = fn(spark, sfDir)
        // SPARK_GRAFT_EXPLAIN_EXECUTED=1: execute first and dump the
        // FINAL adaptive plan — an unexecuted AQE plan shows
        // duplicated exchange subtrees that runtime reuse dedups
        val executed = sys.env.get("SPARK_GRAFT_EXPLAIN_EXECUTED").contains("1")
        // collect(), not count(): count() builds a NEW plan and leaves
        // this QueryExecution unexecuted
        if (executed) df.collect()
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val p = java.nio.file.Paths.get(dir, s"$name$explainSuffix.txt")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
      }
      fn(spark, sfDir).count() // warm: plan + codegen + JIT
      var best = Double.MaxValue
      var bm: (Int, Int, Long, Long, Long) = (0, 0, 0L, 0L, 0L)
      (1 to reps).foreach { _ =>
        m.reset()
        m.stageDetail.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        // listener events are async; give the bus a beat to drain
        Thread.sleep(60)
        if (sec < best) {
          best = sec
          bm = (m.jobs, m.stages, m.taskTimeMs, m.shuffleRead, m.shuffleWrite)
        }
      }
      println(f"$name%-24s $best%8.3f ${bm._1}%5d ${bm._2}%7d ${bm._3 / 1e3}%8.2f ${bm._4 / 1e6}%9.2f ${bm._5 / 1e6}%9.2f")
      m.stageDetail.foreach(println)
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
