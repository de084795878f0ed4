package graft.bench

import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-query profiler, not an artifact of record (graft.Bench and
  * perfbench are). For each named query this main runs one warm pass
  * then `reps` timed passes and reports, per query: min seconds,
  * Spark job count, stage count,
  * summed executor task time, shuffle bytes, and the classes Janino
  * compiled in the warm pass and in the best pass — the numbers that
  * separate "too many jobs/exchanges" from "slow per-task compute"
  * from "recompiling generated code". Each query's jobs and stages
  * carry the query name as their call site.
  * Kernel-phase timing is perfbench's (`--trace 1`, `extract.*_us`).
  *
  * Usage: sbt -batch "runMain graft.bench.BenchExtra [query ...]"
  *   (no query names: every SparkEntry query)
  *   env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *        SPARK_GRAFT_CPUS (default: the host's available processors),
  *        SPARK_GRAFT_REPS (default 3),
  *        SPARK_GRAFT_STAGES=1 (also print the best pass's stages:
  *          tasks, run and CPU time, shuffle read/write, spill),
  *        SPARK_GRAFT_EXPLAIN_DIR (execute each query once and write
  *          its final adaptive plan, explain("formatted"), to
  *          <dir>/<query>.txt)
  */
object BenchExtra {

  /** Counters summed over the jobs and stages that complete while it
    * is attached. Events arrive on the listener-bus thread: read the
    * counters only after `ListenerBusDrain.drain`, or the last stage
    * can be missing.
    */
  private[graft] class Metrics extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var taskTimeMs = 0L
    @volatile var cpuNs = 0L
    @volatile var shuffleRead = 0L
    @volatile var shuffleWrite = 0L
    val stageDetail = scala.collection.mutable.ArrayBuffer[String]()
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        taskTimeMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        stageDetail += f"    stage ${s.stageInfo.stageId}%4d tasks=${s.stageInfo.numTasks}%3d " +
          f"run=${m.executorRunTime / 1e3}%7.2fs cpu=${m.executorCpuTime / 1e9}%7.2fs " +
          f"rd=${m.shuffleReadMetrics.totalBytesRead / 1e6}%6.2fMB " +
          f"wr=${m.shuffleWriteMetrics.bytesWritten / 1e6}%6.2fMB " +
          f"spill=${(m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6}%6.2fMB  " +
          s.stageInfo.name.take(80)
      }
    }
    def reset(): Unit = {
      jobs = 0; stages = 0; taskTimeMs = 0L; cpuNs = 0L
      shuffleRead = 0L; shuffleWrite = 0L; stageDetail.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val explainDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    val printStages = sys.env.get("SPARK_GRAFT_STAGES").contains("1")
    val spark = graft.Bench.session(graft.Bench.queryCpus)
    val sc = spark.sparkContext
    spark.read.parquet(s"$sfDir/documents.parquet").count()

    val m = new Metrics
    sc.addSparkListener(m)

    val names =
      if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    println(f"${"query"}%-24s ${"sec"}%8s ${"jobs"}%5s ${"stages"}%7s ${"taskSec"}%8s ${"shufRdMB"}%9s ${"shufWrMB"}%9s ${"warmCls"}%8s ${"cls"}%5s")
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      sc.setJobDescription(s"bench-extra: $name")
      // adaptive stages run from a pool thread that copies these
      // properties; without it they are named after that thread's frame
      sc.setCallSite(name)
      explainDir.foreach { dir =>
        val df = fn(spark, sfDir)
        // execute first: an unexecuted AQE plan shows duplicated
        // exchange subtrees that runtime reuse dedups; the final plan
        // is the one that ran. collect(), not count(): count() builds
        // a NEW plan and leaves this QueryExecution unexecuted
        df.collect()
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val p = java.nio.file.Paths.get(dir, s"$name.txt")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
      }
      val c0 = compiles
      // the noop sink computes every output column; count() would let
      // the optimizer prune them and under-count compiles
      def run(): Unit = fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      run() // warm: plan + codegen + JIT
      val warmCls = compiles - c0
      var best = Double.MaxValue
      var bm: (Int, Int, Long, Long, Long, Long) = (0, 0, 0L, 0L, 0L, 0L)
      var bestStages = Seq.empty[String]
      (1 to reps).foreach { _ =>
        ListenerBusDrain.drain(sc)
        m.reset()
        val c1 = compiles
        val t0 = System.nanoTime()
        run()
        val sec = (System.nanoTime() - t0) / 1e9
        ListenerBusDrain.drain(sc)
        if (sec < best) {
          best = sec
          bm = (m.jobs, m.stages, m.taskTimeMs, m.shuffleRead, m.shuffleWrite, compiles - c1)
          bestStages = m.stageDetail.toList
        }
      }
      println(f"$name%-24s $best%8.3f ${bm._1}%5d ${bm._2}%7d ${bm._3 / 1e3}%8.2f ${bm._4 / 1e6}%9.2f ${bm._5 / 1e6}%9.2f $warmCls%8d ${bm._6}%5d")
      if (printStages) bestStages.foreach(println)
      sc.setJobDescription(null)
      sc.clearCallSite()
    }
    spark.stop()
  }
}
