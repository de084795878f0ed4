package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark counts of one job group (one span). */
final class GroupStats {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, schedDelayMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, inputRecords, outputBytes = 0L
  var peakExecMem = 0L
  val jobIntervals = ArrayBuffer[(Long, Long)]()

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; schedDelayMs += o.schedDelayMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    inputBytes += o.inputBytes; inputRecords += o.inputRecords; outputBytes += o.outputBytes
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    jobIntervals ++= o.jobIntervals
  }
}

/** One SQL execution: what it wrote (if anything), which inputs it scanned. */
final case class SqlExec(id: Long, startMs: Long, var endMs: Long, plan: String)

/** The benchmark's own SparkListener. Untraced it keeps only the
  * aggregate task CPU and failed-task counters (for task_cpu_s and the
  * failure accounting); traced it also keys every job, stage and task
  * by the job group the [[Tracer]] set around the call, and records
  * SQL executions with their plans.
  */
final class Counts(traced: Boolean) extends SparkListener {
  val cpuNs = new AtomicLong
  val failedTasks = new AtomicLong
  val groups = new ConcurrentHashMap[String, GroupStats]()
  val sql = new ConcurrentHashMap[Long, SqlExec]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()

  private def group(id: String): GroupStats = groups.computeIfAbsent(id, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    jobGroup.put(e.jobId, g)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageGroup.put(s, g))
    val st = group(g)
    st.synchronized { st.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) {
    val st = group(jobGroup.getOrDefault(e.jobId, "-"))
    val t0: Long = jobStart.getOrDefault(e.jobId, e.time)
    st.synchronized { st.jobIntervals += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (traced) {
    val st = group(stageGroup.getOrDefault(e.stageInfo.stageId, "-"))
    st.synchronized { st.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) cpuNs.addAndGet(m.executorCpuTime)
    if (e.taskInfo != null && e.taskInfo.failed) failedTasks.incrementAndGet()
    if (traced && m != null) {
      val info = e.taskInfo
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      val st = group(stageGroup.getOrDefault(e.stageId, "-"))
      st.synchronized {
        st.tasks += 1
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        st.gcMs += m.jvmGCTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.inputBytes += m.inputMetrics.bytesRead
        st.inputRecords += m.inputMetrics.recordsRead
        st.outputBytes += m.outputMetrics.bytesWritten
        st.peakExecMem = math.max(st.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (traced) e match {
    case s: SparkListenerSQLExecutionStart =>
      sql.put(s.executionId, SqlExec(s.executionId, s.time, s.time, s.physicalPlanDescription))
    case s: SparkListenerSQLExecutionEnd =>
      Option(sql.get(s.executionId)).foreach(_.endMs = s.time)
    case _ =>
  }
}

/** A span: one call into a layer, made from the benchmark's own code. */
final case class Span(id: Long, name: String, layer: String, parent: Long, request: Long,
    startNs: Long, startMs: Long) {
  var endNs: Long = startNs
  def durS: Double = (endNs - startNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** Spans kept in memory and written out when the run ends. Each span
  * sets the Spark job group to its own id for the duration of the call,
  * so [[Counts]] attributes the jobs it triggers to it.
  */
final class Tracer(sc: SparkContext, val on: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 0L

  def span[A](name: String, layer: String, request: Long = -1L)(body: => A): A =
    if (!on) body
    else {
      nextId += 1
      val parent = stack.headOption
      val s = Span(nextId, name, layer, parent.map(_.id).getOrElse(0L),
        if (request >= 0) request else parent.map(_.request).getOrElse(-1L),
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def children(id: Long): Seq[Span] = spans.filter(_.parent == id).toSeq

  def descendants(id: Long): Seq[Span] = {
    val direct = children(id)
    direct ++ direct.flatMap(c => descendants(c.id))
  }

  /** The span's duration minus the time its child spans cover. */
  def selfS(s: Span): Double =
    s.durS - Stats.unionMs(children(s.id).map(c => (c.startMs, c.endMs)), s.startMs, s.endMs) / 1e3

  /** Spark counts of the span and everything under it. */
  def inclusive(s: Span, counts: Counts): GroupStats = {
    val acc = new GroupStats
    (s +: descendants(s.id)).foreach { x =>
      Option(counts.groups.get(x.id.toString)).foreach(g => g.synchronized(acc.add(g)))
    }
    acc
  }

  /** Self time summed per layer. */
  def selfByLayer: Map[String, Double] =
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfS).sum }

  def toJson: Seq[Map[String, Any]] = spans.map(s => Map[String, Any](
    "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
    "request" -> s.request, "start_ms" -> s.startMs,
    "dur_ms" -> (s.endNs - s.startNs) / 1e6)).toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** linear-interpolated quantile */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Length of the union of intervals, clipped to [from, to]. */
  def unionMs(ivs: Seq[(Long, Long)], from: Long, to: Long): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }
}
