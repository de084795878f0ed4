package graft

import java.io.File
import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The generated-class budget of one `operator_suite` pass: the 12
  * operators of the benchmark's suite, each run once over the sf0.01
  * fixture tables (TESTDATA.md) with the `noop` sink and AQE on, must
  * need at most [[CodegenBudgetSpec.Budget]] entries of Spark's codegen
  * cache. Spark's default cache holds 100 entries in 4 LRU segments of
  * 25, so a pass that needs more than about 80 recompiles classes on
  * every pass (ARCHITECTURE.md, "Generated-class budget").
  *
  * The pass runs in a child JVM ([[CodegenBudgetPass]]): the cache is
  * one per JVM, and in the test JVM it already holds, and keeps
  * evicting, the classes of every other suite. On failure the spec
  * prints each operator's driver and task compiles.
  */
class CodegenBudgetSpec extends AnyFunSuite {

  test(s"one operator_suite pass needs at most ${CodegenBudgetSpec.Budget} codegen cache entries") {
    val tables = "/root/testdata/sf0.01"
    assume(new File(tables).isDirectory, s"fixture tables $tables")
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    // the module opens and -D settings of this JVM; a small heap
    val args = jvm.getInputArguments.asScala.toSeq
    val opens = args.sliding(2).collect { case Seq("--add-opens", m) => Seq("--add-opens", m) }
      .flatten.toSeq
    val props = args.filter(_.startsWith("-D"))
    val log = File.createTempFile("codegen-budget", ".log")
    val cmd = Seq(new File(System.getProperty("java.home"), "bin/java").getPath, "-Xmx1g") ++
      opens ++ props ++ Seq("-cp", System.getProperty("java.class.path"),
        CodegenBudgetPass.getClass.getName.stripSuffix("$"), tables) ++ CodegenBudgetSpec.Operators
    val proc = new ProcessBuilder(cmd: _*).redirectError(log).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toSeq
    val exit = proc.waitFor()
    val tail = scala.io.Source.fromFile(log).getLines().toSeq.takeRight(40).mkString("\n")
    log.delete()
    assert(exit == 0, s"the pass failed:\n$tail")
    val compiles = out.collect { case CodegenBudgetSpec.Line(op, side) => (op, side) }
    val table = CodegenBudgetSpec.Operators.map { op =>
      val n = compiles.count(_._1 == op)
      f"$op%-20s driver ${compiles.count(_ == (op, "D"))}%3d  task ${compiles.count(_ == (op, "T"))}%3d  total $n%3d"
    }.mkString("\n")
    assert(compiles.nonEmpty, out.mkString("\n"))
    assert(compiles.size <= CodegenBudgetSpec.Budget,
      s"one pass needs ${compiles.size} entries:\n$table")
  }
}

object CodegenBudgetSpec {

  /** entries one pass needs; 121 before the budget was first cut */
  val Budget = 95

  /** perfbench's operator_suite, in its listed order */
  val Operators = Seq("extract_markdown", "chunk_sections", "list_documents", "append_dedup",
    "bm25_search", "ngram_jaccard", "decontaminate_bloom", "lang_id", "sessionize",
    "mm_decode_ppm", "tpch_pricing", "tpch_top_orders")

  val Line = """^compiled (\S+) ([DT])$""".r
}

/** One pass of the named operators over the tables in `args(0)`,
  * printing a line "compiled <operator> <D|T>" per class Janino
  * compiles: D on a driver thread, T on a task thread. The codegen
  * cache is set far larger than a pass, so no class is compiled twice
  * and the lines count the entries the pass needs.
  */
object CodegenBudgetPass {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "100000")
      .getOrCreate()
    val generator = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    Configurator.setLevel(generator, org.apache.logging.log4j.Level.INFO)
    @volatile var current = ""
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("codegen-budget", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.startsWith("Code generated in")) {
          val side = if (Thread.currentThread.getName.startsWith("Executor task")) "T" else "D"
          lines.add(s"compiled $current $side")
        }
    }
    appender.start()
    LoggerContext.getContext(false).getLogger(generator).addAppender(appender)
    try args.drop(1).foreach { op =>
      current = op
      SparkEntry.queries(op)(spark, args(0)).write.format("noop").mode("overwrite").save()
    } finally spark.stop()
    lines.asScala.foreach(println)
  }
}
