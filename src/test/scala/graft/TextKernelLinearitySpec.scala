package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.text.TextKernels

/** The per-row text kernels cost time linear in their input: n vs 4n
  * words (or characters) reads ~4, a quadratic kernel ~16; each must
  * read under 8, on every input shape. Spark-free.
  */
class TextKernelLinearitySpec extends AnyFunSuite {

  private def words(n: Int, distinct: Int): UTF8String =
    UTF8String.fromString((0 until n).map(i => s"w${i % distinct}").mkString(" "))

  /** distinct words (a growing table), one repeated word (one long
    * probe chain if equal words collided), and one word with no
    * separator at all
    */
  private val wordShapes: Seq[(String, Int => UTF8String)] = Seq(
    "distinct words" -> (n => words(n, n)),
    "one repeated word" -> (n => words(n, 1)),
    "one huge word" -> (n => UTF8String.fromString("a" * (4 * n))))

  private def assertLinear(name: String, shapes: Seq[(String, Int => UTF8String)])(
      kernel: UTF8String => Any): Unit =
    shapes.foreach { case (shape, input) =>
      val (small, large) = (input(1 << 14), input(1 << 16))
      val r = Linearity.ratio(() => kernel(small), () => kernel(large))
      assert(r < 8.0, s"$name, $shape: 4n/n time ratio $r")
    }

  test("minhashSig cost is linear in the text (n vs 4n)") {
    assertLinear("minhashSig", wordShapes)(TextKernels.minhashSig)
  }

  test("simhash cost is linear in the text (n vs 4n)") {
    assertLinear("simhash", wordShapes)(TextKernels.simhash)
  }

  test("wordStats cost is linear in the text (n vs 4n)") {
    val sets = Array(Seq("w1", "w2", "the"), Seq("a", "of")).map { ws =>
      val h = new java.util.HashSet[String]()
      ws.foreach(h.add)
      h
    }
    val punct = "mixed tokens and punctuation" ->
      ((n: Int) => UTF8String.fromString((0 until n).map(i => s"W$i, \u00e9!").mkString(" ")))
    assertLinear("wordStats", wordShapes :+ punct)(TextKernels.wordStats(_, sets))
  }

  test("nfcNormalize cost is linear in the text (n vs 4n)") {
    def of(piece: String) = (n: Int) => UTF8String.fromString(piece * n)
    assertLinear("nfcNormalize", Seq(
      "ascii" -> of("word "),
      "already NFC" -> of("\u00e9\u4e2d "),
      "decomposed" -> of("e\u0301 "),
      "one long run of combining marks" -> (n => UTF8String.fromString("e" + "\u0301" * (4 * n)))
    ))(TextKernels.nfcNormalize)
  }
}
