package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.chunk.{Chunk, Chunker, ChunkerReference, Tokenizer}

/** The `src/main` chunkers (one line loop over prefix-summed token
  * counts for K1 and K3, K2's window-length count) against the String
  * form they replaced, `ChunkerReference`: equal `Vector[Chunk]`s on
  * seeded and adversarial markdown, at a small and at the production
  * budget. Then linear cost, 4n vs n, for each chunker and for the
  * tokenizer under them. Spark-free.
  */
class ChunkerReferenceSpec extends AnyFunSuite {

  private val budgets = Seq((30, 5), (512, 50))

  /** each chunker as (name, main, reference) at one budget */
  private def pairs(maxTokens: Int, overlap: Int)
      : Seq[(String, (String, String) => Vector[Chunk], (String, String) => Vector[Chunk])] = {
    val main = new Chunker(maxTokens, overlap)
    val ref = new ChunkerReference(maxTokens, overlap)
    Seq(("sections", main.chunkBySections, ref.chunkBySections),
      ("tokens", main.chunkByTokens, ref.chunkByTokens),
      ("at_commands", main.chunkByAtCommands, ref.chunkByAtCommands))
  }

  /** the first chunk where the two differ, for the failure message */
  private def firstDiff(got: Vector[Chunk], want: Vector[Chunk]): String =
    if (got.length != want.length) s"${got.length} chunks, reference ${want.length}"
    else got.zip(want).find { case (g, w) => g != w }
      .map { case (g, w) => s"$g != reference $w" }.getOrElse("")

  private def assertEqualOn(md: String): Unit =
    for ((maxTokens, overlap) <- budgets; (name, main, ref) <- pairs(maxTokens, overlap)) {
      val (got, want) = (main(md, "d"), ref(md, "d"))
      assert(got == want, s"$name at ($maxTokens, $overlap): ${firstDiff(got, want)}")
    }

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  test("every chunker equals the reference on seeded markdown") {
    check(Prop.forAll(ChunkerPropertySpec.doc) { md => assertEqualOn(md); true })
  }

  /** hostile line shapes: very long lines, no sentence end, blank and
    * whitespace-only runs, lone and paired surrogates, AT commands at
    * either edge, headings, '\r'
    */
  private val hostileLine: Gen[String] = Gen.oneOf(
    Gen.const("spark merge join " * 400),
    Gen.const("x" * 3000),
    Gen.chooseNum(1, 40).map(n => "scan filter window " * n),
    Gen.const(""), Gen.const("   \t"), Gen.const("\r"),
    Gen.const("😀 pair and lone \uD83D high"),
    Gen.const("\uDE00 lone low, then \uD83D"),
    Gen.const("AT+CFUN at the start"), Gen.const("at the end AT+CSQ"),
    Gen.const("AT+CMGF=1 AT+CSQ."), Gen.const("AT+ no command"),
    Gen.const("# heading"), Gen.const("###### deep heading."),
    Gen.const("#no space heading"), Gen.const("| a | b |"),
    Gen.const("```"), Gen.const("end of a sentence!  "),
    Gen.const("carriage return.\r"))

  private val hostileDoc: Gen[String] =
    Gen.chooseNum(1, 80).flatMap(n => Gen.listOfN(n, hostileLine).map(_.mkString("\n")))

  test("every chunker equals the reference on adversarial markdown") {
    Seq[String](null, "", "\n", "\n\n\n", "\r", "\r\n\r\n",
      "# heading first.\nbody", "# only a heading",
      "AT+CFUN first\nplain\nAT+CSQ", "plain\nAT+CSQ\n\n\n",
      "\uD83D", "\uDE00\uD83D", "x" * 5000, ("a b c\n" * 2000).trim,
      ("one two three\n\n\n" * 300), "!" * 2000)
      .foreach(assertEqualOn)
    check(Prop.forAll(hostileDoc) { md => assertEqualOn(md); true })
  }

  // ------------------------------------------------------ linear cost

  /** one line of `chars` characters: words and AT commands, no
    * sentence end
    */
  private def hugeLine(chars: Int): String =
    ("spark AT+CSQ merge, join " * (chars / 25 + 1)).take(chars)

  /** `n` short lines with no sentence end and no blank line */
  private def manyLines(n: Int): String =
    (0 until n).map(i => s"scan filter window $i").mkString("\n")

  test("each chunker's cost is linear in line length and in lines (n vs 4n)") {
    val chunker = new Chunker()
    for ((name, f) <- Seq[(String, String => Vector[Chunk])](
        "sections" -> (chunker.chunkBySections(_, "d")),
        "tokens" -> (chunker.chunkByTokens(_, "d")),
        "at_commands" -> (chunker.chunkByAtCommands(_, "d")));
        (shape, small, large) <- Seq(
          ("one huge line", hugeLine(1 << 18), hugeLine(1 << 20)),
          ("many lines", manyLines(1 << 12), manyLines(1 << 14)))) {
      val r = Linearity.ratio(() => f(small), () => f(large))
      // linear reads ~4; quadratic would read ~16
      assert(r < 8.0, s"$name, $shape: 4n/n time ratio $r")
    }
  }

  test("the tokenizer's cost is linear in line length and in lines (n vs 4n)") {
    for ((name, f) <- Seq[(String, String => Unit)](
        "count" -> (s => Tokenizer.count(s)),
        "tokenize" -> (s => Tokenizer.tokenize(s)));
        (shape, small, large) <- Seq(
          ("one huge line", hugeLine(1 << 18), hugeLine(1 << 20)),
          ("many lines", manyLines(1 << 12), manyLines(1 << 14)))) {
      val r = Linearity.ratio(() => f(small), () => f(large))
      assert(r < 8.0, s"$name, $shape: 4n/n time ratio $r")
    }
  }
}
