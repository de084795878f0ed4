package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.chunk.{Chunker, Tokenizer}

/** ScalaCheck properties over the chunking kernel (FIXTURES.md §5):
  * content preservation, index contiguity, offset monotonicity.
  * (raw ScalaCheck — scalatestplus is not in the offline cache)
  */
class ChunkerPropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(80), p)
    assert(res.passed, res.status.toString)
  }

  import ChunkerPropertySpec.doc

  private val chunker = new Chunker(maxTokens = 30, overlapTokens = 5)

  test("token count is additive over the newline join (running-total invariant)") {
    // the chunkers' incremental over-budget check relies on
    // count(join(lines, "\n")) == sum(count(line)): no TokenRegex token
    // can span the newline
    val anyLine: Gen[String] = Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 3 -> Gen.oneOf(' ', '.', ',', '+', '#', '|', '\t'),
      1 -> Gen.oneOf('é', '§', '→'))).map(_.mkString)
    check(Prop.forAll(Gen.listOf(anyLine)) { lines =>
      Tokenizer.count(lines.mkString("\n")) == lines.map(Tokenizer.count).sum
    })
  }

  test("sections: every non-blank input line appears, in order") {
    check(Prop.forAll(doc) { md =>
      val cs = chunker.chunkBySections(md, "d")
      val emitted = cs.flatMap(_.content.split("\n", -1)).filter(_.trim.nonEmpty)
      val original = md.split("\n", -1).filter(_.trim.nonEmpty).toVector
      emitted == original
    })
  }

  test("sections: chunk_index contiguous from 0; ids match") {
    check(Prop.forAll(doc) { md =>
      val cs = chunker.chunkBySections(md, "d")
      cs.map(_.chunk_index) == cs.indices.toVector &&
        cs.forall(c => c.chunk_id == s"d_${c.chunk_index}")
    })
  }

  test("sections: line offsets within reference bounds, ends monotone") {
    // NOTE: the reference's offset bookkeeping (chunking.py:93
    // `i - len(split_chunk)`) yields start_char = -1 when the boundary
    // splitter keeps the whole over-budget chunk — the port reproduces
    // that faithfully, so the invariant is start >= -1, not >= 0.
    check(Prop.forAll(doc) { md =>
      val n = md.split("\n", -1).length
      val cs = chunker.chunkBySections(md, "d")
      cs.forall(c => c.start_char >= -1 && c.end_char <= n &&
        c.start_char <= c.end_char) &&
        cs.sliding(2).forall {
          case Vector(a, b) => a.end_char <= b.end_char
          case _ => true
        }
    })
  }

  test("sections: metadata consistent with content") {
    check(Prop.forAll(doc) { md =>
      chunker.chunkBySections(md, "d").forall { c =>
        c.token_count == Tokenizer.count(c.content) &&
          c.has_code_blocks == c.content.contains("```") &&
          c.at_command_count == "AT\\+[A-Z0-9]+".r.findAllIn(c.content).size
      }
    })
  }

  test("token chunker: windows cover the token stream") {
    check(Prop.forAll(doc) { md =>
      val toks = Tokenizer.tokenize(md)
      val cs = chunker.chunkByTokens(md, "d")
      if (toks.nonEmpty)
        cs.nonEmpty && cs.head.start_char == toks.head.start &&
          cs.last.end_char == toks.last.end
      else cs.isEmpty
    })
  }

  test("embedder: unit norm or all-zero, fixed dim") {
    check(Prop.forAll(doc) { text =>
      val e = graft.rag.HashEmbedder.embed(text)
      val n = math.sqrt(e.map(x => x * x).sum)
      e.length == 64 && (math.abs(n - 1.0) < 1e-9 || n == 0.0)
    })
  }

  test("normalizeJoin is byte-identical to join + normalize") {
    val elemGen = Gen.listOf(Gen.oneOf(
      Gen.const(""), Gen.const("   "), Gen.const("# H"),
      Gen.const("a\nb"), Gen.const("x  \n\n y\t"),
      Gen.const("```\ncode  \n\n\nmore\n```"), Gen.const("```"),
      Gen.asciiPrintableStr))
    check(Prop.forAll(elemGen) { els =>
      graft.extract.ExtractReference.normalizeJoin(els) ==
        graft.extract.ExtractReference.normalize(els.mkString("\n\n"))
    })
  }

  test("extraction kernel: total on arbitrary garbage (never throws)") {
    // printable garbage, plus garbage built from the block-stream
    // syntax (tabs, newlines, P/H prefixes, coordinate characters) so
    // the structured parse paths are reached too
    val syntax = Gen.oneOf(Gen.asciiPrintableChar,
      Gen.oneOf('\t', '\n', 'P', 'H', '0', '7', ',', '.', '-', 'e', '|', '`'))
    val garbage = Gen.oneOf(
      Gen.nonEmptyListOf(Gen.asciiPrintableChar),
      Gen.nonEmptyListOf(syntax)).map(_.mkString)
    check(Prop.forAll(garbage) { s =>
      val r = graft.extract.ExtractPipeline.extractRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      val status = r.getUTF8String(0).toString
      (status == "ok" || status == "err") &&
        (status == "ok" || r.getUTF8String(1).numBytes() == 0)
    })
  }
}

object ChunkerPropertySpec {

  private val word = Gen.oneOf("spark", "merge", "join", "scan", "filter",
    "window", "batch", "table", "AT+CFUN", "AT+CSQ")
  private val line: Gen[String] = Gen.frequency(
    6 -> Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ") + ".")),
    2 -> Gen.chooseNum(1, 4).flatMap(n =>
      Gen.listOfN(n, word).map(ws => "# " + ws.mkString(" "))),
    1 -> Gen.const(""),
    1 -> Gen.chooseNum(1, 5).flatMap(n =>
      Gen.listOfN(n, word).map(ws => "- " + ws.mkString(" "))))

  /** seeded markdown: 1-60 lines of prose, headings, blanks and list
    * items over a small vocabulary that includes AT commands
    */
  val doc: Gen[String] =
    Gen.chooseNum(1, 60).flatMap(n => Gen.listOfN(n, line).map(_.mkString("\n")))
}
