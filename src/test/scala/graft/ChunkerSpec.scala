package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.chunk.{Chunker, Tokenizer}
import graft.store.Ids

/** Chunking kernel semantics vs the reference's `DocumentChunker`
  * (/root/reference/src/rag_engine/chunking.py) — section boundaries,
  * token-budget splitting, AT-command triggers, metadata enrichment.
  */
class ChunkerSpec extends AnyFunSuite {

  private val chunker = new Chunker(maxTokens = 512, overlapTokens = 50)
  private def small = new Chunker(maxTokens = 10, overlapTokens = 2)

  test("sections: split on headings, section metadata from heading text") {
    val md = "intro line.\n# First Section\nbody a.\nbody b.\n## Sub Two\nbody c."
    val cs = chunker.chunkBySections(md, "docX")
    assert(cs.map(_.content) == Vector(
      "intro line.",
      "# First Section\nbody a.\nbody b.",
      "## Sub Two\nbody c."))
    // the chunk closed at a heading carries the PREVIOUS section
    assert(cs.map(c => Option(c.section)) ==
      Vector(None, Some("First Section"), Some("Sub Two")))
    assert(cs.map(_.chunk_index) == Vector(0, 1, 2))
    assert(cs.map(_.chunk_id) == Vector("docX_0", "docX_1", "docX_2"))
    // line-index offsets (reference semantics, chunking.py:71,93,109)
    assert(cs.map(c => (c.start_char, c.end_char)) ==
      Vector((0, 1), (1, 4), (4, 6)))
  }

  test("token window: 1200 fixed-width tokens → 3 overlapping chunks (gate geometry)") {
    val text = (0 until 1200).map(i => f"d0007$i%04d").mkString(" ")
    val ch = chunker.chunkByTokens(text, "doc-7")
    assert(ch.map(c => (c.chunk_index, c.start_char, c.end_char)) ==
      Vector((0, 0, 5119), (1, 4620, 9739), (2, 9240, 11999)))
    assert(ch(0).content == text.substring(0, 5119))
    assert(ch.map(_.token_count) == Vector(512, 512, 276))
    // 50-token overlap: each window starts inside the previous one
    assert(ch(1).start_char < ch(0).end_char && ch(2).start_char < ch(1).end_char)
  }

  test("AT chunker: trigger splits and discards the AT-free prefix (gate fixture)") {
    val text = "intro doc 7 no command here.\nAT+CMGF one 7\nfiller between 7\nAT+CSQ two 7"
    val ch = chunker.chunkByAtCommands(text, "doc-7")
    assert(ch.length == 2) // the AT-free intro chunk is DISCARDED
    assert(ch(0).content == "AT+CMGF one 7\nfiller between 7")
    assert(ch(0).at_commands == "AT+CMGF")
    assert((ch(0).start_char, ch(0).end_char) == (1, 3))
    assert(ch(1).content == "AT+CSQ two 7" && ch(1).at_commands == "AT+CSQ")
    assert((ch(1).start_char, ch(1).end_char) == (3, 4))
  }

  test("sections: over-budget chunk splits at last sentence boundary") {
    // 10-token budget; each line = 4 tokens ("w w w.") → split triggers
    val lines = Vector("aa bb cc.", "dd ee ff.", "gg hh ii.", "jj kk ll.")
    val cs = small.chunkBySections(lines.mkString("\n"), "d")
    assert(cs.length > 1)
    // every emitted chunk except possibly the last ends at a sentence
    cs.init.foreach(c => assert(c.content.endsWith(".")))
    // no content lost, order preserved
    assert(cs.map(_.content).mkString("\n").split("\n").toVector == lines)
  }

  test("boundary splitter: sentence > blank > midpoint") {
    // the length of the prefix split off; 0 is no split
    def split(lines: String*) = Chunker.splitAtBoundary(lines.toArray, 0, lines.length)
    assert(split("a", "b.", "c") == 2) // "a", "b."
    assert(split("a", "", "c") == 1) // "a"
    assert(split("a", "b", "c", "d") == 2) // "a", "b"
    assert(split("a") == 0)
  }

  test("at-commands: new chunk on AT line when current chunk has one") {
    val md = "AT+CFUN set mode.\ndetails here.\nAT+CSQ query.\nmore details.\nplain tail."
    val cs = chunker.chunkByAtCommands(md, "d")
    assert(cs.length == 2)
    assert(cs(0).content == "AT+CFUN set mode.\ndetails here.")
    assert(cs(0).at_commands == "AT+CFUN")
    assert(cs(0).at_command_count == 1)
    assert(cs(1).content == "AT+CSQ query.\nmore details.\nplain tail.")
  }

  test("at-commands: chunk without AT command is discarded at boundary") {
    // reference behavior: the pre-AT preamble chunk is dropped
    // (chunking.py:168-176 saves only if the old chunk has a match)
    val md = "preamble no commands.\nAT+FOO starts.\ntail."
    val cs = chunker.chunkByAtCommands(md, "d")
    assert(cs.length == 1)
    assert(cs(0).content == "AT+FOO starts.\ntail.")
  }

  test("token chunker: sliding window with overlap covers all tokens") {
    val text = (1 to 100).map(i => s"tok$i").mkString(" ")
    val cs = small.chunkByTokens(text, "d") // window 10, stride 8
    assert(cs.head.content.startsWith("tok1"))
    assert(cs.last.content.endsWith("tok100"))
    // stride = 8 tokens → starts at tokens 0,8,16,...
    assert(cs.length == math.ceil(100.0 / 8).toInt + (if (100 % 8 == 0) 0 else 0))
    // consecutive chunks overlap by overlapTokens=2 tokens
    val c0tokens = Tokenizer.tokenize(cs(0).content).map(_.text)
    val c1tokens = Tokenizer.tokenize(cs(1).content).map(_.text)
    assert(c0tokens.takeRight(2) == c1tokens.take(2))
  }

  test("metadata: code fence / table / token count detection") {
    val md = "x | y\nrow | two\n```\ncode\n```"
    val cs = chunker.chunkBySections(md, "d")
    assert(cs.head.has_tables)
    assert(cs.head.has_code_blocks)
    assert(cs.head.token_count == Tokenizer.count(md))
  }

  test("ids: slugify + chunk key match the reference algorithm") {
    // slugify: NFKD → ascii strip → punct to _ → collapse → strip → lower
    assert(Ids.slugify("Quectel BG95 (Hardware) Design") == "quectel_bg95_hardware_design")
    assert(Ids.slugify("  weird--Name!! ") == "weird--name")
    // chunkKey = slug[:30] + "_" + sha256(doc|idx|content[:100])[:16]
    val k = Ids.chunkKey("doc-7", 0, "hello world")
    assert(k.startsWith("doc-7_"))
    assert(k.length == "doc-7".length + 1 + 16)
  }

  test("tokenizer: word-or-punct token basis") {
    assert(Tokenizer.count("hello world.") == 3)
    assert(Tokenizer.count("AT+CFUN=1,0") == 7) // AT + CFUN = 1 , 0
    assert(Tokenizer.count("") == 0)
  }
}
