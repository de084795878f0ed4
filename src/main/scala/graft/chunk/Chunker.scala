package graft.chunk

import java.util.regex.Pattern

/** One produced chunk + metadata (K5), the typed analogue of
  * `DocumentChunk` + its metadata dict
  * (the reference's rag_engine/chunking.py:14-23,232-252).
  * `at_commands` keeps the reference's comma-joined string view
  * (ChromaDB can only store scalars, chunking.py:246-247); the array
  * form is `atCommands.split(", ")` when needed.
  */
final case class Chunk(
    chunk_id: String,
    document: String,
    chunk_index: Int,
    section: String, // null before the first heading, like the reference
    content: String,
    start_char: Int, // line indices, faithfully mirroring the reference's
    end_char: Int,   // (misnamed there too — chunking.py:71,93,109)
    token_count: Int,
    at_commands: String,
    at_command_count: Int,
    has_code_blocks: Boolean,
    has_tables: Boolean)

/** K1–K5 — chunking kernel, a semantics-faithful reimplementation of
  * `DocumentChunker` (the reference's rag_engine/chunking.py).
  * Pure `String => Vector[Chunk]`; Spark wiring is a flatMap
  * (perfectly parallel across documents, no shuffle). Each chunker
  * equals its test-source reference, `ChunkerReference`.
  */
class Chunker(maxTokens: Int = 512, overlapTokens: Int = 50) {
  import Chunker._

  /** K1 — `chunk_by_sections` (chunking.py:44-114): a heading opens
    * a chunk and names its section; non-blank closed chunks are kept.
    */
  def chunkBySections(markdown: String, document: String): Vector[Chunk] =
    chunkLines(markdown, document, SectionLine.matcher(_).matches(), heading,
      nonBlank)

  /** K2 — `chunk_by_tokens` (chunking.py:116-144), sliding token
    * window with overlap. Offsets are original-text char offsets of
    * the window's first/last token (surrogate-decode semantics,
    * Tokenizer scaladoc).
    */
  def chunkByTokens(markdown: String, document: String): Vector[Chunk] = {
    val toks = Tokenizer.tokenize(markdown)
    val chunks = Vector.newBuilder[Chunk]
    val stride = math.max(1, maxTokens - overlapTokens)
    var chunkId = 0
    var i = 0
    while (i < toks.length) {
      val end = math.min(i + maxTokens, toks.length)
      val startChar = toks(i).start
      val endChar = toks(end - 1).end
      val content = markdown.substring(startChar, endChar)
      chunks += create(content, document, null, chunkId, startChar, endChar,
        end - i)
      chunkId += 1
      i += stride
    }
    chunks.result()
  }

  /** K3 — `chunk_by_at_commands` (chunking.py:146-215): an AT-command
    * line opens a chunk; closed chunks holding one are kept.
    */
  def chunkByAtCommands(markdown: String, document: String): Vector[Chunk] =
    chunkLines(markdown, document, hasAt, _ => null, hasAt)

  /** The line loop of K1 and K3, with K4's over-budget split. The
    * open chunk is the line range [start, i]; `cum` holds the prefix
    * sums of the per-line token counts, so the budget test, each split
    * and every `token_count` are differences of two sums. That is
    * exact: no `Tokenizer.TokenRegex` token spans the '\n' join
    * (ChunkerPropertySpec). The reference's quirks stay: a line at
    * `start` opens nothing; a split chunk is kept whatever it holds, at
    * the offsets (i - n, i); the final range is kept if not blank.
    * `opens` marks a line that closes the range and opens one at
    * itself, `sectionOf` names its section, and a closed range is kept
    * if any of its lines passes `keep`.
    */
  private def chunkLines(markdown: String, document: String,
      opens: String => Boolean, sectionOf: String => String,
      keep: String => Boolean): Vector[Chunk] = {
    val lines = if (markdown == null) Array.empty[String] else markdown.split("\n", -1)
    val cum = new Array[Int](lines.length + 1)
    var j = 0
    while (j < lines.length) { cum(j + 1) = cum(j) + Tokenizer.count(lines(j)); j += 1 }
    val chunks = Vector.newBuilder[Chunk]
    var chunkId = 0
    var section: String = null
    def emit(from: Int, until: Int, startChar: Int, endChar: Int): Unit = {
      chunks += create(lines.slice(from, until).mkString("\n"), document,
        section, chunkId, startChar, endChar, cum(until) - cum(from))
      chunkId += 1
    }
    var start = 0
    var i = 0
    while (i < lines.length) {
      if (start < i && opens(lines(i))) {
        if (lines.slice(start, i).exists(keep)) emit(start, i, start, i)
        start = i
        section = sectionOf(lines(i))
      } else if (cum(i + 1) - cum(start) > maxTokens) {
        val n = splitAtBoundary(lines, start, i + 1)
        if (n > 0) { emit(start, start + n, i - n, i); start += n }
      }
      i += 1
    }
    if (lines.drop(start).exists(nonBlank))
      emit(start, lines.length, start, lines.length)
    chunks.result()
  }

  /** K5 — `_create_chunk` metadata enrichment (chunking.py:217-260);
    * the caller supplies the token count it already holds.
    */
  private def create(content: String, document: String, section: String,
      chunkIndex: Int, startChar: Int, endChar: Int, tokens: Int): Chunk = {
    val m = AtCommand.matcher(content)
    val ats = Vector.newBuilder[String]
    while (m.find()) ats += m.group()
    val atList = ats.result()
    Chunk(
      chunk_id = s"${document}_$chunkIndex",
      document = document,
      chunk_index = chunkIndex,
      section = section,
      content = content,
      start_char = startChar,
      end_char = endChar,
      token_count = tokens,
      at_commands = atList.mkString(", "),
      at_command_count = atList.length,
      has_code_blocks = content.contains("```"),
      has_tables = content.contains("|") && content.contains("\n"))
  }
}

object Chunker {

  // chunking.py:40-42
  private val AtCommand = Pattern.compile("AT\\+[A-Z0-9]+")
  private val SectionLine = Pattern.compile("^#{1,6}\\s+(.+)$")
  private val SentenceEnd = Pattern.compile("[.!?]\\s*$")

  private def hasAt(line: String): Boolean = AtCommand.matcher(line).find()
  private def nonBlank(line: String): Boolean = line.trim.nonEmpty
  private def heading(line: String): String = {
    val m = SectionLine.matcher(line)
    m.matches()
    m.group(1)
  }

  /** K4 — `_split_chunk_at_boundary` (chunking.py:262-284) over the
    * line range [from, until): the length of the prefix to split off —
    * through the last sentence-final line, else before the last blank
    * line, else half the range; 0 for no split. The range's first line
    * is never a boundary.
    */
  def splitAtBoundary(lines: Array[String], from: Int, until: Int): Int = {
    var i = until - 1
    while (i > from) {
      if (SentenceEnd.matcher(lines(i)).find()) return i + 1 - from
      i -= 1
    }
    i = until - 1
    while (i > from) {
      if (lines(i).trim.isEmpty) return i - from
      i -= 1
    }
    (until - from) / 2
  }
}
