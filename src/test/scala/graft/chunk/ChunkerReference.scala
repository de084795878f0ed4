package graft.chunk

import java.util.regex.Pattern

/** The String-based chunker as it stood before `Chunker` became one
  * line loop over prefix-summed token counts, kept unchanged as the
  * reference the `src/main` kernel must equal row for row
  * (ChunkerReferenceSpec). Its `Vector` of lines, `Vector` of counts
  * and re-tokenizing `create` are the shape being checked against,
  * not a pattern to follow.
  *
  * K1–K5 — chunking kernel, a semantics-faithful reimplementation of
  * `DocumentChunker` (the reference's rag_engine/chunking.py).
  * Pure `String => Vector[Chunk]`; Spark wiring is a flatMap
  * (perfectly parallel across documents, no shuffle).
  */
class ChunkerReference(maxTokens: Int = 512, overlapTokens: Int = 50) {

  // chunking.py:40-42
  private val AtCommand = Pattern.compile("AT\\+[A-Z0-9]+")
  private val SectionLine = Pattern.compile("^#{1,6}\\s+(.+)$")

  /** K1 — `chunk_by_sections` (chunking.py:44-114).
    *
    * The over-budget check keeps a RUNNING token total instead of
    * re-tokenizing the accumulated chunk on every appended line (the
    * reference's O(lines²·chars) shape, chunking.py:85): no token of
    * `Tokenizer.TokenRegex` can span the '\n' join (alnum runs stop at
    * it, the single-char class excludes whitespace), so
    * count(join(lines)) = Σ count(line) exactly — property-tested in
    * ChunkerPropertySpec.
    */
  def chunkBySections(markdown: String, document: String): Vector[Chunk] = {
    val lines = split(markdown)
    val chunks = Vector.newBuilder[Chunk]
    var current = Vector.empty[String]
    var counts = Vector.empty[Int]
    var total = 0
    var section: String = null
    var chunkId = 0
    var i = 0
    while (i < lines.length) {
      val line = lines(i)
      val m = SectionLine.matcher(line)
      if (m.matches() && current.nonEmpty) {
        val content = current.mkString("\n")
        if (content.trim.nonEmpty) {
          chunks += create(content, document, section, chunkId,
            i - current.length, i)
          chunkId += 1
        }
        current = Vector(line)
        counts = Vector(Tokenizer.count(line))
        total = counts.head
        section = m.group(1)
      } else {
        current = current :+ line
        val c = Tokenizer.count(line)
        counts = counts :+ c
        total += c
        if (total > maxTokens) {
          ChunkerReference.splitAtBoundary(current).foreach { splitPart =>
            chunks += create(splitPart.mkString("\n"), document, section,
              chunkId, i - splitPart.length, i)
            chunkId += 1
            current = current.drop(splitPart.length)
            total -= counts.take(splitPart.length).sum
            counts = counts.drop(splitPart.length)
          }
        }
      }
      i += 1
    }
    if (current.nonEmpty) {
      val content = current.mkString("\n")
      if (content.trim.nonEmpty)
        chunks += create(content, document, section, chunkId,
          lines.length - current.length, lines.length)
    }
    chunks.result()
  }

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
      chunks += create(content, document, null, chunkId, startChar, endChar)
      chunkId += 1
      i += stride
    }
    chunks.result()
  }

  /** K3 — `chunk_by_at_commands` (chunking.py:146-215). Same running
    * token total as chunkBySections.
    */
  def chunkByAtCommands(markdown: String, document: String): Vector[Chunk] = {
    val lines = split(markdown)
    val chunks = Vector.newBuilder[Chunk]
    var current = Vector.empty[String]
    var counts = Vector.empty[Int]
    var total = 0
    var chunkId = 0
    var i = 0
    while (i < lines.length) {
      val line = lines(i)
      val hasAt = AtCommand.matcher(line).find()
      if (hasAt && current.nonEmpty) {
        val content = current.mkString("\n")
        if (AtCommand.matcher(content).find()) {
          chunks += create(content, document, null, chunkId,
            i - current.length, i)
          chunkId += 1
        }
        current = Vector(line)
        counts = Vector(Tokenizer.count(line))
        total = counts.head
      } else {
        current = current :+ line
        val c = Tokenizer.count(line)
        counts = counts :+ c
        total += c
        if (total > maxTokens) {
          ChunkerReference.splitAtBoundary(current).foreach { splitPart =>
            chunks += create(splitPart.mkString("\n"), document, null,
              chunkId, i - splitPart.length, i)
            chunkId += 1
            current = current.drop(splitPart.length)
            total -= counts.take(splitPart.length).sum
            counts = counts.drop(splitPart.length)
          }
        }
      }
      i += 1
    }
    if (current.nonEmpty) {
      val content = current.mkString("\n")
      if (content.trim.nonEmpty)
        chunks += create(content, document, null, chunkId,
          lines.length - current.length, lines.length)
    }
    chunks.result()
  }

  /** K5 — `_create_chunk` metadata enrichment (chunking.py:217-260). */
  private def create(content: String, document: String, section: String,
      chunkIndex: Int, startChar: Int, endChar: Int): Chunk = {
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
      token_count = Tokenizer.count(content),
      at_commands = atList.mkString(", "),
      at_command_count = atList.length,
      has_code_blocks = content.contains("```"),
      has_tables = content.contains("|") && content.contains("\n"))
  }

  private def split(markdown: String): Array[String] =
    if (markdown == null) Array.empty else markdown.split("\n", -1)
}

object ChunkerReference {

  /** K4 — `_split_chunk_at_boundary` (chunking.py:262-284): last
    * sentence-final line, else last blank line, else midpoint.
    */
  def splitAtBoundary(lines: Vector[String]): Option[Vector[String]] = {
    val sentenceEnd = Pattern.compile("[.!?]\\s*$")
    var i = lines.length - 1
    while (i > 0) {
      if (sentenceEnd.matcher(lines(i)).find()) return Some(lines.take(i + 1))
      i -= 1
    }
    i = lines.length - 1
    while (i > 0) {
      if (lines(i).trim.isEmpty) return Some(lines.take(i))
      i -= 1
    }
    val mid = lines.length / 2
    if (mid > 0) Some(lines.take(mid)) else None
  }
}
