package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the text-sketch hot paths. The composed Column
  * forms (regexp_extract_all → `transform` shingle building →
  * per-element hashing) are HOFs — CodegenFallback, interpreted per
  * lambda step, and the dominant cost of the dedup suite at sf0.1.
  * These expressions compute the identical values in one JVM pass and
  * stay inside whole-stage codegen (same pattern as rag.L2Normalize /
  * rag.HashEmbed; equality with the HOF forms is spec-asserted).
  *
  * Hash basis shared with the DuckDB oracle: word regex
  * `[A-Za-z0-9]+`, shingle = 3 words joined by one space, 60-bit hash
  * = first 15 hex digits of sha256 (HashEmbedder.tokenHash computes
  * the same).
  */
object TextKernels {

  private val Sha = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-256")
  }

  /** first 60 bits of sha256(s), as in `substr(sha256(s),1,15)::BIGINT`:
    * 15 hex digits = the first 8 digest bytes as a big-endian unsigned
    * long, dropped low nibble — computed without the hex-string
    * round-trip (zero transient allocations besides the digest), and
    * with a thread-local MessageDigest. Shared by every sha-derived
    * kernel (shingles, simhash words, the hash embedder) so the hash
    * basis cannot drift between them.
    */
  def hash60(s: String): Long = {
    val md = Sha.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** One pass over the CHARACTERS: word count, summed word lengths,
    * per-list lowercase membership hits, plus the token and
    * punctuation counts the quality operators need — the kernel
    * behind [[WordStats]]. Returns an InternalRow(n_words: Int,
    * sum_word_len: Long, hits: ArrayData[Int], n_tokens: Int,
    * n_punct: Int).
    *
    * Exact regex equivalences (spec-asserted):
    *  - words = maximal `[A-Za-z0-9]+` runs (ASCII alnum only, so the
    *    per-word ROOT lowercase reduces to ASCII lowering);
    *  - n_tokens = `Tokenizer.TokenRegex` count: each word run is one
    *    token, plus one token per non-alnum code point outside Java
    *    regex `\s` (= the six ASCII whitespace chars — a Unicode
    *    space is NOT `\s` and counts, exactly as the regex does; a
    *    surrogate pair is ONE code point, one match);
    *  - n_punct = `[^A-Za-z0-9\s]` count = the same non-word tokens.
    * Folding these into the word scan removes the two extra compiled-
    * regex passes qualityScore ran per document.
    */
  def wordStats(text: UTF8String,
      sets: Array[java.util.HashSet[String]]): org.apache.spark.sql.catalyst.InternalRow = {
    val s = if (text == null) "" else text.toString
    val n = s.length
    var nWords = 0
    var sumLen = 0L
    var nTokens = 0
    var nPunct = 0
    val hits = new Array[Int](sets.length)
    val buf = if (sets.length > 0) new java.lang.StringBuilder(32) else null
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9')) {
        var j = i + 1
        while (j < n && {
          val d = s.charAt(j)
          (d >= 'a' && d <= 'z') || (d >= 'A' && d <= 'Z') ||
            (d >= '0' && d <= '9')
        }) j += 1
        nWords += 1
        nTokens += 1
        sumLen += (j - i)
        if (buf != null) {
          buf.setLength(0)
          var k = i
          while (k < j) {
            val d = s.charAt(k)
            buf.append(if (d >= 'A' && d <= 'Z') (d + 32).toChar else d)
            k += 1
          }
          val lw = buf.toString
          var m = 0
          while (m < sets.length) {
            if (sets(m).contains(lw)) hits(m) += 1
            m += 1
          }
        }
        i = j
      } else if (c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
          c == '\f' || c == '\r') {
        i += 1
      } else {
        nTokens += 1
        nPunct += 1
        i += (if (Character.isHighSurrogate(c) && i + 1 < n &&
          Character.isLowSurrogate(s.charAt(i + 1))) 2 else 1)
      }
    }
    org.apache.spark.sql.catalyst.InternalRow(
      nWords, sumLen, ArrayData.toArrayData(hits), nTokens, nPunct)
  }

  private val DigestOut = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](32)
  }

  /** Maximal ASCII-alnum byte runs of a UTF-8 buffer — the byte-level
    * twin of the `[A-Za-z0-9]+` regex on the decoded string: the word
    * class is pure ASCII and every UTF-8 continuation/lead byte of a
    * non-ASCII char is >= 0x80, so byte-run boundaries coincide
    * exactly with the regex's char-run boundaries, and each word's
    * bytes ARE its UTF-8 encoding. Returns the run count; bounds land
    * in `starts`/`ends` (caller-sized).
    */
  private def wordRuns(b: Array[Byte], starts: Array[Int],
      ends: Array[Int]): Int = {
    def alnum(x: Byte): Boolean =
      (x >= 'a' && x <= 'z') || (x >= 'A' && x <= 'Z') ||
        (x >= '0' && x <= '9')
    var count = 0
    var i = 0
    val n = b.length
    while (i < n) {
      if (alnum(b(i))) {
        val s = i
        i += 1
        while (i < n && alnum(b(i))) i += 1
        starts(count) = s
        ends(count) = i
        count += 1
      } else i += 1
    }
    count
  }

  /** the byte-run kernels' shared tokenization preamble: UTF-8 bytes
    * (null → empty), word-run bounds and count — one definition so
    * the sizing invariant (worst case one word per 2 bytes) cannot
    * drift between kernels
    */
  private final class Runs(val b: Array[Byte], val starts: Array[Int],
      val ends: Array[Int], val n: Int)

  private def wordRunsOf(text: UTF8String): Runs = {
    val b = if (text == null) Array.emptyByteArray else text.getBytes
    val maxWords = b.length / 2 + 1
    val starts = new Array[Int](maxWords)
    val ends = new Array[Int](maxWords)
    new Runs(b, starts, ends, wordRuns(b, starts, ends))
  }

  /** sha256-derived 64-bit value of the window's "w1 w2 … wn" UTF-8
    * bytes, streamed word-by-word into the digest (no shingle string
    * or buffer is ever built); >>> 4 of this value is [[hash60]] of
    * the same shingle string.
    */
  private def windowHash64(b: Array[Byte], starts: Array[Int],
      ends: Array[Int], from: Int, n: Int): Long = {
    val md = Sha.get()
    md.reset()
    var j = 0
    while (j < n) {
      if (j > 0) md.update(' '.toByte)
      md.update(b, starts(from + j), ends(from + j) - starts(from + j))
      j += 1
    }
    val out = DigestOut.get()
    md.digest(out, 0, 32)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (out(i) & 0xffL); i += 1 }
    v
  }

  /** 60-bit hashes of the word n-shingles. Byte-level one-pass: word
    * runs are found directly in the UTF-8 buffer and each window is
    * streamed into the digest — no word Strings, no shingle
    * StringBuilder, no per-call digest allocation (the String path
    * cost ~2× the sha itself). With `distinct`, duplicates collapse on
    * the full 64-bit sha prefix rather than on the shingle string the
    * way the oracle's `list_distinct` does — two DIFFERENT shingles of
    * one document sharing a 64-bit sha prefix (2^-64 per pair; the
    * same order as the already-accepted 60-bit join collisions) would
    * shorten the array by one vs the string-distinct form. Empty below
    * n words.
    */
  def shingleHashes(text: UTF8String, distinct: Boolean, n: Int = 3): ArrayData = {
    val r = wordRunsOf(text)
    val b = r.b
    val starts = r.starts
    val ends = r.ends
    val nw = r.n
    if (nw < n) return ArrayData.toArrayData(Array.emptyLongArray)
    val count = nw - n + 1
    val seen = if (distinct) new java.util.HashSet[java.lang.Long]() else null
    val out = new Array[Long](count)
    var outN = 0
    var i = 0
    while (i < count) {
      val h = windowHash64(b, starts, ends, i, n)
      if (seen == null || seen.add(h)) {
        out(outN) = h >>> 4
        outN += 1
      }
      i += 1
    }
    ArrayData.toArrayData(
      if (outN == count) out else java.util.Arrays.copyOf(out, outN))
  }

  /** full MinHash signature in one pass: sig[i] = min over shingles of
    * mix60(hash60(s) ⊕ seed_i) — identical values to the HOF
    * `signatureCol` in the test sources' `ReferenceForms` (the JVM mix
    * here is the wrapping-multiply twin of its Column `mix60`,
    * spec-asserted equal; shingle hashing is the byte-level stream of
    * [[shingleHashes]]). Empty array below 3 words (no shingles).
    */
  def minhashSig(text: UTF8String): ArrayData = {
    val r = wordRunsOf(text)
    val b = r.b
    val starts = r.starts
    val ends = r.ends
    val nw = r.n
    if (nw < 3) return ArrayData.toArrayData(Array.emptyLongArray)
    val k = Dedup.NumHashes
    val seeds = Dedup.Seeds.toArray
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < nw - 2) {
      val h = windowHash64(b, starts, ends, i, 3) >>> 4
      var j = 0
      while (j < k) {
        val v = mix60Jvm(h ^ seeds(j))
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    ArrayData.toArrayData(sig)
  }

  /** JVM twin of the Column `mix60` in the test sources'
    * `ReferenceForms`: wrapping multiply masked to 60 bits ≡
    * multiply mod 2^60 (2^60 | 2^64)
    */
  private[text] def mix60Jvm(z0: Long): Long = {
    var z = z0
    z = ((z ^ (z >>> 30)) * Dedup.MixC1) & Dedup.Mask60
    z = ((z ^ (z >>> 27)) * Dedup.MixC2) & Dedup.Mask60
    z ^ (z >>> 31)
  }

  /** 60-bit SimHash over word tokens — identical votes/threshold rule
    * as Dedup.simhashCol: bit b set iff Σ over word hashes of
    * ((h>>b)&1 ? +1 : −1) is positive.
    *
    * Byte-level one-pass like [[shingleHashes]]: word runs are found
    * directly in the UTF-8 buffer (the `[A-Za-z0-9]+` class is pure
    * ASCII, so byte runs coincide exactly with the regex's char runs).
    * Distinct words are collected in an open-addressed table BUCKETED
    * by a cheap byte hash but keyed by EXACT byte comparison (a bucket
    * collision probes on — correctness never rides on the cheap hash);
    * each distinct word is sha-digested once and votes once with
    * weight = its occurrence count. Same values as the former
    * String-word + per-occurrence-vote form (votes are commutative
    * sums), without the word Strings, the boxed-Long memo map, or the
    * 60-iteration vote loop per REPEATED occurrence — this kernel was
    * the suite's one remaining GC-storm source under contended
    * windows (dedup_keep_best stage run≫cpu).
    */
  def simhash(text: UTF8String): Long = {
    val r = wordRunsOf(text)
    val b = r.b
    val starts = r.starts
    val ends = r.ends
    val nw = r.n
    val votes = new Array[Int](Dedup.SimBits)
    if (nw > 0) {
      // power-of-two capacity ≥ 2×words keeps the load factor ≤ 0.5.
      // Long arithmetic + 2^30 clamp: nw can reach 2^30 (one word per
      // 2 bytes of a max-size UTF8String), where an Int `nw * 2`
      // overflows and the shift loop never terminates. At the clamp
      // the table still cannot fill: 2^30 DISTINCT words need > 2^31
      // input bytes (only 62 one-byte words exist), so an empty slot
      // always remains for the probe loop.
      var capL = 4L
      while (capL < nw.toLong * 2 && capL < (1L << 30)) capL <<= 1
      val cap = capL.toInt
      val slotWord = new Array[Int](cap) // 1-based run index; 0 = empty
      val slotCount = new Array[Int](cap)
      var w = 0
      while (w < nw) {
        val s = starts(w)
        val e = ends(w)
        // FNV-1a over the word bytes — bucket selection only
        var h = 0x811c9dc5
        var i = s
        while (i < e) { h = (h ^ (b(i) & 0xff)) * 0x01000193; i += 1 }
        var idx = h & (cap - 1)
        var placed = false
        while (!placed) {
          val ref = slotWord(idx)
          if (ref == 0) {
            slotWord(idx) = w + 1
            slotCount(idx) = 1
            placed = true
          } else if (sameRun(b, starts(ref - 1), ends(ref - 1), s, e)) {
            slotCount(idx) += 1
            placed = true
          } else idx = (idx + 1) & (cap - 1)
        }
        w += 1
      }
      var idx = 0
      while (idx < cap) {
        val ref = slotWord(idx)
        if (ref != 0) {
          // sha over exactly the word's UTF-8 bytes = hash60(word)
          val h = windowHash64(b, starts, ends, ref - 1, 1) >>> 4
          val c = slotCount(idx)
          var bit = 0
          while (bit < Dedup.SimBits) {
            votes(bit) += (if (((h >> bit) & 1L) == 1L) c else -c)
            bit += 1
          }
        }
        idx += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < Dedup.SimBits) {
      if (votes(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  /** exact byte equality of two word runs */
  @inline private def sameRun(b: Array[Byte], s1: Int, e1: Int,
      s2: Int, e2: Int): Boolean = {
    if (e1 - s1 != e2 - s2) return false
    var i = s1
    var j = s2
    while (i < e1) {
      if (b(i) != b(j)) return false
      i += 1; j += 1
    }
    true
  }

  /** The word tokens of a text — identical values to
    * `regexp_extract_all(text, '[A-Za-z0-9]+', 0)` (Dedup.WordRegex):
    * the word class is pure ASCII, so maximal ASCII-alnum byte runs
    * coincide exactly with the regex's char runs and each word's
    * bytes ARE its UTF-8 encoding (see [[wordRuns]]). One buffer
    * fetch, then zero-copy UTF8String views per word — no regex
    * machinery, no per-match char decoding. The words are views into
    * the document's byte buffer, so a word value held before the
    * UnsafeRow copy pins the whole document in memory.
    */
  def asciiWords(text: UTF8String): ArrayData = {
    val r = wordRunsOf(text) // null-total like the sibling kernels
    val out = new Array[AnyRef](r.n)
    var i = 0
    while (i < r.n) {
      out(i) = UTF8String.fromBytes(r.b, r.starts(i), r.ends(i) - r.starts(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Unicode NFC normalization — the pre-tokenization canonical form
    * (é as one codepoint and e + combining acute must tokenize, hash,
    * and dedup identically). JDK Normalizer computes the same Unicode
    * NFC the oracle's ICU `nfc_normalize` does.
    *
    * Fast path ordering matters on this map-side hot loop: ASCII bytes
    * are NFC by construction, so a pure byte scan (no UTF-16 decode,
    * no allocation at all) returns the input for the dominant all-ASCII
    * case; only rows with a high byte pay the String round-trip, and
    * of those, already-normalized ones still skip the second copy.
    */
  def nfcNormalize(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    var i = 0
    var ascii = true
    while (ascii && i < n) { ascii = s.getByte(i) >= 0; i += 1 }
    if (ascii) s
    else {
      val str = s.toString
      if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
      else UTF8String.fromString(
        java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
    }
  }
}

/** text → struct(n_words, sum_word_len, hits: array<int>) in one
  * native pass — the word-level stats the quality/language operators
  * need. The composed Column forms (`aggregate` length fold for mean
  * word length, `filter`+`isInCollection` per stopword list) are
  * interpreted HOFs and dominated the score-consuming queries
  * (group_median/quality_filter ≈ 1.2 s at sf0.1, ~6× the pruned
  * projection). hits(i) counts LOWERCASED words contained in lists(i)
  * — identical values to the `filter`+`isInCollection` form kept in
  * the test sources as its reference.
  */
case class WordStats(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    lists: Seq[Seq[String]]) extends UnaryExpression {
  import org.apache.spark.sql.types._

  override def checkInputDataTypes(): TypeCheckResult =
    TextExprs.requireString(prettyName, child.dataType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("sum_word_len", LongType, nullable = false),
    StructField("hits", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_punct", IntegerType, nullable = false)))
  override def nullIntolerant: Boolean = true

  @transient private lazy val sets: Array[java.util.HashSet[String]] =
    lists.map { l =>
      val s = new java.util.HashSet[String]()
      l.foreach(s.add)
      s
    }.toArray

  override def nullSafeEval(s: Any): Any =
    TextKernels.wordStats(s.asInstanceOf[UTF8String], sets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setsRef = ctx.addReferenceObj("wordStatsSets", sets,
      "java.util.HashSet[]")
    defineCodeGen(ctx, ev, a =>
      s"(org.apache.spark.sql.catalyst.InternalRow) graft.text.TextKernels$$.MODULE$$.wordStats($a, $setsRef)")
  }

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = c)
}

/** text → array<long> of 60-bit word n-shingle hashes (native
  * one-pass; n = shingle width in words).
  */
case class ShingleHashes(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    distinct: Boolean, n: Int = 3) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (n < 1) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires shingle width n >= 1, got $n")
    else TextExprs.requireString(prettyName, child.dataType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(s: Any): Any =
    TextKernels.shingleHashes(s.asInstanceOf[UTF8String], distinct, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) graft.text.TextKernels$$.MODULE$$.shingleHashes($a, $distinct, $n)")

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = c)
}

/** text → array<long> MinHash signature (native one-pass; empty below
  * 3 words).
  */
case class MinHashSig(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TextExprs.requireString(prettyName, child.dataType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(s: Any): Any =
    TextKernels.minhashSig(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) graft.text.TextKernels$$.MODULE$$.minhashSig($a)")

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = c)
}

/** text → array of `[A-Za-z0-9]+` word tokens (native byte-run twin
  * of regexp_extract_all over Dedup.WordRegex; value-identity
  * spec-asserted against the regex form).
  */
case class AsciiWords(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TextExprs.requireString(prettyName, child.dataType)
  override def dataType: DataType = ArrayType(StringType)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(s: Any): Any =
    TextKernels.asciiWords(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) graft.text.TextKernels$$.MODULE$$.asciiWords($a)")

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = c)
}

/** text → Unicode-NFC text (native; no-copy fast path for already-
  * normalized input).
  */
case class NfcNormalize(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TextExprs.requireString(prettyName, child.dataType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(s: Any): Any =
    TextKernels.nfcNormalize(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.text.TextKernels$$.MODULE$$.nfcNormalize($a)")

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = c)
}

/** text → 60-bit SimHash (native one-pass). */
case class SimHash60(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TextExprs.requireString(prettyName, child.dataType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(s: Any): Any =
    TextKernels.simhash(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.text.TextKernels$$.MODULE$$.simhash($a)")

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = c)
}

object TextExprs {
  import org.apache.spark.sql.GraftExprBridge._

  /** analysis-time type gate shared by the text kernels (wrong-typed
    * SQL args get an AnalysisException, not a runtime ClassCast)
    */
  private[graft] def requireString(fn: String, dt: DataType): TypeCheckResult =
    if (dt == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn requires a STRING argument, got ${dt.catalogString}")

  def shingleHashes(text: Column, distinct: Boolean, n: Int = 3): Column =
    toColumn(ShingleHashes(toExpression(text), distinct, n))

  def wordStats(text: Column, lists: Seq[Seq[String]]): Column =
    toColumn(WordStats(toExpression(text), lists))

  def minhashSig(text: Column): Column =
    toColumn(MinHashSig(toExpression(text)))

  def simhash(text: Column): Column =
    toColumn(SimHash60(toExpression(text)))

  def nfcNormalize(text: Column): Column =
    toColumn(NfcNormalize(toExpression(text)))

  def asciiWords(text: Column): Column =
    toColumn(AsciiWords(toExpression(text)))
}
