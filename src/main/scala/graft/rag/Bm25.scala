package graft.rag

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.store.Snapshot
import graft.text.Dedup

/** BM25 keyword retrieval (Robertson/Spärck Jones probabilistic
  * ranking, the Lucene-default `ln(1 + (N-df+0.5)/(df+0.5))` idf
  * variant) — the lexical complement to the embedding searches in
  * [[TopK]]/[[AnnLsh]]/[[AnnIvf]]: production RAG runs both and fuses
  * (hybrid retrieval).
  *
  * Key contract: `idCol` is a row key — a ROW is the unit that gets
  * scored (its tf and dl come from that row's text alone, and df counts
  * rows). Two rows sharing an id are scored, and returned, as two rows.
  *
  * Determinism contract (the oracle hash-compares doubles): each row's
  * score is computed by [[Bm25TextScore]] in FIXED query order — per
  * term `idf * ((tf*(k1+1)) / (tf + k1*((1-b) + b*dl/avgdl)))`, 0.0 for
  * an absent term, summed left to right — so no float sum depends on
  * row encounter order; all model constants are interpolated into the
  * oracle SQL from the same Scala doubles (shortest-round-trip repr),
  * and avgdl is derived as sum/count in double on both sides.
  *
  * Scale notes (100 TB): the N/Σdl/df corpus stats are one job: each
  * partition computes its partial (|query|+2 longs) with [[Bm25Terms]]
  * and the driver sums the partials. Scoring is then a map-only pass:
  * the same kernel walks each row's text once, so nothing is exploded,
  * no token array is built and no document row is shuffled, and the
  * final top-k is TakeOrderedAndProject (per-partition heap, then one
  * merge of the k·partitions heap rows, no global sort). At production
  * scale the exploded (term, doc_id, tf, dl) inverted index would be
  * built ONCE at write time, bucketed by term so a query reads only its
  * terms' postings; here the bounded corpus is read per query, from
  * its resident snapshot when `docs` is a bare collection scan
  * ([[graft.store.Snapshot.resident]]).
  */
object Bm25 {
  import org.apache.spark.sql.GraftExprBridge._

  /** lowercase word terms (DNS for text: BM25 matching is
    * case-insensitive; the oracle lowercases identically). The words
    * [[Bm25Terms]] counts are exactly these.
    */
  def termsCol(text: Column): Column = Dedup.wordsCol(lower(text))

  /** Top-k rows by BM25 score for a bag-of-words query.
    * Returns (doc_id, score, n_matched) ordered by (score desc,
    * doc_id) — the doc_id tie-break keeps rankings deterministic. Only
    * rows matching at least one query term are returned. Runs the
    * one corpus-stats job when called; the returned plan is the
    * scoring. `textCol` must be a STRING column; a null text counts as
    * a document with no words.
    */
  def search(docs: DataFrame, idCol: String, textCol: String,
      query: Seq[String], topK: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "query must have at least one term")
    // ROOT-lowercase in the guards too: a default-locale lowercase here
    // can disagree with the ROOT normalization applied to q
    // (tr_TR dotless-i), letting colliding terms past the check
    val q = query.map(_.toLowerCase(java.util.Locale.ROOT))
    require(q.distinct.size == q.size,
      "query terms must be distinct (weights double-count otherwise)")
    // termsCol only ever emits lowercased [A-Za-z0-9]+ runs: any other
    // term could never match and would silently return no rows
    val unmatchable = query.zip(q).collect {
      case (t, l) if !l.matches("[a-z0-9]+") => s"'$t'"
    }
    require(unmatchable.isEmpty,
      s"query terms must be [A-Za-z0-9]+ words, got ${unmatchable.mkString(", ")}")
    val corpus = Snapshot.resident(docs)
    // Over a resident copy the stats job scans the scoring's (id, text)
    // column set, so both share one generated column accessor and batch
    // filter instead of compiling a pair each; over files it decodes the
    // text alone.
    val statsCols = if (corpus eq docs) Seq(col(textCol)) else Seq(col(idCol), col(textCol))
    val statsRows = corpus.select(statsCols: _*)
    val collationId = statsRows.schema.last.dataType match {
      case s: StringType => s.collationId
      case dt => throw new IllegalArgumentException(
        s"text column '$textCol' must be a STRING, got ${dt.catalogString}")
    }
    // the flag Spark's own `lower` reads
    val useICU = docs.sparkSession.conf.get(SQLConf.ICU_CASE_MAPPINGS_ENABLED.key).toBoolean
    val kernel = new Bm25Terms(q, collationId, useICU)
    // corpus stats in ONE job: per partition (N, Σdl, df per term),
    // summed on the driver
    val stats = new Array[Long](2 + q.size)
    withSessionArtifacts(docs.sparkSession) {
      docs.sparkSession.sparkContext.runJob(statsRows.queryExecution.toRdd,
        Bm25Terms.statsTask(kernel),
        (_: Int, st: Array[Long]) => st.indices.foreach(i => stats(i) += st(i)))
    }
    val nDocs = stats(0)
    require(nDocs > 0, "empty corpus")
    val avgdl = stats(1).toDouble / nDocs.toDouble
    // Lucene-variant idf, computed once per query term on the driver
    val idfs = q.indices.map { i =>
      val df = stats(2 + i).toDouble
      math.log(1.0 + (nDocs.toDouble - df + 0.5) / (df + 0.5))
    }
    val scored = toColumn(Bm25TextScore(toExpression(col(textCol)), q, idfs, k1, b, avgdl,
      useICU))
    // A row matching no query term scores null, and nulls sort last,
    // so they are dropped after the top-k. Filtered before it, the
    // predicate is pushed below the projection (FilterExec has no
    // subexpression elimination — the Staged.explodeOnce problem), and
    // every matching row would be read and scored twice.
    // The top-k sorts rows of (doc_id, n_matched, score), the layout of
    // the TPC-H top orders' (key, date, revenue) rows, so both compile
    // one ordering class; the filter's span restores the column order.
    corpus.select(col(idCol).cast("long").as("doc_id"), scored.as("m"))
      .select(col("doc_id"), col("m.n_matched").as("n_matched"),
        col("m.score").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
      .filter(col("score").isNotNull)
      .select("doc_id", "score", "n_matched")
  }

  /** the idf values and constants as a DuckDB-replayable SQL snippet
    * is intentionally NOT provided: the oracle recomputes df/N/avgdl
    * from the table and applies ln itself — an independent derivation
    * (glibc ln == Math.log bit-for-bit on this platform, asserted by
    * the oracle gate)
    */
}

/** The byte kernel of both BM25 passes: one walk over a text's UTF-8
  * bytes, in place, that counts the row's dl and each query term's tf.
  *
  * The words are the maximal `[A-Za-z0-9]` byte runs, exactly the words
  * `Bm25.termsCol` (`asciiWords(lower(text))`) yields. Each run is
  * compared in place with the lowercased terms, folding ASCII case; no
  * lowered copy and no word is built. A row holding a byte >= 0x80 is
  * first lowercased by the very call Spark's `lower` makes
  * (`CollationSupport.Lower.exec` with the column's collation and the
  * session's ICU flag), because lowering can create or split ASCII
  * words: U+212A KELVIN SIGN lowers to `k`, U+0130 to `i` + U+0307.
  * Collations whose lowercasing is not ASCII-to-ASCII on ASCII text
  * (locale collations: Turkish `I` → `ı`) lower every row.
  *
  * Cost is O(bytes · |terms|), plus one lowered copy for a non-ASCII
  * row. Query terms are distinct, so a run matches at most one.
  */
final class Bm25Terms(terms: Seq[String], collationId: Int, useICU: Boolean)
    extends Serializable {

  private val bytes: Array[Array[Byte]] = terms.map(_.getBytes(UTF_8)).toArray
  private val asciiInPlace: Boolean = {
    val c = CollationFactory.fetchCollation(collationId)
    c.isUtf8BinaryType || c.isUtf8LcaseType
  }

  def size: Int = bytes.length

  /** the row's dl (its word count); `tf(j)` is set to the count of
    * term j
    */
  def count(s: UTF8String, tf: Array[Int]): Int = {
    java.util.Arrays.fill(tf, 0)
    if (asciiInPlace) {
      val dl = walk(s, tf, stopAtHigh = true)
      if (dl >= 0) return dl
      java.util.Arrays.fill(tf, 0)
    }
    walk(CollationSupport.Lower.exec(s, collationId, useICU), tf, stopAtHigh = false)
  }

  /** the word count of `s`, or -1 at its first byte >= 0x80 when
    * `stopAtHigh`
    */
  private def walk(s: UTF8String, tf: Array[Int], stopAtHigh: Boolean): Int = {
    val n = s.numBytes()
    var dl = 0
    var i = 0
    while (i < n) {
      val c = s.getByte(i)
      if (Bm25Terms.isWord(c)) {
        val start = i
        i += 1
        while (i < n && Bm25Terms.isWord(s.getByte(i))) i += 1
        dl += 1
        val j = find(s, start, i - start)
        if (j >= 0) tf(j) += 1
      } else if (c < 0 && stopAtHigh) return -1
      else i += 1
    }
    dl
  }

  /** the term equal to the run `[start, start + len)` of `s`, or -1 */
  private def find(s: UTF8String, start: Int, len: Int): Int = {
    var j = 0
    while (j < bytes.length) {
      val t = bytes(j)
      if (t.length == len) {
        // a run holds only [A-Za-z0-9]: | 0x20 lowers a letter and
        // keeps a digit
        var k = 0
        while (k < len && (s.getByte(start + k) | 0x20) == t(k)) k += 1
        if (k == len) return j
      }
      j += 1
    }
    -1
  }
}

object Bm25Terms {

  /** the stats job's task over rows whose last column is the text:
    * (N, Σdl, df per term) of one partition; a null text is a document
    * of no words. Defined in this small class because Spark's
    * ClosureCleaner reads the bytes of the class that defines a closure
    * on every job.
    */
  def statsTask(kernel: Bm25Terms): (TaskContext, Iterator[InternalRow]) => Array[Long] =
    (_, rows) => {
      val nq = kernel.size
      val st = new Array[Long](2 + nq)
      val tf = new Array[Int](nq)
      rows.foreach { r =>
        st(0) += 1
        val text = r.numFields - 1
        if (!r.isNullAt(text)) {
          st(1) += kernel.count(r.getUTF8String(text), tf)
          var j = 0
          while (j < nq) { if (tf(j) > 0) st(2 + j) += 1; j += 1 }
        }
      }
      st
    }

  private def isWord(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')
}

/** One row's BM25 score straight from its text: [[Bm25Terms]] counts
  * dl and each query term's tf in one walk of the bytes, then
  * `idf * ((tf*(k1+1)) / (tf + k1*((1-b) + b*dl/avgdl)))` is combined
  * per term in query order (0.0 for an absent term), summed left to
  * right. Returns struct(score, n_matched), or null when no query term
  * occurs (also for a null text).
  *
  * The per-query constants (terms, idfs, k1, b, avgdl) reach generated
  * code as reference objects, never as literals: the generated source
  * is then the same for every query of one arity, and one compiled
  * class serves them all. `useICU` is the session flag Spark's `lower`
  * reads; the collation comes from the child's type.
  */
case class Bm25TextScore(child: Expression, terms: Seq[String],
    idfs: Seq[Double], k1: Double, b: Double, avgdl: Double, useICU: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  // plans name the BM25 scorer `bm25score`, whatever its input form
  override def prettyName: String = "bm25score"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType =>
      if (terms.length != idfs.length)
        TypeCheckResult.TypeCheckFailure(s"$prettyName needs one idf per term")
      else TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING, got ${dt.catalogString}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("n_matched", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  @transient private lazy val kernel: Bm25Terms =
    new Bm25Terms(terms, child.dataType.asInstanceOf[StringType].collationId, useICU)
  @transient private lazy val idfArr: Array[Double] = idfs.toArray
  // k1 + 1 and 1 - b are formed once, as the oracle SQL writes them
  @transient private lazy val params: Array[Double] =
    Array(k1 + 1.0, k1, 1.0 - b, b, avgdl)

  override def nullSafeEval(v: Any): Any =
    Bm25TextScore.score(v.asInstanceOf[UTF8String], kernel, idfArr, params)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val termsRef = ctx.addReferenceObj("bm25Terms", kernel, "graft.rag.Bm25Terms")
    val idfsRef = ctx.addReferenceObj("bm25Idfs", idfArr, "double[]")
    val paramsRef = ctx.addReferenceObj("bm25Params", params, "double[]")
    nullSafeCodeGen(ctx, ev, s =>
      s"""
         |${ev.value} = graft.rag.Bm25TextScore$$.MODULE$$.score($s, $termsRef, $idfsRef, $paramsRef);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object Bm25TextScore {

  /** static entry for generated code; `params` is
    * (k1 + 1, k1, 1 - b, b, avgdl)
    */
  def score(s: UTF8String, terms: Bm25Terms, idfs: Array[Double],
      params: Array[Double]): InternalRow = {
    val nq = terms.size
    val tf = new Array[Int](nq)
    val dl = terms.count(s, tf).toDouble
    val k1p1 = params(0)
    val k1 = params(1)
    val omb = params(2)
    val b = params(3)
    val avgdl = params(4)
    var matched = 0L
    var acc = 0.0
    var j = 0
    while (j < nq) {
      val contrib =
        if (tf(j) == 0) 0.0
        else {
          matched += 1
          val t = tf(j).toDouble
          idfs(j) * ((t * k1p1) / (t + k1 * (omb + b * dl / avgdl)))
        }
      // left to right from the first term: the oracle's s1 + s2 + …
      acc = if (j == 0) contrib else acc + contrib
      j += 1
    }
    if (matched == 0L) null
    else new GenericInternalRow(Array[Any](acc, matched))
  }
}
