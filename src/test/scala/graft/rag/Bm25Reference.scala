package graft.rag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `Bm25.search` as it stood before the byte kernel, kept as the
  * reference the `src/main` form must equal row for row, doubles bit
  * for bit (Bm25PropertySpec): the corpus stats as one global
  * `agg(...).head()` over `Bm25.termsCol`'s word arrays, then the
  * array-form [[Bm25Score]] over the same arrays. The two tokenizations
  * per call and the 2-job aggregate are the shape being checked
  * against, not a pattern to follow.
  */
object Bm25Reference {
  import org.apache.spark.sql.GraftExprBridge._

  def search(docs: DataFrame, idCol: String, textCol: String,
      query: Seq[String], topK: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val q = query.map(_.toLowerCase(java.util.Locale.ROOT))
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      Bm25.termsCol(col(textCol)).as("ws"))
    // corpus stats in ONE bounded aggregate → 2 scalars + |q| dfs to
    // the driver. df(t) = #rows whose term array contains t — counted
    // as per-term conditional aggregates in the SAME pass as N and the
    // token mass.
    val statsRow = base.agg(
      count(lit(1)),
      (sum(size(col("ws"))) +:
        q.map(t => count(when(array_contains(col("ws"), t), 1)))): _*).head()
    val nDocs = statsRow.getLong(0)
    require(nDocs > 0, "empty corpus")
    val avgdl = statsRow.getLong(1).toDouble / nDocs.toDouble
    // Lucene-variant idf, computed once per query term on the driver
    val idfs = q.indices.map { i =>
      val df = statsRow.getLong(2 + i).toDouble
      math.log(1.0 + (nDocs.toDouble - df + 0.5) / (df + 0.5))
    }
    val scored = toColumn(Bm25Score(toExpression(col("ws")), q, idfs, k1, b, avgdl))
    // A row matching no query term scores null, and nulls sort last,
    // so they are dropped after the top-k. Filtered before it, the
    // predicate is pushed below the projection (FilterExec has no
    // subexpression elimination — the Staged.explodeOnce problem), and
    // every matching row would be tokenized and scored twice.
    base.select(col("doc_id"), scored.as("m"))
      .select(col("doc_id"), col("m.score").as("score"),
        col("m.n_matched").as("n_matched"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
      .filter(col("score").isNotNull)
  }
}

/** One row's BM25 score: a native pass over the row's token array
  * that counts tf for each of the |q| query terms, then combines
  * `idf * ((tf*(k1+1)) / (tf + k1*((1-b) + b*dl/avgdl)))` per term in
  * query order (0.0 for an absent term), summed left to right.
  * Returns struct(score, n_matched), or null when no query term occurs
  * (also for a null array; null elements count toward dl and match
  * nothing). Cost is O(tokens · |q|).
  *
  * The per-query constants (terms, idfs, k1, b, avgdl) reach generated
  * code as reference objects, never as literals: the generated source
  * is then the same for every query of one arity, and one compiled
  * class serves them all.
  */
case class Bm25Score(child: Expression, terms: Seq[String],
    idfs: Seq[Double], k1: Double, b: Double, avgdl: Double)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) =>
      if (terms.length != idfs.length)
        TypeCheckResult.TypeCheckFailure(s"$prettyName needs one idf per term")
      else TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING>, got ${dt.catalogString}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("n_matched", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  @transient private lazy val termArr: Array[UTF8String] =
    terms.map(UTF8String.fromString).toArray
  @transient private lazy val idfArr: Array[Double] = idfs.toArray
  // k1 + 1 and 1 - b are formed once, as the oracle SQL writes them
  @transient private lazy val params: Array[Double] =
    Array(k1 + 1.0, k1, 1.0 - b, b, avgdl)

  override def nullSafeEval(v: Any): Any =
    Bm25Score.score(v.asInstanceOf[ArrayData], termArr, idfArr, params)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val termsRef = ctx.addReferenceObj("bm25Terms", termArr,
      "org.apache.spark.unsafe.types.UTF8String[]")
    val idfsRef = ctx.addReferenceObj("bm25Idfs", idfArr, "double[]")
    val paramsRef = ctx.addReferenceObj("bm25Params", params, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |${ev.value} = graft.rag.Bm25Score$$.MODULE$$.score($a, $termsRef, $idfsRef, $paramsRef);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object Bm25Score {

  /** static entry for generated code; `params` is
    * (k1 + 1, k1, 1 - b, b, avgdl)
    */
  def score(ws: ArrayData, terms: Array[UTF8String], idfs: Array[Double],
      params: Array[Double]): InternalRow = {
    val nq = terms.length
    val tf = new Array[Int](nq)
    val n = ws.numElements()
    var i = 0
    while (i < n) {
      if (!ws.isNullAt(i)) {
        val w = ws.getUTF8String(i)
        var j = 0
        while (j < nq && !terms(j).equals(w)) j += 1
        if (j < nq) tf(j) += 1
      }
      i += 1
    }
    val k1p1 = params(0)
    val k1 = params(1)
    val omb = params(2)
    val b = params(3)
    val avgdl = params(4)
    val dl = n.toDouble
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
