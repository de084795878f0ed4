package graft.rag

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExprBridge.toColumn
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** V2/V3 — cosine similarity (/root/reference/src/rag_engine/
  * embeddings.py:76-134): normalize + dot, zero-norm → 0.0.
  *
  * Built on the native `VectorExprs.dotProduct` expression — no UDF,
  * stays inside whole-stage codegen, and its strict left-to-right sum
  * is bit-reproducible against the DuckDB oracle's `list_reduce`.
  */
object Similarity {

  // "array<double>" as an object: a type string is parsed on every call
  private val Doubles = ArrayType(DoubleType)
  // the type `typedLit` gives an Array[Double], without the runtime
  // reflection it runs on every call
  private val QueryType = ArrayType(DoubleType, containsNull = false)

  /** native codegen'd dot (VectorExprs) — identical fold order to the
    * HOF form `aggregate(zip_with(a,b,_*_), 0.0, _+_)`, ~10x faster on
    * pair joins.
    */
  def dot(a: Column, b: Column): Column =
    VectorExprs.dotProduct(a.cast(Doubles), b.cast(Doubles))

  def norm(a: Column): Column = {
    val ad = a.cast(Doubles)
    sqrt(VectorExprs.dotProduct(ad, ad))
  }

  def cosine(a: Column, b: Column): Column = cosine(a, b, norm(b))

  /** cosine against one query vector. The vector and its norm reach
    * generated code as reference objects: a folded norm would be a
    * double literal, and each new literal compiles new classes. The
    * norm is the same fold `norm` computes.
    */
  def cosineTo(a: Column, q: Array[Double]): Column =
    cosine(a, toColumn(Literal.create(q, QueryType)),
      VectorExprs.param(math.sqrt(NearestCentroid.selfDot(q))))

  private def cosine(a: Column, b: Column, nb: Column): Column = {
    val na = norm(a)
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(dot(a, b) / (na * nb))
  }
}
