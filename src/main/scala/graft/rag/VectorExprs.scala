package graft.rag

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native Catalyst expression for the dot product of two
  * `array<double>` columns — the hot kernel of cosine scoring, LSH
  * bucketing and near-dup pair joins.
  *
  * Why not `aggregate(zip_with(...))`: higher-order functions are
  * CodegenFallback — every lambda step is interpreted, which at an
  * O(n²) pair join (millions of 64-element dots) dominates runtime.
  * This expression generates a tight primitive loop inside whole-stage
  * codegen. The fold order (index 0..n-1, accumulator starts at 0.0)
  * is EXACTLY the HOF/oracle fold order, so scores stay bit-identical
  * to the DuckDB oracle.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprs.requireDoubleArrays(prettyName, left.dataType, right.dataType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh locals — two DotProducts in one codegen scope would
      // otherwise redefine them and silently fall back to interpreted
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** L2-normalize an `array<double>` in ONE pass (zero-norm input is
  * returned unchanged). Exists because the composed Column form
  * `transform(v, x => x / norm(v))` inlines the norm subtree into the
  * per-element lambda — the whole child expression would be
  * re-evaluated ~2×dim times per row. Fold order of the norm matches
  * the oracle's `sqrt(list_reduce(list_transform(v, x->x*x)))`.
  */
case class L2Normalize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprs.requireDoubleArrays(prettyName, child.dataType)
  override def dataType: DataType = child.dataType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    L2Normalize.eval(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) graft.rag.L2Normalize$$.MODULE$$.eval($a)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object L2Normalize {
  /** static entry for generated code */
  def eval(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { val x = arr.getDouble(i); acc += x * x; i += 1 }
    val nrm = math.sqrt(acc)
    if (nrm == 0.0) arr
    else {
      val out = new Array[Double](n)
      i = 0
      while (i < n) { out(i) = arr.getDouble(i) / nrm; i += 1 }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
    }
  }
}

/** Index of the max-cosine centroid for a vector column — the IVF cell
  * assignment kernel. One native pass: the row vector is read ONCE
  * (norm, then k dots), vs the composed Column form
  * `array_position(array(cosine×k), array_max(...))` which — inside a
  * FilterExec, where Spark does no subexpression elimination — re-casts
  * and re-scans the array ~4k times per row (measured 10× slower).
  *
  * Scoring is bit-identical to the composed form and the DuckDB
  * oracle: score_i = (na==0 || nc_i==0) ? 0 : dot/(na*nc_i), strict
  * left-to-right folds, first max wins ties.
  */
case class NearestCentroid(child: Expression, cents: Seq[Seq[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      if (cents.nonEmpty && cents.exists(_.length != cents.head.length))
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName centroids must all share one dimension")
      else TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT> or ARRAY<DOUBLE>, got ${dt.catalogString}")
  }
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  @transient private lazy val centArr: Array[Array[Double]] =
    cents.map(_.toArray).toArray
  @transient private lazy val centNorms: Array[Double] =
    centArr.map(c => math.sqrt(NearestCentroid.selfDot(c)))
  @transient private lazy val isFloat =
    child.dataType == org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType, false) ||
      child.dataType == org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, true)

  override def nullSafeEval(v: Any): Any =
    NearestCentroid.assign(v.asInstanceOf[ArrayData], isFloat, centArr, centNorms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", centArr, "double[][]")
    val normsRef = ctx.addReferenceObj("centNorms", centNorms, "double[]")
    defineCodeGen(ctx, ev, a =>
      s"graft.rag.NearestCentroid$$.MODULE$$.assign($a, $isFloat, $centsRef, $normsRef)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object NearestCentroid {

  private[rag] def selfDot(c: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < c.length) { acc += c(i) * c(i); i += 1 }
    acc
  }

  /** static entry for generated code. Malformed rows FAIL loudly: a
    * null element or a dimension mismatch would otherwise read garbage
    * through the primitive accessors and return a silently-wrong cell.
    */
  def assign(arr: ArrayData, isFloat: Boolean, cents: Array[Array[Double]],
      centNorms: Array[Double]): Int = {
    val n = arr.numElements()
    if (cents.nonEmpty && n != cents(0).length)
      throw new IllegalArgumentException(
        s"NearestCentroid: vector dim $n != centroid dim ${cents(0).length}")
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(
          s"NearestCentroid: null element at index $i in input vector")
      v(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    val na = math.sqrt(selfDot(v))
    var best = 0
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      val m = math.min(n, cv.length)
      var dot = 0.0
      i = 0
      while (i < m) { dot += v(i) * cv(i); i += 1 }
      val score =
        if (na == 0.0 || centNorms(c) == 0.0) 0.0
        else dot / (na * centNorms(c))
      if (score > bestScore) { best = c; bestScore = score }
      c += 1
    }
    best
  }
}

/** A per-query double that reaches generated code as a reference
  * object. Not foldable, so no rule turns it into a literal: the
  * generated source, and the compiled class, are the same whatever its
  * value.
  */
case class DoubleParam(value: Double)
    extends org.apache.spark.sql.catalyst.expressions.LeafExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", java.lang.Double.valueOf(value), "java.lang.Double")
    ev.copy(code = code"final double ${ev.value} = $ref;", isNull = FalseLiteral)
  }
}

object VectorExprs {
  import org.apache.spark.sql.GraftExprBridge._

  /** analysis-time type gate: every argument must be array<double> */
  private[rag] def requireDoubleArrays(fn: String, dts: DataType*): TypeCheckResult =
    dts.find {
      case ArrayType(DoubleType, _) => false
      case _ => true
    } match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(dt) => TypeCheckResult.TypeCheckFailure(
        s"$fn requires ARRAY<DOUBLE> arguments, got ${dt.catalogString}")
    }

  /** Column wrapper; callers must pass array<double> (cast upstream). */
  def dotProduct(a: Column, b: Column): Column =
    toColumn(DotProduct(toExpression(a), toExpression(b)))

  /** one-pass L2 normalization of an array<double> column. */
  def l2Normalize(a: Column): Column =
    toColumn(L2Normalize(toExpression(a)))

  /** a query constant that never becomes a literal ([[DoubleParam]]) */
  def param(v: Double): Column = toColumn(DoubleParam(v))

  /** IVF cell id: index of the max-cosine centroid (float or double
    * array column).
    */
  def nearestCentroid(v: Column, cents: Seq[Array[Double]]): Column =
    toColumn(NearestCentroid(toExpression(v), cents.map(_.toSeq)))
}
