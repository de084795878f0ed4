package graft.rag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Product quantization ANN (Jégou et al., TPAMI 2011 — the FAISS
  * IVF-PQ family, public design): split each d-dim vector into `m`
  * subvectors, quantize every subvector to one of `ks` per-subspace
  * centroids (the codebook), and rank candidates by asymmetric
  * distance (ADC): dist(q, x) ≈ Σ_j ‖q_j − cb[j][code_j(x)]‖², where
  * the per-subspace lookup table lut[j][k] = ‖q_j − cb[j][k]‖² is
  * computed ONCE per query on the driver.
  *
  * Scale story (the reason PQ exists): a 100 TB float corpus
  * compresses to m bytes/vector (here 8 — a 32× reduction at d=64
  * float32), so the candidate scan reads codes, not vectors, and the
  * per-candidate cost is m table lookups + m−1 adds — no
  * multiplications. Codebooks are trained on a bounded deterministic
  * sample (the same train-on-sample / assign-distributed split as the
  * IVF coarse quantizer), cached per corpus snapshot, and shipped as
  * literals into the encode kernel — the encode pass is one narrow
  * map-side projection. Combined with the IVF coarse filter
  * (partition pruning by probe cell), the query touches nprobe cells'
  * codes only. This implementation quantizes the raw vectors (not
  * IVF residuals) — the simpler public variant (FAISS "PQx8np"-like);
  * the residual refinement is a training detail, not a dataflow
  * change.
  *
  * Determinism: sampling is xxhash64-ordered (order-free across
  * partitionings), k-means init is farthest-point (Gonzalez 1985)
  * with fixed tie rules, and every distance is a strict left-fold of
  * IEEE doubles — the DuckDB oracle re-derives codes AND ADC scores
  * bit-for-bit from the inlined codebook literals.
  */
object AnnPq {

  val M = 8 // subspaces
  val Ks = 32 // centroids per subspace (256 at production scale)

  /** deterministic per-subspace L2 k-means codebooks, trained once per
    * snapshot ([[graft.store.Snapshot.artifact]]).
    */
  def codebooks(emb: DataFrame, m: Int = M, ks: Int = Ks, iters: Int = 5,
      maxSample: Int = 4096, keyCol: String = "vec_id",
      embeddingCol: String = "embedding"): Seq[Seq[Array[Double]]] =
    graft.store.Snapshot.artifact(emb, s"pq|$m|$ks|$iters|$maxSample|$keyCol|$embeddingCol") {
      val sample = AnnIvf.trainingSample(emb, maxSample, keyCol, embeddingCol)
      require(sample.nonEmpty, "PQ training needs a non-empty corpus")
      val dim = sample.head.length
      require(dim % m == 0, s"PQ: dim $dim not divisible by m=$m")
      val sub = dim / m
      (0 until m).map { j =>
        val pts = sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
        kmeansL2(pts, ks, iters).toSeq
      }
    }

  private[graft] def l2sq(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  /** plain L2 Lloyd k-means with farthest-point init (seed = first
    * sample point; next = max min-distance to the chosen set, ties to
    * the lowest sample index); empty clusters keep their old centroid.
    * Driver-local over the bounded sample — never the full corpus.
    */
  private[rag] def kmeansL2(points: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    val kk = math.min(k, points.length)
    val cents = scala.collection.mutable.ArrayBuffer(points(0))
    while (cents.length < kk) {
      val next = points.indices.maxBy { i =>
        (cents.map(c => l2sq(points(i), c)).min, -i)
      }
      cents += points(next)
    }
    var cs = cents.toArray.map(_.clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(kk)(new Array[Double](points.head.length))
      val counts = new Array[Int](kk)
      points.foreach { p =>
        val c = argminL2(p, cs)
        counts(c) += 1
        var d = 0
        while (d < p.length) { sums(c)(d) += p(d); d += 1 }
      }
      cs = cs.zipWithIndex.map { case (old, i) =>
        if (counts(i) == 0) old
        else sums(i).map(_ / counts(i))
      }
    }
    cs
  }

  /** first strict minimum wins — the same rule as the encode kernel
    * and the oracle's ORDER BY d, k.
    */
  private[graft] def argminL2(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.PositiveInfinity
    var i = 0
    while (i < cs.length) {
      val d = l2sq(v, cs(i))
      if (d < bestD) { best = i; bestD = d }
      i += 1
    }
    best
  }

  /** per-subspace ADC lookup table for a query vector. */
  def lut(q: Array[Double], cbs: Seq[Seq[Array[Double]]]): Seq[Array[Double]] = {
    val m = cbs.length
    val sub = cbs.head.head.length
    require(q.length == m * sub,
      s"PQ lut: query dim ${q.length} != m*sub ${m * sub}")
    cbs.zipWithIndex.map { case (cb, j) =>
      val qj = java.util.Arrays.copyOfRange(q, j * sub, (j + 1) * sub)
      cb.map(c => l2sq(qj, c)).toArray
    }
  }

  /** PQ code column: array<int> of length m (native one-pass kernel —
    * the composed HOF form would re-scan the vector per subspace per
    * centroid, interpreted).
    */
  def encodeCol(v: Column, cbs: Seq[Seq[Array[Double]]]): Column = {
    import org.apache.spark.sql.GraftExprBridge._
    toColumn(PqEncode(toExpression(v), cbs.map(_.map(_.toSeq))))
  }

  /** ADC score from a codes column: a fixed chain of literal-array
    * lookups, lut[0][code_0] + … + lut[m−1][code_m−1] (left-assoc —
    * the order the oracle's list_reduce replays). Pure built-ins,
    * whole-stage codegen.
    */
  def adcScore(codes: Column, lutv: Seq[Array[Double]]): Column =
    lutv.zipWithIndex.map { case (l, j) =>
      element_at(typedLit(l.toSeq), element_at(codes, j + 1) + 1)
    }.reduceLeft(_ + _)

  /** IVF-PQ search with exact refine (the FAISS IVFPQ+R protocol):
    * coarse probe filter (AnnIvf cells) → ADC rank over PQ codes →
    * keep the k·refine shortlist → exact L2 re-rank of the shortlist.
    * Returns (keyCol, adist, dist) ascending by exact dist.
    *
    * Scale shape: the scan-heavy phase touches only codes (m bytes/
    * vector) in the probed cells; full vectors are randomly accessed
    * for just k·refine rows — the standard accuracy/IO trade, since
    * raw ks-entry-per-subspace ADC alone is a coarse rank (recall
    * measured in PqSpec). Both ranks use (score, key) tie order.
    */
  def search(emb: DataFrame, queryVec: Array[Double], k: Int,
      embeddingCol: String = "embedding", keyCol: String = "vec_id",
      refine: Int = 4): DataFrame = {
    val cbs = codebooks(emb, keyCol = keyCol, embeddingCol = embeddingCol)
    val coarse = AnnIvf.centroids(emb, keyCol, embeddingCol)
    val probes = AnnIvf.probeCells(queryVec, coarse)
    val lutv = lut(queryVec, cbs)
    val shortlist = emb
      .filter(AnnIvf.cellCol(col(embeddingCol), coarse).isin(probes: _*))
      .withColumn("codes", encodeCol(col(embeddingCol), cbs))
      .withColumn("adist", adcScore(col("codes"), lutv))
      .orderBy(col("adist").asc, col(keyCol).asc)
      .limit(k * refine)
    // exact ‖v−q‖² over the shortlist only (k·refine rows — the HOF
    // fold is off the hot path by construction); 0.0-seeded left fold
    // = the oracle's list_reduce over squares (all non-negative)
    val exactD = aggregate(
      zip_with(col(embeddingCol).cast("array<double>"),
        typedLit(queryVec.toSeq), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    shortlist
      .withColumn("dist", exactD)
      .orderBy(col("dist").asc, col(keyCol).asc)
      .limit(k)
      .select(keyCol, "adist", "dist")
  }
}

/** vector → array<int> PQ codes: per subspace j, the index of the
  * L2-nearest codebook entry (first strict minimum wins). One native
  * pass over the row vector; codebooks ride along as a codegen
  * reference object.
  */
case class PqEncode(child: Expression, cbs: Seq[Seq[Seq[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      if (cbs.isEmpty || cbs.exists(_.isEmpty))
        TypeCheckResult.TypeCheckFailure(s"$prettyName needs non-empty codebooks")
      else if (cbs.flatten.exists(_.length != cbs.head.head.length))
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName codebook entries must all share one sub-dimension")
      else TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT> or ARRAY<DOUBLE>, got ${dt.catalogString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  @transient private lazy val cbArr: Array[Array[Array[Double]]] =
    cbs.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val isFloat =
    child.dataType == ArrayType(FloatType, false) ||
      child.dataType == ArrayType(FloatType, true)

  override def nullSafeEval(v: Any): Any =
    PqEncode.encode(v.asInstanceOf[ArrayData], isFloat, cbArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCbs", cbArr, "double[][][]")
    defineCodeGen(ctx, ev, a =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) graft.rag.PqEncode$$.MODULE$$.encode($a, $isFloat, $cbRef)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object PqEncode {

  /** static entry for generated code. Malformed rows fail loudly (the
    * NearestCentroid rule): null elements or a dim ≠ m·sub vector
    * would otherwise encode to a silently-wrong code.
    */
  def encode(arr: ArrayData, isFloat: Boolean,
      cbs: Array[Array[Array[Double]]]): ArrayData = {
    val m = cbs.length
    val sub = cbs(0)(0).length
    val n = arr.numElements()
    if (n != m * sub)
      throw new IllegalArgumentException(
        s"PqEncode: vector dim $n != m*sub ${m * sub}")
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i))
        throw new IllegalArgumentException(
          s"PqEncode: null element at index $i in input vector")
      v(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val cb = cbs(j)
      val off = j * sub
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < cb.length) {
        val cv = cb(c)
        var acc = 0.0
        var d = 0
        while (d < sub) { val x = v(off + d) - cv(d); acc += x * x; d += 1 }
        if (acc < bestD) { best = c; bestD = acc }
        c += 1
      }
      codes(j) = best
      j += 1
    }
    ArrayData.toArrayData(codes)
  }
}
