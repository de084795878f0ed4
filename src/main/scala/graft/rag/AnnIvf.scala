package graft.rag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.store.Snapshot

/** IVF-style ANN (inverted-file coarse quantizer, as in FAISS's
  * IVF-Flat, public design): assign every vector to its nearest
  * coarse centroid ("cell"); a query probes only the `nprobe` cells
  * nearest to it, then ranks candidates exactly.
  *
  * Scale path: the cell id is a small-int column — bucket-partitioned
  * layout turns a probe into `nprobe` partition scans (same pushdown
  * shape as AnnLsh, but data-adaptive). At 100 TB the centroid table
  * comes from a sampled k-means job; in this deterministic sandbox the
  * coarse centroids are the first `nCells` vectors of the corpus —
  * fixed, reproducible, and shared bit-for-bit with the DuckDB oracle.
  */
object AnnIvf {

  val NCells = 16
  val NProbe = 2

  /** deterministic coarse centroids: embeddings of the nCells smallest
    * keys, as doubles. Trained once per snapshot ([[Snapshot.artifact]]).
    */
  def centroids(emb: DataFrame, keyCol: String = "vec_id",
      embeddingCol: String = "embedding", nCells: Int = NCells): Seq[Array[Double]] =
    Snapshot.artifact(emb, s"first|$nCells|$keyCol|$embeddingCol") {
      // first nCells rows by key — works for any orderable key domain
      // (not just dense 0-based ids)
      val cents = emb.orderBy(col(keyCol)).limit(nCells)
        .select(col(embeddingCol).cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toArray).toSeq
      require(cents.nonEmpty, "IVF needs a non-empty corpus for centroids")
      cents
    }

  /** cell = index of the max-cosine centroid; first max wins ties
    * (same rule as the oracle's ORDER BY s DESC, cid). Native one-pass
    * expression — the composed `array_position(array(cosine×k), ...)`
    * form re-evaluates the vector per centroid inside FilterExec (no
    * subexpression elimination there), measured 10× slower.
    */
  def cellCol(e: Column, cents: Seq[Array[Double]]): Column =
    VectorExprs.nearestCentroid(e, cents)

  /** strict left-fold cosine on the driver — same IEEE op order as the
    * Column/oracle forms, for the query-side cell ranking.
    */
  private[rag] def cosineJvm(a: Array[Double], b: Array[Double]): Double = {
    val na = math.sqrt(dotJvm(a, a))
    val nb = math.sqrt(dotJvm(b, b))
    if (na == 0.0 || nb == 0.0) 0.0 else dotJvm(a, b) / (na * nb)
  }

  /** the query's nprobe nearest cells (desc score, asc cid on ties). */
  def probeCells(queryVec: Array[Double], cents: Seq[Array[Double]],
      nprobe: Int = NProbe): Seq[Int] =
    cents.zipWithIndex
      .map { case (c, i) => (cosineJvm(queryVec, c), i) }
      .sortBy { case (s, i) => (-s, i) }
      .take(nprobe).map(_._2)

  /** IVF-restricted exact top-k. */
  def search(emb: DataFrame, queryVec: Array[Double], k: Int,
      embeddingCol: String = "embedding", keyCol: String = "vec_id"): DataFrame =
    probeTopK(emb, centroids(emb, keyCol, embeddingCol), queryVec, k,
      embeddingCol, keyCol)

  /** exact top-k over the rows of the query's nprobe nearest cells */
  private def probeTopK(emb: DataFrame, cents: Seq[Array[Double]],
      queryVec: Array[Double], k: Int, embeddingCol: String,
      keyCol: String): DataFrame = {
    val probes = probeCells(queryVec, cents)
    TopK.search(
      emb.filter(cellCol(col(embeddingCol), cents).isin(probes: _*)),
      queryVec, k, embeddingCol, keyCol)
  }

  // ---- k-means coarse quantizer (the production centroid path) ----

  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** Deterministic sampled spherical k-means, the FAISS-style training
    * recipe: take a bounded deterministic sample (smallest xxhash64 of
    * the key — order-free, reproducible across partitionings), init by
    * farthest-point traversal (Gonzalez 1985 — spreads seeds across
    * the data, unlike first-N keys which mirror ingest order), then
    * Lloyd iterations with cosine assignment. Training is
    * driver-local over ≤ maxSample·dim doubles — the same "train on a
    * sample, assign distributed" split a 100 TB corpus uses, since
    * centroid quality needs samples, not the full corpus.
    */
  def kmeansCentroids(emb: DataFrame, nCells: Int = NCells, iters: Int = 5,
      maxSample: Int = 4096, keyCol: String = "vec_id",
      embeddingCol: String = "embedding"): Seq[Array[Double]] =
    Snapshot.artifact(emb, s"kmeans|$nCells|$iters|$maxSample|$keyCol|$embeddingCol") {
      kmeansTrain(emb, nCells, iters, maxSample, keyCol, embeddingCol)
    }

  /** the bounded training sample shared by the k-means quantizer and
    * the PQ codebooks: the maxSample rows of smallest xxhash64(key), as
    * doubles. TakeOrdered: per-partition heap, no full sort. The key
    * tiebreak keeps an xxhash64 collision at the sample boundary from
    * making the training set partition-layout-dependent.
    */
  private[rag] def trainingSample(emb: DataFrame, maxSample: Int,
      keyCol: String, embeddingCol: String): Array[Array[Double]] =
    emb
      .select(col(embeddingCol).cast("array<double>").as("v"),
        xxhash64(col(keyCol)).as("h"), col(keyCol).as("k"))
      .orderBy(col("h"), col("k"))
      .limit(maxSample)
      .collect().map(_.getSeq[Double](0).toArray)

  private def kmeansTrain(emb: DataFrame, nCells: Int, iters: Int,
      maxSample: Int, keyCol: String,
      embeddingCol: String): Seq[Array[Double]] = {
    val sample = trainingSample(emb, maxSample, keyCol, embeddingCol).map(normalize)
    require(sample.nonEmpty, "k-means needs a non-empty corpus")
    val k = math.min(nCells, sample.length)
    // farthest-point init: seed with sample(0), then repeatedly take
    // the point with the smallest max-dot (= farthest by cosine) to
    // the chosen set; ties resolve to the lowest sample index
    val cents = scala.collection.mutable.ArrayBuffer(sample(0))
    while (cents.length < k) {
      val next = sample.indices.minBy { i =>
        (cents.map(c => dotJvm(sample(i), c)).max, i)
      }
      cents += sample(next)
    }
    var cs = cents.toArray.map(normalize)
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](sample.head.length))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        val cell = assignJvm(v, cs)
        counts(cell) += 1
        var d = 0
        while (d < v.length) { sums(cell)(d) += v(d); d += 1 }
      }
      cs = cs.zipWithIndex.map { case (old, i) =>
        if (counts(i) == 0) old else normalize(sums(i))
      }
    }
    cs.toSeq
  }

  private[rag] def dotJvm(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** nearest centroid by cosine; first max wins ties (cellCol rule) */
  private[rag] def assignJvm(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestScore = Double.NegativeInfinity
    var i = 0
    while (i < cs.length) {
      val s = cosineJvm(v, cs(i))
      if (s > bestScore) { best = i; bestScore = s }
      i += 1
    }
    best
  }

  /** IVF top-k over k-means-trained cells. */
  def searchKmeans(emb: DataFrame, queryVec: Array[Double], k: Int,
      embeddingCol: String = "embedding", keyCol: String = "vec_id"): DataFrame =
    probeTopK(emb, kmeansCentroids(emb, keyCol = keyCol, embeddingCol = embeddingCol),
      queryVec, k, embeddingCol, keyCol)
}
