package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.gen.TranscriptGen
import graft.multimodal.Multimodal
import graft.rag.{AnnLsh, HashEmbedder, Similarity, TopK}
import graft.sources.Sources
import graft.store.{Manifest, StoreOps}

/** Distributed-path integration tests: the checkpoint/resume protocol,
  * store semantics, sources and sinks, and JVM↔Column twin consistency.
  */
class SparkOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_test").toString

  test("manifest: kill after k partitions, resume processes exactly n-k") {
    import spark.implicits._
    val transcripts = spark.range(0, 30)
      .flatMap(i => TranscriptGen.genConv(42L, i)._1).toDF()
    val out = tmpDir() + "/out"
    val mdir = tmpDir() + "/manifest"
    val n = 8
    // first run "dies" after 3 of 8 partitions (maxBatches=3, one
    // partition per commit)
    val first = Manifest.runResumable(spark, transcripts, out, mdir, n,
      partitionsPerCommit = 1, maxBatches = 3)
    assert(first == 3)
    val m1 = Manifest.load(spark, mdir)
    assert(m1.filter(col("status") === "done").count() == 3)
    // resume: exactly the remaining 5, nothing reprocessed
    val second = Manifest.runResumable(spark, transcripts, out, mdir, n)
    assert(second == n - 3)
    // output is complete and exactly-once per (conv_id, turn_idx)
    val result = spark.read.parquet(out)
    assert(result.count() == transcripts.count())
    assert(result.groupBy("conv_id", "turn_idx").count()
      .filter(col("count") > 1).isEmpty)
    // a third run is a no-op
    assert(Manifest.runResumable(spark, transcripts, out, mdir, n) == 0)
    // lineage metrics reconcile with the data
    val m2 = Manifest.load(spark, mdir)
    assert(m2.agg(sum("rows_out")).head.getLong(0) == transcripts.count())
  }

  test("resume is idempotent under partition re-run (overwrite, not append)") {
    import spark.implicits._
    val transcripts = spark.range(0, 10)
      .flatMap(i => TranscriptGen.genConv(42L, i)._1).toDF()
    val out = tmpDir() + "/out"
    val mdir = tmpDir() + "/manifest"
    Manifest.runResumable(spark, transcripts, out, mdir, 4)
    val count1 = spark.read.parquet(out).count()
    // simulate a lost manifest commit for partition 0: delete its rows
    val m = Manifest.load(spark, mdir).filter(col("partition_id") =!= 0)
    val mdir2 = tmpDir() + "/manifest2"
    m.write.mode(SaveMode.Overwrite).parquet(mdir2)
    // re-run: partition 0 is rewritten in place, count unchanged
    assert(Manifest.runResumable(spark, transcripts, out, mdir2, 4) == 1)
    assert(spark.read.parquet(out).count() == count1)
  }

  test("runResumable leaves the session's partition overwrite mode alone") {
    import spark.implicits._
    val key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)
    val before = spark.conf.get(key)
    val transcripts = spark.range(0, 4)
      .flatMap(i => TranscriptGen.genConv(42L, i)._1).toDF()
    Manifest.runResumable(spark, transcripts, tmpDir() + "/out",
      tmpDir() + "/manifest", 2)
    assert(spark.conf.get(key) == before)
    // a static partitioned overwrite still replaces the whole table
    val t = tmpDir() + "/t"
    Seq((0, "a"), (1, "b")).toDF("p", "v")
      .write.mode("overwrite").partitionBy("p").parquet(t)
    Seq((0, "a2")).toDF("p", "v")
      .write.mode("overwrite").partitionBy("p").parquet(t)
    assert(spark.read.parquet(t).as[(String, Int)].collect().toSet == Set(("a2", 0)))
  }

  test("manifest snapshot: latest committed attempt as of ts, intents invisible") {
    import spark.implicits._
    val epochMs = 1767225600000L
    def ts(off: Long) = new java.sql.Timestamp(epochMs + off * 1000L)
    val manifest = Seq(
      (0, "done", 1, Option(ts(0)), 10L, 9L, 1L),
      (0, "done", 2, Option(ts(100)), 12L, 12L, 0L), // later attempt
      (0, "started", 3, Option.empty[java.sql.Timestamp], 0L, 0L, 0L),
      (1, "done", 1, Option(ts(500)), 20L, 20L, 0L), // beyond early cutoffs
      (2, "started", 1, Option.empty[java.sql.Timestamp], 0L, 0L, 0L)
    ).toDF("partition_id", "status", "attempt", "finished_ts",
      "rows_out", "ok_rows", "err_rows")
    def snapAt(off: Long) =
      Manifest.snapshotAsOf(manifest, lit(ts(off)))
        .collect().map(r => r.getInt(0) -> (r.getInt(1), r.getLong(3))).toMap
    // before any commit: empty table state
    assert(Manifest.snapshotAsOf(manifest, lit(ts(-1))).isEmpty)
    // at t=0 only p0@attempt1; the dangling intent for p2 never surfaces
    assert(snapAt(0) == Map(0 -> (1, 10L)))
    // at t=200 the attempt-2 rewrite has superseded attempt 1
    assert(snapAt(200) == Map(0 -> (2, 12L)))
    // at t=1000 the full committed state; p2 (intent only) still absent
    assert(snapAt(1000) == Map(0 -> (2, 12L), 1 -> (1, 20L)))
    // snapshots grow monotonically in the partition dimension
    assert(snapAt(0).keySet.subsetOf(snapAt(200).keySet) &&
      snapAt(200).keySet.subsetOf(snapAt(1000).keySet))
  }

  test("readSnapshot sees exactly the committed partitions (exactly-once read)") {
    import spark.implicits._
    val transcripts = spark.range(0, 20)
      .flatMap(i => TranscriptGen.genConv(7L, i)._1).toDF()
    val out = tmpDir() + "/out"
    val mdir = tmpDir() + "/manifest"
    // a run that "dies" with 2 of 6 partitions committed
    Manifest.runResumable(spark, transcripts, out, mdir, 6,
      partitionsPerCommit = 1, maxBatches = 2)
    val m = Manifest.load(spark, mdir)
    val now = lit(new java.sql.Timestamp(System.currentTimeMillis() + 60000L))
    val snap = Manifest.readSnapshot(spark, out, m, now)
    val committed = m.filter(col("status") === "done")
      .select("partition_id").distinct().as[Int].collect().toSet
    assert(committed.size == 2)
    assert(snap.select("partition_id").distinct().as[Int].collect().toSet
      == committed)
    // the read reconciles with the manifest's lineage metrics
    assert(snap.count() ==
      m.filter(col("status") === "done").agg(sum("rows_out")).head.getLong(0))
    // time-travel to before the epoch: the table state is empty even
    // though bytes exist on disk — the manifest row IS the commit
    assert(Manifest.readSnapshot(spark, out, m,
      lit(new java.sql.Timestamp(0L))).isEmpty)
  }

  test("hash embedder: native expression == HOF composition == pure-JVM twin") {
    import spark.implicits._
    val texts = Seq("spark merge join table scan", "AT+CFUN=1 set mode.",
      "", "the the the", "one")
    val rows = texts.toDF("text")
      .select(HashEmbedder.embedding(col("text")).as("native"),
        ReferenceForms.embeddingHof(col("text")).as("hof"))
      .collect()
    texts.zip(rows).foreach { case (t, r) =>
      val native = r.getSeq[Double](0).toVector
      val hof = r.getSeq[Double](1).toVector
      assert(native == hof, s"native != hof for '$t'")
      assert(native == HashEmbedder.embed(t).toVector, s"native != twin for '$t'")
    }
  }

  test("cosine: HOF column matches scalar math, zero-norm yields 0.0") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0)),
      (Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)),
      (Array(0.0, 0.0, 0.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(got(1) == 0.0)
    assert(got(2) == 0.0)
  }

  test("lsh search returns a subset of brute-force ranking, same scores") {
    import spark.implicits._
    val vecs = (0L until 200L).map { i =>
      (i, HashEmbedder.embed(s"doc $i content ${i % 7}").map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val q = HashEmbedder.embed("doc 3 content 3")
    val brute = TopK.search(vecs, q, 200).select("vec_id", "score")
      .as[(Long, Double)].collect().toMap
    val lsh = AnnLsh.search(vecs, q, 10).select("vec_id", "score")
      .as[(Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (id, s) => assert(brute(id) == s) }
  }

  test("ivf search returns a subset of brute-force ranking, same scores") {
    import spark.implicits._
    val vecs = (0L until 200L).map { i =>
      (i, HashEmbedder.embed(s"doc $i content ${i % 7}").map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val q = HashEmbedder.embed("doc 3 content 3")
    val brute = TopK.search(vecs, q, 200).select("vec_id", "score")
      .as[(Long, Double)].collect().toMap
    val ivf = graft.rag.AnnIvf.search(vecs, q, 10).select("vec_id", "score")
      .as[(Long, Double)].collect()
    assert(ivf.nonEmpty)
    ivf.foreach { case (id, s) => assert(brute(id) == s) }
    // every vector lands in exactly one of the NCells cells
    val cents = graft.rag.AnnIvf.centroids(vecs)
    val cells = vecs.select(
      graft.rag.AnnIvf.cellCol(col("embedding"), cents)).as[Int].collect()
    assert(cells.forall(c => c >= 0 && c < graft.rag.AnnIvf.NCells))
  }

  test("ivf k-means: deterministic training, exact scores, recall beats first-N centroids") {
    import spark.implicits._
    val vecs = (0L until 200L).map { i =>
      (i, HashEmbedder.embed(s"doc $i content ${i % 7}").map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val q = HashEmbedder.embed("doc 3 content 3")
    val bruteTop = TopK.search(vecs, q, 10).select("vec_id", "score")
      .as[(Long, Double)].collect()
    val bruteAll = TopK.search(vecs, q, 200).select("vec_id", "score")
      .as[(Long, Double)].collect().toMap
    def recall(hits: Array[(Long, Double)]): Double =
      hits.map(_._1).toSet.intersect(bruteTop.map(_._1).toSet).size / 10.0
    val km = graft.rag.AnnIvf.searchKmeans(vecs, q, 10)
      .select("vec_id", "score").as[(Long, Double)].collect()
    km.foreach { case (id, s) => assert(bruteAll(id) == s) } // exact within probe
    val firstN = graft.rag.AnnIvf.search(vecs, q, 10)
      .select("vec_id", "score").as[(Long, Double)].collect()
    assert(recall(km) >= recall(firstN),
      s"kmeans recall ${recall(km)} < first-N recall ${recall(firstN)}")
    assert(recall(km) >= 0.5, s"kmeans recall ${recall(km)}")
    // training is deterministic: same corpus → identical centroids
    val c1 = graft.rag.AnnIvf.kmeansCentroids(vecs)
    val c2 = graft.rag.AnnIvf.kmeansCentroids(vecs)
    assert(c1.map(_.toVector) == c2.map(_.toVector))
  }

  test("driver entry smoke: flagship query yields rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("store: appendDedup keeps newest row per chunk_id") {
    import spark.implicits._
    val existing = Seq(("c1", "old"), ("c2", "old")).toDF("chunk_id", "v")
    val batch = Seq(("c2", "new"), ("c3", "new")).toDF("chunk_id", "v")
    val merged = StoreOps.appendDedup(existing, batch)
      .as[(String, String)].collect().toMap
    assert(merged == Map("c1" -> "old", "c2" -> "new", "c3" -> "new"))
  }

  test("multimodal: binary plumbing round-trips deterministically") {
    import spark.implicits._
    val df = Seq((1L, "hello media payload"), (2L, "")).toDF("doc_id", "text")
    val metas = Multimodal.decodeMeta(df).collect().sortBy(_.doc_id)
    assert(metas(0).byte_len == 19)
    assert(metas(0).digest.length == 64)
    assert(metas(0).n_frames == 1)
    assert(metas(0).frame_offsets == Seq(0))
    assert(metas(0).width >= 1 && metas(0).width <= 1021)
    // stable across runs
    val again = Multimodal.decodeMeta(df).collect().sortBy(_.doc_id)
    assert(metas.toSeq == again.toSeq)
  }

  test("sources: binaryFile scan, markdown sink, truncate, exit code") {
    import spark.implicits._
    // binaryFile scan over this repo's markdown docs
    val bf = Sources.binaryFiles(spark, sys.props("user.dir"), glob = "*.md",
      recursive = false)
    assert(bf.count() > 0)
    assert(bf.columns.contains("content") && bf.columns.contains("path"))
    // markdown sink partitions by conv bucket
    val extracted = graft.extract.ExtractPipeline.overTranscripts(
      spark.range(0, 3).flatMap(i => graft.gen.TranscriptGen.genConv(42L, i)._1).toDF())
    val out = java.nio.file.Files.createTempDirectory("mdsink").toString + "/md"
    Sources.writeMarkdown(extracted, out, buckets = 4)
    assert(spark.read.parquet(out).count() == extracted.count())
    // truncate empties but preserves schema
    Sources.truncate(spark, out)
    val after = spark.read.parquet(out)
    assert(after.count() == 0 && after.columns.contains("markdown"))
    // exit code from summary
    assert(Sources.exitCode(
      graft.extract.ExtractPipeline.summary(extracted)) == 0)
  }

  test("nearest_centroid fails loudly on dim mismatch and null elements") {
    val cents = Seq(Array(1.0, 0.0), Array(0.0, 1.0))
    def msgOf(t: Throwable): String = {
      val sb = new StringBuilder
      var c: Throwable = t
      while (c != null) { sb ++= " " + String.valueOf(c.getMessage); c = c.getCause }
      sb.toString
    }
    val mismatch = intercept[Throwable] {
      spark.range(1).select(graft.rag.VectorExprs.nearestCentroid(
        array(lit(1.0), lit(2.0), lit(3.0)), cents)).collect()
    }
    assert(msgOf(mismatch).contains("dim"))
    val nul = intercept[Throwable] {
      spark.range(1).select(graft.rag.VectorExprs.nearestCentroid(
        array(lit(1.0), lit(null).cast("double")), cents)).collect()
    }
    assert(msgOf(nul).contains("null element"))
    val ok = spark.range(1).select(graft.rag.VectorExprs.nearestCentroid(
      array(lit(0.9), lit(0.1)), cents)).head().getInt(0)
    assert(ok == 0)
  }
}
