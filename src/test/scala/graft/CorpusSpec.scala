package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.text.{Corpus, TextKernels}

/** Corpus-curation operators vs brute-force oracles: decontamination
  * (set intersection on word n-grams), repetition stats (hand-computed
  * duplicate-line / top-bigram fractions), distinctive terms (tf/df
  * recomputed naively), and the generalized n-shingle kernel.
  */
class CorpusSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def words(s: String): Vector[String] =
    "[A-Za-z0-9]+".r.findAllIn(s).toVector

  private def ngrams(s: String, n: Int): Set[String] =
    words(s).sliding(n).filter(_.size == n).map(_.mkString(" ")).toSet

  test("shingleHashes kernel generalizes to n: values = hash60 of string n-grams") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b", "", "one two three four five six seven",
      "dup dup dup dup")
    for (n <- Seq(2, 4, 5)) {
      val got = texts.toDF("text")
        .select(graft.text.TextExprs.shingleHashes(col("text"), distinct = false, n))
        .as[Seq[Long]].collect()
      val want = texts.map(t =>
        words(t).sliding(n).filter(_.size == n)
          .map(g => TextKernels.hash60(g.mkString(" "))).toSeq)
      assert(got.toSeq.map(_.toList) == want.map(_.toList), s"n=$n")
    }
  }

  test("decontaminate = naive n-gram set intersection, counts distinct hits") {
    import spark.implicits._
    val bench = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "one two three four five"))
    val train = Seq(
      (10L, "prefix alpha beta gamma delta suffix words"), // 1 shared 4-gram
      (11L, "one two three four five and one two three four again"), // several
      (12L, "completely different content with no overlap at all"),
      (13L, "alpha beta gamma delta epsilon full copy"), // 2 shared
      (14L, "short"))
    val got = Corpus.decontaminate(
      train.toDF("doc_id", "text"), bench.toDF("doc_id", "text"),
      "doc_id", "text", n = 4)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val benchSet = bench.map(_._2).flatMap(t => ngrams(t, 4)).toSet
    val want = train.map { case (id, t) =>
      val gs = ngrams(t, 4)
      val hits = gs.count(benchSet)
      id -> ((hits.toLong, gs.size.toLong, hits.toDouble / gs.size))
    }.filter(_._2._1 > 0).toMap
    assert(got == want)
    assert(!got.contains(12L) && !got.contains(14L))
  }

  test("decontaminate plan broadcasts the benchmark gram set (semi join, no shuffle of train grams)") {
    import spark.implicits._
    val df = spark.range(0, 200)
      .select(col("id").as("doc_id"),
        concat_ws(" ", lit("w"), col("id").cast("string"),
          lit("x y z common tail phrase")).as("text"))
    val plan = Corpus.decontaminate(
      df.filter(col("doc_id") % 10 =!= 0), df.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", n = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
  }

  test("repetitionStats: hand-computed fractions; short docs never flagged, long repeats are") {
    import spark.implicits._
    val longRep = Array.fill(60)("x y").mkString(" ") // 120 words, 119 grams
    val longOk = (1 to 120).map(i => s"w$i").mkString(" ") // all distinct
    val docs = Seq(
      // 4 non-empty lines, 1 distinct -> dup (4-1)/4 = 0.75; bigrams of
      // words a b a b a b a b -> 7 bigrams, top "a b" x4 -> 4/7; only
      // 7 grams < MinRepetitionGrams, so the flag stays 0 (short doc)
      (1L, "a b\na b\n\na b\na b"),
      // no duplicate lines, all bigrams distinct -> top 1/3, and NOT
      // repetitive (the pigeonhole trap the length guard exists for)
      (2L, "one two\nthree four"),
      (3L, ""), // no lines, no grams
      (4L, "single"), // 1 line, no bigrams
      (5L, longRep), // "x y" x60 -> top 60/119 > 0.2, above the guard
      (6L, longOk), // long and fully distinct -> top 1/119, not flagged
      // 6 identical lines: dup 5/6 at >= MinRepetitionLines lines ->
      // flagged through the LINE branch even though 11 grams < 49
      (7L, Array.fill(6)("same line").mkString("\n")))
    val got = Corpus.repetitionStats(docs.toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Double, Double, Int)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 0.75, 4.0 / 7.0, 0)))
    assert(got(1) == ((2L, 0.0, 1.0 / 3.0, 0)))
    assert(got(2) == ((3L, 0.0, 0.0, 0)))
    assert(got(3) == ((4L, 0.0, 0.0, 0)))
    assert(got(4) == ((5L, 0.0, 60.0 / 119.0, 1)))
    assert(got(5) == ((6L, 0.0, 1.0 / 119.0, 0)))
    assert(got(6) == ((7L, 5.0 / 6.0, 6.0 / 11.0, 1)))
  }

  test("stratifiedSample: per-group rates honored, deterministic, subset semantics") {
    import spark.implicits._
    val docs = (0L until 2000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "lang")
    val got = Corpus.stratifiedSample(docs, "doc_id", "lang",
      rates = Map("a" -> 0.5, "b" -> 0.1)).as[(Long, String)].collect()
    val byLang = got.groupBy(_._2).view.mapValues(_.length).toMap
    // sha-threshold sampling: expected 500 a's, 100 b's, binomial spread
    assert(math.abs(byLang("a") - 500) < 100, byLang.toString)
    assert(math.abs(byLang("b") - 100) < 50, byLang.toString)
    // repeatable and a rate-0 group drops out entirely
    val again = Corpus.stratifiedSample(docs, "doc_id", "lang",
      rates = Map("a" -> 0.5, "b" -> 0.1)).as[(Long, String)].collect()
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    val zeroB = Corpus.stratifiedSample(docs, "doc_id", "lang",
      rates = Map("a" -> 0.5)).as[(Long, String)].collect()
    assert(zeroB.forall(_._2 == "a"))
    // same salt+rate keeps the identical id set per group (subset of
    // the two-group run)
    assert(zeroB.map(_._1).toSet == got.filter(_._2 == "a").map(_._1).toSet)
  }

  test("compositionRollup: census rows; genuine NULLs do not collide with subtotals") {
    import spark.implicits._
    val docs = Seq(
      (0L, "en", Some("web"), 10L), (1L, "en", Some("web"), 20L),
      (2L, "en", Some("pdf"), 5L), (3L, "de", Some("web"), 7L),
      (4L, "en", None, 2L)) // genuine NULL source
      .toDF("doc_id", "lang", "source", "n_chars")
    val got = Corpus.compositionRollup(docs, "lang", "source", "n_chars")
      .as[(String, String, Long, Double)].collect().toSet
    assert(got == Set(
      ("en", "web", 2L, 30.0), ("en", "pdf", 1L, 5.0), ("de", "web", 1L, 7.0),
      ("en", "<null>", 1L, 2.0), // detail row for the NULL source...
      ("en", "<all>", 4L, 37.0), // ...distinct from en's subtotal
      ("de", "<all>", 1L, 7.0),
      ("<all>", "<all>", 5L, 44.0)))
  }

  test("corpus ops survive null text rows (dropped or zeroed, never crash)") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // repetition: the null doc stays with zero fractions (explode_outer)
    val rep = Corpus.repetitionStats(docs, "doc_id", "text")
      .as[(Long, Double, Double, Int)].collect().sortBy(_._1)
    assert(rep.length == 2 && rep(1) == ((2L, 0.0, 0.0, 0)))
    // decontaminate: null docs have no grams -> never contaminated
    val dec = Corpus.decontaminate(docs, docs.filter(col("doc_id") === 1),
      "doc_id", "text", n = 2).collect()
    assert(dec.map(_.getLong(0)).toSet == Set(1L))
    // pii: null text passes through as null, zero counts
    val pii = Corpus.redactPii(docs, "doc_id", "text")
      .as[(Long, Option[Long], Option[Long], Option[String])].collect().sortBy(_._1)
    assert(pii(1)._4.isEmpty)
    // boilerplate: null doc keeps an empty cleaned text, nothing removed
    val bp = Corpus.removeBoilerplateLines(docs, "doc_id", "text", minDocs = 2)
      .as[(Long, Option[Long], Option[String])].collect().sortBy(_._1)
    assert(bp.length == 2)
  }

  test("redactPii: emails and phones replaced with typed tokens, counts on original") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail a.b+c@test-site.org and x@y.io call 555-123-4567 end"),
      (2L, "no pii here at all"),
      (3L, "digits 12-34-56 not a phone, a@b no tld"))
    val got = Corpus.redactPii(docs.toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 2L, 1L, "mail [EMAIL] and [EMAIL] call [PHONE] end")))
    assert(got(1) == ((2L, 0L, 0L, "no pii here at all")))
    assert(got(2) == ((3L, 0L, 0L, "digits 12-34-56 not a phone, a@b no tld")))
  }

  test("removeBoilerplateLines: >=minDocs lines dropped everywhere, text rebuilt in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "BANNER\nunique one\nFOOTER"),
      (2L, "BANNER\nunique two\nFOOTER"),
      (3L, "BANNER\nunique three\nFOOTER\nBANNER"), // repeat within one doc counts once
      (4L, "only unique content\nBANNER"))
    val got = Corpus.removeBoilerplateLines(docs.toDF("doc_id", "text"),
      "doc_id", "text", minDocs = 3)
      .as[(Long, Long, String)].collect().sortBy(_._1)
    // BANNER in 4 docs, FOOTER in 3 -> both hot; uniques survive
    assert(got(0) == ((1L, 2L, "unique one")))
    assert(got(1) == ((2L, 2L, "unique two")))
    assert(got(2) == ((3L, 3L, "unique three")))
    assert(got(3) == ((4L, 1L, "only unique content")))
    // below the threshold nothing is removed
    val none = Corpus.removeBoilerplateLines(docs.toDF("doc_id", "text"),
      "doc_id", "text", minDocs = 5)
      .as[(Long, Long, String)].collect()
    assert(none.forall(_._2 == 0L))
    // the driver-collect guard fires rather than degrading
    val e = intercept[IllegalArgumentException] {
      Corpus.removeBoilerplateLines(docs.toDF("doc_id", "text"),
        "doc_id", "text", minDocs = 3, maxHotLines = 1)
    }
    assert(e.getMessage.contains("maxHotLines"))
  }

  test("dedupParagraphs: first occurrence wins, short paras exempt, order kept") {
    import spark.implicits._
    import graft.text.Dedup
    val big = "B" * 60 // substantial shared paragraph
    val docs = Seq(
      (1L, s"$big\n\nunique one is long enough to be a real paragraph here\n\nok"),
      (2L, s"intro two padded out to pass the fifty character floor\n\n$big\n\nok"),
      (3L, s"$big"), // all its content is a later duplicate -> cleaned empty
      (4L, "\n\n \n\n")) // only blank paragraphs -> absent from output
      .toDF("doc_id", "text")
    val got = Dedup.dedupParagraphs(docs, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toList
    assert(got.map(_._1) == List(1L, 2L, 3L)) // doc 4 has no paragraphs
    // doc 1 owns the first occurrence of `big`; "ok" is short-exempt
    assert(got(0) == ((1L, 3L, 0L,
      s"$big\n\nunique one is long enough to be a real paragraph here\n\nok")))
    // doc 2 loses its copy of `big` but keeps order of the rest
    assert(got(1) == ((2L, 3L, 1L,
      "intro two padded out to pass the fifty character floor\n\nok")))
    // doc 3 is entirely a duplicate
    assert(got(2) == ((3L, 1L, 1L, "")))
    // partition-layout independent (the window orders totally)
    val again = Dedup.dedupParagraphs(docs.repartition(5), "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toList
    assert(again == got)
    intercept[IllegalArgumentException] {
      Dedup.dedupParagraphs(docs, "doc_id", "text", minChars = 0)
    }
  }

  test("normalizeText: NFC composes, control chars stripped, whitespace canonical") {
    import spark.implicits._
    val docs = Seq(
      (1L, "  café \r\nxy\t\tz  end "), // the full mess
      (2L, "already clean"),
      (3L, "Å vs Å"), // ANGSTROM SIGN and A+ring both NFC to U+00C5
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = Corpus.normalizeText(docs, "doc_id", "text")
      .as[(Long, Option[Long], Option[Long], Option[String])].collect().sortBy(_._1)
    // BEL stripped (xy rejoins), tab run leaves one space before z
    assert(got(0)._4.contains("café \nxy z end"))
    assert(got(0)._2.contains(22L) && got(0)._3.contains(14L))
    assert(got(1)._4.contains("already clean"))
    assert(got(2)._4.contains("Å vs Å"))
    assert(got(3)._4.isEmpty && got(3)._2.isEmpty) // null text stays null
    // kernel fast path: already-NFC input returns the same values
    assert(graft.text.TextKernels.nfcNormalize(
      org.apache.spark.unsafe.types.UTF8String.fromString("plain")).toString == "plain")
  }

  test("mixtureSample: output token shares hit the targets, binding group kept whole") {
    import spark.implicits._
    // three groups with very different sizes; targets force heavy
    // downsampling of the big groups while the scarcest-per-weight
    // (binding) group is kept in full
    def doc(g: String, i: Long) = (g * 1 + i.toString, g,
      (1 to 20).map(j => s"tok$j w$i").mkString(" ")) // 40 tokens each
    val docs = ((1L to 400L).map(doc("en", _)) ++ (1L to 100L).map(doc("de", _)) ++
      (1L to 20L).map(doc("fr", _)) ++ Seq(("x1", "zz", "excluded group")))
      .toDF("doc_id", "lang", "text")
    val targets = Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2)
    val got = Corpus.mixtureSample(docs, "doc_id", "lang", "text", targets)
      .as[(String, String, Long)].collect()
    // binding group = argmin T/w = fr (800 tokens / 0.2 = 4000 <
    // en 16000/0.5, de 4000/0.3): kept in full
    assert(got.count(_._2 == "fr") == 20)
    assert(!got.exists(_._2 == "zz")) // non-target groups excluded
    // realized token shares within sampling noise of the targets
    val byG = got.groupBy(_._2).view.mapValues(_.map(_._3).sum.toDouble).toMap
    val total = byG.values.sum
    for ((g, w) <- targets)
      assert(math.abs(byG(g) / total - w) < 0.08,
        s"$g share ${byG(g) / total} vs target $w")
    // deterministic: same input partitioned differently, same rows
    val again = Corpus.mixtureSample(docs.repartition(7), "doc_id", "lang",
      "text", targets).as[(String, String, Long)].collect()
    assert(again.toSet == got.toSet)
    intercept[IllegalArgumentException] {
      Corpus.mixtureSample(docs, "doc_id", "lang", "text", Map("en" -> -0.1))
    }
    // an absent target group is an ERROR, not a silent renormalization
    val absent = intercept[IllegalArgumentException] {
      Corpus.mixtureSample(docs, "doc_id", "lang", "text",
        Map("en" -> 0.5, "nosuch" -> 0.5))
    }
    assert(absent.getMessage.contains("nosuch"))
    // a zero-token target group is an ERROR, not a silently empty output
    val zeroDocs = (docs.select(col("doc_id"), col("lang"), col("text"))
      .union(Seq(("e1", "empty", ""), ("e2", "empty", " ")).toDF()))
    val zero = intercept[IllegalArgumentException] {
      Corpus.mixtureSample(zeroDocs, "doc_id", "lang", "text",
        Map("en" -> 0.5, "empty" -> 0.5))
    }
    assert(zero.getMessage.contains("zero tokens"))
  }

  test("decontaminateBloom == decontaminate exactly, even at an absurd fpp") {
    import spark.implicits._
    // bloom prescreen + exact verify must lose NOTHING (no false
    // negatives) and add NOTHING (the semi-join kills the false
    // positives) — so the two-phase path is value-identical to the
    // exact broadcast path at any fpp. fpp=0.4 floods the verify
    // phase with false positives on purpose.
    val docs = (0L until 60L).map { i =>
      val text =
        if (i % 5 == 0) s"the quick brown fox jumps over the lazy dog $i"
        else s"totally unrelated content string number $i nothing shared here $i"
      (i, text)
    }.toDF("doc_id", "text")
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val exact = Corpus.decontaminate(train, bench, "doc_id", "text", n = 4)
      .as[(Long, Long, Long, Double)].collect().toSet
    for (fpp <- Seq(0.01, 0.4)) {
      val bloom = Corpus.decontaminateBloom(train, bench, "doc_id", "text",
        n = 4, fpp = fpp).as[(Long, Long, Long, Double)].collect().toSet
      assert(bloom == exact, s"fpp=$fpp diverged from the exact path")
    }
    // the no-count path: a caller-supplied capacity (here a gross
    // UNDER-estimate, saturating the filter into extra false
    // positives) must still be value-identical — only fpp degrades
    val estimated = Corpus.decontaminateBloom(train, bench, "doc_id", "text",
      n = 4, expectedGrams = 10).as[(Long, Long, Long, Double)].collect().toSet
    assert(estimated == exact, "expectedGrams path diverged from exact")
    assert(exact.nonEmpty)
    intercept[IllegalArgumentException] {
      Corpus.decontaminateBloom(train, bench, "doc_id", "text", fpp = 0.0)
    }
  }

  test("removeBoilerplateLines: hot set at the cap rides a broadcast, not a plan literal") {
    import spark.implicits._
    // 2000 hot lines, cap exactly 2000: every line must still be
    // dropped AND none of them may appear embedded in the plan — the
    // probe is a broadcast set, not a typedLit array (which near the
    // 100k default cap would inline megabytes into codegen)
    val hotN = 2000
    val hotLines = (0 until hotN).map(i => f"HOT_$i%05d")
    val body = hotLines.mkString("\n")
    val docs = (1L to 3L).map(i => (i, s"$body\nunique $i")).toDF("doc_id", "text")
    val got = Corpus.removeBoilerplateLines(docs, "doc_id", "text",
      minDocs = 3, maxHotLines = hotN)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("HOT_00000"), "hot line leaked into the plan as a literal")
    val rows = got.as[(Long, Long, String)].collect().sortBy(_._1)
    assert(rows.map(_._2).toSeq == Seq.fill(3)(hotN.toLong))
    assert(rows.map(_._3).toSeq == Seq("unique 1", "unique 2", "unique 3"))
  }

  test("BottomKAgg = k smallest distinct values, partition-independent") {
    import spark.implicits._
    import graft.text.BottomK
    val vals = Seq(9L, 3L, 7L, 3L, 1L, 8L, 1L, 5L, 2L, 6L)
    for (parts <- Seq(1, 4)) {
      val got = vals.toDF("v").repartition(parts)
        .agg(BottomK.bottomK(org.apache.spark.sql.functions.col("v"), 4))
        .as[Seq[Long]].head()
      assert(got == Seq(1L, 2L, 3L, 5L))
    }
    // k larger than the distinct universe -> the whole sorted set
    val all = vals.toDF("v")
      .agg(BottomK.bottomK(org.apache.spark.sql.functions.col("v"), 100))
      .as[Seq[Long]].head()
    assert(all == vals.distinct.sorted)
  }

  test("corpusSimilarity: identical slices estimate 1.0, disjoint slices 0.0") {
    import spark.implicits._
    val shared = (1 to 40).map(i => s"shared w$i body token").mkString(" ")
    val docs = Seq(
      (1L, "a", shared), (2L, "b", shared), // identical content
      (3L, "c", (1 to 40).map(i => s"totally different z$i").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val got = Corpus.corpusSimilarity(docs, "lang", "text", k = 64)
      .as[(String, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._5).toMap
    assert(got(("a", "b")) == 1.0)
    assert(got(("a", "c")) == 0.0 && got(("b", "c")) == 0.0)
  }

  test("packSequences: per-group running offsets, docs span cuts, partition-independent") {
    import spark.implicits._
    // token counts 3, 4, 2, 5 in id order within group "a"
    val docs = Seq(
      (1L, "a", "one two three"), (2L, "a", "x y z w"),
      (3L, "a", "p q"), (4L, "a", "a b c d e"),
      (10L, "b", "solo doc here")).toDF("doc_id", "lang", "text")
    for (parts <- Seq(1, 4)) {
      val got = Corpus.packSequences(docs.repartition(parts), "lang", "doc_id",
        "text", seqTokens = 5)
        .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
      // cumsums in group a: 0,3,7,9 -> seq floor(/5): 0,0,1,1; offsets 0,3,2,4
      assert(got.map(r => (r._1, r._4, r._5)).toSeq == Seq(
        (1L, 0L, 0L), (2L, 0L, 3L), (3L, 1L, 2L), (4L, 1L, 4L),
        (10L, 0L, 0L)))
    }
  }

  test("distinctiveTerms = naive tf/df ranking") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple cherry"),
      (2L, "banana cherry cherry date"),
      (3L, "apple date date date Elder"))
    val got = Corpus.distinctiveTerms(docs.toDF("doc_id", "text"), "doc_id", "text", k = 2)
      .as[(Long, String, Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._6) -> (r._2, r._3, r._4, r._5)).toMap
    // naive recompute
    val tf = docs.flatMap { case (id, t) => words(t).map(w => (id, w.toLowerCase)) }
      .groupBy(identity).map { case ((id, w), xs) => (id, w, xs.size.toLong) }
    val df = tf.groupBy(_._2).map { case (w, xs) => w -> xs.size.toLong }
    val want = tf.toSeq.map { case (id, w, n) => (id, w, n, df(w), n.toDouble / df(w)) }
      .groupBy(_._1).flatMap { case (_, ts) =>
        ts.sortBy(t => (-t._5, t._2)).take(2).zipWithIndex.map { case (t, i) =>
          (t._1, i + 1) -> (t._2, t._3, t._4, t._5)
        }
      }.toMap
    assert(got == want)
  }

  test("QualityModel separates planted good prose from planted garbage") {
    import spark.implicits._
    import graft.text.QualityModel
    // good: real English prose — stopwords present, low punctuation,
    // ordinary word lengths. bad: markup/symbol soup and stopword-free
    // keyword stuffing — the document classes a trained quality
    // filter exists to drop.
    val good = Seq(
      "the quick brown fox jumps over the lazy dog and it runs to the " +
        "river where a family of ducks is swimming in the morning sun",
      "it is a truth universally acknowledged that a single man in " +
        "possession of a good fortune must be in want of a wife and the " +
        "neighbourhood said so too")
    val bad = Seq(
      "$$$ !!! ### ~~~ ((( ))) *** %%% @@@ ^^^ &&& ||| ??? ::: ;;; ===",
      "buy cheap buy cheap buy cheap pills pills pills casino casino " +
        "bonus bonus click click here here now now win win big big")
    val docs = (good ++ bad).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val scored = QualityModel.score(docs, "doc_id", "text")
      .as[(Long, Double, Int)].collect().sortBy(_._1)
    val (g, b) = scored.partition(_._1 < good.length)
    assert(g.forall(_._3 == 1), s"good prose rejected: ${g.toList}")
    assert(b.forall(_._3 == 0), s"garbage kept: ${b.toList}")
    // the margin is real, not a threshold graze
    assert(g.map(_._2).min > b.map(_._2).max + 0.5)
  }

  test("vocab census scale switch: approx_count_distinct within HLL bound") {
    import spark.implicits._
    // three language slices with different true vocabulary sizes —
    // the exact count is the oracle-gated small-SF path, HLL++ the
    // documented 100 TB switch (one mergeable sketch per group, one
    // exchange); this pins the switch's error against the exact gate
    val docs = (0 until 3).flatMap { l =>
      (0 until 120).map { d =>
        val vocab = 400 * (l + 1)
        val terms = (0 until 60).map(i => s"w${l}x${(d * 37 + i * 11) % vocab}")
        (s"lang$l", terms.mkString(" "))
      }
    }.toDF("lang", "text")
    val tokens = graft.util.Staged.explodeOnce(docs, Seq(col("lang")),
      graft.text.Dedup.wordsCol(lower(col("text"))), "term")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = toMap(tokens.groupBy("lang")
      .agg(count_distinct(col("term")).as("n")))
    val approx = toMap(tokens.groupBy("lang")
      .agg(approx_count_distinct(col("term"), 0.02).as("n")))
    assert(exact.keySet == approx.keySet && exact.size == 3)
    exact.foreach { case (lang, n) =>
      assert(n > 0 && math.abs(approx(lang) - n).toDouble / n < 0.06,
        s"$lang: exact=$n approx=${approx(lang)}")
    }
  }
}
