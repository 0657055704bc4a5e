package graft

import org.apache.spark.sql.functions._
import graft.operators._
import graft.functions.VectorFunctions

class TextAnalysisSpec extends SparkSpec {
  test("token counts: char_count matches n_chars column; counts positive") {
    val joined = TextAnalysis.tokenCount(spark, Sf).as("t")
      .join(Tables.documents(spark, Sf).as("d"), col("t.doc_id") === col("d.doc_id"))
    assert(joined.filter(col("char_count") =!= col("n_chars")).count() == 0)
    assert(joined.filter(col("ws_token_count") <= 0).count() == 0)
  }

  test("fingerprint is deterministic and content-sensitive") {
    val a = TextAnalysis.fingerprint(spark, Sf).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = TextAnalysis.fingerprint(spark, Sf).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    // ≥99% of distinct texts should get distinct fingerprints on this corpus
    assert(a.values.toSet.size >= (a.size * 0.99).toInt)
  }

  test("quality score lands in [0,1]") {
    val bad = TextAnalysis.qualityScore(spark, Sf)
      .filter(col("quality_score") < 0 || col("quality_score") > 1).count()
    assert(bad == 0)
  }

  test("langid emits a prediction for every doc") {
    val df = TextAnalysis.langId(spark, Sf)
    assert(df.filter(col("predicted_lang").isNull).count() == 0)
  }

  test("readability: planted counts pin the FK chain; punctuation-free floors at one sentence") {
    import spark.implicits._
    // "the cat sat. the dog ran!" → 6 words, 2 sentence runs,
    // vowel groups: e,a,a,e,o,a = 6
    val docs = Seq(
      (1L, "the cat sat. the dog ran!"),
      (2L, "plain words only here"),       // no punctuation → 1 sentence
      (3L, "zzz qqq"))                     // no vowels → syllables floor 1
      .toDF("doc_id", "text")
    val got = TextAnalysis.textReadabilityFrom(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val d1 = got(1L)
    assert(d1.getAs[Int]("n_words") == 6)
    assert(d1.getAs[Int]("n_sentences") == 2)
    assert(d1.getAs[Int]("n_syllables") == 6)
    assert(d1.getAs[Double]("words_per_sentence") == 3.0)
    assert(d1.getAs[Double]("syllables_per_word") == 1.0)
    assert(d1.getAs[Double]("fk_grade") == 0.39 * 3.0 + 11.8 * 1.0 - 15.59)
    assert(d1.getAs[Double]("reading_ease") == 206.835 - 1.015 * 3.0 - 84.6 * 1.0)
    assert(got(2L).getAs[Int]("n_sentences") == 1)
    assert(got(2L).getAs[Double]("words_per_sentence") == 4.0)
    assert(got(3L).getAs[Int]("n_syllables") == 1)
    // sf: every doc scored, monotone identity — more words per
    // sentence at fixed syllable rate can only raise the grade
    val sf = TextAnalysis.textReadability(spark, Sf).collect()
    assert(sf.length == Tables.documents(spark, Sf).count())
    sf.foreach { r =>
      assert(r.getAs[Int]("n_words") >= 0 && r.getAs[Int]("n_sentences") >= 1)
      val reassembled = 0.39 * r.getAs[Double]("words_per_sentence") +
        11.8 * r.getAs[Double]("syllables_per_word") - 15.59
      assert(r.getAs[Double]("fk_grade") == reassembled)
    }
  }

  test("readability by source: pooled integer sums, not mean-of-scores; sf ties to per-doc") {
    import spark.implicits._
    // source a: "go on. stop!" (2w/2s/2syl) + "hi" (1w/1s/1syl floor);
    // source b: "aeiou bcd" (2w/1s floor/2syl: aeiou=1 group, bcd→floor... )
    val docs = Seq(
      ("a", "go on. stop!"), ("a", "hi"), ("b", "aeiou bcd"))
      .toDF("source", "text").withColumn("doc_id", monotonically_increasing_id())
    val got = TextAnalysis.readabilityBySourceFrom(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val a = got("a")
    assert(a.getAs[Long]("n_docs") == 2L)
    assert(a.getAs[Long]("n_words") == 4L)      // go, on, stop | hi
    assert(a.getAs[Long]("n_sentences") == 3L)  // 2 runs + floored 1
    // syllables: vowel groups o,o,o in doc1 + i in doc2 = 4
    assert(a.getAs[Long]("n_syllables") == 4L)
    assert(a.getAs[Double]("words_per_sentence") == 4.0 / 3.0)
    assert(a.getAs[Double]("syllables_per_word") == 4.0 / 4.0)
    val wps = 4.0 / 3.0; val spw = 1.0
    assert(a.getAs[Double]("fk_grade") == 0.39 * wps + 11.8 * spw - 15.59)
    // sf: per-source pooled counts equal the summed per-doc counts
    val perDoc = TextAnalysis.textReadability(spark, Sf)
      .join(Tables.documents(spark, Sf).select("doc_id", "source"), "doc_id")
      .groupBy("source").agg(
        sum(col("n_words").cast("long")).as("w"),
        sum(col("n_sentences").cast("long")).as("s"))
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("w"), r.getAs[Long]("s")))).toMap
    val sf = TextAnalysis.readabilityBySource(spark, Sf).collect()
    assert(sf.nonEmpty)
    sf.foreach { r =>
      val (w, sct) = perDoc(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_words") == w && r.getAs[Long]("n_sentences") == sct)
    }
  }

  test("source mix: planted token budgets exact; shares sum to 100") {
    import spark.implicits._
    // a: 2 docs × (3, 1) tokens = 4; b: 1 doc × 4 tokens
    val docs = Seq(
      ("a", "one two three"), ("a", "solo"), ("b", "w x y z"))
      .toDF("source", "text")
    val rows = TextAnalysis.sourceMixFrom(docs).collect()
    val m = rows.map(r => r.getAs[String]("source") ->
      ((r.getAs[Long]("doc_count"), r.getAs[Long]("token_count"),
        r.getAs[Double]("doc_share"), r.getAs[Double]("token_share")))).toMap
    assert(m("a")._1 == 2 && m("a")._2 == 4L)
    assert(m("b")._1 == 1 && m("b")._2 == 4L)
    assert(m("a")._4 == 50.0 && m("b")._4 == 50.0)
    assert(math.abs(m.values.map(_._3).sum - 100.0) < 1e-9)
    // sf invariant: doc counts tie out to the corpus
    val sf = TextAnalysis.sourceMix(spark, Sf)
      .agg(sum("doc_count")).collect().head.getLong(0)
    assert(sf == Tables.documents(spark, Sf).count())
  }

  test("quality threshold curve: suffix-cumulative cut costs, consistent with the bucket census") {
    import spark.implicits._
    // crafted: "hi" scores ~0.008 (bucket 0); the 135-word English doc
    // scores 0.4 + 0.3·(30/135) + 0.3 ≈ 0.767 (bucket 7)
    val good = Seq.fill(15)("the quick brown fox jumps over the lazy dog").mkString(" ")
    val crafted = TextAnalysis.qualityThresholdCurveFrom(
        Seq((1L, "hi"), (2L, good)).toDF("doc_id", "text")).collect()
      .map(r => r.getAs[Int]("threshold_decile") -> r.getAs[Long]("surviving_docs")).toMap
    assert(crafted(0) == 2L) // threshold 0 keeps everything
    assert(crafted(1) == 1L) // the short doc dies at the first real cut
    assert(crafted(7) == 1L) // the good doc survives its own decile
    assert(crafted(8) == 0L) // and dies above it
    // sf: full 10-row curve, non-increasing, anchored at 100%, and the
    // 0.5 cut agrees with the quality_buckets census mass at ≥5
    val curve = TextAnalysis.qualityThresholdCurve(spark, Sf).collect()
      .sortBy(_.getAs[Int]("threshold_decile"))
    assert(curve.length == 10)
    assert(curve.head.getAs[Double]("doc_pct") == 100.0)
    assert(curve.head.getAs[Long]("surviving_docs") ==
      Tables.documents(spark, Sf).count())
    assert(curve.map(_.getAs[Long]("surviving_docs")).sliding(2)
      .forall(p => p(0) >= p(1)))
    val ge5 = TextAnalysis.qualityBuckets(spark, Sf).collect()
      .filter(_.getAs[Int]("quality_bucket") >= 5)
      .map(_.getAs[Long]("doc_count")).sum
    assert(curve(5).getAs[Long]("surviving_docs") == ge5)
  }

  test("corpus funnel attributes each doc to its first failing gate and conserves the input") {
    import spark.implicits._
    // d1: too short → quality gate (first in priority, even though its
    // lang is also und); d2/d3: identical good-English docs → keeper
    // d2 survives, d3 drops as exact_dup; d4: 110 nonsense words —
    // quality passes on length+awl, no markers → language gate
    val good = Seq.fill(15)("the quick brown fox jumps over the lazy dog").mkString(" ")
    val nonsense = (1 to 110).map(i => s"qq$i").mkString(" ")
    val d = Seq((1L, "hi"), (2L, good), (3L, good), (4L, nonsense))
      .toDF("doc_id", "text")
    val got = TextAnalysis.corpusFunnelFrom(d).collect()
      .map(r => r.getAs[String]("stage") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Double]("pct_of_input"),
          r.getAs[Long]("remaining_after"), r.getAs[Long]("n_input")))).toMap
    assert(got("1_quality_gate") == ((1L, 25.0, 3L, 4L)))
    assert(got("2_language_gate") == ((1L, 25.0, 2L, 4L)))
    assert(got("3_exact_dup") == ((1L, 25.0, 1L, 4L)))
    assert(got("4_survived") == ((1L, 25.0, 1L, 4L)))
    // sf: the funnel partitions the corpus (stages sum to input) and
    // its survived row is EXACTLY clean_corpus's output count
    val sf = TextAnalysis.corpusFunnel(spark, Sf).collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_docs")).toMap
    assert(sf.values.sum == Tables.documents(spark, Sf).count())
    assert(sf("4_survived") == TextAnalysis.cleanCorpus(spark, Sf).count())
  }

  test("filter ablation: per-rule fail mass and unique kills on planted docs; survivors match the cascade") {
    import spark.implicits._
    // 100 distinct fillers + one 'the': en marker hit, top-word share
    // 1/101, all bigrams distinct — passes every gate
    val good = ((1 to 100).map(i => s"w$i") :+ "the").mkString(" ")
    val nonsense = (1 to 110).map(i => s"qq$i").mkString(" ")
    val d = Seq(
      (1L, good),              // survives every gate (the keeper)
      (2L, good),              // fails ONLY exact_dup → its unique kill
      (3L, nonsense),          // fails ONLY language (quality passes on
                               // length+awl; 110 distinct words)
      (4L, "hi"),              // fails quality AND min_words → unique
                               // kill for NEITHER
      (5L, null.asInstanceOf[String])) // NULL fails every content gate
      .toDF("doc_id", "text")
    val got = TextAnalysis.filterAblationFrom(d).collect()
      .map(r => r.getAs[String]("rule") ->
        ((r.getAs[Long]("n_fail"), r.getAs[Long]("n_unique_kill"),
          r.getAs[Long]("n_docs"), r.getAs[Long]("n_survived")))).toMap
    assert(got.keySet == Set("quality", "language", "exact_dup",
      "min_words", "top_word", "dup_bigram"))
    assert(got.values.forall { case (_, _, n, s) => n == 5L && s == 1L })
    assert(got("exact_dup") == ((1L, 1L, 5L, 1L)),
      s"the planted dup is the rule's only and unique kill: $got")
    assert(got("language")._2 == 1L,
      s"the nonsense doc must be language's unique kill: $got")
    assert(got("quality")._1 >= 2L && got("quality")._2 == 0L,
      s"short+null docs fail quality but not uniquely: $got")
    assert(got("min_words")._2 == 0L)
    assert(got.values.forall { case (f, u, _, _) => u <= f },
      "a unique kill is always a fail")
    // sf invariant: survivors == the conjunctive cascade's output
    val sf = TextAnalysis.filterAblation(spark, Sf).collect()
    assert(sf.map(_.getAs[Long]("n_survived")).distinct.toSeq ==
      Seq(TextAnalysis.cleanCorpusGopher(spark, Sf).count()),
      "ablation survivors must equal clean_corpus_gopher's count")
  }

  test("corpus mix plan: budget fills best-source-first and clips the marginal source exactly") {
    import spark.implicits._
    // three sources: prose-heavy (high stopword share), mixed, junk —
    // 40 / 30 / 30 tokens; budget 50% of 100 = 50 → prose taken whole
    // (40), mixed clipped to 10 (frac 1/3), junk gets 0
    val prose = "the cat is on the mat and the dog is in the den" +
      " of the old barn and a bird is on a twig"       // mostly stopwords
    val mixed = ("the quick brown fox " + (1 to 26).map(i => s"m$i").mkString(" "))
    val junk = (1 to 30).map(i => s"j$i").mkString(" ")
    val docs = Seq(
      (1L, prose, "en", "prose", 0L),
      (2L, "the a of in is on and or an to the a of in", "en", "prose", 0L),
      (3L, mixed, "en", "mixed", 0L),
      (4L, junk, "en", "junk", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.corpusMixPlanFrom(docs).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Int]("mix_rank"),
          r.getAs[Long]("alloc_tokens"), r.getAs[Double]("alloc_frac")))).toMap
    val total = got.values.map(_._1).sum
    val budget = total / 2
    assert(got("prose")._2 == 1, s"prose ranks first: $got")
    assert(got("prose")._3 == got("prose")._1, "the best source is taken whole")
    assert(got("mixed")._3 == budget - got("prose")._1,
      s"the marginal source is clipped to the remaining budget: $got")
    assert(got("junk")._3 == 0L, "past-budget sources get zero")
    assert(math.abs(got("mixed")._4 -
      got("mixed")._3.toDouble / got("mixed")._1) < 1e-15)
    // registry form at sf: allocations conserve the budget and never
    // exceed a source's own mass
    val sf = TextAnalysis.corpusMixPlan(spark, Sf).collect()
    val sfTotal = sf.map(_.getAs[Long]("n_tokens")).sum
    assert(sf.map(_.getAs[Long]("alloc_tokens")).sum ==
      math.min(sfTotal / 2, sfTotal))
    assert(sf.forall(r =>
      r.getAs[Long]("alloc_tokens") <= r.getAs[Long]("n_tokens")))
    // the budget CURVE: per pct the allocations conserve exactly the
    // integer budget, grow monotonically with pct per source, and the
    // 50% row reproduces the single-point plan bit-for-bit
    val curve = TextAnalysis.mixBudgetCurve(spark, Sf).collect()
    val byPct = curve.groupBy(_.getAs[Int]("budget_pct"))
    assert(byPct.keySet == (10 to 90 by 10).toSet)
    byPct.foreach { case (pct, rows) =>
      assert(rows.map(_.getAs[Long]("alloc_tokens")).sum ==
        sfTotal * pct / 100, s"pct $pct must conserve its budget")
    }
    val at50 = byPct(50)
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("alloc_tokens")).toMap
    assert(sf.map(r => r.getAs[String]("source") ->
      r.getAs[Long]("alloc_tokens")).toMap == at50,
      "the curve's 50% slice is the plan")
    val bySource = curve.groupBy(_.getAs[String]("source"))
    bySource.foreach { case (_, rows) =>
      val allocs = rows.sortBy(_.getAs[Int]("budget_pct"))
        .map(_.getAs[Long]("alloc_tokens"))
      assert(allocs.zip(allocs.tail).forall { case (a, b) => a <= b },
        "per-source allocation must grow with the budget")
    }
  }

  test("classifier calibration: mass conserves, extreme bins read the separable labels") {
    import spark.implicits._
    // the separable corpus from the classifier spec: long clean docs
    // with stopwords vs short repeated junk
    val clean = (0 until 8).map { i =>
      val words = (0 until 100).map(j => s"w${i}x$j")
      (i.toLong, (words.take(50) ++ Seq("the", "a", "of", "in", "is") ++ words.drop(50)).mkString(" "))
    }
    val junk = (0 until 8).map(i => (100L + i, Seq.fill(10)(s"spam$i").mkString(" ")))
    val docs = (clean ++ junk).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = TextAnalysis.qualityClassifierCalibrationFrom(spark, docs, iters = 60)
      .collect()
    assert(got.map(_.getAs[Long]("n_docs")).sum == 16L, "mass conserves")
    assert(got.forall(r => r.getAs[Int]("bin") >= 0 && r.getAs[Int]("bin") <= 9))
    val top = got.maxBy(_.getAs[Int]("bin"))
    val bottom = got.minBy(_.getAs[Int]("bin"))
    assert(top.getAs[Double]("label_rate") == 1.0,
      s"the top bin must hold only passing docs: ${got.mkString(";")}")
    assert(bottom.getAs[Double]("label_rate") == 0.0,
      s"the bottom bin must hold only junk: ${got.mkString(";")}")
    assert(got.forall(r => math.abs(r.getAs[Double]("gap") -
      (r.getAs[Double]("mean_p") - r.getAs[Double]("label_rate"))) < 1e-12))
    // registry form runs at sf
    val sf = TextAnalysis.qualityClassifierCalibration(spark, Sf).collect()
    assert(sf.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, Sf).count())
  }

  test("corpus funnel stays conserved on a nullable-text corpus (NULL fails its first gate)") {
    import spark.implicits._
    // a NULL text scores NULL quality and NULL lang; cleanCorpus's
    // conjunctive filter drops it, so the funnel must classify it at
    // the quality gate — never let it fall through to survived
    val good = Seq.fill(15)("the quick brown fox jumps over the lazy dog").mkString(" ")
    val d = Seq((1L, null.asInstanceOf[String]), (2L, good), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.corpusFunnelFrom(d).collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_docs")).toMap
    assert(got("1_quality_gate") == 2L, s"NULL docs must fail the quality gate: $got")
    // conservation: survived equals what the conjunctive clean filter
    // keeps (NULL gates evaluate NULL there and the doc drops)
    val cleaned = d
      .select(col("doc_id"), col("text"),
        TextAnalysis.qualityScoreCol.as("q"), TextAnalysis.predictedLangCol.as("pl"))
      .filter(col("q") >= 0.5 && col("pl").isin("en", "es", "de", "fr"))
      .count()
    assert(got("4_survived") == 1L && cleaned == 1L,
      "survived must equal the conjunctive clean filter's count on nullable text")
  }

  test("per-source funnel zero-fills the stage grid and ties back to the corpus-wide funnel") {
    import spark.implicits._
    val goodA = Seq.fill(15)("the quick brown fox jumps over the lazy dog").mkString(" ")
    val goodB = Seq.fill(15)("the small red hen walks to the old barn now").mkString(" ")
    val d = Seq(
      (1L, "s0", "hi"),   // quality gate
      (2L, "s0", goodA),  // survives
      (3L, "s1", goodB),  // keeper
      (4L, "s1", goodB))  // in-source exact dup
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.corpusFunnelBySourceFrom(d).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("stage")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Double]("pct_of_source"),
          r.getAs[Long]("source_input")))).toMap
    assert(got.size == 8) // 2 sources × 4 stages, zero rows included
    assert(got(("s0", "1_quality_gate")) == ((1L, 50.0, 2L)))
    assert(got(("s0", "3_exact_dup")) == ((0L, 0.0, 2L)))
    assert(got(("s0", "4_survived")) == ((1L, 50.0, 2L)))
    assert(got(("s1", "3_exact_dup")) == ((1L, 50.0, 2L)))
    assert(got(("s1", "4_survived")) == ((1L, 50.0, 2L)))
    // sf: summing sources per stage reproduces the corpus-wide funnel
    val bySource = TextAnalysis.corpusFunnelBySource(spark, Sf).collect()
      .groupBy(_.getAs[String]("stage")).view
      .mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    val whole = TextAnalysis.corpusFunnel(spark, Sf).collect()
      .map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_docs")).toMap
    assert(bySource == whole)
  }

  test("clean corpus composes quality+lang+dedup in one scan and one hash exchange") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val langs = Seq("en", "es", "de", "fr")
    val df = TextAnalysis.cleanCorpus(spark, Sf, minQuality = 0.5, langs = langs)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("quality_score") >= 0.5)
      assert(langs.contains(r.getAs[String]("predicted_lang")))
    }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = TextAnalysis.cleanCorpus(spark, Sf).queryExecution.executedPlan
      assert(plan.collect { case s: FileSourceScanExec => s }.length == 1,
        "cleaning pass must read documents exactly once")
      val hashEx = plan.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.toString.contains("hashpartitioning") => e
      }
      assert(hashEx.length == 1,
        s"expected only the dedup-window exchange, got ${hashEx.length}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("repetition signals match a plain-Scala recompute on every doc") {
    val got = TextAnalysis.repetition(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_words"), r.getAs[Int]("top_word_count"),
         r.getAs[Double]("dup_bigram_frac"), r.getAs[Double]("dup_trigram_frac"))).toMap
    val docs = Tables.documents(spark, Sf).select("doc_id", "text").collect()
    assert(docs.nonEmpty && got.size == docs.length)
    docs.foreach { r =>
      val words = r.getAs[String]("text").trim.split("\\s+").toSeq
      def grams(n: Int) = if (words.length < n) Seq.empty
        else words.sliding(n).map(_.mkString(" ")).toSeq
      val (g2, g3) = (grams(2), grams(3))
      val expTop = if (words.isEmpty) 0 else words.groupBy(identity).values.map(_.size).max
      val (n, top, d2, d3) = got(r.getAs[Long]("doc_id"))
      assert(n == words.length && top == expTop)
      assert(d2 == (g2.size - g2.distinct.size).toDouble / math.max(g2.size, 1))
      assert(d3 == (g3.size - g3.distinct.size).toDouble / math.max(g3.size, 1))
    }
  }

  test("rarity score matches a plain-Scala global-frequency recompute") {
    val docs = Tables.documents(spark, Sf).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").trim.split("\\s+").toSeq)
    val freq = docs.flatMap(_._2).groupBy(identity).map { case (w, ws) => w -> ws.size }
    val got = TextAnalysis.rarityScore(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_rare"), r.getAs[Double]("mean_word_freq"))).toMap
    assert(got.size == docs.length)
    docs.foreach { case (id, words) =>
      val (n, rare, mean) = got(id)
      assert(n == words.length)
      assert(rare == words.count(w => freq(w) < 5))
      assert(mean == words.map(w => freq(w).toLong).sum.toDouble / words.length)
    }
  }

  test("bigram rarity matches a plain-Scala global-bigram recompute; <2-token docs emit no row") {
    val docs = Tables.documents(spark, Sf).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").trim.split("\\s+").toSeq.sliding(2)
          .filter(_.length == 2).map(_.mkString(" ")).toSeq)
    val freq = docs.flatMap(_._2).groupBy(identity).map { case (b, bs) => b -> bs.size }
    val got = TextAnalysis.bigramRarity(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_rare"),
          r.getAs[Double]("mean_bigram_freq")))).toMap
    assert(got.size == docs.count(_._2.nonEmpty))
    docs.filter(_._2.nonEmpty).foreach { case (id, bgs) =>
      val (n, rare, mean) = got(id)
      assert(n == bgs.length)
      assert(rare == bgs.count(b => freq(b) < 3))
      assert(mean == bgs.map(b => freq(b).toLong).sum.toDouble / bgs.length)
    }
  }

  test("token histogram: boundary words land in the right power-of-two bin") {
    import spark.implicits._
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      ("s1", words(15)), ("s1", words(16)), ("s1", words(17)),
      ("s2", words(1024)), ("s2", words(1)))
      .toDF("source", "text")
    val got = TextAnalysis.tokenHistogramFrom(docs).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("bin_lo")) ->
        ((r.getAs[Long]("docs"), r.getAs[Long]("total_tokens")))).toMap
    assert(got == Map(
      ("s1", 0) -> ((1L, 15L)), ("s1", 16) -> ((2L, 33L)),
      ("s2", 0) -> ((1L, 1L)), ("s2", 1024) -> ((1L, 1024L))))
  }

  test("contamination check matches a plain-Scala gram-overlap recompute") {
    val docs = Tables.documents(spark, Sf).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").trim.split("\\s+").toSeq.sliding(3)
          .filter(_.length == 3).map(_.mkString(" ")).toSet).toMap
    val bench = docs.collect { case (id, g) if id % 97 == 0 => g }
      .foldLeft(Set.empty[String])(_ ++ _)
    val expected = docs.collect {
      case (id, g) if id % 97 != 0 && (g & bench).nonEmpty =>
        id -> (g.size.toLong, (g & bench).size.toLong)
    }
    val got = TextAnalysis.contaminationCheck(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_overlap"))).toMap
    assert(got.nonEmpty, "the corpus should contain contaminated docs")
    assert(got == expected)
  }

  test("tokenizer fertility: per-lang rollup matches a driver recompute of the shared estimator") {
    import spark.implicits._
    val got = TextAnalysis.tokenizerFertility(spark, Sf).collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("word_count"),
          r.getAs[Long]("est_bpe_tokens"), r.getAs[Double]("fertility")))).toMap
    // driver recompute from the per-doc estimator the query claims to
    // share (text_bpe_estimate is oracle-green, so est is trusted)
    val perDoc = TextAnalysis.bpeEstimate(spark, Sf)
      .join(Tables.documents(spark, Sf).select("doc_id", "lang"), "doc_id")
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Int]("ws_token_count").toLong,
        r.getAs[Int]("est_bpe_tokens").toLong))
    val expected = perDoc.filter(_._1 != null).groupBy(_._1).map { case (l, rows) =>
      val w = rows.map(_._2).sum; val t = rows.map(_._3).sum
      l -> ((rows.size.toLong, w, t, t.toDouble / w.toDouble))
    }
    assert(got.nonEmpty && got == expected)
    // fertility is >= 1 by construction (est = greatest(words, ...))
    got.values.foreach { case (_, _, _, f) => assert(f >= 1.0) }
  }

  test("text entropy: closed forms, driver-exact recompute, zero shuffle") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam"),            // one word → H = 0, ratio 0
      (2L, "alpha beta gamma delta"),         // all distinct → H = log2(4) = 2, ratio 1
      (3L, "a a b b c c d d"),                // uniform over 4 → H = 2, ratio 1
      (4L, "x x x y z"),                      // mixed — pinned by driver recompute
      (5L, "   "), (6L, null.asInstanceOf[String]) // blank/null drop
    ).toDF("doc_id", "text")
    val got = TextAnalysis.textEntropyFrom(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_distinct"),
          r.getAs[Double]("entropy_bits"), r.getAs[Double]("entropy_ratio")))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L)._3 == 0.0 && got(1L)._4 == 0.0)
    assert(math.abs(got(2L)._3 - 2.0) < 1e-12 && math.abs(got(2L)._4 - 1.0) < 1e-12)
    assert(math.abs(got(3L)._3 - 2.0) < 1e-12 && math.abs(got(3L)._4 - 1.0) < 1e-12)
    // driver-exact recompute for the mixed doc: counts {x:3, y:1, z:1}
    // — replicating the r14 quantized-term model (each c·log2(c) and
    // log2(n) rounds to a 1e-4-bit integer grid before combining)
    def h(cs: Seq[Int]): Double = {
      val n = cs.sum
      def lg2(x: Double) = math.log(x) / math.log(2.0)
      val sumq = cs.filter(_ > 1).map(c => math.round(c * lg2(c.toDouble) * 10000.0)).sum
      val nq = math.round(lg2(n.toDouble) * 10000.0)
      math.max((nq.toDouble - sumq.toDouble / n) / 10000.0, 0.0)
    }
    assert(math.abs(got(4L)._3 - h(Seq(3, 1, 1))) < 1e-9)
    assert(got(4L)._1 == 5L && got(4L)._2 == 3L)
    // the computation is a pure narrow map: the only exchange allowed
    // is the presentation sort's rangepartitioning — no aggregation /
    // join shuffle (hashpartitioning) anywhere
    val plan = TextAnalysis.textEntropyFrom(docs.repartition(4))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"), s"entropy must not shuffle:\n$plan")
  }
}

class QualityClassifierSpec extends SparkSpec {
  import graft.operators.TextAnalysis

  private def corpus(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("LR quality classifier separates a planted clean/garbage corpus exactly") {
    // 8 clean docs (100+ short varied words + stopwords → quality
    // ≥ 0.5, every gate green) vs 8 garbage docs (short, one repeated
    // token) — the Gopher label splits them and a linear scorer must too
    val clean = (0 until 8).map { i =>
      val words = (0 until 100).map(j => s"w${i}x$j")
      (i.toLong, (words.take(50) ++ Seq("the", "a", "of", "in", "is") ++ words.drop(50)).mkString(" "))
    }
    val junk = (0 until 8).map(i => (100L + i, Seq.fill(10)(s"spam$i").mkString(" ")))
    val docs = corpus(clean ++ junk)
    val m = TextAnalysis.trainQualityLr(docs, iters = 60, step = 1.0)
    assert(m.lossF < m.loss0, s"loss must fall: ${m.loss0} -> ${m.lossF}")
    val cells = TextAnalysis.qualityClassifierEvalFrom(spark, docs, iters = 60)
      .collect()
      .map(r => (r.getAs[Long]("pred_pass"), r.getAs[Long]("label_pass")) ->
        r.getAs[Long]("n_docs")).toMap
    assert(cells.getOrElse((1L, 1L), 0L) == 8L, s"clean docs must score pass: $cells")
    assert(cells.getOrElse((0L, 0L), 0L) == 8L, s"garbage must score fail: $cells")
    assert(!cells.contains((1L, 0L)) && !cells.contains((0L, 1L)))
    // the model frame is well-formed: 5 features + intercept, finite
    val model = TextAnalysis.qualityClassifierFrom(spark, docs, iters = 60)
      .collect()
    assert(model.length == TextAnalysis.LrFeatureNames.size + 1)
    assert(model.forall(r => !r.getAs[Double]("weight_std").isNaN &&
      !r.getAs[Double]("weight_raw").isNaN))
  }

  test("trained-model memo: one training serves the family, outputs match fresh, rewrites miss") {
    import spark.implicits._
    def close(a: Double, b: Double): Boolean =
      (a - b).abs <= 1e-9 * math.max(1.0, math.max(a.abs, b.abs))
    TextAnalysis.qualityLrMemo.clear()
    val before = TextAnalysis.qualityLrMemo.builds
    val model = TextAnalysis.qualityClassifier(spark, Sf).collect()
    val eval = TextAnalysis.qualityClassifierEval(spark, Sf).collect()
    val calib = TextAnalysis.qualityClassifierCalibration(spark, Sf).collect()
    assert(TextAnalysis.qualityLrMemo.builds == before + 1,
      "the classifier family must share ONE training per corpus")
    // cached outputs match a FRESH training at registry defaults
    // (training is a fixed round count of exact aggregates; fresh
    // partial-sum merge order can differ at the last ulp, so doubles
    // compare at tolerance, structure and counts exactly)
    val docs = Tables.documents(spark, Sf)
    val fresh = TextAnalysis.qualityClassifierFrom(spark, docs).collect()
    assert(model.map(_.getString(0)).toSeq == fresh.map(_.getString(0)).toSeq)
    assert(model.zip(fresh).forall { case (a, b) =>
      (1 to 4).forall(j => close(a.getDouble(j), b.getDouble(j))) },
      "cached model drifted from a fresh training")
    val freshEval = TextAnalysis.qualityClassifierEvalFrom(spark, docs).collect()
    assert(eval.map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("n_docs"))).toSeq ==
      freshEval.map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("n_docs"))).toSeq)
    val freshCalib = TextAnalysis.qualityClassifierCalibrationFrom(spark, docs).collect()
    assert(calib.map(r => (r.getAs[Int]("bin"), r.getAs[Long]("n_docs"))).toSeq ==
      freshCalib.map(r => (r.getAs[Int]("bin"), r.getAs[Long]("n_docs"))).toSeq)
    // non-default hyperparams key separately: a iters=20 save must
    // train its own model, never serve the iters=40 one
    val trained = TextAnalysis.qualityLrMemo.builds
    val dir0 = java.nio.file.Files.createTempDirectory("graft_qlrm").toString
    TextAnalysis.saveQualityLr(spark, Sf, s"$dir0/qlr", iters = 20)
    assert(TextAnalysis.qualityLrMemo.builds == trained + 1)
    // ...and a repeat save at the same hyperparams HITS
    TextAnalysis.saveQualityLr(spark, Sf, s"$dir0/qlr", iters = 20)
    assert(TextAnalysis.qualityLrMemo.builds == trained + 1)
    // freshness: REWRITING the corpus under the same dir must MISS
    // (new part-file names), never serve the previous corpus's model
    def mk(tag: String, n: Int) = (1 to n).map(i =>
      (i.toLong, (1 to 40).map(j => s"${tag}_w${j}_$i").mkString(" "),
        "en", "spec", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_qlrf").toString
    mk("v1", 12).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    TextAnalysis.qualityClassifier(spark, dir).collect()
    val builds = TextAnalysis.qualityLrMemo.builds
    mk("v2", 6).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    TextAnalysis.qualityClassifier(spark, dir).collect()
    assert(TextAnalysis.qualityLrMemo.builds == builds + 1,
      "a rewritten corpus must retrain, not serve the stale model")
    // and an unchanged dir HITS across family members
    TextAnalysis.qualityClassifierEval(spark, dir).collect()
    assert(TextAnalysis.qualityLrMemo.builds == builds + 1)
  }

  test("scorer artifact: save/load round-trip, batch == stream scores bit-for-bit, tamper fails loud") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_qlr").toString
    val path = s"$dir/quality_lr"
    val saved = TextAnalysis.saveQualityLr(spark, Sf, path, iters = 20)
    val loaded = TextAnalysis.loadQualityLr(spark, path)
    assert(loaded == saved)
    // batch scoring with the loaded artifact
    val docsB = Tables.documents(spark, Sf)
    val batch = TextAnalysis.scoreQualityWith(docsB, loaded).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_p")).toMap
    assert(batch.values.forall(p => p > 0.0 && p < 1.0))
    // streaming scoring: the same column over a memory stream must
    // produce BIT-IDENTICAL probabilities (no drift between the live
    // filter and the nightly one)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, String, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val texts = docsB.select("doc_id", "lang", "source", "text").collect()
      .map(r => (r.getLong(0), base, r.getString(1), r.getString(2), r.getString(3)))
    mem.addData(texts.toIndexedSeq: _*)
    val q = graft.streaming.DocStream.scoredDocs(
        mem.toDF.toDF("doc_id", "ts", "lang", "source", "text"),
        loaded, minP = 0.0)
      .writeStream.format("memory").queryName("qlr_scored").outputMode("append").start()
    try {
      q.processAllAvailable()
      val stream = spark.table("qlr_scored").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_p")).toMap
      assert(stream.size == batch.size)
      assert(stream.forall { case (id, p) => batch(id) == p },
        "stream scores must equal batch scores bit-for-bit")
    } finally q.stop()
    // tamper: perturb a weight but keep the stale manifest → loader throws
    val rows = spark.read.parquet(path).collect()
    val tampered = rows.map(r => (r.getAs[String]("feature"),
      r.getAs[Double]("weight_std") + 0.1, r.getAs[Double]("feature_mean"),
      r.getAs[Double]("feature_std"), r.getAs[Double]("intercept")))
    val manifest = new java.io.File(path, graft.sources.ArtifactManifest.FileName)
    val keep = java.nio.file.Files.readAllBytes(manifest.toPath)
    tampered.toIndexedSeq
      .toDF("feature", "weight_std", "feature_mean", "feature_std", "intercept")
      .coalesce(1).write.mode("overwrite").parquet(path)
    java.nio.file.Files.write(manifest.toPath, keep)
    intercept[IllegalStateException] {
      TextAnalysis.loadQualityLr(spark, path)
    }
  }

  test("at sf the distilled score beats the majority-class baseline") {
    val cells = TextAnalysis.qualityClassifierEval(spark, Sf).collect()
      .map(r => (r.getAs[Long]("pred_pass"), r.getAs[Long]("label_pass")) ->
        r.getAs[Long]("n_docs")).toMap.withDefaultValue(0L)
    val n = cells.values.sum.toDouble
    val acc = (cells((1L, 1L)) + cells((0L, 0L))).toDouble / n
    val passShare = (cells((1L, 1L)) + cells((0L, 1L))).toDouble / n
    val baseline = math.max(passShare, 1.0 - passShare)
    assert(acc >= baseline - 0.02,
      s"accuracy $acc must not lose to the majority baseline $baseline")
    // probabilities are proper: pass cells average above fail cells
    val meanP = TextAnalysis.qualityClassifierEval(spark, Sf).collect()
      .map(r => r.getAs[Long]("pred_pass") -> r.getAs[Double]("mean_p")).toMap
    if (meanP.contains(1L) && meanP.contains(0L)) assert(meanP(1L) > meanP(0L))
  }
}

class CorpusPrepSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("pii scrub redacts emails, phones, and IPs; counts match; clean text passes through") {
    import spark.implicits._
    val scrubbed = Seq(
      "contact jane.doe+x@corp.example.com or 010-1234-5678",
      "server at 10.0.255.7 rebooted",
      "no pii here at all")
      .toDF("text")
      .select(operators.TextAnalysis.piiScrubText(col("text")).as("clean"))
      .collect().map(_.getString(0))
    assert(scrubbed(0) == "contact <EMAIL> or <PHONE>")
    assert(scrubbed(1) == "server at <IP> rebooted")
    assert(scrubbed(2) == "no pii here at all")
    // corpus op: counts column is consistent and non-negative
    val rows = operators.TextAnalysis.piiScrub(spark, Sf).collect()
    assert(rows.length == Tables.documents(spark, Sf).count())
    assert(rows.forall(_.getAs[Long]("n_redactions") >= 0))
  }

  test("corpus split covers every doc exactly once with sane proportions") {
    val rows = operators.TextAnalysis.corpusSplit(spark, Sf).collect()
    val total = Tables.documents(spark, Sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    val bySplit = rows.map(r => r.getAs[String]("split") -> r.getAs[Long]("n_docs")).toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    // train targets 12/16 = 75%; allow wide tolerance at tiny sf
    assert(bySplit("train").toDouble / total > 0.55)
  }

  test("corpus shuffle: total, seed-stable, epoch-independent, shard = key prefix") {
    val docs = Tables.documents(spark, Sf)
    val total = docs.count()
    val e0 = operators.TextAnalysis.corpusShuffle(spark, Sf).collect()
    // every doc appears exactly once, shard is the key's first nibble
    assert(e0.length == total)
    assert(e0.map(_.getAs[Long]("doc_id")).distinct.length == total)
    e0.foreach(r => assert(
      r.getAs[String]("shard") == r.getAs[String]("shuffle_key").substring(0, 1)))
    // same seed → byte-identical order; new seed → a different permutation
    val again = operators.TextAnalysis.corpusShuffle(spark, Sf).collect()
    assert(e0.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    val e1 = operators.TextAnalysis.corpusShuffle(spark, Sf, seed = "epoch1").collect()
    assert(e0.map(_.getAs[Long]("doc_id")).toSeq != e1.map(_.getAs[Long]("doc_id")).toSeq)
    // all 16 shards materialize and no shard hogs the corpus
    val shards = e0.groupBy(_.getAs[String]("shard")).view.mapValues(_.length)
    assert(shards.size == 16 && shards.values.max < total / 4)
  }

  test("quality buckets: per-source decile census ties out against the scored corpus") {
    val rows = operators.TextAnalysis.qualityBuckets(spark, Sf).collect()
    assert(rows.map(_.getAs[Long]("doc_count")).sum == Tables.documents(spark, Sf).count())
    assert(rows.forall { r =>
      val b = r.getAs[Int]("quality_bucket"); b >= 0 && b <= 9
    })
    assert(math.abs(rows.map(_.getAs[Double]("token_share")).sum - 100.0) < 1e-9)
    // bucket census agrees with bucketing the per-doc scored frame
    val perDoc = operators.TextAnalysis.qualityScore(spark, Sf)
      .select(least(floor(col("quality_score") * 10).cast("int"), lit(9)).as("b"))
      .groupBy("b").count().collect()
      .map(r => r.getAs[Int]("b") -> r.getAs[Long]("count")).toMap
    val byBucket = rows.groupBy(_.getAs[Int]("quality_bucket")).view
      .mapValues(_.map(_.getAs[Long]("doc_count")).sum).toMap
    assert(byBucket == perDoc)
  }

  test("uniform k-sample: deterministic bottom-k, seed-independent resample, append stability") {
    val s1 = operators.TextAnalysis.sampleUniformK(spark, Sf, k = 50).collect()
    assert(s1.length == 50)
    // determinism: identical rows on a second run
    val again = operators.TextAnalysis.sampleUniformK(spark, Sf, k = 50).collect()
    assert(s1.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // bottom-k nesting: the k=20 sample is a prefix of the k=50 sample
    val s2 = operators.TextAnalysis.sampleUniformK(spark, Sf, k = 20).collect()
    assert(s1.take(20).map(_.toSeq).toSeq == s2.map(_.toSeq).toSeq)
    // a different seed draws a different set
    val other = operators.TextAnalysis.sampleUniformK(spark, Sf, k = 50, seed = "s1").collect()
    assert(other.map(_.getAs[Long]("doc_id")).toSet != s1.map(_.getAs[Long]("doc_id")).toSet)
  }

  test("doc chunks: exact overlapping windows, short-doc single chunk, full coverage") {
    import spark.implicits._
    // 10 tokens, chunk 4, overlap 1 → step 3, ceil((10-1)/3) = 3 chunks
    val words = (1 to 10).map(i => s"w$i")
    val docs = Seq((1L, words.mkString(" ")), (2L, "tiny doc")).toDF("doc_id", "text")
    val got = operators.TextAnalysis.docChunksFrom(docs, chunkTokens = 4, overlap = 1)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx")) ->
        r.getAs[String]("chunk_text")).toMap
    assert(got == Map(
      (1L, 0) -> "w1 w2 w3 w4", (1L, 1) -> "w4 w5 w6 w7", (1L, 2) -> "w7 w8 w9 w10",
      (2L, 0) -> "tiny doc"))
    // corpus-level invariants at the registered 128/32 settings
    val rows = operators.TextAnalysis.docChunks(spark, Sf).collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.size == Tables.documents(spark, Sf).count())
    byDoc.values.foreach { cs =>
      val sorted = cs.sortBy(_.getAs[Int]("chunk_idx"))
      // spans advance by the step and chunks stay within the budget
      sorted.zipWithIndex.foreach { case (c, i) =>
        assert(c.getAs[Int]("start_token") == i * 96)
        assert(c.getAs[Int]("end_token") - c.getAs[Int]("start_token") <= 128)
      }
      // the last chunk reaches the end of the doc exactly once
      assert(sorted.init.forall(c => c.getAs[Int]("end_token") - c.getAs[Int]("start_token") == 128))
    }
  }

  test("chunk dedup: planted duplicated chunk found across docs; corpus output sane") {
    import spark.implicits._
    // docs 1 and 2 share an identical 4-token chunk; doc 3 is unique
    val shared = "a b c d"
    val docs = Seq(
      (1L, s"$shared x1 y1 z1"), (2L, s"$shared x2 y2 z2"), (3L, "p q r s t u v"))
      .toDF("doc_id", "text")
    val chunks = operators.TextAnalysis.docChunksFrom(docs, chunkTokens = 4, overlap = 0)
    val dups = chunks.groupBy(col("chunk_text")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).collect()
    assert(dups.map(_.getAs[String]("chunk_text")).toSeq == Seq(shared))
    // registered corpus query: every reported group is a real dup and
    // copies >= docs (a doc can repeat its own boilerplate)
    val rows = operators.TextAnalysis.chunkDedup(spark, Sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_copies") > 1)
      assert(r.getAs[Long]("n_copies") >= r.getAs[Long]("n_docs"))
    }
  }

  test("cdc chunks: spans tile every doc exactly, bounds hold, output deterministic") {
    val docsN = Tables.documents(spark, Sf).count()
    val rows = operators.TextAnalysis.docChunksCdc(spark, Sf).collect()
    val lens = Tables.documents(spark, Sf)
      .select(col("doc_id"), length(col("text")).as("n")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n")).toMap
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.size == docsN)
    byDoc.foreach { case (id, cs) =>
      val sorted = cs.sortBy(_.getAs[Int]("chunk_idx"))
      // exact tiling: contiguous spans from 0 to the doc's char length
      assert(sorted.head.getAs[Int]("start_char") == 0)
      assert(sorted.last.getAs[Int]("end_char") == lens(id))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getAs[Int]("end_char") == b.getAs[Int]("start_char"))
        case _ =>
      }
      // bound discipline: every chunk <= MaxLen; every non-final chunk
      // either >= MinLen or was a forced-at-MaxLen remainder (only the
      // final chunk may run short)
      import graft.functions.CdcChunkSpans.{MinLen, MaxLen}
      sorted.foreach(c => assert(c.getAs[Int]("chunk_chars") <= MaxLen))
      sorted.init.foreach(c => assert(c.getAs[Int]("chunk_chars") >= MinLen))
    }
    // deterministic artifact: a second run reproduces spans and hashes
    val again = operators.TextAnalysis.docChunksCdc(spark, Sf).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("cdc chunks re-synchronize after an insertion where fixed windows lose everything") {
    import spark.implicits._
    // deterministic pseudo-text: 400 words from a tiny LCG
    def lcgWords(seed: Long, n: Int): String = {
      var x = seed
      (1 to n).map { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        "w" + java.lang.Long.toHexString(x >>> 40)
      }.mkString(" ")
    }
    val a = lcgWords(7L, 400)
    val b = "three inserted tokens " + a // head edit shifts all positions
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val cdc = operators.TextAnalysis.docChunksCdcFrom(spark, docs).collect()
    def keys(rs: Array[org.apache.spark.sql.Row], id: Long) =
      rs.filter(_.getAs[Long]("doc_id") == id)
        .map(r => (r.getAs[Long]("chunk_hash"), r.getAs[Int]("chunk_chars"))).toSeq
    val ka = keys(cdc, 1L)
    val shared = ka.toSet.intersect(keys(cdc, 2L).toSet)
    // all but the chunks overlapping the edit itself survive
    assert(shared.size >= (ka.size * 0.8).toInt,
      s"cdc resync too weak: ${shared.size}/${ka.size}")
    // the fixed-window chunker shares NOTHING under the same edit
    val fixed = operators.TextAnalysis.docChunksFrom(docs).collect()
    def texts(rs: Array[org.apache.spark.sql.Row], id: Long) =
      rs.filter(_.getAs[Long]("doc_id") == id).map(_.getAs[String]("chunk_text")).toSet
    assert(texts(fixed, 1L).intersect(texts(fixed, 2L)).isEmpty)
  }

  test("cdc dup mass attributes planted boilerplate to its carrying sources only") {
    import spark.implicits._
    def lcgWords(seed: Long, n: Int): String = {
      var x = seed
      (1 to n).map { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        "w" + java.lang.Long.toHexString(x >>> 40)
      }.mkString(" ")
    }
    val boiler = lcgWords(77L, 250)
    val docs = Seq(
      (1L, "feedA", boiler + " " + lcgWords(1L, 60)),
      (2L, "feedA", lcgWords(2L, 40) + " " + boiler),
      (3L, "feedB", boiler + " " + lcgWords(3L, 80)),
      (4L, "feedC", lcgWords(4L, 300))).toDF("doc_id", "source", "text")
    val rows = operators.TextAnalysis.cdcDupMassBySourceFrom(spark, docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    // the boilerplate carriers show dup mass; the clean feed shows none
    assert(rows("feedA").getAs[Long]("dup_chars") > 0L)
    assert(rows("feedB").getAs[Long]("dup_chars") > 0L)
    assert(rows("feedC").getAs[Long]("dup_chars") == 0L &&
      rows("feedC").getAs[Double]("dup_share") == 0.0)
    // shares bounded; chunk counts bound dup chunks
    rows.values.foreach { r =>
      val s = r.getAs[Double]("dup_share")
      assert(s >= 0.0 && s <= 1.0)
      assert(r.getAs[Long]("dup_chunks") <= r.getAs[Long]("n_chunks"))
      assert(r.getAs[Long]("dup_chars") <= r.getAs[Long]("total_chars"))
    }
    // feedA carries the paragraph twice: roughly double feedB's mass
    assert(rows("feedA").getAs[Long]("dup_chars") >
      rows("feedB").getAs[Long]("dup_chars"))
    // registry form sane at sf (the corpus has planted exact dups)
    val reg = operators.TextAnalysis.cdcDupMassBySource(spark, Sf).collect()
    assert(reg.nonEmpty && reg.exists(_.getAs[Long]("dup_chars") > 0L))
  }

  test("cdc chunk dedup: a paragraph planted at different offsets is found in all hosts") {
    import spark.implicits._
    def lcgWords(seed: Long, n: Int): String = {
      var x = seed
      (1 to n).map { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        "w" + java.lang.Long.toHexString(x >>> 40)
      }.mkString(" ")
    }
    val para = lcgWords(99L, 250) // ~1.5k chars: several interior cdc chunks
    val docs = Seq(
      (1L, lcgWords(1L, 60) + " " + para + " " + lcgWords(2L, 40)),
      (2L, lcgWords(3L, 25) + " " + para),
      (3L, para + " " + lcgWords(4L, 80)),
      (4L, lcgWords(5L, 120))).toDF("doc_id", "text")
    val census = operators.TextAnalysis.chunkDedupCdcFrom(spark, docs).collect()
    // the paragraph's interior chunks hash identically in every host
    assert(census.exists(_.getAs[Long]("n_docs") == 3),
      "no chunk recovered across all three hosts")
    // registered corpus query: every reported group is a real dup
    val rows = operators.TextAnalysis.chunkDedupCdc(spark, Sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_copies") > 1)
      assert(r.getAs[Long]("n_copies") >= r.getAs[Long]("n_docs"))
    }
  }

  test("dsir resampling prefers target-like docs; one weight replays driver-exactly") {
    import spark.implicits._
    val B = 64
    // target vocabulary {alpha..epsilon}, off-domain {zeta..kappa}
    val tWords = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val rWords = Seq("zeta", "eta", "theta", "iota", "kappa")
    def doc(ws: Seq[String], n: Int): String =
      (0 until n).map(i => ws(i % ws.size)).mkString(" ")
    val target = (1L to 6L).map(i => (i, "t", doc(tWords, 30))).toDF("doc_id", "source", "text")
    val cands = Seq(
      (101L, "a", doc(tWords, 24)),             // target-like
      (102L, "a", doc(tWords.take(3), 24)),     // target-like, narrower
      (103L, "b", doc(rWords, 24)),             // off-domain
      (104L, "b", doc(rWords.reverse, 24)))     // off-domain
      .toDF("doc_id", "source", "text")
    val out = operators.TextAnalysis.sampleDsirFrom(target, cands, k = 4, numBuckets = B)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // target-like docs carry strictly higher log weights than off-domain
    val lw = out.map { case (id, r) => id -> r.getAs[Double]("log_weight") }
    assert(Seq(101L, 102L).map(lw).min > Seq(103L, 104L).map(lw).max, lw.toString)
    // driver-exact replay of doc 101's weight: same buckets (via the
    // same spark expression), same add-one LMs, same fold order
    val bucketRows = target.select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .select(col("w"), pmod(xxhash64(col("w")), lit(B.toLong)).cast("int").as("b"))
      .distinct().collect().map(r => r.getAs[String]("w") -> r.getAs[Int]("b")).toMap
    val candBuckets = cands.select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .select(col("w"), pmod(xxhash64(col("w")), lit(B.toLong)).cast("int").as("b"))
      .distinct().collect().map(r => r.getAs[String]("w") -> r.getAs[Int]("b")).toMap
    val buckets = bucketRows ++ candBuckets
    val tc = new Array[Long](B); val rc = new Array[Long](B)
    target.select(col("text")).collect().foreach(_.getString(0).split("\\s+")
      .foreach(w => tc(buckets(w)) += 1))
    cands.select(col("text")).collect().foreach(_.getString(0).split("\\s+")
      .foreach(w => rc(buckets(w)) += 1))
    val (tn, rn) = (tc.sum + B, rc.sum + B)
    val ratio = Array.tabulate(B)(b =>
      math.log((tc(b) + 1).toDouble / tn) - math.log((rc(b) + 1).toDouble / rn))
    val expected = doc(tWords, 24).split("\\s+").foldLeft(0.0)((a, w) => a + ratio(buckets(w)))
    assert(out(101L).getAs[Double]("log_weight") == expected,
      s"${out(101L).getAs[Double]("log_weight")} != $expected")
    // determinism: a second run reproduces keys and order exactly
    val again = operators.TextAnalysis.sampleDsirFrom(target, cands, k = 4, numBuckets = B)
      .collect().map(_.toSeq).toSeq
    assert(operators.TextAnalysis.sampleDsirFrom(target, cands, k = 4, numBuckets = B)
      .collect().map(_.toSeq).toSeq == again)
    // registry forms are sane at sf
    val reg = operators.TextAnalysis.sampleDsir(spark, Sf, k = 50).collect()
    assert(reg.length == 50 && reg.map(_.getAs[Long]("doc_id")).distinct.length == 50)
    val shift = operators.TextAnalysis.dsirSourceShift(spark, Sf, k = 50).collect()
    assert(shift.map(_.getAs[Long]("n_selected")).sum == 50L)
    shift.foreach { r =>
      val rate = r.getAs[Double]("selection_rate")
      assert(rate >= 0.0 && rate <= 1.0)
      assert(r.getAs[Long]("n_selected") <= r.getAs[Long]("n_candidates"))
    }
  }

  test("quality-rarity grid: cells partition the corpus; shares sum to one") {
    val rows = operators.TextAnalysis.qualityRarityGrid(spark, Sf).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    val total = Tables.documents(spark, Sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total)
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9)
    rows.foreach { r =>
      assert(r.getAs[Int]("q_bucket") >= 0 && r.getAs[Int]("q_bucket") <= 9)
      assert(r.getAs[Int]("r_bucket") >= 0 && r.getAs[Int]("r_bucket") <= 9)
    }
    // marginals reconcile with the existing single-axis censuses
    val qMarginal = rows.groupBy(_.getAs[Int]("q_bucket"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    val buckets = operators.TextAnalysis.qualityBuckets(spark, Sf).collect()
      .groupBy(_.getAs[Int]("quality_bucket"))
      .view.mapValues(_.map(_.getAs[Long]("doc_count")).sum).toMap
    assert(qMarginal == buckets, s"$qMarginal vs $buckets")
  }

  test("dsir budget curve: nested cuts of one ranking; external target shifts selection") {
    import spark.implicits._
    val curve = operators.TextAnalysis.dsirBudgetCurve(spark, Sf,
      ks = Seq(10, 20, 40)).collect().map(r => r.getAs[Int]("k") -> r).toMap
    assert(curve.keySet == Set(10, 20, 40))
    // each budget fills (the sf pool is bigger than every k)
    curve.foreach { case (k, r) => assert(r.getAs[Long]("n_selected") == k.toLong) }
    // nesting: the admission bar falls and mean weight degrades as k grows
    assert(curve(10).getAs[Double]("admission_bar") >=
      curve(20).getAs[Double]("admission_bar"))
    assert(curve(20).getAs[Double]("admission_bar") >=
      curve(40).getAs[Double]("admission_bar"))
    assert(curve(10).getAs[Double]("mean_log_weight") >=
      curve(40).getAs[Double]("mean_log_weight"))
    // the 40-budget's bar admits exactly the sampler's own top-40
    val top40 = operators.TextAnalysis.sampleDsir(spark, Sf, k = 40).collect()
    assert(curve(40).getAs[Double]("admission_bar") ==
      top40.map(_.getAs[Double]("gumbel_key")).min)
    assert(curve(40).getAs[Long]("token_mass") ==
      top40.map(_.getAs[Long]("n_tokens")).sum)
    // an EXTERNAL target (different domain) changes what gets selected
    def doc(ws: Seq[String], n: Int): String = (0 until n).map(i => ws(i % ws.size)).mkString(" ")
    val pool = Seq(
      (1L, "a", doc(Seq("alpha", "beta", "gamma"), 24)),
      (2L, "b", doc(Seq("zeta", "eta", "theta"), 24))).toDF("doc_id", "source", "text")
    val tA = Seq((10L, "t", doc(Seq("alpha", "beta", "gamma"), 30))).toDF("doc_id", "source", "text")
    val tB = Seq((11L, "t", doc(Seq("zeta", "eta", "theta"), 30))).toDF("doc_id", "source", "text")
    val pickA = operators.TextAnalysis.sampleDsirFrom(tA, pool, k = 1, numBuckets = 64)
      .collect().head.getAs[Long]("doc_id")
    val pickB = operators.TextAnalysis.sampleDsirFrom(tB, pool, k = 1, numBuckets = 64)
      .collect().head.getAs[Long]("doc_id")
    assert(pickA == 1L && pickB == 2L)
  }

  test("ppl threshold curve: prefix-cumulative survival, monotone, full cut keeps all") {
    import spark.implicits._
    // three docs at known entropy bands: repetitive (low bits),
    // mixed, diverse (high bits) — the curve must admit them in order
    val docs = Seq(
      (1L, Seq.fill(30)("aa").mkString(" ")),
      (2L, (1 to 15).map(i => s"w$i").mkString(" ") + " " + Seq.fill(15)("aa").mkString(" ")),
      (3L, (1 to 30).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val ppl = operators.TextAnalysis.textPerplexityFrom(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bits_per_token")).toMap
    assert(ppl(1L) < ppl(2L) && ppl(2L) < ppl(3L))
    val curve = operators.TextAnalysis.pplThresholdCurveFrom(
      operators.TextAnalysis.textPerplexityFrom(docs)).collect()
    assert(curve.length == 16)
    // monotone non-decreasing survival; the full cut keeps everything
    curve.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("surviving_docs") <= b.getAs[Long]("surviving_docs"))
      case _ =>
    }
    assert(curve.last.getAs[Long]("surviving_docs") == 3L)
    assert(curve.last.getAs[Double]("doc_pct") == 100.0)
    // the cut at each doc's own band admits exactly the docs below it
    val cutAt = (bits: Double) => curve
      .find(_.getAs[Int]("max_bits") == math.floor(bits).toInt + 1).get
      .getAs[Long]("surviving_docs")
    assert(cutAt(ppl(1L)) >= 1L && cutAt(ppl(3L)) == 3L)
    // registry form: sane at sf
    val reg = operators.TextAnalysis.pplThresholdCurve(spark, Sf).collect()
    assert(reg.length == 16 && reg.last.getAs[Double]("token_pct") == 100.0)
  }

  test("temperature mixing flattens token shares toward the sqrt profile") {
    val rows = operators.TextAnalysis.sampleTemperature(spark, Sf).collect()
    assert(rows.length > 1)
    assert(math.abs(rows.map(_.getAs[Double]("target_share")).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_.getAs[Double]("realized_token_share")).sum - 1.0) < 1e-9)
    // flattening: vs the observed shares, every source's target moves
    // TOWARD the mean (rare sources up, dominant sources down)
    val mix = operators.TextAnalysis.sourceMix(spark, Sf).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Double]("token_share") / 100.0).toMap
    rows.foreach { r =>
      val (src, tgt) = (r.getAs[String]("source"), r.getAs[Double]("target_share"))
      val obs = mix(src)
      val mean = 1.0 / mix.size
      assert((obs - mean) * (obs - tgt) >= 0,
        s"$src: target $tgt did not move from $obs toward $mean")
      // kept sets are subsets and realized shares land near targets
      // (256-bucket quantization + finite docs → loose tolerance)
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_total"))
      assert(math.abs(r.getAs[Double]("realized_token_share") - tgt) < 0.1,
        s"$src: realized ${r.getAs[Double]("realized_token_share")} vs target $tgt")
    }
  }

  test("decontaminated corpus = clean corpus minus benchmark members and leaked docs") {
    val clean = operators.TextAnalysis.cleanCorpus(spark, Sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val cont = operators.TextAnalysis.contaminationCheck(spark, Sf)
      .filter(col("contamination_frac") >= 0.3)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val got = operators.TextAnalysis.cleanCorpusDecontaminated(spark, Sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val expected = clean.filter(d => d % 97 != 0 && !cont(d))
    assert(got == expected, s"diff: ${(got diff expected) ++ (expected diff got)}")
    assert(got.nonEmpty && got.size < clean.size)
  }

  test("garbage score flags control chars, replacement chars, and letter collapse") {
    val rows = operators.TextAnalysis.garbageScore(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val lr = r.getAs[Double]("letter_ratio")
      assert(lr >= 0.0 && lr <= 1.0)
      assert(r.getAs[Int]("n_ctrl") >= 0 && r.getAs[Int]("n_replacement") >= 0)
    }
    // planted corpus: each corruption class flags, clean text doesn't
    import spark.implicits._
    val docs = Seq(
      (1L, "a perfectly ordinary clean sentence here"),
      (2L, "binary sludge \u0001\u0002\u0003 in the middle"),
      (3L, "lossy decode le\uFFFDt its tombstone"),
      (4L, "0101010101 1010101010 0101010101 111"),     // letters collapse
      (5L, "3x + 7 = 19"))                               // short doc exempt
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("gs_docs")
    def without(pattern: String) =
      length(col("text")) - length(regexp_replace(col("text"), pattern, ""))
    val nChars = length(col("text"))
    val nCtrl = without("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]")
    val nRepl = without("\uFFFD")
    val letterRatio = without("[A-Za-z]").cast("double") /
      greatest(nChars, lit(1)).cast("double")
    val flag = (nCtrl > 0 || nRepl > 0 || (nChars >= 20 && letterRatio < lit(0.4)))
      .cast("int")
    val got = docs.select(col("doc_id"), flag.as("g")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("g")).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 1, 5L -> 0))
  }

  test("temperature mixing never drops a source entirely (n256 quantization floor)") {
    import spark.implicits._
    // dominant's token share is > 65536× rare's, so its unclamped rate
    // floor(sqrt(s_min/s_i) * 256) would be 0 — the clamp keeps bucket 0
    val big = ("w " * 70000).trim
    // md5("168") = 00… → doc 168 sits in bucket 0, the one bucket the
    // clamped n256 = 1 keeps, so survival is deterministic
    val docs = ((1L to 9L) :+ 168L).map(i => (i, "dominant", big))
      .:+((0L, "rare", "w")).toDF("doc_id", "source", "text")
    val rows = operators.TextAnalysis.sampleTemperatureFrom(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(rows.keySet == Set("dominant", "rare"))
    assert(rows("dominant").getAs[Long]("n_kept") >= 1,
      s"dominant source dropped entirely: ${rows("dominant")}")
    assert(rows("rare").getAs[Long]("n_kept") == 1)
  }

  test("weighted k-sample matches a driver-side exact recompute and favors heavy docs") {
    import spark.implicits._
    import java.security.MessageDigest
    def key(seed: String, docId: Long, weight: Long): Double = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(s"$seed:$docId".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u = (java.lang.Long.parseLong(hex, 16).toDouble + 0.5) / 4294967296.0
      // Spark's log expression evaluates via StrictMath — the JVM
      // intrinsic Math.log can differ in the last ulp; since r14 the
      // operator quantizes −ln u to the 1e-9 grid before the weight
      // division (the full-SQL-oracle idiom), so the replica does too
      math.round(-StrictMath.log(u) * 1e9).toDouble / 1e9 / weight.toDouble
    }
    // 5 heavy docs (10k tokens) among 200 light (2 tokens)
    val docs = ((1L to 200L).map(i => (i, "light", ("w " * 2).trim)) ++
        (1001L to 1005L).map(i => (i, "heavy", ("w " * 10000).trim)))
      .toDF("doc_id", "source", "text")
    val got = operators.TextAnalysis.sampleWeightedKFrom(docs, k = 10, seed = "s0")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("sample_key")))
    // exact driver recompute on the same JVM libm
    val expected = ((1L to 200L).map(d => d -> key("s0", d, 2)) ++
        (1001L to 1005L).map(d => d -> key("s0", d, 10000)))
      .sortBy { case (d, sk) => (sk, d) }.take(10)
    assert(got.toSeq == expected, s"sample diverged:\n$got\nvs\n$expected")
    // weight bias: expected min key ~ Exp(w); all 5 heavy docs
    // (5000x the weight) must land in the top 10 for this seed
    assert(got.count(_._1 >= 1001L) == 5)
    // mergeability: top-k is a prefix of top-2k (append-stable nesting)
    val top20 = operators.TextAnalysis.sampleWeightedKFrom(docs, k = 20, seed = "s0")
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(top20.take(10) == got.map(_._1).toSeq)
  }

  test("weighted source sampling realizes the 1/16-unit target rates deterministically") {
    val rows = operators.TextAnalysis.sampleWeightedSources(spark, Sf).collect()
    rows.foreach { r =>
      val target = r.getAs[String]("source") match {
        case "src0" => 1.0; case "src1" => 0.5; case "src2" => 0.25; case _ => 0.125
      }
      assert(math.abs(r.getAs[Double]("realized_rate") - target) < 0.25,
        s"${r.getAs[String]("source")}: ${r.getAs[Double]("realized_rate")} vs $target")
    }
    // determinism: a second run keeps identical counts
    val again = operators.TextAnalysis.sampleWeightedSources(spark, Sf).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("bpe estimate sits between word count and character count") {
    val rows = operators.TextAnalysis.bpeEstimate(spark, Sf).collect()
    assert(rows.length == Tables.documents(spark, Sf).count())
    rows.foreach { r =>
      val words = r.getAs[Int]("ws_token_count")
      val chars = r.getAs[Int]("char_count")
      val est = r.getAs[Int]("est_bpe_tokens")
      assert(est >= words, s"doc ${r.getAs[Long]("doc_id")}: est $est < words $words")
      assert(est <= chars)
      assert(r.getAs[Double]("chars_per_bpe_token") >= 1.0)
    }
  }

  test("bpe training learns the exact merge sequence on a hand-computable corpus") {
    import spark.implicits._
    // vocab: ab x3, ac x1. Round 1: pairs (a,b)=3, (b,</w>)=3, (a,c)=1,
    // (c,</w>)=1 -> tie broken pair-asc: merge "a"+"b". Round 2:
    // (ab,</w>)=3 wins -> "ab</w>". Round 3: (a,c)=1 and (c,</w>)=1 are
    // below the count-2 floor -> training stops at 2 merges.
    val docs = Seq((1L, "ab ab ac"), (2L, "ab")).toDF("doc_id", "text")
    val merges = operators.TextAnalysis.trainBpeMerges(docs, numMerges = 5)
    assert(merges.map(m => (m.rank, m.left, m.right, m.merged, m.pair_count)) == Seq(
      (0, "a", "b", "ab", 3L),
      (1, "ab", "</w>", "ab</w>", 3L)))
    // multi-round growth: "aaaa" x2. Round 1: (a,a) = 3 adjacent pairs
    // x weight 2 = 6 -> "aa"; [a,a,a,a,</w>] folds LEFT-TO-RIGHT
    // NON-OVERLAPPING to [aa,aa,</w>]. Round 2 ties (aa,aa)=2 with
    // (aa,</w>)=2 -> r-asc picks "</w>" (ASCII '<' sorts before 'a').
    // Round 3 chains onto the grown symbol.
    val docs2 = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    val m2 = operators.TextAnalysis.trainBpeMerges(docs2, numMerges = 3)
    assert(m2.map(m => (m.left, m.right, m.pair_count)) == Seq(
      ("a", "a", 6L),
      ("aa", "</w>", 2L),
      ("aa", "aa</w>", 2L)))
    // corpus run: deterministic table with contiguous ranks
    val v1 = operators.TextAnalysis.bpeVocab(spark, Sf, numMerges = 8).collect()
    assert(v1.map(_.getAs[Int]("rank")).toSeq == (0 until v1.length))
    val v2 = operators.TextAnalysis.bpeVocab(spark, Sf, numMerges = 8).collect()
    assert(v1.map(_.toString).sameElements(v2.map(_.toString)))
  }

  test("persisted BPE vocabulary round-trips: tokenizing with the artifact equals train+apply") {
    val base = java.nio.file.Files.createTempDirectory("graft_bpe_vocab")
    val path = base.resolve("vocab").toString
    val saved = operators.TextAnalysis.saveBpeVocab(spark, Sf, path, numMerges = 8)
    val loaded = operators.TextAnalysis.loadBpeVocab(spark, path)
    assert(loaded == saved) // rank order + every field survive parquet
    val direct = operators.TextAnalysis.bpeTokens(spark, Sf, numMerges = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val viaArtifact = operators.TextAnalysis.bpeTokensWithVocab(spark, Sf, path)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(viaArtifact == direct)
    // retraining overwrites the artifact atomically (snapshot semantics)
    val re = operators.TextAnalysis.saveBpeVocab(spark, Sf, path, numMerges = 4)
    spark.catalog.refreshByPath(path)
    assert(operators.TextAnalysis.loadBpeVocab(spark, path) == re)
    assert(re.length <= 4)
  }

  test("multi-merge BPE rounds produce the identical merge table in fewer driver rounds") {
    import spark.implicits._
    import operators.TextAnalysis.{trainBpeMerges, trainBpeMergesCounted}
    def table(ms: Seq[operators.TextAnalysis.BpeMerge]) =
      ms.map(m => (m.rank, m.left, m.right, m.merged, m.pair_count))
    // hand corpus 1: interacting chain — (a,b) then (ab,</w>) CANNOT
    // batch ((ab,</w>).l ends where... the chain only exists after the
    // first fold), single- and multi-merge must agree including the
    // count-2 training floor
    val docs = Seq((1L, "ab ab ac"), (2L, "ab")).toDF("doc_id", "text")
    assert(table(trainBpeMerges(docs, 5, maxPerRound = 4)) == table(trainBpeMerges(docs, 5)))
    // hand corpus 2: tie-breaks + self-interaction ((a,a) consumes its
    // own right symbol; (aa,*) pairs only exist post-fold)
    val docs2 = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    assert(table(trainBpeMerges(docs2, 3, maxPerRound = 8)) == table(trainBpeMerges(docs2, 3)))
    // hand corpus 3: genuinely batchable — disjoint alphabets in one
    // round ((a,b) and (c,d) share no symbol), equal tables required
    val docs3 = Seq((1L, "ab ab cd cd xy")).toDF("doc_id", "text")
    assert(table(trainBpeMerges(docs3, 6, maxPerRound = 4)) == table(trainBpeMerges(docs3, 6)))
    // the real corpus: full 20-merge table equality AND the measured
    // round reduction the batching exists for
    val corpus = Tables.documents(spark, Sf)
    val (single, roundsSingle) = trainBpeMergesCounted(corpus, 20, maxPerRound = 1)
    val (multi, roundsMulti) = trainBpeMergesCounted(corpus, 20, maxPerRound = 4)
    assert(table(multi) == table(single), "multi-merge diverged from single-merge training")
    assert(roundsSingle == 20)
    assert(roundsMulti <= 10, s"expected ~4x fewer rounds, got $roundsMulti")
  }

  test("trained-BPE token counts: exact on the hand corpus, inside the word/char envelope corpus-wide") {
    import spark.implicits._
    val docs = Seq((1L, "ab ab ac"), (2L, "ab")).toDF("doc_id", "text")
    // learned merges: a+b, ab+</w>. Tokenization: "ab" -> [ab</w>] = 1
    // token; "ac" -> [a,c,</w>] = 3 tokens (no merges apply).
    val merges = operators.TextAnalysis.trainBpeMerges(docs, numMerges = 5)
    val got = operators.TextAnalysis.bpeTokensFrom(docs, merges).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("word_count"), r.getAs[Long]("bpe_tokens")))).toMap
    assert(got(1L) == ((3L, 5L))) // 1 + 1 + 3
    assert(got(2L) == ((1L, 1L)))
    // corpus run: every doc's exact count sits in [word_count, chars+words]
    // (each word is >= 1 token and <= its chars + the </w> marker)
    val rows = operators.TextAnalysis.bpeTokens(spark, Sf, numMerges = 8).collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      assert(r.getAs[Long]("bpe_tokens") >= r.getAs[Long]("word_count"))
    }
  }

  test("as-of join attributes each purchase to its latest prior-or-equal view") {
    import spark.implicits._
    val purchases = Seq((1L, 100L, 10L), (1L, 200L, 11L), (2L, 50L, 12L))
      .toDF("user_id", "event_epoch", "event_id")
    val views = Seq((1L, 90L, 1L), (1L, 100L, 2L), (1L, 150L, 3L), (2L, 60L, 4L))
      .toDF("user_id", "event_epoch", "event_id")
    val out = operators.AsOfJoin.asofBackwardEpoch(
        purchases, views, "user_id", "event_epoch", "event_id")
      .collect().map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Long]("asof_ts")).map(_.toLong)).toMap
    assert(out(10L).contains(100L)) // equal-ts view matches (>= semantics)
    assert(out(11L).contains(150L)) // latest prior view wins
    assert(out(12L).isEmpty)        // user 2 has no view at or before 50
    // corpus-level: gaps are non-negative and unmatched purchases keep null
    val rows = operators.AsOfJoin.viewPurchaseAsOf(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("gap_seconds")))
        assert(r.getAs[Long]("gap_seconds") >= 0)
    }
  }

  test("conversion latency: day grain, exact quantiles over gaps, unmatched excluded") {
    val rows = operators.AsOfJoin.conversionLatency(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p50, p90) = (r.getAs[Double]("p50_seconds"), r.getAs[Double]("p90_seconds"))
      val (mean, mx) = (r.getAs[Double]("mean_seconds"), r.getAs[Long]("max_seconds"))
      assert(p50 >= 0 && p50 <= p90 && p90 <= mx, s"quantile ordering broken: $r")
      assert(mean >= 0 && mean <= mx)
      assert(r.getAs[Long]("conversions") > 0)
    }
    // converted-purchase count ties out against the as-of attribution frame
    val matched = operators.AsOfJoin.viewPurchaseAsOf(spark, Sf)
      .filter(col("last_view_epoch").isNotNull).count()
    assert(rows.map(_.getAs[Long]("conversions")).sum == matched)
  }

  test("funnel step latency: both steps present, quantiles ordered, totals tie to conversions") {
    val rows = operators.AsOfJoin.stepLatency(spark, Sf).collect()
    assert(rows.map(_.getAs[String]("step")).toSet ==
      Set("view_to_click", "click_to_purchase"))
    rows.foreach { r =>
      assert(r.getAs[Double]("p50_seconds") <= r.getAs[Double]("p90_seconds"))
      assert(r.getAs[Double]("p90_seconds") <= r.getAs[Long]("max_seconds"))
      assert(r.getAs[Long]("conversions") > 0)
    }
    // end-to-end latency distribution is consistent with the collapsed
    // view->purchase mart: same day set on the purchase side
    val cl = operators.AsOfJoin.conversionLatency(spark, Sf).collect()
      .map(_.getAs[java.sql.Date]("event_date").toString).toSet
    val cp = rows.filter(_.getAs[String]("step") == "click_to_purchase")
      .map(_.getAs[java.sql.Date]("event_date").toString).toSet
    assert(cp.subsetOf(cl) || cl.subsetOf(cp))
  }

  test("general as-of join carries the matched row's payload (row semantics, left-total)") {
    import spark.implicits._
    // price updates: sym A at t=10 (p=1.0), t=20 (p=null!), t=30 (p=3.0)
    val quotes = Seq(
      ("A", 10L, Option(1.0), 100L), ("A", 20L, None, 101L), ("A", 30L, Option(3.0), 102L),
      ("B", 5L, Option(9.9), 103L))
      .toDF("sym", "epoch", "price", "qid")
    val orders = Seq(
      ("A", 15L, "o1"), ("A", 25L, "o2"), ("A", 30L, "o3"), ("B", 1L, "o4"))
      .toDF("sym", "epoch", "oid")
    val out = operators.AsOfJoin.asofBackward(
        orders, quotes, key = "sym", ts = "epoch",
        payload = Seq("price"), tieBreak = Seq("qid"))
      .collect().map(r => r.getAs[String]("oid") ->
        ((Option(r.getAs[java.lang.Long]("asof_epoch")).map(_.toLong),
          Option(r.getAs[java.lang.Double]("asof_price")).map(_.toDouble)))).toMap
    assert(out("o1") == ((Some(10L), Some(1.0))))
    // o2's match is the t=20 update whose price IS null — row
    // semantics must yield null, not reach back to t=10's 1.0
    assert(out("o2") == ((Some(20L), None)))
    assert(out("o3") == ((Some(30L), Some(3.0)))) // equal-ts match
    assert(out("o4") == ((None, None)))           // left-total: no prior quote
    assert(out.size == 4)
    // payload-name collision with a left column is rejected
    intercept[IllegalArgumentException] {
      operators.AsOfJoin.asofBackward(orders, quotes, "sym", "epoch", payload = Seq("oid"))
    }
  }

  test("forward as-of join finds the earliest at-or-after match; activation mart ties out") {
    import spark.implicits._
    val purchases = Seq(
      ("u1", 20L, "p1"), ("u1", 40L, "p2"), ("u2", 5L, "p3"))
      .toDF("user", "epoch", "pid")
    val signups = Seq(
      ("u1", 10L, "s1"),  // next purchase at 20
      ("u1", 20L, "s2"),  // equal-ts tie matches (gap 0)
      ("u1", 41L, "s3"),  // no later purchase → null
      ("u3", 1L, "s4"))   // user with no purchases → null
      .toDF("user", "epoch", "sid")
    val out = operators.AsOfJoin.asofForward(
        signups, purchases, key = "user", ts = "epoch",
        payload = Seq("pid"), tieBreak = Seq("pid"))
      .collect().map(r => r.getAs[String]("sid") ->
        ((Option(r.getAs[java.lang.Long]("asof_epoch")).map(_.toLong),
          Option(r.getAs[String]("asof_pid"))))).toMap
    assert(out("s1") == ((Some(20L), Some("p1"))))
    assert(out("s2") == ((Some(20L), Some("p1")))) // equal ts matches
    assert(out("s3") == ((None, None)))            // left-total
    assert(out("s4") == ((None, None)))
    assert(out.size == 4)
    // corpus mart: totals and bounds are internally consistent
    val rows = operators.AsOfJoin.signupActivation(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, act) = (r.getAs[Long]("signups"), r.getAs[Long]("activated_7d"))
      assert(act <= n && n > 0)
      assert(math.abs(r.getAs[Double]("activation_rate") - act.toDouble / n) < 1e-12)
      if (act > 0) {
        assert(r.getAs[Long]("max_seconds") <= operators.AsOfJoin.ActivationWindowSeconds)
        assert(r.getAs[Double]("mean_seconds") >= 0 &&
          r.getAs[Double]("mean_seconds") <= r.getAs[Long]("max_seconds"))
      } else assert(r.isNullAt(r.fieldIndex("max_seconds")))
    }
  }

  test("nearest as-of join picks the closer side, ties go backward, left-total") {
    import spark.implicits._
    val views = Seq(
      ("u1", 10L, "v1"), ("u1", 100L, "v2"), ("u2", 50L, "v3"))
      .toDF("user", "epoch", "vid")
    val purchases = Seq(
      ("u1", 40L, "p1"),   // gaps 30 back / 60 fwd → backward v1
      ("u1", 70L, "p2"),   // gaps 60 back / 30 fwd → forward v2
      ("u1", 55L, "p3"),   // gaps 45 / 45 → tie → backward v1
      ("u1", 100L, "p4"),  // equal ts → gap 0 → v2
      ("u1", 5L, "p5"),    // before every view → forward v1
      ("u1", 120L, "p6"),  // after every view → backward v2
      ("u3", 1L, "p7"))    // no views for user → null (left-total)
      .toDF("user", "epoch", "pid")
    val out = operators.AsOfJoin.asofNearest(
        purchases, views, key = "user", ts = "epoch",
        payload = Seq("vid"), tieBreak = Seq("vid"))
      .collect().map(r => r.getAs[String]("pid") ->
        Option(r.getAs[String]("asof_vid"))).toMap
    assert(out("p1") == Some("v1"))
    assert(out("p2") == Some("v2"))
    assert(out("p3") == Some("v1"), "equal distance must resolve backward")
    assert(out("p4") == Some("v2"))
    assert(out("p5") == Some("v1"))
    assert(out("p6") == Some("v2"))
    assert(out("p7") == None)
    assert(out.size == 7)
    // key isolation: u2's view never attracts u1's purchases
    assert(!out.values.flatten.exists(_ == "v3"))
    // sf mart: gap is |purchase − view| and the nearest choice is
    // never farther than the pure backward join's choice
    val near = operators.AsOfJoin.nearestView(spark, Sf).collect()
      .map(r => r.getAs[Long]("purchase_id") -> r).toMap
    val back = operators.AsOfJoin.viewPurchaseAsOf(spark, Sf).collect()
      .map(r => r.getAs[Long]("purchase_id") -> r).toMap
    assert(near.keySet == back.keySet)
    near.foreach { case (pid, r) =>
      if (!r.isNullAt(r.fieldIndex("gap_seconds"))) {
        val b = back(pid)
        if (!b.isNullAt(b.fieldIndex("gap_seconds")))
          assert(r.getAs[Long]("gap_seconds") <= b.getAs[Long]("gap_seconds"))
      }
    }
  }

  test("range join: bin-crossing intervals, inclusive ends, keyless bins, runaway guard") {
    import spark.implicits._
    // bins are 10 wide; interval i1 [5, 25] spans bins 0..2
    val intervals = Seq(("k1", 5L, 25L, "i1"), ("k1", 40L, 41L, "i2"), ("k2", 5L, 25L, "i3"))
      .toDF("k", "s", "e", "iid")
    val points = Seq(
      ("k1", 5L, "p1"),   // at interval start (inclusive)
      ("k1", 10L, "p2"),  // exactly on a bin boundary inside i1
      ("k1", 25L, "p3"),  // at interval end (inclusive)
      ("k1", 26L, "p4"),  // same bin as i1's tail but outside → residual filter
      ("k1", 40L, "p5"),  // i2; also proves p5 doesn't leak into i1
      ("k2", 10L, "p6"))  // key isolation: matches i3 only
      .toDF("k", "t", "pid")
    val got = operators.RangeJoin.rangeJoin(points, intervals,
        pointTs = "t", startTs = "s", endTs = "e", keys = Seq("k"), binSize = 10)
      .select("pid", "iid").as[(String, String)].collect().sorted
    // each pair appears EXACTLY once despite i1 living in 3 bins
    assert(got.toSeq == Seq("p1" -> "i1", "p2" -> "i1", "p3" -> "i1",
      "p5" -> "i2", "p6" -> "i3"))
    // keyless: bins alone carry the join; p6 (t=10) now falls in BOTH
    // k1's and k2's interval — multi-match is the point of range join
    val keyless = operators.RangeJoin.rangeJoin(
        points.drop("k"), intervals.drop("k"), "t", "s", "e", keys = Nil, binSize = 10)
      .select("pid", "iid").as[(String, String)].collect()
    assert(keyless.count(_._1 == "p6") == 2)
    assert(keyless.length == 9) // p1,p2,p3,p6 × {i1,i3} + p5 × i2
    // a runaway interval (2048 bins at width 10) fails the job loudly
    val wide = Seq(("k1", 0L, 20479L, "huge")).toDF("k", "s", "e", "iid")
    val err = intercept[Exception] {
      operators.RangeJoin.rangeJoin(points, wide, "t", "s", "e", Seq("k"), binSize = 10)
        .collect()
    }
    assert(err.getMessage != null)
    // null-bounds intervals are dropped explicitly (BETWEEN over null
    // can never match), NOT misdiagnosed by the span-overflow guard —
    // the huge-span diagnosis stays accurate alongside them
    val mixed = Seq(("k1", Some(5L), Some(25L), "ok"),
      ("k1", Some(0L), Option.empty[Long], "nb")).toDF("k", "s", "e", "iid")
    val kept = operators.RangeJoin.rangeJoin(points, mixed, "t", "s", "e", Seq("k"), binSize = 10)
      .select("pid", "iid").as[(String, String)].collect().sorted
    assert(kept.toSeq == Seq("p1" -> "ok", "p2" -> "ok", "p3" -> "ok"))
  }

  test("corpus packing covers every doc once and fills packs near budget") {
    val packs = operators.TextAnalysis.corpusPack(spark, Sf).collect()
    val total = Tables.documents(spark, Sf).count()
    assert(packs.map(_.getAs[Long]("n_docs")).sum == total)
    // every non-final pack of a shard starts within budget of its
    // predecessor: pack ids are consecutive from 0 per shard
    packs.groupBy(_.getAs[Int]("shard")).foreach { case (_, ps) =>
      val ids = ps.map(_.getAs[Int]("pack_id")).sorted
      assert(ids.head == 0 && ids.sameElements(ids.head to ids.last))
    }
    // doc ranges within a shard don't overlap across packs
    packs.groupBy(_.getAs[Int]("shard")).foreach { case (_, ps) =>
      val sorted = ps.sortBy(_.getAs[Int]("pack_id"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("last_doc") < b.getAs[Long]("first_doc"))
        case _ =>
      }
    }
  }

  test("pack efficiency curve: one row per budget, conserves docs/tokens, agrees with corpus_pack at 512") {
    val curve = operators.TextAnalysis.packEfficiency(spark, Sf).collect()
      .map(r => r.getAs[Int]("budget") -> r).toMap
    assert(curve.keySet == Set(128, 256, 512, 1024))
    val totalDocs = Tables.documents(spark, Sf).count()
    curve.values.foreach { r =>
      assert(r.getAs[Long]("n_docs") == totalDocs) // every budget packs every doc
      val fill = r.getAs[Double]("fill_ratio")
      assert(fill > 0.5 && fill < 1.5, s"implausible fill: $r")
      assert(r.getAs[Double]("overflow_share") >= 0.0 &&
        r.getAs[Double]("overflow_share") <= 1.0)
    }
    // token totals identical across budgets: packing never drops tokens
    assert(curve.values.map(_.getAs[Long]("total_tokens")).toSet.size == 1)
    // bigger budgets → no more packs (monotone non-increasing)
    val byBudget = Seq(128, 256, 512, 1024).map(b => curve(b).getAs[Long]("n_packs"))
    assert(byBudget.sliding(2).forall { case Seq(a, b) => b <= a })
    // the 512 point equals the shipped corpus_pack rollup exactly
    val packs512 = operators.TextAnalysis.corpusPack(spark, Sf).collect()
    assert(curve(512).getAs[Long]("n_packs") == packs512.length.toLong)
    assert(curve(512).getAs[Long]("total_tokens") ==
      packs512.map(_.getAs[Long]("pack_tokens")).sum)
    assert(curve(512).getAs[Long]("overflow_packs") ==
      packs512.count(_.getAs[Long]("pack_tokens") > 512L).toLong)
  }

  test("int8 quantization stays in [0,255], hits both edges, and is monotone per vector") {
    val q = operators.Similarity.embeddingQuantize(spark, Sf)
    val vals = q.agg(min(col("q")), max(col("q"))).collect().head
    assert(vals.getInt(0) == 0 && vals.getInt(1) == 255)
    // per vector: the max component quantizes to 255, the min to 0
    val perVec = q.groupBy("vec_id")
      .agg(min(col("q")).as("qmin"), max(col("q")).as("qmax"),
        count(lit(1)).as("dims")).collect()
    assert(perVec.forall(r => r.getAs[Int]("qmin") == 0 && r.getAs[Int]("qmax") == 255))
    assert(perVec.forall(_.getAs[Long]("dims") == 64L))
  }
}

class DedupSpec extends SparkSpec {
  test("exact dedup partitions the corpus: sum(dup_count) == doc count") {
    val total = Dedup.exact(spark, Sf).agg(sum("dup_count")).collect().head.getLong(0)
    assert(total == Tables.documents(spark, Sf).count())
  }

  test("dedup inflation: removed copies attribute to their own source; keeper is global") {
    import spark.implicits._
    // "alpha beta gamma" first crawled by s1 (doc 1, the keeper),
    // re-crawled by s2 (doc 2) and s1 again (doc 3); s2 also has a
    // unique 1-token doc. Removal attributes to the REMOVED doc's
    // source — doc 2 counts against s2 even though s1 owns the keeper.
    val docs = Seq(
      (1L, "s1", "alpha beta gamma"),
      (2L, "s2", "alpha beta gamma"),
      (3L, "s1", "alpha beta gamma"),
      (4L, "s2", "delta")).toDF("doc_id", "source", "text")
    val got = Dedup.dedupInflationFrom(docs).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("docs"), r.getAs[Long]("dup_docs"),
          r.getAs[Long]("tokens_total"), r.getAs[Long]("tokens_removed"),
          r.getAs[Double]("dup_token_share")))).toMap
    assert(got("s1") == ((2L, 1L, 6L, 3L, 0.5)))
    assert(got("s2") == ((2L, 1L, 4L, 3L, 0.75)))
    // sf: token mass ties out against the corpus-wide word tokenizer
    val sf = Dedup.dedupInflation(spark, Sf).collect()
    val totalTok = sf.map(_.getAs[Long]("tokens_total")).sum
    val corpusTok = Tables.documents(spark, Sf)
      .agg(sum(size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("long")))
      .collect().head.getLong(0)
    assert(totalTok == corpusTok)
    assert(sf.map(_.getAs[Long]("docs")).sum == Tables.documents(spark, Sf).count())
  }

  test("dup-span scrub removes covered positions exactly: overlap union, double occurrence, sub-span grain") {
    import spark.implicits._
    val S = (1 to 8).map(i => s"s$i").mkString(" ")   // one exact 8-word span
    val T = (1 to 9).map(i => s"t$i").mkString(" ")   // a 9-word run = 2 overlapping 8-grams
    val docs = Seq(
      (1L, s"a1 $S a2 $S"),        // span twice -> both occurrences scrubbed
      (2L, s"$S b1 b2 b3"),
      (3L, "c1 c2 c3 c4 c5"),      // unique -> untouched
      (4L, "d1 d2 d3 d4 d5"),      // identical 5-word docs: below the
      (5L, "d1 d2 d3 d4 d5"),      //   8-word grain -> untouched
      (6L, S),                     // doc IS the span -> fully scrubbed
      (7L, s"g0 $T g1"),
      (8L, T)                      // overlap union: 9 removed, not 16
    ).toDF("doc_id", "text")
    val got = Dedup.cleanDupSpansFrom(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("total_words"), r.getAs[Long]("removed_words"),
          r.getAs[String]("clean_text")))).toMap
    assert(got(1L) == ((18L, 16L, "a1 a2")))
    assert(got(2L) == ((11L, 8L, "b1 b2 b3")))
    assert(got(3L) == ((5L, 0L, "c1 c2 c3 c4 c5")))
    assert(got(4L) == ((5L, 0L, "d1 d2 d3 d4 d5")))
    assert(got(5L) == ((5L, 0L, "d1 d2 d3 d4 d5")))
    assert(got(6L) == ((8L, 8L, "")))
    assert(got(7L) == ((11L, 9L, "g0 g1")), "9-word overlap must remove the union (9), not 2x8")
    assert(got(8L) == ((9L, 9L, "")))
    // idempotence: scrubbing the scrubbed corpus removes nothing more
    val again = Dedup.cleanDupSpansFrom(
      Dedup.cleanDupSpansFrom(docs).select(col("doc_id"), col("clean_text").as("text")))
    assert(again.agg(sum("removed_words")).collect().head.getLong(0) == 0L)
    // the armed (bloomed) covered join is row-identical — the bloom
    // prunes only provable non-matches, the exact md5 join decides
    val saved = Dedup.spanBloomMinDocs
    Dedup.spanBloomMinDocs = 0L
    try {
      val armed = Dedup.cleanDupSpansFrom(docs).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("total_words"), r.getAs[Long]("removed_words"),
            r.getAs[String]("clean_text")))).toMap
      assert(armed == got, "bloomed scrub drifted from the exact path")
    } finally Dedup.spanBloomMinDocs = saved
  }

  test("substring dup census counts cross-doc trigram positions, not within-doc repeats") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),            // shares "alpha beta gamma" with doc 2
      (2L, "xx yy alpha beta gamma zz"),
      (3L, "unrelated words entirely here"),     // nothing shared
      (4L, "p q r p q r p q")                    // repeats only WITHIN itself
    ).toDF("doc_id", "text")
    val got = Dedup.substringDupFrom(spark, docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("cross_dup_grams")))).toMap
    assert(got(1L) == ((2L, 1L)))
    assert(got(2L) == ((4L, 1L)))
    assert(got(3L) == ((2L, 0L)))
    assert(got(4L) == ((6L, 0L)), "within-doc repetition must not count as cross-doc duplication")
    // corpus run: fractions well-formed
    val bad = Dedup.substringDup(spark, Sf)
      .filter(col("dup_fraction") < 0 || col("dup_fraction") > 1 ||
        col("cross_dup_grams") > col("n_grams")).count()
    assert(bad == 0)
  }

  test("jaccard pairs are ordered, thresholded, and within a lang block") {
    val rows = Dedup.ngramJaccard(spark, Sf, threshold = 0.1).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Double]("jaccard") >= 0.1 && r.getAs[Double]("jaccard") <= 1.0)
    }
  }

  test("minhash estimate tracks exact jaccard on candidate pairs") {
    val est = Dedup.minhashLsh(spark, Sf, estThreshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    if (est.nonEmpty) {
      val exact = Dedup.ngramJaccard(spark, Sf, threshold = 0.0).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
      val errs = est.collect { case (k, e) if exact.contains(k) => math.abs(e - exact(k)) }
      assert(errs.nonEmpty && errs.sum / errs.size < 0.25,
        s"minhash estimate drift too high: ${errs.sum / errs.size}")
    }
  }

  test("minhash calibration: identical pair reads exact; per-decile error bounded") {
    import spark.implicits._
    val c = (1 to 18).map(i => s"c$i").mkString(" ")
    val d = Seq(
      (1L, (1 to 12).map(i => s"x$i").mkString(" ")), // identical pair:
      (2L, (1 to 12).map(i => s"x$i").mkString(" ")), //   est = exact = 1
      (3L, s"$c a1 a2 a3"),  // near-dups: 16 shared of 22 distinct
      (4L, s"$c b1 b2 b3"),  //   trigrams -> exact J = 16/22
      (5L, (1 to 10).map(i => s"z$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val got = Dedup.minhashCalibrationFrom(spark, d).collect()
      .map(r => r.getAs[Int]("est_decile") -> r).toMap
    // the identical pair lands alone in decile 9 with zero error
    val top = got(9)
    assert(top.getAs[Long]("n_pairs") == 1L)
    assert(top.getAs[Double]("mean_est") == 1.0)
    assert(top.getAs[Double]("mean_exact") == 1.0)
    assert(top.getAs[Double]("mean_abs_err") == 0.0)
    assert(top.getAs[Long]("n_exact_ge_04") == 1L)
    // the near-dup pair surfaces below decile 9 with the hand-computed
    // exact Jaccard and a 64-perm-sized estimation error
    val nd = got.view.filterKeys(_ < 9).values
    assert(nd.nonEmpty, "near-dup pair did not surface")
    val ndRow = nd.maxBy(_.getAs[Double]("mean_exact"))
    assert(math.abs(ndRow.getAs[Double]("mean_exact") - 16.0 / 22.0) < 1e-9)
    assert(ndRow.getAs[Double]("mean_abs_err") < 0.2)
    // sf invariants: deciles well-formed, pair-weighted error inside
    // the same drift bound the estimate-vs-exact spec pins
    val sf = Dedup.minhashCalibration(spark, Sf).collect()
    assert(sf.forall { r =>
      val dcl = r.getAs[Int]("est_decile"); dcl >= 0 && dcl <= 9 })
    val tot = sf.map(_.getAs[Long]("n_pairs")).sum
    assert(tot > 0)
    val werr = sf.map(r => r.getAs[Double]("mean_abs_err") *
      r.getAs[Long]("n_pairs")).sum / tot
    assert(werr < 0.25, s"weighted calibration error too high: $werr")
  }

  test("minhash calibration: rows are bit-identical across shuffle partitionings") {
    // the decile means must not depend on the order the shuffle
    // delivers a decile's pairs in
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    def run(partitions: Int, inputParts: Int) = {
      Caches.clearAll()
      spark.conf.set(key, partitions.toString)
      try Dedup.minhashCalibrationFrom(spark,
          Tables.documents(spark, Sf).repartition(inputParts)).collect().toSeq
      finally spark.conf.set(key, prev)
    }
    val one = run(1, 3)
    assert(one.nonEmpty)
    assert(run(7, 5) == one)
  }

  test("simhash pairs respect the hamming bound") {
    val bad = Dedup.simhash(spark, Sf).filter(col("hamming") > 7).count()
    assert(bad == 0)
  }

  test("near-dup corpus keeps exactly one doc per pair-graph component") {
    val th = 0.4
    val kept = Dedup.nearDupCorpus(spark, Sf, estThreshold = th).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    // ground truth: union-find over the same candidate pairs
    val pairs = Dedup.minhashLsh(spark, Sf, estThreshold = th).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val all = Tables.documents(spark, Sf).select("doc_id").collect()
      .map(_.getLong(0))
    val parent = scala.collection.mutable.Map(all.map(d => d -> d): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = all.groupBy(find).map { case (_, ds) => ds.min }.toSet
    assert(kept == expected,
      s"missing=${expected -- kept} extra=${kept -- expected}")
  }

  test("label propagation surfaces non-convergence at the round cap") {
    import spark.implicits._
    // a 10-deep chain needs 9 rounds to collapse to doc 1; cap at 2.
    // The RAW min-label core keeps the strict/warn cap contract…
    val docs = (1L to 10L).toDF("doc_id")
    val pairs = (1L until 10L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      Dedup.componentLabels(docs, pairs, maxRounds = 2,
        requireConvergence = true).collect()
    }
    // …while the ARMED door (nearDupCorpusFromPairs) turns this exact
    // failure mode into a win: the probe sees label flow not
    // collapsing and switches to star contraction, which converges
    // regardless of the min-label cap — strict mode no longer throws,
    // it returns the EXACT keep-set
    assert(Dedup.nearDupCorpusFromPairs(docs, pairs, maxRounds = 2,
      requireConvergence = true).collect()
      .map(_.getAs[Long]("doc_id")).toSeq == Seq(1L))
    // enough rounds: same answer
    val full = Dedup.nearDupCorpusFromPairs(docs, pairs, maxRounds = 15).collect()
    assert(full.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L))
  }

  test("cluster-size histogram counts planted components exactly") {
    import spark.implicits._
    // components: {1,2,3} (triangle via chain), {4,5}, {6}, {7} →
    // histogram: size 1 × 2, size 2 × 1, size 3 × 1
    val docs = (1L to 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val labels = Dedup.componentLabels(docs, pairs)
    val hist = labels.groupBy(col("keeper")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .collect().map(r => r.getAs[Long]("cluster_size") -> r.getAs[Long]("n_clusters")).toMap
    assert(hist == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
    // corpus-level invariants: docs tie out, survivors = cluster count
    val rows = Dedup.clusterSizes(spark, Sf).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == Tables.documents(spark, Sf).count())
    assert(rows.map(_.getAs[Long]("n_clusters")).sum ==
      operators.Dedup.nearDupCorpus(spark, Sf).count())
  }

  test("edit-distance pairs: exact distances on planted edits; PassJoin recall is complete") {
    import spark.implicits._
    val head = "anchor head text"   // 16 chars — a shared prefix
    val tail = "shared tail chars"  // >16 chars
    val mid = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      // 1↔2: three substitutions mid-document, both ends intact
      (1L, s"$head $mid $tail"),
      (2L, s"$head ${mid.replace("w2 ", "x2 ").replace("w5 ", "y5 ").replace("w9 ", "z9 ")} $tail"),
      // 3: shares doc 1's prefix but the edit mass exceeds maxD
      (3L, s"$head ${(1 to 30).map(i => s"q$i").mkString(" ")} different end!!"),
      // 4: distance 2 from doc 1 with BOTH ends edited — the pair the
      // retired end-anchored blocking MISSED; PassJoin must admit it
      (4L, s"Xnchor head text $mid shared tail charZ"),
      // 5: singleton
      (5L, "completely unrelated content with its own beginning and end"))
      .toDF("doc_id", "text")
    val got = Dedup.editDistancePairsFrom(docs, maxD = 16).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Int]("edit_distance")).toMap
    // the old blocking's boundary pair (1,4) is now ADMITTED, with its
    // exact distance; 2↔4 also sits within 16 (3 subs + both ends)
    assert(got.keySet == Set((1L, 2L), (1L, 4L), (2L, 4L)), s"got $got")
    assert(got((1L, 2L)) == 3)
    assert(got((1L, 4L)) == 2)
    // RECALL COMPLETENESS against brute force: random edits at random
    // positions (seeded) — every true pair within maxD must surface
    locally {
      val rnd = new scala.util.Random(421L)
      val base = (1 to 60).map(i => s"tok$i").mkString(" ")
      def mutate(s: String, edits: Int): String = {
        var cur = s
        (1 to edits).foreach { _ =>
          val p = rnd.nextInt(cur.length)
          cur = rnd.nextInt(3) match {
            case 0 => cur.substring(0, p) + ('a' + rnd.nextInt(26)).toChar +
              cur.substring(math.min(p + 1, cur.length)) // substitute
            case 1 => cur.substring(0, p) + ('a' + rnd.nextInt(26)).toChar +
              cur.substring(p) // insert
            case _ => if (cur.length > 20)
              cur.substring(0, p) + cur.substring(math.min(p + 1, cur.length))
              else cur // delete
          }
        }
        cur
      }
      val fuzz = (1L to 24L).map(id =>
        (id, mutate(base, rnd.nextInt(25)))).toDF("doc_id", "text")
      val gotF = Dedup.editDistancePairsFrom(fuzz, maxD = 16).collect()
        .map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")),
          r.getAs[Int]("edit_distance"))).toMap
      val brute = fuzz.as("a").crossJoin(fuzz.as("b"))
        .filter(col("a.doc_id") < col("b.doc_id") &&
          length(col("a.text")) >= 17 && length(col("b.text")) >= 17)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          levenshtein(col("a.text"), col("b.text"), 16).as("d"))
        .filter(col("d") >= 0 && col("d") <= 16)
        .collect()
        .map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")),
          r.getAs[Int]("d"))).toMap
      assert(brute.nonEmpty, "fuzz corpus must contain true near pairs")
      assert(gotF == brute,
        s"PassJoin recall must be complete: missing ${brute.keySet -- gotF.keySet}, " +
          s"extra ${gotF.keySet -- brute.keySet}")
      // the Bloom-pruned probe path (normally armed only past the
      // adaptive doc floor) must be pair-for-pair identical — a bloom
      // has no false negatives by construction, and this pins it
      val floor = Dedup.candBloomMinDocs
      try {
        Dedup.candBloomMinDocs = 0L
        val gotB = Dedup.editDistancePairsFrom(fuzz, maxD = 16).collect()
          .map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")),
            r.getAs[Int]("edit_distance"))).toMap
        assert(gotB == brute, "the bloomed probe path must keep complete recall")
      } finally Dedup.candBloomMinDocs = floor
    }
    // registry form: pairs exist at sf, all within the bound, ordered
    val sf = Dedup.editDistancePairs(spark, Sf).collect()
    assert(sf.forall(r => r.getAs[Int]("edit_distance") >= 0 &&
      r.getAs[Int]("edit_distance") <= 16))
    assert(sf.forall(r => r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")))
  }

  test("recall vs dim: a prefix-identical decoy wins at low dim, the true neighbor at full dim") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mrl").toString
    // query 0; cand 10 = decoy (identical first-2-dim direction, wrong
    // tail, smaller id wins the low-dim tie), cand 11 = true neighbor
    val rows = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0),
      (10L, Array(1f, 0f, -1f, 0f), 0),
      (11L, Array(1f, 0f, 0.5f, 0f), 0),
      (12L, Array(-1f, 1f, 0f, 1f), 0))
      .toDF("vec_id", "embedding", "label")
    rows.write.parquet(s"$dir/embeddings.parquet")
    val got = Similarity.recallVsDim(spark, dir, numQueries = 1, k = 1,
      dims = Seq(2, 4)).collect()
      .map(r => r.getAs[Int]("dim") ->
        ((r.getAs[Double]("mean_recall"), r.getAs[Long]("n_queries")))).toMap
    assert(got(4) == ((1.0, 1L)), s"full dim is its own truth: $got")
    assert(got(2) == ((0.0, 1L)),
      s"the prefix decoy must displace the true neighbor at dim 2: $got")
    // truth comes from the UNTRUNCATED embedding: a dims list whose
    // max (2) falls short of the real dimension (4) must still grade
    // against full-vector truth — the max(dims) row reads 0.0 here,
    // not the trivial 1.0 the old topk-derived truth would report
    val gotShort = Similarity.recallVsDim(spark, dir, numQueries = 1,
      k = 1, dims = Seq(2)).collect()
      .map(r => r.getAs[Int]("dim") -> r.getAs[Double]("mean_recall")).toMap
    assert(gotShort(2) == 0.0,
      s"max(dims) below the real dimension must not self-grade: $gotShort")
    // registry form at sf: recall non-decreasing toward full dim at
    // the mean level would be too strong (truncation is lossy, not
    // monotone per query) — pin the invariants that must hold: full
    // dim reads exactly 1.0, every recall is within [0,1], and the
    // query sample is the declared size
    val sf = Similarity.recallVsDim(spark, Sf).collect()
    val byDim = sf.map(r => r.getAs[Int]("dim") -> r.getAs[Double]("mean_recall")).toMap
    assert(byDim(64) == 1.0, s"full-dim recall must be exactly 1: $byDim")
    assert(byDim.values.forall(r => r >= 0.0 && r <= 1.0))
    assert(sf.forall(_.getAs[Long]("n_queries") == 10L))
  }

  test("LSH recall: the top decile is never missed; recall is what the left join says") {
    // sf ground truth: exact Jaccard pairs vs the production LSH path
    val got = Dedup.lshRecall(spark, Sf).collect()
      .map(r => r.getAs[Int]("jaccard_decile") ->
        ((r.getAs[Long]("n_truth"), r.getAs[Long]("n_found"),
          r.getAs[Double]("recall")))).toMap
    assert(got.nonEmpty)
    // recall ties out arithmetically and stays in [0,1]
    assert(got.values.forall { case (t, f, r) =>
      f <= t && r == f.toDouble / t })
    // near-identical pairs (decile 9: exact jaccard ≥ 0.9) must not be
    // missed by the banding — the S-curve's flat top
    got.get(9).foreach { case (t, f, _) =>
      assert(f == t, s"the banding must catch every >=0.9 pair: $got") }
    // the truth mass matches the exact generator's own census
    val truthTotal = Dedup.ngramJaccard(spark, Sf).count()
    assert(got.values.map(_._1).sum == truthTotal)
    // the corpus-scale sample cap: a 1/2 slice bounds the quadratic
    // truth stage by construction; the slice's own arithmetic still
    // ties out and its truth mass can only shrink
    val sampled = Dedup.lshRecall(spark, Sf, sampleMod = 2).collect()
    assert(sampled.forall(r => r.getAs[Long]("n_found") <= r.getAs[Long]("n_truth")))
    assert(sampled.map(_.getAs[Long]("n_truth")).sum <= truthTotal)
  }

  test("method agreement: each exact modality owns its planted pair; set algebra ties out") {
    import spark.implicits._
    val w = (1 to 40).map(i => s"word$i")
    val docs = Seq(
      // 1↔2: BLOCK ROTATION — shingles mostly preserved (Jaccard pair)
      // but the character edit mass is the moved block (never edit's)
      (1L, w.mkString(" ")),
      (2L, (w.drop(20) ++ w.take(20)).mkString(" ")),
      // 3↔4: sparse single-char edits across the doc — character
      // distance 8 (edit pair) but every third shingle is killed
      (3L, (1 to 24).map(i => s"tok$i").mkString(" ")),
      (4L, (1 to 24).map(i => if (i % 3 == 0) s"tok${i}x" else s"tok$i").mkString(" ")),
      // 5↔6: a short doc quoted inside a long one — containment pair,
      // Jaccard diluted far below threshold, edit mass = the suffix
      (5L, (1 to 6).map(i => s"quote$i").mkString(" ")),
      (6L, ((1 to 6).map(i => s"quote$i") ++ (1 to 60).map(i => s"fill$i")).mkString(" ")),
      // 7: unrelated singleton
      (7L, (1 to 30).map(i => s"other$i").mkString(" ")))
      .map { case (id, t) => (id, t, "en", "spec", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_agree").toString
    docs.write.parquet(s"$dir/documents.parquet")
    // ground truth from the generators themselves
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val jp = pairs(Dedup.ngramJaccard(spark, dir))
    val cp = pairs(Dedup.ngramContainment(spark, dir))
    val ep = pairs(Dedup.editDistancePairs(spark, dir))
    assert(jp.contains((1L, 2L)) && !ep.contains((1L, 2L)),
      s"rotation must be Jaccard's pair, not edit's: j=$jp e=$ep")
    assert(ep.contains((3L, 4L)) && !jp.contains((3L, 4L)),
      s"sparse edits must be edit's pair, not Jaccard's: j=$jp e=$ep")
    assert(cp.contains((5L, 6L)) && !jp.contains((5L, 6L)) && !ep.contains((5L, 6L)),
      s"the quote must be containment's alone: c=$cp")
    // the census reproduces the set algebra exactly
    val got = Dedup.methodAgreement(spark, dir).collect()
      .map(r => (r.getAs[String]("method_a"), r.getAs[String]("method_b")) -> r)
      .toMap
    def check(a: String, b: String, sa: Set[(Long, Long)], sb: Set[(Long, Long)]): Unit = {
      val r = got((a, b))
      assert(r.getAs[Long]("n_pairs_a") == sa.size.toLong)
      assert(r.getAs[Long]("n_pairs_b") == sb.size.toLong)
      assert(r.getAs[Long]("n_both") == (sa intersect sb).size.toLong)
      assert(r.getAs[Long]("n_only_a") == (sa diff sb).size.toLong)
      assert(r.getAs[Long]("n_only_b") == (sb diff sa).size.toLong)
      val union = (sa union sb).size
      assert(r.getAs[Double]("agreement") ==
        (sa intersect sb).size.toDouble / math.max(union, 1))
    }
    check("jaccard", "containment", jp, cp)
    check("jaccard", "edit", jp, ep)
    check("containment", "edit", cp, ep)
  }

  test("full method agreement: exact sub-census matches the full-SQL form; seeded columns are sane") {
    val full = Dedup.methodAgreementFull(spark, Sf).collect()
      .map(r => (r.getAs[String]("method_a"), r.getAs[String]("method_b")) -> r)
      .toMap
    assert(full.size == 10, s"5 methods -> 10 pairs: ${full.keys}")
    // the three exact methods' rows must be BIT-IDENTICAL to the
    // full-SQL census (one membership rollup, two surfaces)
    val exact = Dedup.methodAgreement(spark, Sf).collect()
      .map(r => (r.getAs[String]("method_a"), r.getAs[String]("method_b")) -> r)
      .toMap
    exact.foreach { case ((a, b), e) =>
      // orientation may differ between the two forms; compare the
      // unordered pair with sides swapped when reversed
      val (f, swapped) = full.get((a, b)).map(_ -> false)
        .getOrElse(full((b, a)) -> true)
      def fa(c: String, cSwap: String) =
        if (swapped) f.getAs[Long](cSwap) else f.getAs[Long](c)
      assert(e.getAs[Long]("n_pairs_a") == fa("n_pairs_a", "n_pairs_b") &&
        e.getAs[Long]("n_pairs_b") == fa("n_pairs_b", "n_pairs_a") &&
        e.getAs[Long]("n_both") == f.getAs[Long]("n_both") &&
        e.getAs[Long]("n_only_a") == fa("n_only_a", "n_only_b") &&
        e.getAs[Long]("n_only_b") == fa("n_only_b", "n_only_a") &&
        e.getAs[Double]("agreement") == f.getAs[Double]("agreement"),
        s"exact sub-census drifted at ($a,$b)")
    }
    // seeded families: set algebra stays consistent
    assert(full.values.forall { r =>
      val (a, b, both) = (r.getAs[Long]("n_pairs_a"),
        r.getAs[Long]("n_pairs_b"), r.getAs[Long]("n_both"))
      both <= math.min(a, b) && r.getAs[Double]("agreement") >= 0.0 &&
        r.getAs[Double]("agreement") <= 1.0
    })
    // minhash exists to approximate jaccard: on the sf corpus their
    // overlap is nonempty (the near-dup plants are caught by both)
    assert(full(("jaccard", "minhash")).getAs[Long]("n_both") > 0L)
  }

  test("member-pair cache: one build serves the eval family, outputs match fresh generators, rewrites miss") {
    import spark.implicits._
    // ONE generator sweep serves all four composites in a session
    Dedup.memberPairMemo.clear()
    val before = Dedup.memberPairMemo.builds
    Dedup.methodAgreementFull(spark, Sf).collect()
    Dedup.methodAgreement(spark, Sf).collect()
    val recall = Dedup.lshRecall(spark, Sf).collect()
    Dedup.editClusters(spark, Sf).count()
    assert(Dedup.memberPairMemo.builds == before + 1,
      "the eval family must share ONE member-pair build")
    // the cached lshRecall is bit-identical to deciles recomputed
    // from the FRESH generators (zero semantic change)
    val truthPairs = Dedup.ngramJaccard(spark, Sf)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val foundPairs = Dedup.minhashLsh(spark, Sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = truthPairs.groupBy { case (_, j) => math.min((j * 10).toInt, 9) }
      .map { case (d, m) =>
        d -> ((m.size.toLong, m.keys.count(foundPairs).toLong)) }
    val got = recall.map(r => r.getAs[Int]("jaccard_decile") ->
      ((r.getAs[Long]("n_truth"), r.getAs[Long]("n_found")))).toMap
    assert(got == expected, s"cached recall drifted from fresh generators:\n$got\nvs\n$expected")
    // the auto (registered) form picks mod 1 at gate scale -> the
    // exhaustive rows bit-for-bit; a corpus past the target picks a
    // real slice (strictly fewer truth docs than the exhaustive form)
    val auto = Dedup.lshRecallAuto(spark, Sf).collect()
    assert(auto.map(_.toSeq).toSeq == recall.map(_.toSeq).toSeq)
    val autoCapped = Dedup.lshRecallAuto(spark, Sf, targetDocs = 100L).collect()
    assert(autoCapped.map(_.getAs[Long]("n_truth")).sum <
      recall.map(_.getAs[Long]("n_truth")).sum,
      "a sub-corpus target must engage the deterministic slice")
    // freshness: REWRITING the corpus under the same dir must MISS
    // (new part-file names), never serve the previous corpus's pairs
    def mk(tag: String) = (1 to 12).map(i =>
      (i.toLong, (1 to 40).map(j => s"${tag}_w${j}_${i % 3}").mkString(" "),
        "en", "spec", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_mpc").toString
    mk("v1").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val v1 = Dedup.methodAgreementFull(spark, dir).collect()
      .map(r => r.toSeq).toSeq
    val builds = Dedup.memberPairMemo.builds
    mk("v2").limit(6).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Dedup.methodAgreementFull(spark, dir).collect()
    assert(Dedup.memberPairMemo.builds == builds + 1,
      "a rewritten corpus must rebuild, not serve the stale frame")
    // and an unchanged dir HITS
    Dedup.methodAgreement(spark, dir).collect()
    assert(Dedup.memberPairMemo.builds == builds + 1)
    assert(v1.nonEmpty)
  }

  test("calibration log: per-pair deltas trend across runs; reruns replace idempotently") {
    import spark.implicits._
    def frame(editJac: Double, mhSh: Double) = Seq(
      ("edit", "jaccard", 10L, 12L, 8L, 2L, 4L, editJac),
      ("minhash", "simhash", 5L, 6L, 3L, 2L, 3L, mhSh))
      .toDF("method_a", "method_b", "n_pairs_a", "n_pairs_b", "n_both",
        "n_only_a", "n_only_b", "agreement")
    val logDir = java.nio.file.Files.createTempDirectory("graft_cal").toString
    Dedup.calibrationLogAppend(frame(0.8, 0.5), logDir, "r1")
    Dedup.calibrationLogAppend(frame(0.6, 0.5), logDir, "r2")
    val trend = Dedup.calibrationTrendFromLog(spark, logDir).collect()
    def row(run: String, a: String) = trend.find(r =>
      r.getAs[String]("run_id") == run && r.getAs[String]("method_a") == a).get
    // a pair's first run has no previous row: delta is NULL, never 0
    assert(row("r1", "edit").isNullAt(row("r1", "edit").fieldIndex("delta")))
    // the shifted pair reads its drop; the untouched pair reads a
    // REAL measured 0
    assert(math.abs(row("r2", "edit").getAs[Double]("delta") + 0.2) < 1e-12)
    assert(row("r2", "minhash").getAs[Double]("delta") == 0.0)
    // rerunning a run_id REPLACES its partition — no double-counting
    Dedup.calibrationLogAppend(frame(0.7, 0.5), logDir, "r2")
    val again = Dedup.calibrationTrendFromLog(spark, logDir).collect()
    assert(again.length == 4, s"rerun must replace, got ${again.length} rows")
    assert(math.abs(again.find(r => r.getAs[String]("run_id") == "r2" &&
      r.getAs[String]("method_a") == "edit").get
      .getAs[Double]("delta") + 0.1) < 1e-12)
    // the real census round-trips through the log unchanged
    val real = Dedup.methodAgreementFull(spark, Sf)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_cal2").toString
    Dedup.calibrationLogAppend(real, dir2, "c1")
    val back = Dedup.calibrationTrendFromLog(spark, dir2).collect()
    val want = real.collect().map(r =>
      (r.getAs[String]("method_a"), r.getAs[String]("method_b")) ->
        ((r.getAs[Long]("n_both"), r.getAs[Double]("agreement")))).toMap
    assert(back.length == want.size)
    back.foreach { r =>
      val k = (r.getAs[String]("method_a"), r.getAs[String]("method_b"))
      assert(want(k) == ((r.getAs[Long]("n_both"), r.getAs[Double]("agreement"))),
        s"log round-trip drifted at $k")
    }
    // the banding-recall twin: per-decile deltas trend the same way
    def rframe(rec9: Double) = Seq((4, 10L, 5L, 0.5), (9, 20L, (rec9 * 20).toLong, rec9))
      .toDF("jaccard_decile", "n_truth", "n_found", "recall")
    val rlog = java.nio.file.Files.createTempDirectory("graft_rcal").toString
    Dedup.lshRecallLogAppend(rframe(1.0), rlog, "r1")
    Dedup.lshRecallLogAppend(rframe(0.8), rlog, "r2")
    val rtrend = Dedup.lshRecallTrendFromLog(spark, rlog).collect()
    def rrow(run: String, d: Int) = rtrend.find(r =>
      r.getAs[String]("run_id") == run && r.getAs[Int]("jaccard_decile") == d).get
    assert(rrow("r1", 9).isNullAt(rrow("r1", 9).fieldIndex("delta")))
    assert(math.abs(rrow("r2", 9).getAs[Double]("delta") + 0.2) < 1e-12,
      "a top-decile recall drop must land as its delta")
    assert(rrow("r2", 4).getAs[Double]("delta") == 0.0)
    // and the real eval rows round-trip unchanged
    val realR = Dedup.lshRecallAuto(spark, Sf)
    val rlog2 = java.nio.file.Files.createTempDirectory("graft_rcal2").toString
    Dedup.lshRecallLogAppend(realR, rlog2, "c1")
    val rback = Dedup.lshRecallTrendFromLog(spark, rlog2).collect()
    val rwant = realR.collect().map(r => r.getAs[Int]("jaccard_decile") ->
      ((r.getAs[Long]("n_truth"), r.getAs[Long]("n_found")))).toMap
    assert(rback.length == rwant.size)
    rback.foreach { r =>
      assert(rwant(r.getAs[Int]("jaccard_decile")) ==
        ((r.getAs[Long]("n_truth"), r.getAs[Long]("n_found"))))
    }
  }

  test("Caches.clearAll drops every session memo: warmed families rebuild") {
    // warm all eight memo families at Sf, clearAll, re-touch each:
    // every build counter must advance (a stale frame surviving the
    // aggregate clear would serve the wrong corpus to the next
    // tenant), and no memo's checkpoint blocks may stay in storage
    val memos = Seq(Dedup.memberPairMemo, TextAnalysis.qualityLrMemo,
      Similarity.kmeansMemo, Similarity.pqBooksMemo, Similarity.knnGraphMemo,
      operators.Graph.edgeMemo, operators.Sessionize.sessionMemo,
      operators.Skew.censusMemo)
    def touch(): Seq[org.apache.spark.sql.DataFrame] = {
      Similarity.kmeansCentroids(spark, Sf)
      Similarity.pqBooks(spark, Sf, 4, 8, 16, 2)
      operators.Skew.measure(Tables.events(spark, Sf), "user_id")
      Seq(Dedup.memberPairFrame(spark, Sf),
        TextAnalysis.trainedQualityLr(spark, Sf).features,
        Similarity.annKnnGraph(spark, Sf),
        // coview, not product: the sf0.001 slice has no product
        // transitions, and an empty frame holds no blocks to serve
        operators.Graph.coviewEdges(spark, Sf),
        operators.Sessionize.sessionStats(spark, Sf))
    }
    // start empty, so no bound clear can fire mid-test
    graft.Caches.clearAll()
    val frames = touch()
    val b0 = memos.map(_.builds)
    // warm hits: no rebuilds
    touch()
    assert(memos.map(_.builds) == b0)
    val held = frames.flatMap(_.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }).toSet
    def stored = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    assert(held.size == frames.size && held.subsetOf(stored),
      "every frame memo must hold checkpoint blocks while warm")
    graft.Caches.clearAll()
    assert((held & stored).isEmpty,
      s"clearAll must unpersist every memo checkpoint, left ${held & stored}")
    touch()
    assert(memos.map(_.builds) == b0.map(_ + 1), "every family must rebuild")
  }

  test("memo self-heal: killed checkpoint blocks invalidate and rebuild instead of failing forever") {
    // member-pair memo: serve, verify a warm hit, then kill the
    // backing blocks (executor-loss simulation — the frame has no
    // lineage, so a read would fail permanently) and observe a
    // rebuild that serves the same corpus
    Dedup.memberPairMemo.clear()
    val served = Dedup.memberPairFrame(spark, Sf)
    val rows = served.count()
    val p0 = Dedup.memberPairMemo.builds
    assert(Dedup.memberPairFrame(spark, Sf).count() == rows)
    assert(Dedup.memberPairMemo.builds == p0, "healthy re-serve must not rebuild")
    graft.Caches.unpersistCheckpointed(served)
    val healed = Dedup.memberPairFrame(spark, Sf)
    assert(Dedup.memberPairMemo.builds == p0 + 1, "block loss must rebuild")
    assert(healed.count() == rows, "the healed frame must serve the same corpus")
    // kNN-graph memo: the same contract
    Similarity.knnGraphMemo.clear()
    val g = Similarity.annKnnGraph(spark, Sf)
    val gn = g.count()
    val k0 = Similarity.knnGraphMemo.builds
    assert(Similarity.annKnnGraph(spark, Sf).count() == gn)
    assert(Similarity.knnGraphMemo.builds == k0, "healthy re-serve must not rebuild")
    graft.Caches.unpersistCheckpointed(g)
    assert(Similarity.annKnnGraph(spark, Sf).count() == gn)
    assert(Similarity.knnGraphMemo.builds == k0 + 1,
      "block loss must rebuild the graph")
    // the session and graph-edge frame memos carry the same contract
    operators.Sessionize.sessionMemo.clear()
    val seq = operators.Sessionize.sessionSequences(spark, Sf)
    val sn = seq.count()
    val s0 = operators.Sessionize.sessionMemo.builds
    graft.Caches.unpersistCheckpointed(seq)
    assert(operators.Sessionize.sessionSequences(spark, Sf).count() == sn)
    assert(operators.Sessionize.sessionMemo.builds == s0 + 1,
      "block loss must rebuild the session frame")
    // (the co-view frame: the product-transition frame is empty at
    // sf0.001, see the empty-frame case below)
    operators.Graph.edgeMemo.clear()
    val edges = operators.Graph.coviewEdges(spark, Sf)
    val en = edges.count()
    assert(en > 0)
    val e0 = operators.Graph.edgeMemo.builds
    graft.Caches.unpersistCheckpointed(edges)
    assert(operators.Graph.coviewEdges(spark, Sf).count() == en)
    assert(operators.Graph.edgeMemo.builds == e0 + 1,
      "block loss must rebuild the edge frame")
    // an empty frame checkpoints to a zero-partition RDD, which has no
    // blocks to lose and which the storage registry never lists: it is
    // built once and then served from the memo
    val empty = operators.Graph.productEdges(spark, Sf)
    assert(empty.count() == 0)
    assert(empty.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.getNumPartitions
    } == Seq(0))
    val p1 = operators.Graph.edgeMemo.builds
    assert(operators.Graph.productEdges(spark, Sf).count() == 0)
    assert(operators.Graph.edgeMemo.builds == p1,
      "an empty memo frame must be served, not rebuilt")
    // the quality-LR model holds a checkpointed feature frame: the
    // same contract through its eval consumer
    TextAnalysis.qualityLrMemo.clear()
    val lr = TextAnalysis.trainedQualityLr(spark, Sf)
    def evalCells = TextAnalysis.qualityClassifierEval(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("n_docs"))).toSeq
    val cells = evalCells
    val q0 = TextAnalysis.qualityLrMemo.builds
    graft.Caches.unpersistCheckpointed(lr.features)
    assert(evalCells == cells, "the healed model must score the same corpus")
    assert(TextAnalysis.qualityLrMemo.builds == q0 + 1,
      "block loss must retrain the model")
  }

  test("persisted member pairs: disk-served census byte-identical, tamper refuses") {
    val path = java.nio.file.Files.createTempDirectory("graft_mp_art").toString
    Dedup.saveMemberPairs(spark, Sf, path)
    // loaded rows = memoized rows (set compare — persists unsorted)
    val loaded = Dedup.loadMemberPairs(spark, path)
      .collect().map(_.toSeq).toSet
    val memo = Dedup.memberPairFrame(spark, Sf).collect().map(_.toSeq).toSet
    assert(loaded == memo, "loaded member pairs must equal the memo frame")
    // disk-served census ≡ fresh census
    val served = Dedup.methodAgreementFullFromArtifact(spark, path)
      .collect().map(_.toSeq).toSeq
    val fresh = Dedup.methodAgreementFull(spark, Sf).collect().map(_.toSeq).toSeq
    assert(served == fresh, "disk-served agreement census must be byte-identical")
    // wrong-artifact refuse
    intercept[IllegalArgumentException] {
      operators.Similarity.loadKmeansCentroids(spark, path)
    }
    // tamper: drop one row under the stale manifest — the content fp
    // covers every row
    val g = spark.read.parquet(path)
    val manifest = new java.io.File(path, graft.sources.ArtifactManifest.FileName)
    val keep = java.nio.file.Files.readAllBytes(manifest.toPath)
    val tmp = java.nio.file.Files.createTempDirectory("graft_mp_tamper").toString
    g.limit((g.count() - 1).toInt).write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").parquet(path)
    java.nio.file.Files.write(manifest.toPath, keep)
    intercept[IllegalStateException] {
      Dedup.loadMemberPairs(spark, path)
    }
  }

  test("explicit memo clear unpersists checkpoint blocks eagerly") {
    // the Caches scaladoc's storage contract: clearAll / the family
    // clears return the localCheckpoint blocks AT the call, not at
    // some later GC — the frame's backing RDD must read StorageLevel
    // NONE the moment the clear returns
    import org.apache.spark.storage.StorageLevel
    val f = Dedup.memberPairFrame(spark, Sf)
    f.count()
    val rdds = f.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    assert(rdds.nonEmpty, "memoized frame must be checkpoint-backed")
    assert(rdds.forall(_.getStorageLevel != StorageLevel.NONE),
      "blocks must be persisted while cached")
    Dedup.memberPairMemo.clear()
    assert(rdds.forall(_.getStorageLevel == StorageLevel.NONE),
      "explicit clear must unpersist eagerly")
  }

  test("edit clusters: transitive collapse to the min-id keeper; short docs stay singletons") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),                       // keeper of the chain
      (2L, base.replace("tok7 ", "tok7x ")),   // 1 edit from doc 1
      (3L, base.replace("tok7 ", "tok7x ")
        .replace("tok40 ", "zzz40xx ")),      // ≤16 from doc 2; the
                                              // chain is transitive
      (4L, (1 to 60).map(i => s"unrel$i").mkString(" ")), // singleton
      (5L, "tiny doc"))                  // < 17 chars → gated singleton
      .toDF("doc_id", "text")
    val got = Dedup.editClustersFrom(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("keeper"), r.getAs[Long]("cluster_size"),
          r.getAs[Boolean]("is_keeper")))).toMap
    assert(got(1L) == ((1L, 3L, true)))
    assert(got(2L) == ((1L, 3L, false)))
    assert(got(3L) == ((1L, 3L, false)), s"transitive chain must collapse: $got")
    assert(got(4L) == ((4L, 1L, true)))
    assert(got(5L) == ((5L, 1L, true)), "a sub-gate doc stays a singleton")
    // sf registry form: labels partition the corpus, keeper ≤ member,
    // sizes tie out to the doc count
    val sf = Dedup.editClusters(spark, Sf).collect()
    assert(sf.length == Tables.documents(spark, Sf).count())
    assert(sf.forall(r => r.getAs[Long]("keeper") <= r.getAs[Long]("doc_id")))
    val byKeeper = sf.groupBy(_.getAs[Long]("keeper"))
    assert(byKeeper.forall { case (_, rows) =>
      rows.forall(_.getAs[Long]("cluster_size") == rows.length) })
    // the clusters are the pair graph's components: every admitted
    // pair shares a keeper
    val pairs = Dedup.editDistancePairs(spark, Sf).collect()
    val keeperOf = sf.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keeper")).toMap
    assert(pairs.forall(p =>
      keeperOf(p.getAs[Long]("doc_a")) == keeperOf(p.getAs[Long]("doc_b"))))
  }

  test("CC auto-switch: a 64-chain takes the star path, near-dup shapes stay min-label, labels identical") {
    import spark.implicits._
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("keeper")))
        .sortBy(_._1).toSeq
    // the high-diameter complement: a 64-link chain — min-label needs
    // 63 rounds, label flow never collapses inside the probe
    val chainDocs = (1L to 64L).toDF("doc_id")
    val chainPairs = (1L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (chainLabels, chainPath) = Dedup.componentLabelsAuto(chainDocs, chainPairs)
    assert(chainPath == "star", "a deep chain must switch to star contraction")
    assert(chainLabels.select("keeper").distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // labels identical to a min-label run given enough rounds
    assert(canon(chainLabels) ==
      canon(Dedup.componentLabels(chainDocs, chainPairs, maxRounds = 70)))
    // near-dup shapes (stars, cliques, isolated docs): converge inside
    // the probe → stay on min-label; labels identical to the star core
    val clDocs = (1L to 12L).toDF("doc_id")
    val clPairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L),
      (7L, 8L), (7L, 9L), (8L, 9L)).toDF("doc_a", "doc_b")
    val (clLabels, clPath) = Dedup.componentLabelsAuto(clDocs, clPairs)
    assert(clPath == "min_label", "shallow near-dup clusters must not pay star rounds")
    assert(canon(clLabels) == canon(
      graft.operators.Graph.connectedComponentsFrom(
          clDocs, clPairs)
        .select(col("id").as("doc_id"), col("component").as("keeper"))))
    // isolated docs self-label on the chosen path
    assert(canon(clLabels).filter(_._1 >= 10L).forall(p => p._1 == p._2))
    // the armed survivor filter returns the same keep-set either way
    val chainDocsFull = chainDocs.withColumn("text", concat(lit("d"), col("doc_id")))
    assert(Dedup.nearDupCorpusFromPairs(chainDocsFull, chainPairs)
      .collect().map(_.getAs[Long]("doc_id")).toSeq == Seq(1L))
  }

  test("containment catches a verbatim excerpt that Jaccard structurally misses") {
    import spark.implicits._
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val quote = (10 to 17).map(i => s"w$i").mkString(" ") // 8 words of the 40
    val docs = Seq((1L, "en", long), (2L, "en", quote), (3L, "en",
      (100 to 120).map(i => s"x$i").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val pairs = Dedup.ngramContainmentFrom(spark, docs, threshold = 0.8,
        broadcastBuild = true).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert((p.getAs[Long]("doc_a"), p.getAs[Long]("doc_b")) == ((1L, 2L)))
    // the quote is FULLY contained; the long side's containment is low
    assert(p.getAs[Double]("containment_b") == 1.0)
    assert(p.getAs[Double]("containment_a") < 0.2)
    // Jaccard on the same pair is far below any dedup threshold — the
    // asymmetric measure is the only one that sees the excerpt
    val jac = 6.0 / (38 + 6 - 6) // shared trigrams / union
    assert(jac < 0.2)
    // corpus run: thresholds hold and directions are well-formed
    Dedup.ngramContainment(spark, Sf).collect().foreach { r =>
      val (ca, cb) = (r.getAs[Double]("containment_a"), r.getAs[Double]("containment_b"))
      assert(math.max(ca, cb) >= 0.8 && ca >= 0 && cb <= 1.0)
    }
  }

  test("source redundancy profile ties to the corpus and the cluster census") {
    val rows = Dedup.sourceProfile(spark, Sf).collect()
    assert(rows.nonEmpty)
    // every doc counted exactly once across sources
    assert(rows.map(_.getAs[Long]("n_docs")).sum == Tables.documents(spark, Sf).count())
    // near-dup docs across sources == docs in >=2 clusters from the census
    val censusDups = Dedup.clusterSizes(spark, Sf).collect()
      .filter(_.getAs[Long]("cluster_size") >= 2).map(_.getAs[Long]("n_docs")).sum
    assert(rows.map(_.getAs[Long]("near_dup_docs")).sum == censusDups)
    rows.foreach { r =>
      assert(r.getAs[Long]("keepers") <= r.getAs[Long]("n_docs"))
      val rate = r.getAs[Double]("near_dup_rate")
      assert(rate >= 0.0 && rate <= 1.0)
    }
  }

  test("split leakage grid covers every near-dup pair and flags only cross-split cells") {
    val rows = Dedup.splitLeakage(spark, Sf).collect()
    val totalPairs = Dedup.minhashLsh(spark, Sf).count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == totalPairs)
    rows.foreach { r =>
      val (s1, s2) = (r.getAs[String]("split_1"), r.getAs[String]("split_2"))
      assert(Set("train", "val", "test")(s1) && Set("train", "val", "test")(s2))
      assert(s1 <= s2) // canonicalized cells — no mirrored duplicates
      assert(r.getAs[Int]("leaked") == (if (s1 == s2) 0 else 1))
      assert(r.getAs[Long]("n_pairs") > 0)
    }
  }

  test("dropped-bucket diagnostics quantify what the skew guard lost") {
    import spark.implicits._
    // 5 members in one bucket, 2 in another; guard at 3 drops the big one
    val banded = (Seq.fill(5)((0, 7L)) ++ Seq.fill(2)((1, 9L)))
      .zipWithIndex.map { case ((b, h), i) => (i.toLong, b, h) }
      .toDF("doc_id", "band_idx", "band_hash")
    val d = Dedup.droppedBuckets(banded, Seq("band_idx", "band_hash"), maxBucket = 3)
      .collect().head
    assert(d.getAs[Long]("dropped_buckets") == 1L)
    assert(d.getAs[Long]("rows_in_dropped") == 5L)
    assert(d.getAs[Long]("max_bucket_size") == 5L)
    // nothing dropped → explicit zero row, not an empty frame
    val z = Dedup.droppedBuckets(banded, Seq("band_idx", "band_hash"), maxBucket = 100)
      .collect().head
    assert(z.getAs[Long]("dropped_buckets") == 0L)
    // the real corpus at the default guard drops nothing (and the
    // public per-family reports share the exact banding of the pair
    // stage)
    Seq(Dedup.minhashDroppedBuckets(spark, Sf),
        Dedup.simhashDroppedBuckets(spark, Sf),
        Similarity.cosineDroppedBuckets(spark, Sf)).foreach { df =>
      assert(df.collect().head.getAs[Long]("dropped_buckets") == 0L)
    }
  }

  test("simhash calibration: exact duplicates anchor hamming 0 at jaccard 1; bands bounded") {
    val rows = Dedup.simhashCalibration(spark, Sf).collect()
      .map(r => r.getAs[Int]("hamming") -> r).toMap
    assert(rows.nonEmpty)
    // the corpus's planted exact dups anchor a hamming-0 band; near-
    // dup revisions can hash identically too, so the band's mean is
    // near-1, not exactly 1 — which is precisely what the calibration
    // is FOR (reading how much exact verification a cut still needs)
    assert(rows.contains(0), s"no hamming-0 band: ${rows.keySet}")
    assert(rows(0).getAs[Double]("mean_exact") >= 0.9)
    assert(rows(0).getAs[Double]("share_exact_ge_04") >= 0.95)
    rows.values.foreach { r =>
      assert(r.getAs[Int]("hamming") >= 0 && r.getAs[Int]("hamming") <= 16)
      val m = r.getAs[Double]("mean_exact")
      assert(m >= 0.0 && m <= 1.0)
      assert(r.getAs[Long]("n_pairs") >= 1L)
    }
    // similarity decays with distance: the nearest band beats the
    // farthest observed band
    if (rows.size > 1) {
      val far = rows.keys.max
      assert(rows(0).getAs[Double]("mean_exact") >=
        rows(far).getAs[Double]("mean_exact"))
    }
  }

  test("incremental minhash finds planted cross-batch duplicates at est 1.0") {
    val docs = Tables.documents(spark, Sf)
    val existing = docs.filter(col("doc_id") % 5 =!= 0)
    // incoming = the %5==0 batch PLUS exact copies of 20 existing docs
    // under fresh ids — every copy must come back as an est-1.0 match
    // against exactly its source
    val copies = existing.filter(col("doc_id") < 100)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val incoming = docs.filter(col("doc_id") % 5 === 0).unionByName(copies)
    val plantedSources = existing.filter(col("doc_id") < 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(plantedSources.nonEmpty)
    val pairs = Dedup.incrementalMinhashFrom(spark, incoming, existing).collect()
    pairs.foreach { r =>
      val est = r.getAs[Double]("est_jaccard")
      assert(est >= 0.4 && est <= 1.0)
      assert(r.getAs[Long]("doc_existing") % 5 != 0)
    }
    val plantedHits = pairs
      .filter(r => r.getAs[Long]("doc_in") >= 1000000L &&
        r.getAs[Long]("doc_existing") == r.getAs[Long]("doc_in") - 1000000L)
      .filter(_.getAs[Double]("est_jaccard") == 1.0)
      .map(_.getAs[Long]("doc_existing")).toSet
    assert(plantedSources.subsetOf(plantedHits),
      s"missed planted dups: ${plantedSources -- plantedHits}")
  }

  test("cross-source overlap matrix: planted syndication counts exactly, diagonal normalizes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s1", "shared wire story"),
      (2L, "s2", "shared wire story"),   // syndicated into s2
      (3L, "s2", "shared wire story"),   // twice — distinct collapses it
      (4L, "s1", "s1 exclusive"),
      (5L, "s2", "s2 exclusive"),
      (6L, "s3", "s3 exclusive")).toDF("doc_id", "source", "text")
    val m = Dedup.crossSourceFrom(docs).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        r.getAs[Long]("shared_contents")).toMap
    assert(m(("s1", "s2")) == 1L)            // the one syndicated content
    assert(m(("s1", "s1")) == 2L)            // diagonal = distinct contents
    assert(m(("s2", "s2")) == 2L)            // dup within s2 collapsed
    assert(m(("s3", "s3")) == 1L)
    assert(!m.contains(("s1", "s3")) && !m.contains(("s2", "s3")))
    // sf census: diagonal present for every source, symmetric halves absent
    val reg = Dedup.crossSource(spark, Sf).collect()
    val srcs = Tables.documents(spark, Sf).select("source").distinct().count()
    assert(reg.count(r => r.getAs[String]("source_a") == r.getAs[String]("source_b")) == srcs)
    reg.foreach(r => assert(r.getAs[String]("source_a") <= r.getAs[String]("source_b")))
  }

  test("incremental cdc containment: copy reads 1.0, revision high, fresh text zero") {
    import spark.implicits._
    def lcgWords(seed: Long, n: Int): String = {
      var x = seed
      (1 to n).map { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        "w" + java.lang.Long.toHexString(x >>> 40)
      }.mkString(" ")
    }
    val a = lcgWords(11L, 400)
    val b = lcgWords(12L, 400)
    val existing = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, a),                                  // exact re-crawl
      (11L, "updated intro tokens " + b),        // head revision of b
      (12L, lcgWords(13L, 400))).toDF("doc_id", "text") // fresh
    val idx = Dedup.chunkIndexFrom(spark, existing)
    val rows = Dedup.incrementalCdcFrom(spark, incoming, idx).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(10L).getAs[Double]("containment") == 1.0 &&
      rows(10L).getAs[Boolean]("is_revision"))
    assert(rows(10L).getAs[Long]("covered_chars") == rows(10L).getAs[Long]("total_chars"))
    // boundaries re-synchronize past the head edit: most of the
    // revision's chars sit in chunks the index already has
    assert(rows(11L).getAs[Double]("containment") >= 0.5 &&
      rows(11L).getAs[Boolean]("is_revision"),
      s"revision containment ${rows(11L).getAs[Double]("containment")}")
    assert(rows(12L).getAs[Double]("containment") == 0.0 &&
      !rows(12L).getAs[Boolean]("is_revision"))
    // the registry query is a per-incoming-doc census with sane bounds
    val reg = Dedup.incrementalCdc(spark, Sf).collect()
    assert(reg.nonEmpty)
    reg.foreach { r =>
      val c = r.getAs[Double]("containment")
      assert(c >= 0.0 && c <= 1.0)
      assert(r.getAs[Long]("covered_chunks") <= r.getAs[Long]("n_chunks"))
      assert(r.getAs[Long]("covered_chars") <= r.getAs[Long]("total_chars"))
    }
  }

  test("chunk index absorb: appended batch serves 1.0 on re-crawl; replay is a no-op") {
    import spark.implicits._
    def lcgWords(seed: Long, n: Int): String = {
      var x = seed
      (1 to n).map { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        "w" + java.lang.Long.toHexString(x >>> 40)
      }.mkString(" ")
    }
    val corpus = Seq((1L, lcgWords(41L, 300))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_absorb").toString + "/idx"
    Dedup.saveChunkIndex(spark, corpus, dir, builtFrom = "documents:b0")
    val (_, fp0) = Dedup.loadChunkIndex(spark, dir)
    // a new batch reads 0.0 against the stale index...
    val batch = Seq((2L, lcgWords(42L, 300))).toDF("doc_id", "text")
    val before = Dedup.incrementalCdcFrom(spark,
      batch, Dedup.loadChunkIndex(spark, dir)._1).collect().head
    assert(before.getAs[Double]("containment") == 0.0)
    // ...absorb it: novel chunks append, the stamp moves
    val (n1, fp1) = Dedup.appendChunkIndex(spark, batch, dir, "documents:b1")
    assert(n1 > 0 && fp1 != fp0)
    // the re-crawl of the ABSORBED content now reads 1.0 through the
    // verified loader (stamp and content agree after the append)
    val recrawl = Seq((9L, lcgWords(42L, 300))).toDF("doc_id", "text")
    val (idx1, loadedFp) = Dedup.loadChunkIndex(spark, dir)
    assert(loadedFp == fp1)
    val after = Dedup.incrementalCdcFrom(spark, recrawl, idx1).collect().head
    assert(after.getAs[Double]("containment") == 1.0 &&
      after.getAs[Boolean]("is_revision"))
    // replaying the same batch absorbs nothing and keeps the stamp
    val (n2, fp2) = Dedup.appendChunkIndex(spark, batch, dir, "documents:b1")
    assert(n2 == 0L && fp2 == fp1)
    assert(Dedup.loadChunkIndex(spark, dir)._2 == fp1)
  }

  test("LongBloom: zero false negatives by construction; fpp in the designed band; build matches insert") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val keys = Array.fill(20000)(rnd.nextLong())
    val (bits, k) = graft.functions.LongBloom.sized(keys.length.toLong, 0.01)
    keys.foreach(graft.functions.LongBloom.insert(bits, k, _))
    // NO false negative is possible — every inserted key answers true
    assert(keys.forall(graft.functions.LongBloom.contains(bits, k, _)))
    // false-positive rate on fresh keys stays near the designed 1%
    val fresh = Array.fill(20000)(rnd.nextLong()).filterNot(keys.contains)
    val fp = fresh.count(graft.functions.LongBloom.contains(bits, k, _))
    assert(fp < fresh.length * 0.03, s"fp rate ${fp.toDouble / fresh.length}")
    // the distributed build (treeAggregate) produces the same filter
    // as driver-side inserts — lookup arithmetic is build arithmetic
    val (built, k2) = graft.functions.LongBloom.build(
      keys.toSeq.toDF("h"), "h", keys.length.toLong, 0.01)
    assert(k2 == k && java.util.Arrays.equals(built, bits),
      "distributed and local builds must be bit-identical")
  }

  test("chunk index artifact: stamped save/load round-trips; corruption refuses") {
    import spark.implicits._
    def lcgWords(seed: Long, n: Int): String = {
      var x = seed
      (1 to n).map { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        "w" + java.lang.Long.toHexString(x >>> 40)
      }.mkString(" ")
    }
    val corpus = Seq((1L, lcgWords(21L, 300)), (2L, lcgWords(22L, 300)))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_cidx").toString + "/idx"
    Dedup.saveChunkIndex(spark, corpus, dir, builtFrom = "documents:test")
    val (idx, fp) = Dedup.loadChunkIndex(spark, dir)
    assert(fp == Dedup.chunkIndexFp(idx))
    // scoring through the loaded artifact equals scoring inline
    val incoming = Seq((9L, lcgWords(21L, 300))).toDF("doc_id", "text")
    val viaArtifact = Dedup.incrementalCdcFrom(spark, incoming, idx).collect()
    val inline = Dedup.incrementalCdcFrom(spark, incoming,
      Dedup.chunkIndexFrom(spark, corpus)).collect()
    assert(viaArtifact.map(_.toSeq).toSeq == inline.map(_.toSeq).toSeq)
    assert(viaArtifact.head.getAs[Double]("containment") == 1.0)
    // a half-replaced artifact (content no longer matches its own
    // stamp) refuses — and a wrong-kind stamp refuses before that
    graft.sources.ArtifactManifest.write(dir,
      graft.sources.ArtifactManifest.Stamp("cdc_chunk_index", "deadbeef", "x"))
    intercept[IllegalStateException] { Dedup.loadChunkIndex(spark, dir) }
    graft.sources.ArtifactManifest.write(dir,
      graft.sources.ArtifactManifest.Stamp("bpe_vocab", fp, "x"))
    intercept[IllegalArgumentException] { Dedup.loadChunkIndex(spark, dir) }
  }
}

class GraftExtensionsSpec extends SparkSpec {
  test("native functions are available in a fresh session via SparkSessionExtensions") {
    // newSession() rebuilds session state from the extensions alone —
    // manual FunctionRegistry writes from other suites don't carry
    // over, so this exercises the injectFunction path
    val s2 = spark.newSession()
    val r = s2.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS sim, " +
        "simhash64(array(CAST(1 AS BIGINT))) AS sh").collect().head
    assert(math.abs(r.getAs[Double]("sim") - 1.0) < 1e-9)
  }
}

/** The native fused expressions must agree exactly with their
  * composable higher-order-function formulations. */
class HashExpressionsSpec extends SparkSpec {
  private def withFns() = { graft.functions.GraftFunctions.ensureRegistered(spark); spark }

  test("pq_encode equals a plain-Scala argmin recompute; shape mismatch is null") {
    val s = withFns()
    import s.implicits._
    val m = 4; val ksub = 3; val dsub = 2
    val books = (0 until m * ksub * dsub).map(i => (i % 7) * 0.25f - 0.5f)
    val vecs = (0 until 20).map(i =>
      i.toLong -> (0 until m * dsub).map(j => math.sin(i * 31 + j).toFloat).toArray)
    val got = vecs.toDF("id", "v")
      .select(col("id"),
        call_function("pq_encode", col("v"), array(books.map(lit): _*), lit(m)).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    vecs.foreach { case (id, v) =>
      val want = (0 until m).map { mi =>
        (0 until ksub).minBy { j =>
          (0 until dsub).map { t =>
            val d = v(mi * dsub + t).toDouble - books((mi * ksub + j) * dsub + t); d * d
          }.sum
        }
      }
      assert(got(id) == want, s"vec $id: ${got(id)} vs $want")
    }
    // length not divisible into m subspaces → null, not truncation;
    // empty vector and empty codebook → null, not a crash or
    // out-of-range codes (0 % m == 0 would otherwise slip the guard)
    val bad = Seq(
      (1L, Array.fill(7)(0.5f), books),
      (2L, Array.empty[Float], books),
      (3L, Array.fill(8)(0.5f), Seq.empty[Float])).toDF("id", "v", "b")
      .select(call_function("pq_encode", col("v"), col("b"), lit(m)))
      .collect()
    assert(bad.forall(_.isNullAt(0)))
  }

  test("minhash_sig equals the 64×array_min(transform(...)) formulation") {
    val s = withFns()
    val hashed = expr("transform(split(trim(text), '\\\\s+'), t -> xxhash64(t))")
    val df = Tables.documents(s, Sf).limit(100)
      .select(col("doc_id"), hashed.as("h"))
      .select(col("doc_id"), expr("minhash_sig(h)").as("fused"), col("h"))
    // independent reference: interpreted eval on the driver
    val rows = df.collect()
    rows.foreach { r =>
      val h = r.getSeq[Long](r.fieldIndex("h")).toVector
      val fused = r.getSeq[Long](r.fieldIndex("fused")).toVector
      val P = 2147483647L
      val rnd = new scala.util.Random(42)
      val a = Array.fill(64)(rnd.nextInt(Int.MaxValue - 1).toLong + 1)
      val b = Array.fill(64)(rnd.nextInt(Int.MaxValue).toLong)
      val ref = (0 until 64).map { p =>
        if (h.isEmpty) P
        else h.map(x => ((((x % P) + P) % P) * a(p) + b(p)) % P).min
      }
      assert(fused == ref, s"doc ${r.getLong(0)}")
    }
  }

  test("trigram_hashes preserves shingle-set cardinality and pairwise Jaccard") {
    val s = withFns()
    // string-based reference formulation
    val shStr = expr(
      """CASE WHEN size(split(trim(text), '\\s+')) >= 3
        |THEN array_distinct(transform(sequence(1, size(split(trim(text), '\\s+')) - 2),
        |  i -> concat_ws(' ', element_at(split(trim(text), '\\s+'), i),
        |                      element_at(split(trim(text), '\\s+'), i + 1),
        |                      element_at(split(trim(text), '\\s+'), i + 2))))
        |ELSE array_distinct(split(trim(text), '\\s+')) END""".stripMargin)
    val d = Tables.documents(s, Sf).limit(40)
      .select(col("doc_id"), expr("trigram_hashes(text)").as("h"), shStr.as("sh"))
    assert(d.filter(size(col("h")) =!= size(col("sh"))).count() == 0)
    val pairs = d.as("a").join(d.as("b"), col("a.doc_id") < col("b.doc_id"))
    val bad = pairs.filter(
      expr("sorted_intersect_count(a.h, b.h)") =!=
        size(array_intersect(col("a.sh"), col("b.sh")))).count()
    assert(bad == 0)
  }

  test("sig_agree equals the zip_with positional-agreement formulation") {
    val s = withFns()
    val sig = expr("minhash_sig(trigram_hashes(text))")
    val d = Tables.documents(s, Sf).limit(40).select(col("doc_id"), sig.as("sig"))
    val hof = size(filter(zip_with(col("a.sig"), col("b.sig"),
      (x, y) => when(x === y, 1)), v => v.isNotNull))
    val bad = d.as("a").join(d.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(expr("sig_agree(a.sig, b.sig)") =!= hof)
      .count()
    assert(bad == 0)
  }

  test("trigram_strings equals the transform/concat_ws gram builder") {
    val s = withFns()
    val t = split(trim(col("text")), "\\s+")
    val hofGrams = when(size(t) >= 3,
      transform(sequence(lit(1), size(t) - 2), i =>
        concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))
      .otherwise(array().cast("array<string>"))
    val bad = Tables.documents(s, Sf)
      .filter(expr("trigram_strings(text)") =!= hofGrams)
      .count()
    assert(bad == 0)
  }

  test("pca_moments lays out first moments then the exact upper triangle") {
    val s = withFns()
    import s.implicits._
    val v = Array(1.5f, -2.0f, 0.25f)
    val out = Seq(Tuple1(v)).toDF("embedding")
      .select(expr("pca_moments(embedding)")).collect().head.getSeq[Double](0)
    val x = v.map(_.toDouble)
    val expected = x.toSeq ++ (for (i <- 0 until 3; j <- i until 3) yield x(i) * x(j))
    assert(out == expected)
  }

  test("vec_sum matches the exploded grouped sum, skips nulls, rejects ragged input") {
    val s = withFns()
    import s.implicits._
    val df = Seq(
      Tuple1(Array(1.0, 2.0, 3.0)),
      Tuple1(Array(0.5, -1.0, 4.0)),
      Tuple1(null.asInstanceOf[Array[Double]]),
      Tuple1(Array(2.0, 2.0, 2.0))).toDF("v")
      .repartition(3) // force a merge across partial buffers (incl. an all-null one)
    val got = df.select(expr("vec_sum(v)")).collect().head.getSeq[Double](0)
    assert(got == Seq(3.5, 3.0, 9.0))
    // grouped: per-key fixed-state buffers
    val grouped = Seq((1, Array(1.0, 1.0)), (1, Array(2.0, 3.0)), (2, Array(5.0, 7.0)))
      .toDF("k", "v").groupBy("k").agg(expr("vec_sum(v)").as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(grouped(1) == Seq(3.0, 4.0) && grouped(2) == Seq(5.0, 7.0))
    // all-null group evaluates to NULL, not a zero vector
    val nullOnly = Seq(Tuple1(null.asInstanceOf[Array[Double]])).toDF("v")
      .select(expr("vec_sum(v)")).collect().head
    assert(nullOnly.isNullAt(0))
    // ragged vectors must fail loudly (silent zero-extension would
    // mean a silently wrong covariance in the PCA path)
    val ragged = Seq(Tuple1(Array(1.0, 2.0)), Tuple1(Array(1.0, 2.0, 3.0))).toDF("v")
      .coalesce(1).select(expr("vec_sum(v)"))
    intercept[Exception] { ragged.collect() }
    // a null ELEMENT inside a vector also fails loudly — vec_sum is a
    // registered SQL function, so user arrays can carry nulls that
    // must not silently sum as 0
    val nullElem = Seq(Tuple1(Seq[java.lang.Double](1.0, null, 3.0))).toDF("v")
      .select(expr("vec_sum(v)"))
    val e = intercept[Exception] { nullElem.collect() }
    assert(e.getMessage.contains("null element") ||
      Option(e.getCause).exists(_.getMessage.contains("null element")))
  }

  test("sorted_intersect_count equals size(array_intersect(...))") {
    val s = withFns()
    val sh = expr("array_sort(array_distinct(transform(split(trim(text), '\\\\s+'), t -> xxhash64(t))))")
    val d = Tables.documents(s, Sf).limit(60).select(col("doc_id"), sh.as("sh"))
    val bad = d.as("a").join(d.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(expr("sorted_intersect_count(a.sh, b.sh)") =!=
        size(array_intersect(col("a.sh"), col("b.sh"))))
      .count()
    assert(bad == 0)
  }

  test("trigram_hashes tokenizer honors the \\s contract on exotic whitespace") {
    val s = withFns()
    import s.implicits._
    // U+2028 (line sep), U+3000 (ideographic space), U+001C (file sep)
    // are Character.isWhitespace but NOT Java-regex \s: they must stay
    // INSIDE tokens, exactly as split(trim(text), '\s+') keeps them.
    val texts = Seq(
      "a" + 0x2028.toChar + "b c d e",
      "a" + 0x3000.toChar + "b c d e",
      "a" + 0x001C.toChar + "b c d e",
      "a\tb" + 0x000B.toChar + "c\fd\re f",
      "\ta b c",
      "  a b c  ",
      "plain ascii words only")
    val shStr = expr(
      """CASE WHEN size(split(trim(text), '\\s+')) >= 3
        |THEN array_distinct(transform(sequence(1, size(split(trim(text), '\\s+')) - 2),
        |  i -> concat_ws(' ', element_at(split(trim(text), '\\s+'), i),
        |                      element_at(split(trim(text), '\\s+'), i + 1),
        |                      element_at(split(trim(text), '\\s+'), i + 2))))
        |ELSE array_distinct(split(trim(text), '\\s+')) END""".stripMargin)
    val bad = texts.toDF("text")
      .filter(size(expr("trigram_hashes(text)")) =!= size(shStr))
      .count()
    assert(bad == 0)
  }

  test("hyperplane_bands equals the per-plane HOF dot-product formulation") {
    val s = withFns()
    import graft.functions.{HyperplaneBands, VectorFunctions}
    val dim = 64
    // the same seeded matrix the expression memoizes, re-derived here
    val rnd = new scala.util.Random(HyperplaneBands.Seed)
    val planes = Array.fill(HyperplaneBands.NumTables, HyperplaneBands.PlanesPerTable)(
      Array.fill(dim)(rnd.nextGaussian()))
    val hofBuckets = planes.toSeq.map { table =>
      table.toSeq.zipWithIndex.map { case (p, i) =>
        val planeCol = array(p.toSeq.map(lit(_)): _*)
        when(VectorFunctions.dot(col("embedding"), planeCol) > 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    val bad = Tables.embeddings(s, Sf).limit(100)
      .select(expr("hyperplane_bands(embedding)").as("fused"), array(hofBuckets: _*).as("hof"))
      .filter(col("fused") =!= col("hof"))
      .count()
    assert(bad == 0)
  }

  test("simhash64 equals the zip_with majority-vote formulation") {
    val s = withFns()
    val hashed = expr("transform(split(trim(text), '\\\\s+'), t -> xxhash64(t))")
    val hof = expr(
      """aggregate(
        |  zip_with(
        |    aggregate(
        |      h, array_repeat(0, 64),
        |      (acc, x) -> zip_with(acc, transform(sequence(0, 63), b -> cast((shiftright(x, b) & 1) as int)), (c, bit) -> c + bit)),
        |    sequence(0, 63),
        |    (c, b) -> if(c * 2 > size(h), shiftleft(1L, b), 0L)),
        |  0L, (acc, v) -> acc | v)""".stripMargin)
    val bad = Tables.documents(s, Sf).limit(100)
      .select(hashed.as("h"))
      .filter(expr("simhash64(h)") =!= hof)
      .count()
    assert(bad == 0)
  }
}

class SimilaritySpec extends SparkSpec {
  test("quantizer memo: one training serves the ann family, matches fresh exactly, rewrites miss") {
    import spark.implicits._
    Similarity.kmeansMemo.clear()
    val before = Similarity.kmeansMemo.builds
    val cached = Similarity.kmeansCentroids(spark, Sf)
    Similarity.ivfTopKKmeans(spark, Sf, numQueries = 4, k = 3).collect()
    Similarity.annKnnGraph(spark, Sf, k = 3).count()
    assert(Similarity.kmeansMemo.builds == before + 1,
      "default-hyperparam queries must share ONE quantizer training")
    // training is bit-deterministic (rounded-bigint sums), so the
    // cached quantizer equals a FRESH one exactly
    val fresh = Similarity.kmeansCentroidsFrom(
      Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding")),
      nlist = 10, iters = 3)
    assert(cached.map { case (i, v) => i -> v.toSeq } ==
      fresh.map { case (i, v) => i -> v.toSeq },
      "cached quantizer drifted from a fresh training")
    // hyperparams key separately
    Similarity.kmeansCentroids(spark, Sf, nlist = 4)
    assert(Similarity.kmeansMemo.builds == before + 2)
    // freshness: rewriting the corpus under the same dir must MISS
    def mk(tag: Int, n: Int) = (0 until n).map(i =>
      (i.toLong, Array.tabulate(8)(d => (i * 31 + d * 7 + tag).toFloat / 100f)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_kmm").toString
    mk(1, 40).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val v1 = Similarity.kmeansCentroids(spark, dir)
    val builds = Similarity.kmeansMemo.builds
    mk(2, 24).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Similarity.kmeansCentroids(spark, dir)
    assert(Similarity.kmeansMemo.builds == builds + 1,
      "a rewritten corpus must retrain, not serve the stale quantizer")
    // and an unchanged dir HITS
    Similarity.kmeansCentroids(spark, dir)
    assert(Similarity.kmeansMemo.builds == builds + 1)
    assert(v1.nonEmpty)
    // PQ codebooks memoize the same way: pq_topk and ivfpq_topk at
    // identical params share ONE training, and the cached books
    // equal a fresh uncached training exactly
    Similarity.pqBooksMemo.clear()
    val pqBefore = Similarity.pqBooksMemo.builds
    Similarity.pqTopK(spark, Sf, numQueries = 4, k = 3).count()
    Similarity.ivfpqTopK(spark, Sf, numQueries = 4, k = 3).count()
    assert(Similarity.pqBooksMemo.builds == pqBefore + 1,
      "PQ consumers at identical params must share ONE codebook training")
    val cachedBooks = Similarity.pqBooks(spark, Sf, 4, 8, 16, 2)
    val freshBooks = Similarity.pqCodebooks(
      Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") >= 4), m = 8, ksub = 16, iters = 2)
    assert(cachedBooks.map(_.map { case (c, v) => c -> v.toSeq }) ==
      freshBooks.map(_.map { case (c, v) => c -> v.toSeq }),
      "cached codebooks drifted from a fresh training")
    assert(Similarity.pqBooksMemo.builds == pqBefore + 1)
    // the kNN graph memoizes at the same grain: the registered graph,
    // embedding_clusters' LPA input, and classify's vote join at
    // identical params share ONE localCheckpointed build
    Similarity.knnGraphMemo.clear()
    val gBefore = Similarity.knnGraphMemo.builds
    val g1 = Similarity.annKnnGraph(spark, Sf).collect()
    Similarity.embeddingClusters(spark, Sf).count()
    Similarity.annKnnClassify(spark, Sf).count()
    assert(Similarity.knnGraphMemo.builds == gBefore + 1,
      "default-param graph consumers must share ONE build")
    // cached graph equals an uncached fresh build exactly (rounded
    // similarities, id tiebreaks — bit-deterministic)
    val gFresh = Similarity.annKnnGraphWith(spark,
      Tables.embeddings(spark, Sf),
      Similarity.kmeansCentroidsFrom(
        Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding")),
        nlist = 10, iters = 3),
      k = 5, nProbe = 2).collect()
    assert(g1.map(_.toSeq).toSeq == gFresh.map(_.toSeq).toSeq,
      "cached graph drifted from a fresh build")
  }

  test("filtered ann: every hit carries the filter label; full probe equals brute-filtered") {
    val nlist = Tables.embeddings(spark, Sf).select("label").distinct().count().toInt
    val res = Similarity.ivfFilteredTopK(spark, Sf, numQueries = 8, k = 5, nProbe = 2)
      .collect()
    assert(res.nonEmpty)
    // the predicate holds on every returned row
    val labels = Tables.embeddings(spark, Sf).select("vec_id", "label").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    res.foreach { r =>
      assert(r.getAs[Int]("filter_label") == labels(r.getAs[Long]("query_id")))
      assert(labels(r.getAs[Long]("cand_id")) == r.getAs[Int]("filter_label"))
      assert(r.getAs[Long]("cand_id") >= 8L)
    }
    // ranks dense per query
    res.groupBy(_.getAs[Long]("query_id")).values.foreach { g =>
      assert(g.map(_.getAs[Int]("rank")).sorted.sameElements(1 to g.length))
    }
    // at FULL probe the filtered IVF answer IS the brute-filtered
    // answer: same pairs, same order
    val full = Similarity.ivfFilteredTopK(spark, Sf, numQueries = 8, k = 5,
      nProbe = nlist).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("cand_id")))
    val e = Tables.embeddings(spark, Sf).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getSeq[Float](r.fieldIndex("embedding")).toArray, r.getAs[Int]("label")))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (dot, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val brute = e.filter(_._1 < 8).flatMap { case (qid, qv, ql) =>
      e.filter(c => c._1 >= 8 && c._3 == ql)
        .map { case (cid, cv, _) =>
          (qid, cid, BigDecimal(cos(qv, cv)).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .sortBy { case (_, cid, s) => (-s, cid) }.take(5).zipWithIndex
        .map { case ((q, c, _), i) => (q, i + 1, c) }
    }.toSet
    assert(full.toSet == brute, s"full-probe mismatch: ${full.toSet.diff(brute)}")
  }

  test("embedding norm census: planted norms land in exact bins, shares sum to one") {
    import spark.implicits._
    val e = Seq(
      (1L, Array(1.0f, 0.0f)),                // norm 1.0   → bin 4
      (2L, Array(0.6f, 0.8f)),                // norm 1.0   → bin 4
      (3L, Array(0.3f, 0.4f)),                // norm 0.5   → bin 2
      (4L, Array(30.0f, 40.0f)),              // norm 50 → capped bin 40
      (5L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding") // norm 0 → bin 0
    val rows = Similarity.embeddingNormCensusFrom(e).collect()
      .map(r => r.getAs[Int]("bin") -> r).toMap
    assert(rows.keySet == Set(0, 2, 4, 40))
    assert(rows(4).getAs[Long]("n_vectors") == 2L &&
      rows(4).getAs[Double]("share") == 0.4)
    assert(rows(2).getAs[Double]("norm_lo") == 0.5)
    assert(rows(40).getAs[Long]("n_vectors") == 1L)
    assert(rows.values.map(_.getAs[Double]("share")).sum == 1.0)
    // sf: a healthy synthetic corpus is unit-ish — bins cover all rows
    val reg = Similarity.embeddingNormCensus(spark, Sf).collect()
    assert(reg.map(_.getAs[Long]("n_vectors")).sum ==
      Tables.embeddings(spark, Sf).count())
  }

  test("brute-force top-k returns k ranked rows per query, sims in [-1,1]") {
    val rows = Similarity.bruteForceTopK(spark, Sf, numQueries = 5, k = 3).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == (0L until 5L).toSet)
    byQ.values.foreach { g =>
      assert(g.map(_.getAs[Int]("rank")).sorted.sameElements(1 to 3))
      g.foreach(r => assert(math.abs(r.getAs[Double]("similarity")) <= 1.0))
    }
  }

  test("native cosine_sim expression agrees with the HOF formulation") {
    graft.functions.CosineSimilarity.ensureRegistered(spark)
    val e = Tables.embeddings(spark, Sf).limit(50)
      .select(col("vec_id"), col("embedding").as("u"), col("embedding").as("v"))
    val diff = e.select(
        (expr("cosine_sim(u, v)") - VectorFunctions.cosine(col("u"), col("v"))).as("d"))
      .agg(max(abs(col("d")))).collect().head.getDouble(0)
    assert(diff < 1e-12)
  }

  test("cosine_sim: zero norm scores 0.0 and ranks last; length mismatch is null") {
    graft.functions.CosineSimilarity.ensureRegistered(spark)
    import spark.implicits._
    val cands = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.5f, 0.5f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f))).toDF("id", "v")
    val scored = cands
      .withColumn("q", array(lit(1.0f), lit(0.0f), lit(0.0f)))
      .select(col("id"), expr("cosine_sim(q, v)").as("s"))
      .orderBy(desc("s"), asc("id"))
      .collect()
    // the all-zero vector must score 0.0 (not NaN, which sorts largest)
    // and therefore land LAST in the descending ranking
    assert(scored.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(scored.last.getDouble(1) == 0.0)
    // interpreted path agrees with codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    def litArr(xs: Float*) = Literal.create(xs.toArray, ArrayType(FloatType))
    val zero = graft.functions.CosineSimilarity(litArr(1f, 2f), litArr(0f, 0f)).eval(null)
    assert(zero == 0.0)
    // mismatched dimensionality → null, in both paths
    val mm = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
      .select(expr("cosine_sim(a, b)")).collect().head
    assert(mm.isNullAt(0))
    assert(graft.functions.CosineSimilarity(litArr(1f), litArr(1f, 2f)).eval(null) == null)
  }

  test("embedding outliers: planted far-off vectors flag worst; tight-cluster members stay clean") {
    import spark.implicits._
    // three tight clusters along distinct axes + two planted outliers
    // pointing along a direction no cluster occupies
    def jit(c: Int, i: Int, d: Int) = ((c * 31 + i * 7 + d * 3) % 5) * 0.01f
    val dims = 8
    val cluster = (c: Int, i: Int) =>
      Array.tabulate(dims)(d => (if (d == c) 1.0f else 0.0f) + jit(c, i, d))
    // 150 bulk vectors: the occupancy floor (N/(10·nlist) = 5) must
    // exceed the 2-vector outlier clique so a captured cell is dropped
    val vecs =
      (for (c <- 0 until 3; i <- 0 until 50)
        yield ((c * 50 + i).toLong, cluster(c, i))) ++
      Seq((900L, Array.tabulate(dims)(d => if (d >= 6) -1.0f else 0.0f)),
          (901L, Array.tabulate(dims)(d => if (d >= 5) -0.9f else 0.02f)))
    val e = vecs.toDF("vec_id", "embedding")
    val got = Similarity.embeddingOutliersFrom(e, k = 5, nlist = 3, iters = 3)
      .collect()
    assert(got.nonEmpty)
    // the two planted vectors are the worst two, in cohesion order
    assert(got.take(2).map(_.getAs[Long]("vec_id")).toSet == Set(900L, 901L))
    // every flagged row is strictly below the corpus' own p05 cut
    got.foreach(r => assert(r.getAs[Double]("cohesion") < r.getAs[Double]("p05")))
    // ascending-cohesion ordering (worst first)
    val cs = got.map(_.getAs[Double]("cohesion")).toSeq
    assert(cs == cs.sorted)
    // no tight-cluster member outranks the planted outliers
    assert(got.take(2).forall(_.getAs[Double]("cohesion") < 0.5))
  }

  test("embedding separability: planted tight far clusters read as separable, matching a driver recompute") {
    import spark.implicits._
    val dims = 4
    def jit(l: Int, i: Int, d: Int) = ((l * 13 + i * 7 + d * 3) % 5) * 0.01f
    val vecs = for (l <- 0 until 2; i <- 0 until 20) yield
      ((l * 20 + i).toLong,
        Array.tabulate(dims)(d => (if (d == l) 1.0f else 0.0f) + jit(l, i, d)), l)
    val e = vecs.toDF("vec_id", "embedding", "label")
    val got = Similarity.embeddingSeparabilityFrom(e).collect()
      .map(r => r.getAs[Int]("label") -> r).toMap
    assert(got.keySet == Set(0, 1))
    // driver recompute with the SAME quantized centroid definition
    val byLabel = vecs.groupBy(_._3)
    val cents = byLabel.view.mapValues { vs =>
      Array.tabulate(dims) { d =>
        vs.map(v => Math.round(v._2(d).toDouble * 1e7)).sum.toDouble / (vs.size * 1e7)
      }
    }.toMap
    def sq(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val inter = sq(cents(0), cents(1))
    (0 until 2).foreach { l =>
      val r = got(l)
      assert(r.getAs[Long]("n_vecs") == 20L)
      assert(r.getAs[Int]("nearest_label") == 1 - l)
      assert(math.abs(r.getAs[Double]("inter_centroid_sq") - inter) < 1e-9)
      val intra = byLabel(l).map(v =>
        sq(v._2.map(_.toDouble), cents(l))).sum / 20.0
      assert(math.abs(r.getAs[Double]("intra_mean_sq") - intra) < 1e-9)
      // tight clusters two axes apart: clean separation
      assert(r.getAs[Double]("separability") > 100.0)
    }
    // sf invariants: one row per label, inter distances positive
    val full = Similarity.embeddingSeparability(spark, Sf).collect()
    assert(full.map(_.getAs[Int]("label")).distinct.length == full.length)
    full.foreach(r => assert(r.getAs[Double]("inter_centroid_sq") > 0.0))
  }

  test("lsh candidates are a subset of brute-force scoring domain and ranked") {
    val rows = Similarity.lshTopK(spark, Sf, numQueries = 5, k = 3).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("cand_id") >= 5)
      assert(r.getAs[Int]("rank") >= 1 && r.getAs[Int]("rank") <= 3)
    }
  }

  private def topkSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("cand_id")).toSet }

  test("approximate ANN paths recall a meaningful share of the exact top-k") {
    val exact = topkSets(Similarity.bruteForceTopK(spark, Sf, numQueries = 10, k = 5))
    def recallOf(approx: Map[Long, Set[Long]]): Double = {
      val hits = exact.map { case (q, ex) => (approx.getOrElse(q, Set.empty) & ex).size }.sum
      hits.toDouble / exact.values.map(_.size).sum
    }
    val lsh = recallOf(topkSets(Similarity.lshTopK(spark, Sf, numQueries = 10, k = 5)))
    val ivf = recallOf(topkSets(Similarity.ivfTopK(spark, Sf, numQueries = 10, k = 5)))
    // deterministic given fixed data/planes/centroids; floors guard
    // against a silently-broken bucketing (recall ~0)
    assert(lsh >= 0.2, s"LSH recall too low: $lsh")
    assert(ivf >= 0.2, s"IVF recall too low: $ivf")
    // trained Voronoi cells must not lose to the label partitioner
    // (labels carry no geometry in this corpus) at equal probes
    val km = recallOf(topkSets(Similarity.ivfTopKKmeans(spark, Sf, numQueries = 10, k = 5)))
    assert(km >= ivf, s"kmeans-IVF recall $km below label-cell recall $ivf")
  }

  test("tuned query-time dials (nProbe/refine) hold their recall floors") {
    // the measured tuned settings are the production recommendation —
    // pin them so a regression in the nProbe/refine plumbing is caught
    // (the default-setting floors above can't see a dial that stopped
    // doing anything). Two invariants per index: the tuned recall
    // beats/matches its default-dial recall (the dial works in the
    // right direction), and holds an absolute floor calibrated at
    // measured-minus-margin on this corpus (deterministic given fixed
    // data/centroids/codebooks).
    val exact = topkSets(Similarity.bruteForceTopK(spark, Sf, numQueries = 10, k = 5))
    def recallOf(approx: Map[Long, Set[Long]]): Double = {
      val hits = exact.map { case (q, ex) => (approx.getOrElse(q, Set.empty) & ex).size }.sum
      hits.toDouble / exact.values.map(_.size).sum
    }
    def check(name: String, default: Double, tuned: Double, floor: Double): Unit = {
      assert(tuned >= default - 1e-9, s"$name: tuned recall $tuned below default $default")
      assert(tuned >= floor, s"$name: tuned recall $tuned below floor $floor")
    }
    check("ivf@nprobe=5",
      recallOf(topkSets(Similarity.ivfTopK(spark, Sf))),
      recallOf(topkSets(Similarity.ivfTopK(spark, Sf, nProbe = 5))), 0.5)
    check("ivf_kmeans@nprobe=5",
      recallOf(topkSets(Similarity.ivfTopKKmeans(spark, Sf))),
      recallOf(topkSets(Similarity.ivfTopKKmeans(spark, Sf, nProbe = 5))), 0.5)
    check("pq@refine=96",
      recallOf(topkSets(Similarity.pqTopK(spark, Sf))),
      recallOf(topkSets(Similarity.pqTopK(spark, Sf, refine = 96))), 0.5)
    check("ivfpq@nprobe=6,refine=96",
      recallOf(topkSets(Similarity.ivfpqTopK(spark, Sf))),
      recallOf(topkSets(Similarity.ivfpqTopK(spark, Sf, nProbe = 6, refine = 96))), 0.5)
  }

  test("recall curve: hand-derived recalls on crafted cells; monotone to exactly 1.0 at full probe") {
    import spark.implicits._
    // 3 literal cells on axes; 1 query, 3 candidates — one per cell,
    // probe order 0,1,2 — so recall@3 steps 1/3 → 2/3 → 1 exactly
    val cents = Seq(0 -> Array(1f, 0f), 1 -> Array(0f, 1f), 2 -> Array(-1f, 0f))
    val e = Seq(
      (0L, Array(1f, 0.05f)),   // query: nearest cells 0, 1, 2
      (10L, Array(1f, 0.1f)),   // cell 0
      (11L, Array(0.1f, 1f)),   // cell 1
      (12L, Array(-1f, 0.1f)))  // cell 2
      .toDF("vec_id", "embedding")
    val got = Similarity.annRecallCurveFrom(e, cents, numQueries = 1, k = 3)
      .collect().map(r => r.getAs[Int]("n_probe") ->
        ((r.getAs[Double]("mean_recall"), r.getAs[Double]("min_recall"),
          r.getAs[Long]("n_queries")))).toMap
    assert(got(1) == ((1.0 / 3.0, 1.0 / 3.0, 1L)))
    assert(got(2) == ((2.0 / 3.0, 2.0 / 3.0, 1L)))
    assert(got(3) == ((1.0, 1.0, 1L)))
    // sf: nested probe sets make the curve monotone, and probing every
    // cell recovers the full ground truth for every query
    val sf = Similarity.annRecallCurve(spark, Sf).collect().sortBy(_.getAs[Int]("n_probe"))
    assert(sf.map(_.getAs[Double]("mean_recall")).sliding(2).forall(p => p(0) <= p(1)))
    assert(sf.last.getAs[Double]("mean_recall") == 1.0 &&
      sf.last.getAs[Double]("min_recall") == 1.0)
    assert(sf.forall(_.getAs[Long]("n_queries") == 10L))
  }

  test("mmr rerank demotes a planted near-duplicate; lambda=1 degenerates to plain top-k") {
    import spark.implicits._
    // q = e1; 10/11 identical high-relevance near-dups, 12 mid-relevance
    // diverse, 13 orthogonal
    val e = Seq(
      (0L, Array(1f, 0f)),
      (10L, Array(0.95f, 0.31225f)),
      (11L, Array(0.95f, 0.31225f)),
      (12L, Array(0.31225f, 0.95f)),
      (13L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    def picks(lambda: Double) =
      Similarity.mmrDiverseFrom(e, numQueries = 1, k = 3, poolSize = 10, lambda)
        .collect().sortBy(_.getAs[Int]("pick"))
    // diversity-weighted: the duplicate 11 (penalty = cos(11,10) = 1)
    // drops behind BOTH diverse candidates despite near-top relevance —
    // pick 2 goes to the orthogonal 13 (score −0.7·0.312 beats 12's
    // 0.3·0.312 − 0.7·0.593 and the dup's 0.3·0.95 − 0.7·1), pick 3
    // to the dup only once every diverse option scores worse
    val diverse = picks(0.3)
    assert(diverse.map(_.getAs[Long]("cand_id")).toSeq == Seq(10L, 13L, 11L))
    // first pick pays no penalty: score is exactly lambda * similarity
    assert(diverse.head.getAs[Double]("mmr_score") ==
      0.3 * diverse.head.getAs[Double]("similarity"))
    // pure relevance: the duplicate is kept — plain top-k order (ties on id)
    assert(picks(1.0).map(_.getAs[Long]("cand_id")).toSeq == Seq(10L, 11L, 12L))
    // sf invariants: per-query picks distinct, full k selected. (Score
    // monotonicity in pick order is deliberately NOT asserted: an
    // anti-correlated candidate carries a negative penalty and can
    // legitimately outscore earlier picks — classic MMR has no clamp;
    // the indexed-variant spec pins the exact greedy via driver replay.)
    val sf = Similarity.mmrDiverseTopK(spark, Sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
    assert(sf.size == 10)
    sf.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("cand_id")).distinct.length == 5)
    }
  }

  test("indexed mmr re-ranks the ivfpq pool with the shared greedy rule") {
    val pool = Similarity.ivfpqTopK(spark, Sf, numQueries = 10, k = 30,
      nProbe = 6, refine = 96).collect()
      .groupBy(_.getAs[Long]("query_id"))
    val got = Similarity.mmrDiverseIndexed(spark, Sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
    assert(got.keySet == pool.keySet)
    got.foreach { case (q, rs) =>
      val poolIds = pool(q).map(_.getAs[Long]("cand_id")).toSet
      val picks = rs.sortBy(_.getAs[Int]("pick"))
      // picks come from the index pool only, no duplicates, full k
      assert(picks.map(_.getAs[Long]("cand_id")).toSet.subsetOf(poolIds))
      assert(picks.map(_.getAs[Long]("cand_id")).distinct.length == picks.length)
      assert(picks.length == math.min(5, poolIds.size))
      // pick 1 is the pool's relevance top-1 (no penalty yet)
      val top1 = pool(q).minBy(r =>
        (-r.getAs[Double]("similarity"), r.getAs[Long]("cand_id")))
      assert(picks.head.getAs[Long]("cand_id") == top1.getAs[Long]("cand_id"))
    }
    // exact driver replay of the greedy over the same pool (note:
    // scores are NOT monotone in pick order — a candidate
    // anti-correlated with everything picked carries a NEGATIVE
    // penalty and can legitimately outscore pick 1; classic MMR has
    // no clamp, so the only correct check is the full replay)
    val emb = Tables.embeddings(spark, Sf).collect().map { r =>
      val raw = r.getSeq[Float](r.fieldIndex("embedding"))
      val nrm = math.sqrt(raw.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      r.getAs[Long]("vec_id") ->
        (if (nrm > 0) raw.map(x => (x.toDouble / nrm).toFloat) else raw)
    }.toMap
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
    got.foreach { case (q, rs) =>
      var sel = Vector.empty[(Long, Double)] // (cand, score)
      var remaining = pool(q)
        .map(r => (r.getAs[Long]("cand_id"), r.getAs[Double]("similarity"))).toVector
      for (_ <- 1 to math.min(5, remaining.size)) {
        val scored = remaining.filterNot(c => sel.exists(_._1 == c._1)).map { case (c, s) =>
          val pen = if (sel.isEmpty) 0.0
            else sel.map(p => dot(emb(c), emb(p._1))).max
          (c, 0.7 * s - 0.3 * pen)
        }
        val best = scored.maxBy { case (c, sc) => (sc, -c) }
        sel = sel :+ best
      }
      val picks = rs.sortBy(_.getAs[Int]("pick"))
        .map(r => (r.getAs[Long]("cand_id"), r.getAs[Double]("mmr_score")))
      sel.zip(picks).foreach { case ((ec, es), (gc, gs)) =>
        assert(ec == gc, s"q=$q: replay picked $ec, engine $gc")
        assert(math.abs(es - gs) < 1e-9, s"q=$q cand $gc: $es vs $gs")
      }
    }
  }

  test("whitened PCA projections have unit variance and zero cross-covariance") {
    val rows = Similarity.embeddingPcaWhitened(spark, Sf).collect()
    val k = rows.map(_.getAs[Int]("component")).max + 1
    val byVec = rows.groupBy(_.getAs[Long]("vec_id"))
      .map { case (v, rs) => v -> rs.sortBy(_.getAs[Int]("component"))
        .map(_.getAs[Double]("value")) }.values.toArray
    val n = byVec.length
    assert(n > 10 && k >= 2)
    for (i <- 0 until k; j <- i until k) {
      val mi = byVec.map(_(i)).sum / n
      val mj = byVec.map(_(j)).sum / n
      val cov = byVec.map(v => (v(i) - mi) * (v(j) - mj)).sum / (n - 1)
      if (i == j) assert(math.abs(cov - 1.0) < 1e-6, s"var($i) = $cov, want 1")
      else assert(math.abs(cov) < 1e-6, s"cov($i,$j) = $cov, want 0")
    }
  }

  test("persisted IVF-PQ index serves byte-identical probes without retraining") {
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString
    Similarity.saveIvfPqIndex(spark, Sf, idx)
    val fromIndex = Similarity.ivfpqTopKFromIndex(spark, Sf, idx)
      .collect().map(_.toSeq).toSeq
    // same params through the train-and-probe path: seeded training
    // makes the persisted artifact reproduce it exactly
    val trained = Similarity.ivfpqTopK(spark, Sf)
      .collect().map(_.toSeq).toSeq
    assert(fromIndex == trained,
      s"index probe diverged from trained probe:\n$fromIndex\nvs\n$trained")
    // the artifact is complete: every non-query vector is encoded once
    val codes = spark.read.parquet(s"$idx/codes")
    assert(codes.count() == Tables.embeddings(spark, Sf)
      .filter(col("vec_id") >= 10).count())
    assert(codes.select("cand_id").distinct().count() == codes.count())
  }

  test("nearest_cells native assignment is bit-identical to the HOF ordering contract") {
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // centroids exercising every ordering edge: two EXACT twins under
    // different ids (tie → smaller cell id), a zero-norm cell
    // (cosine 0 by convention, never NaN), and ordinary axes
    val cents: Seq[(Int, Array[Float])] = Seq(
      7 -> Array(1f, 0f, 0f, 0f),
      3 -> Array(0f, 1f, 0f, 0f),
      9 -> Array(0f, 1f, 0f, 0f),   // twin of 3 under a larger id
      5 -> Array(0f, 0f, 0f, 0f),   // zero norm
      1 -> Array(0f, 0f, 1f, 1f))
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),          // axis hit
      (1L, Array(0f, 1f, 0f, 0f)),          // tie between cells 3 and 9
      (2L, Array(0f, 0f, 0f, 0f)),          // zero query: all cosines 0
      (3L, Array(0.5f, 0.5f, 0.1f, 0.9f)),  // mixed
      (4L, Array(Float.NaN, 1f, 0f, 0f)))   // NaN component
      .toDF("vec_id", "embedding")
    for (probes <- Seq(1, 2, 5)) {
      val native = vecs.select(col("vec_id"),
          operators.Similarity.nearestCellsCol(col("embedding"), cents, probes).as("c"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val hof = vecs.select(col("vec_id"),
          operators.Similarity.nearestCellsColHof(col("embedding"), cents, probes).as("c"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      assert(native == hof, s"probes=$probes: $native vs $hof")
    }
    // tie resolution is the smaller cell id first
    val one = vecs.filter(col("vec_id") === 1L)
      .select(operators.Similarity.nearestCellsCol(col("embedding"), cents, 2))
      .head().getSeq[Int](0)
    assert(one == Seq(3, 9), s"tie must break to the smaller cell id: $one")
    // real-corpus identity: every vector's full assignment order
    // matches the HOF reference on the trained quantizer
    val trained = operators.Similarity.kmeansCentroids(spark, Sf)
    val e = Tables.embeddings(spark, Sf)
    val n = e.select(col("vec_id"),
        operators.Similarity.nearestCellsCol(col("embedding"), trained, 3).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val h = e.select(col("vec_id"),
        operators.Similarity.nearestCellsColHof(col("embedding"), trained, 3).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(n == h, "trained-quantizer assignments must be bit-identical")
  }

  test("persisted quantizer: load equals trained, disk-served probe byte-identical, tamper refuses") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_kmeans_art").toString
    val saved = Similarity.saveKmeansCentroids(spark, Sf, path)
    val loaded = Similarity.loadKmeansCentroids(spark, path)
    assert(loaded.map { case (i, v) => (i, v.toSeq) } ==
      saved.map { case (i, v) => (i, v.toSeq) },
      "loaded quantizer must equal the trained one exactly")
    // disk-served registry form ≡ trained registry form
    val served = Similarity.ivfTopKKmeansFromArtifact(spark, Sf, path)
      .collect().map(_.toSeq).toSeq
    val trained = Similarity.ivfTopKKmeans(spark, Sf).collect().map(_.toSeq).toSeq
    assert(served == trained, "disk-served IVF probe must be byte-identical")
    // wrong-artifact refuse: the stamp names what it is
    intercept[IllegalArgumentException] {
      Similarity.loadPqBooks(spark, path)
    }
    // tamper: perturb one centroid component, keep the stale manifest
    val rows = spark.read.parquet(path).collect().map(r =>
      (r.getAs[Int]("cell"),
        r.getSeq[Float](r.fieldIndex("c_vec")).toArray match {
          case v => v(0) += 0.25f; v.toSeq }))
    val manifest = new java.io.File(path, graft.sources.ArtifactManifest.FileName)
    val keep = java.nio.file.Files.readAllBytes(manifest.toPath)
    rows.toIndexedSeq.toDF("cell", "c_vec")
      .coalesce(1).write.mode("overwrite").parquet(path)
    java.nio.file.Files.write(manifest.toPath, keep)
    intercept[IllegalStateException] {
      Similarity.loadKmeansCentroids(spark, path)
    }
  }

  test("persisted PQ codebooks: load equals trained, disk-served pq_topk byte-identical, tamper refuses") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_pqbooks_art").toString
    val saved = Similarity.savePqBooks(spark, Sf, path)
    val loaded = Similarity.loadPqBooks(spark, path)
    assert(loaded.map(_.map { case (c, v) => (c, v.toSeq) }) ==
      saved.map(_.map { case (c, v) => (c, v.toSeq) }),
      "loaded codebooks must equal the trained ones exactly")
    val served = Similarity.pqTopKFromBooks(spark, Sf, path)
      .collect().map(_.toSeq).toSeq
    val trained = Similarity.pqTopK(spark, Sf).collect().map(_.toSeq).toSeq
    assert(served == trained, "disk-served PQ probe must be byte-identical")
    intercept[IllegalArgumentException] {
      Similarity.loadKmeansCentroids(spark, path)
    }
    // tamper one codeword component under the stale manifest
    val rows = spark.read.parquet(path).collect().map(r =>
      (r.getAs[Int]("m_idx"), r.getAs[Int]("code"),
        r.getSeq[Float](r.fieldIndex("v")).toArray match {
          case v => v(0) += 0.25f; v.toSeq }))
    val manifest = new java.io.File(path, graft.sources.ArtifactManifest.FileName)
    val keep = java.nio.file.Files.readAllBytes(manifest.toPath)
    rows.toIndexedSeq.toDF("m_idx", "code", "v")
      .coalesce(1).write.mode("overwrite").parquet(path)
    java.nio.file.Files.write(manifest.toPath, keep)
    intercept[IllegalStateException] {
      Similarity.loadPqBooks(spark, path)
    }
  }

  test("persisted kNN graph: disk-served clusters and classify byte-identical, tamper refuses") {
    val path = java.nio.file.Files.createTempDirectory("graft_knn_art").toString
    Similarity.saveKnnGraph(spark, Sf, path)
    // loaded graph rows = memoized graph rows (unordered set compare —
    // the artifact persists distributed, unsorted)
    val loadedRows = Similarity.loadKnnGraph(spark, path)
      .collect().map(_.toSeq).toSet
    val builtRows = Similarity.annKnnGraph(spark, Sf)
      .collect().map(_.toSeq).toSet
    assert(loadedRows == builtRows, "loaded graph must equal the built one")
    // both disk-served query forms ≡ their trained registry forms
    val clustersServed = Similarity.embeddingClustersFromArtifact(spark, path)
      .collect().map(_.toSeq).toSeq
    val clustersTrained = Similarity.embeddingClusters(spark, Sf)
      .collect().map(_.toSeq).toSeq
    assert(clustersServed == clustersTrained,
      "disk-served embedding_clusters must be byte-identical")
    val classifyServed = Similarity.annKnnClassifyFromArtifact(spark, Sf, path)
      .collect().map(_.toSeq).toSeq
    val classifyTrained = Similarity.annKnnClassify(spark, Sf)
      .collect().map(_.toSeq).toSeq
    assert(classifyServed == classifyTrained,
      "disk-served ann_knn_classify must be byte-identical")
    intercept[IllegalArgumentException] {
      Similarity.loadKmeansCentroids(spark, path)
    }
    // tamper: drop one row under the stale manifest — the content
    // fingerprint covers every row, so a half-replaced graph refuses
    val g = spark.read.parquet(path)
    val manifest = new java.io.File(path, graft.sources.ArtifactManifest.FileName)
    val keep = java.nio.file.Files.readAllBytes(manifest.toPath)
    val tmp = java.nio.file.Files.createTempDirectory("graft_knn_tamper").toString
    g.limit((g.count() - 1).toInt).write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").parquet(path)
    java.nio.file.Files.write(manifest.toPath, keep)
    intercept[IllegalStateException] {
      Similarity.loadKnnGraph(spark, path)
    }
  }

  test("index maintenance: drift trigger fires on off-cell deltas, re-training restores recall") {
    import spark.implicits._
    import operators.IndexMaintenance
    val rnd = new scala.util.Random(42)
    def axis(i: Int): Array[Float] = Array.tabulate(8)(j => if (j == i) 1f else 0f)
    def noisy(base: Array[Float]): Array[Float] =
      base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.1f)
    // base corpus: 4 clusters on axes 0-3 (dims 4-7 quiet); the
    // drifted delta + the queries live on axis 7 — a region the
    // trained cells and codebooks never saw
    val base = (0L until 64L).map(id => (id, noisy(axis((id % 4).toInt))))
    val delta = (1000L until 1064L).map(id => (id, noisy(axis(7))))
    val queries = (2000L until 2005L).map(id => (id, noisy(axis(7))))
    val baseDf = base.toDF("vec_id", "embedding")
    val deltaDf = delta.toDF("vec_id", "embedding")
    val queriesDf = queries.toDF("vec_id", "embedding")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val union = base ++ delta
    def recall(probe: org.apache.spark.sql.DataFrame): Double = {
      val got = probe.collect().groupBy(_.getAs[Long]("query_id"))
        .view.mapValues(_.map(_.getAs[Long]("cand_id")).toSet).toMap
      queries.map { case (qid, qv) =>
        val exact = union.map { case (id, v) => (id, cos(qv, v)) }
          .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSet
        got.getOrElse(qid, Set.empty).count(exact).toDouble / 5.0
      }.sum / queries.size
    }
    val idx = java.nio.file.Files.createTempDirectory("graft_idx_maint").toString
    Similarity.saveIvfPqIndexFrom(baseDf, idx, nlist = 4, m = 4, ksub = 16, iters = 2)
    // freshly trained: live occupancy IS the training histogram
    val d0 = IndexMaintenance.drift(spark, idx)
    assert(d0.tvDistance < 1e-9 && !d0.retrain)
    // delta lands once; a replayed batch appends nothing (anti-join)
    assert(IndexMaintenance.appendDelta(spark, idx, deltaDf) == 64L)
    assert(IndexMaintenance.appendDelta(spark, idx, deltaDf) == 0L)
    val d1 = IndexMaintenance.drift(spark, idx)
    assert(d1.totalTrain == 64L && d1.totalNow == 128L)
    // orthogonal drift scatters across stale cells by noise, so the
    // occupancy TV stays small — the QUANTIZATION-ERROR signal is
    // what must fire (every delta is far from whatever centroid the
    // noise assigned it to)
    assert(d1.errRatio >= 2.0, s"error signal must see the off-cell mass: $d1")
    assert(d1.retrain, s"off-cell delta must trip the trigger: $d1")
    // the stale index still SEES the deltas (they are appended) but
    // mis-ranks them: stale codebooks quantize axis-7 variation to
    // near-constant codes, so the ADC shortlist is effectively
    // arbitrary within the delta cluster
    val stale = recall(Similarity.ivfpqTopKFromIndexWith(
      spark, queriesDf, idx, k = 5, nProbe = 2, refine = 16))
    // maintenance tick: re-trains from the live corpus, resets stats
    val res = IndexMaintenance.maintain(union.toDF("vec_id", "embedding"), idx,
      threshold = 0.2, nlist = 4, m = 4, ksub = 16, iters = 3)
    assert(res.retrained)
    assert(!IndexMaintenance.drift(spark, idx).retrain, "stats baseline must reset")
    val retrained = recall(Similarity.ivfpqTopKFromIndexWith(
      spark, queriesDf, idx, k = 5, nProbe = 2, refine = 16))
    assert(retrained > stale,
      s"re-training must restore recall: stale=$stale retrained=$retrained")
    assert(retrained >= 0.6, s"retrained recall floor: $retrained")
  }

  test("norm-log trigger: an encoder deploy retrains a quiet index; quiet log doesn't") {
    import spark.implicits._
    // a healthy index whose own occupancy/error stats are quiet
    val base = (0L until 64L).map { i =>
      val v = new Array[Float](8); v((i % 4).toInt) = 1.0f; (i, v)
    }
    val idx = java.nio.file.Files.createTempDirectory("graft_idx_norm").toString
    Similarity.saveIvfPqIndexFrom(base.toDF("vec_id", "embedding"), idx,
      nlist = 4, m = 4, ksub = 16, iters = 2)
    // a QUIET norm log: two identical unit batches
    def census(vs: Seq[Array[Float]], b: Long) =
      Similarity.embeddingNormCensusFrom(
        vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding"))
        .withColumn("batch_id", lit(b))
    val log = java.nio.file.Files.createTempDirectory("graft_normtrig").toString
    val unit = base.map(_._2)
    graft.sources.MartSink.writePartitioned(census(unit, 0L), log, Seq("batch_id"))
    graft.sources.MartSink.writePartitioned(census(unit, 1L), log, Seq("batch_id"))
    val quiet = IndexMaintenance.maintainWithNormLog(
      base.toDF("vec_id", "embedding"), idx, log)
    assert(!quiet.retrained && quiet.drift.tvDistance < 1e-9)
    // the un-L2'd deploy lands in the log: the composed trigger fires
    // even though the index's own statistics haven't moved
    graft.sources.MartSink.writePartitioned(
      census(unit.map(_.map(_ * 50f)), 2L), log, Seq("batch_id"))
    val deployed = IndexMaintenance.maintainWithNormLog(
      base.toDF("vec_id", "embedding"), idx, log)
    assert(deployed.retrained, "encoder drift must trip the composed trigger")
    assert(deployed.drift.tvDistance < 1e-9, "the index's own stats stayed quiet")
    // an absent log dir contributes nothing
    val none = IndexMaintenance.maintainWithNormLog(
      base.toDF("vec_id", "embedding"), idx, log + "_absent")
    assert(!none.retrained)
  }

  test("hard negatives exclude the query's label and match a driver-side recompute") {
    val e = Tables.embeddings(spark, Sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getSeq[Float](r.fieldIndex("embedding")).toArray,
        r.getAs[Int]("label")))
    val queries = e.filter(_._1 < 10)
    val cands = e.filter(_._1 >= 10)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (dot, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    val expected = queries.map { case (q, qe, ql) =>
      q -> cands.filter(_._3 != ql)
        .map { case (c, ce, _) => (c, BigDecimal(cos(qe, ce)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .sortBy { case (c, s) => (-s, c) }.take(5).map(_._1).toSeq
    }.toMap
    val rows = Similarity.hardNegatives(spark, Sf).collect()
    val got = rows.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("cand_id")).toSeq }
    assert(got == expected)
    // every returned negative really differs from its query's label
    val labelOf = e.map(t => t._1 -> t._3).toMap
    rows.foreach { r =>
      assert(r.getAs[Int]("neg_label") != labelOf(r.getAs[Long]("query_id")))
      assert(r.getAs[Int]("neg_label") == labelOf(r.getAs[Long]("cand_id")))
    }
  }

  test("ivf ann probes cells and returns ranked candidates per query") {
    val rows = Similarity.ivfTopK(spark, Sf, numQueries = 5, k = 3).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { g =>
      assert(g.map(_.getAs[Int]("rank")).min == 1)
      g.foreach { r =>
        assert(r.getAs[Long]("cand_id") >= 5)
        assert(math.abs(r.getAs[Double]("similarity")) <= 1.0)
      }
    }
  }

  test("ivf plan: the candidate side reaches the probe join with zero exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // concrete plan tree
    try {
      val plan = Similarity.ivfTopK(spark, Sf).queryExecution.executedPlan
      val bhj = plan.collectFirst { case j: BroadcastHashJoinExec => j }
      assert(bhj.nonEmpty, s"expected a broadcast probe join in:\n$plan")
      // cell assignment is a literal-centroid projection: the streamed
      // (candidate) side must run scan -> project -> join, no shuffle
      val shuffles = bhj.get.left.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty, s"cell assignment must be narrow, found:\n${bhj.get.left}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("embedding centroids have full dimensionality per label") {
    val rows = Similarity.embeddingCentroids(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("dim_count") == 64L)
      assert(r.getSeq[Double](r.fieldIndex("centroid")).length == 64)
    }
  }

  test("cosine near-dup: no false positives vs the unblocked exact pair set") {
    graft.functions.CosineSimilarity.ensureRegistered(spark)
    val th = 0.4
    val approx = Similarity.cosineNearDup(spark, Sf, threshold = th).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    approx.foreach { case (a, b) => assert(a < b) }
    val e = Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))
    val exact = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(expr("cosine_sim(a.embedding, b.embedding)"), 6).as("s"))
      .filter(col("s") >= th)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // in-bucket exact verification ⇒ every reported pair is a true pair
    assert(approx.subsetOf(exact), s"false positives: ${approx -- exact}")
    // this corpus's over-threshold pairs are ALL borderline (max sim
    // ≈0.48) — the hardest case for LSH banding; require a non-trivial
    // floor here and near-total recall on planted dups (next test)
    if (exact.nonEmpty) {
      val recall = (approx & exact).size.toDouble / exact.size
      assert(recall >= 0.25, s"banded near-dup recall too low: $recall")
    }
  }

  test("cosine near-dup scale plan: join-free band-bucket grouping, no broadcast") {
    // pair generation is a grouped aggregation on the (table_idx,
    // bucket) band key with in-bucket enumeration — no join of any
    // kind, no broadcast, never a low-cardinality block shuffle
    val plan = Similarity.cosineNearDup(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"expected join-free pair generation:\n$plan")
    assert(plan.contains("table_idx") && plan.contains("bucket"),
      "grouping not keyed on the LSH band")
  }

  test("cosine near-dup: planted true duplicates are recalled") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    // clone 20 corpus vectors with a tiny deterministic perturbation
    // (sim ≈ 0.999) — the regime near-dup blocking exists for
    val base = Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 20)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val planted = base.map { case (id, v) =>
      (id + 100000L, v.zipWithIndex.map { case (x, i) => x + (if (i % 7 == 0) 1e-3f else 0f) })
    }
    val all = (base ++ planted).toSeq.toDF("vec_id", "embedding")
    val found = Similarity.cosineNearDupFrom(all, threshold = 0.9).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val wanted = base.map { case (id, _) => (id, id + 100000L) }.toSet
    val recall = (found & wanted).size.toDouble / wanted.size
    assert(recall >= 0.95, s"planted-dup recall too low: $recall")
  }

  test("pq codes stay in range and ADC+refine recalls the exact top-k") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val e = Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))
    val books = Similarity.pqCodebooks(e, m = 8, ksub = 16, iters = 2)
    assert(books.length == 8)
    books.foreach { book =>
      assert(book.map(_._1) == (0 until 16))
      book.foreach { case (_, cw) => assert(cw.length == 8) }
    }
    val codes = Similarity.pqEncode(e, books)
      .select(col("codes")).collect().map(_.getSeq[Int](0))
    assert(codes.nonEmpty)
    codes.foreach { cs =>
      assert(cs.length == 8)
      assert(cs.forall(c => c >= 0 && c < 16), s"code out of range: $cs")
    }
    val k = 5
    val exact = Similarity.bruteForceTopK(spark, Sf, numQueries = 10, k = k).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val pq = Similarity.pqTopK(spark, Sf, numQueries = 10, k = k).collect()
    val perQuery = pq.groupBy(_.getAs[Long]("query_id"))
    perQuery.foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to k), s"query $q ranks") }
    val got = pq.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val recall = (got & exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"PQ recall@$k too low: $recall")
    // IVF-PQ prunes candidates to probed cells before ADC — recall
    // trades against nProbe, so the floor is lower than plain PQ's
    val ivfpq = Similarity.ivfpqTopK(spark, Sf, numQueries = 10, k = k).collect()
    ivfpq.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      val ranks = rows.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks == (1 to ranks.length), s"query $q ranks not contiguous: $ranks") }
    val gotIvf = ivfpq.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val recallIvf = (gotIvf & exact).size.toDouble / exact.size
    assert(recallIvf >= 0.3, s"IVF-PQ recall@$k too low: $recallIvf")
  }

  test("semdedup prunes in-cell near-sets to one keeper, never across cells") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val assigned = Seq(
      (1L, Array(1f, 0f, 0f, 0f), 0),     // near-set {1,2,3}: keep min id 1
      (2L, Array(1f, 0f, 0f, 0f), 0),     // identical to 1
      (3L, Array(0.9f, 0.1f, 0f, 0f), 0), // cos≈0.994 to 1 → same set
      (4L, Array(0f, 1f, 0f, 0f), 1),     // alone in its cell
      (5L, Array(0f, 0f, 1f, 0f), 0),     // identical to 6 but DIFFERENT cell:
      (6L, Array(0f, 0f, 1f, 0f), 1)      //   blocking must keep both
    ).toDF("vec_id", "embedding", "cell")
    val kept = Similarity.semDedupSurvivorsFrom(assigned, threshold = 0.985, maxBucket = 1024)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(kept == Set(1L, 4L, 5L, 6L), s"got $kept")
    // corpus census: partitions every vector into kept + pruned per cell
    val census = Similarity.semDedup(spark, Sf).collect()
    val total = census.map(_.getAs[Long]("n_vectors")).sum
    assert(total == Tables.embeddings(spark, Sf).count())
    census.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_pruned") == r.getAs[Long]("n_vectors"))
      assert(r.getAs[Long]("n_kept") >= 1)
    }
  }

  test("knn graph: k edges per vector, no self edges, ranked; recall vs exact on sampled queries") {
    val k = 5
    val g = Similarity.annKnnGraph(spark, Sf, k = k).cache()
    try {
      val n = Tables.embeddings(spark, Sf).count()
      assert(g.select("vec_id").distinct().count() == n, "every vector gets neighbors")
      assert(g.filter(col("vec_id") === col("neighbor_id")).count() == 0)
      val perVec = g.groupBy("vec_id").count().agg(min("count"), max("count")).collect().head
      assert(perVec.getLong(0) == k && perVec.getLong(1) == k)
      // ranks are 1..k and similarity is non-increasing in rank
      val bad = g.withColumn("prev",
          lag("similarity", 1).over(org.apache.spark.sql.expressions.Window
            .partitionBy("vec_id").orderBy("rank")))
        .filter(col("prev").isNotNull && col("prev") < col("similarity")).count()
      assert(bad == 0)
      // recall vs EXACT graph neighbors, recomputed driver-side for a
      // query sample (the whole corpus is candidate pool — unlike
      // bruteForceTopK's query/candidate split)
      val all = Tables.embeddings(spark, Sf).select("vec_id", "embedding").collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray).toMap
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
        if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
      }
      val sample = all.keys.toSeq.sorted.take(20)
      val exact = sample.map { q =>
        q -> all.filterNot(_._1 == q).toSeq
          .map { case (id, v) => (cos(all(q), v), id) }
          .sortBy { case (s, id) => (-s, id) }.take(k).map(_._2).toSet
      }.toMap
      val approx = g.filter(col("vec_id").isin(sample: _*)).collect()
        .groupBy(_.getAs[Long]("vec_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
      val hits = exact.map { case (q, ex) => (approx.getOrElse(q, Set.empty) & ex).size }.sum
      val recall = hits.toDouble / (sample.size * k)
      assert(recall >= 0.25, s"knn-graph recall too low: $recall")
    } finally {
      g.unpersist()
      ()
    }
  }

  test("knn classify: perfect accuracy on separated clusters; census partitions the corpus") {
    import spark.implicits._
    // three well-separated orthogonal clusters, 6 vectors each with
    // tiny within-cluster jitter -> leave-one-out kNN must be perfect
    val vecs = (0 until 18).map { i =>
      val label = i % 3
      val base = Array.fill(6)(0f)
      base(label * 2) = 10f
      base(label * 2 + 1) = (i / 3).toFloat * 0.1f
      (i.toLong, base, label)
    }
    val e = vecs.toDF("vec_id", "embedding", "label")
    // identity-ish quantizer: one centroid per cluster direction
    val cents = (0 until 3).map { c =>
      val v = Array.fill(6)(0f); v(c * 2) = 1f; c -> v
    }
    val got = Similarity.annKnnClassifyFrom(spark, e, cents, k = 3, nProbe = 1).collect()
    assert(got.length == 3)
    got.foreach { r =>
      assert(r.getAs[Long]("n_vectors") == 6L)
      assert(r.getAs[Double]("accuracy_pct") == 100.0,
        s"label ${r.getAs[Int]("label")}: ${r.getAs[Long]("correct")}/6")
    }
    // corpus run: census partitions the table; accuracy well-formed; deterministic
    val c1 = Similarity.annKnnClassify(spark, Sf).collect()
    assert(c1.map(_.getAs[Long]("n_vectors")).sum == Tables.embeddings(spark, Sf).count())
    assert(c1.forall { r =>
      val a = r.getAs[Double]("accuracy_pct"); a >= 0.0 && a <= 100.0
    })
    val c2 = Similarity.annKnnClassify(spark, Sf).collect()
    assert(c1.map(_.toString).sameElements(c2.map(_.toString)))
  }

  test("topic mix partitions the corpus and shares sum to 100 per source, deterministically") {
    val m1 = Similarity.corpusTopicMix(spark, Sf).collect()
    assert(m1.map(_.getAs[Long]("docs")).sum == Tables.documents(spark, Sf).count())
    m1.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      assert(math.abs(rs.map(_.getAs[Double]("source_share")).sum - 100.0) < 1e-9)
    }
    assert(m1.forall { r =>
      val t = r.getAs[Int]("topic"); t >= 0 && t < 10
    })
    // seeded training: byte-identical across runs
    val m2 = Similarity.corpusTopicMix(spark, Sf).collect()
    assert(m1.map(_.toString).sameElements(m2.map(_.toString)))
  }

  test("topic-balanced sample: per-topic cap, exact-k on saturated topics, deterministic") {
    val perTopic = 20
    val s1 = Similarity.sampleTopicBalanced(spark, Sf, perTopic = perTopic).collect()
    // every drawn doc is ranked within its topic's cap
    assert(s1.forall(r => r.getAs[Int]("draw_rank") >= 1 && r.getAs[Int]("draw_rank") <= perTopic))
    assert(s1.map(_.getAs[Long]("doc_id")).distinct.length == s1.length, "a doc drawn once")
    // topics with >= perTopic docs contribute exactly perTopic
    val mix = Similarity.corpusTopicMix(spark, Sf).collect()
      .groupBy(_.getAs[Int]("topic")).map { case (t, rs) => t -> rs.map(_.getAs[Long]("docs")).sum }
    val drawn = s1.groupBy(_.getAs[Int]("topic")).map { case (t, rs) => t -> rs.length }
    drawn.foreach { case (t, n) =>
      assert(n == math.min(perTopic.toLong, mix(t)), s"topic $t drew $n of ${mix(t)}")
    }
    // deterministic
    val s2 = Similarity.sampleTopicBalanced(spark, Sf, perTopic = perTopic).collect()
    assert(s1.map(_.toString).sameElements(s2.map(_.toString)))
  }

  test("pca basis is orthonormal with descending eigenvalues matching projected variance") {
    val k = 4
    val basis = Similarity.pcaBasis(spark, Sf, k)
    assert(basis.length == k)
    val eigs = basis.map(_._2)
    assert(eigs.zip(eigs.tail).forall { case (a, b) => a >= b }, "eigenvalues must descend")
    assert(eigs.forall(_ > 0), "top eigenvalues of a real covariance must be positive")
    for ((_, _, u) <- basis; (_, _, v) <- basis) {
      val d = u.zip(v).map { case (a, b) => a * b }.sum
      val expectedDot = if (u eq v) 1.0 else 0.0
      assert(math.abs(d - expectedDot) < 1e-8, s"basis not orthonormal: dot=$d")
    }
    // sample variance of each projected component must equal its eigenvalue
    val proj = Similarity.embeddingPca(spark, Sf, k).collect()
      .groupBy(_.getAs[Int]("component"))
      .map { case (c, rows) => c -> rows.map(_.getAs[Double]("value")) }
    assert(proj.keySet == (0 until k).toSet)
    assert(proj.values.forall(_.length == 500))
    proj.foreach { case (c, vals) =>
      val n = vals.length
      val mean = vals.sum / n
      val varr = vals.map(x => (x - mean) * (x - mean)).sum / (n - 1)
      val eig = basis(c)._2
      assert(math.abs(varr - eig) / eig < 1e-6,
        s"component $c: projected variance $varr vs eigenvalue $eig")
    }
  }

  test("embedding clusters: LPA over the kNN graph recovers planted clusters, deterministic") {
    import spark.implicits._
    import graft.operators.Similarity
    // full-period jitter: unique per (i, d) so no two vectors are
    // exact twins (twin sub-cliques would be genuine sub-communities)
    def jit(c: Int, i: Int, d: Int) =
      (((i * 2654435761L + d * 40503L + c) % 997L) / 997.0f) * 0.05f
    def corpus(sizes: Seq[Int]): org.apache.spark.sql.DataFrame = {
      val bounds = sizes.scanLeft(0)(_ + _)
      (0 until sizes.sum).map { i =>
        val c = bounds.indexWhere(_ > i) - 1
        val base = Array.fill(8)(0.0f)
        base(c) = 1.0f
        (i.toLong, base.zipWithIndex.map { case (x, d) => x + jit(c, i, d) })
      }.toDF("vec_id", "embedding")
    }
    // lpaIters = 4 pins the SHIPPED budget (embeddingClusters'
    // default): recovery was measured from round 3 and stable over
    // 3-8, so the spec holding at 4 is the margin claim — a default
    // change that breaks recovery fails here, not in production
    def clusters(e: org.apache.spark.sql.DataFrame, nlist: Int, k: Int) = {
      val cents = Similarity.kmeansCentroidsFrom(e, nlist, iters = 2)
      Similarity.clustersFromGraph(
        Similarity.annKnnGraphWith(spark, e, cents, k = k, nProbe = 2), lpaIters = 4)
        .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
    }
    // RECOVERY REGIME — graph dense relative to the clusters (k ≥
    // cluster size): the partition is recovered exactly, no k given
    // to the clustering itself
    val dense = corpus(Seq(8, 6, 6))
    val got = clusters(dense, nlist = 3, k = 8)
    assert(got.size == 20)
    def planted(bounds: Seq[Int])(id: Long) = bounds.count(_ <= id) - 1
    val pDense = planted(Seq(0, 8, 14))(_) // bounds: 0-7, 8-13, 14-19
    val byPlanted = got.groupBy { case (id, _) => pDense(id) }
      .map { case (pc, m) => pc -> m.values.toSet }
    assert(byPlanted.values.forall(_.size == 1), s"split cluster: $byPlanted")
    assert(byPlanted.values.flatten.toSet.size == 3, s"merged clusters: $byPlanted")
    // SPARSE REGIME — clusters much larger than k: LPA resolves
    // sub-communities INSIDE a planted cluster (community detection
    // at the graph's own resolution, the operator's documented
    // semantics), but labels stay PURE — no kNN edge crosses the
    // orthogonal clusters, so no label may span two of them
    val sparse = clusters(corpus(Seq(30, 20, 10)), nlist = 3, k = 5)
    val pSparse = planted(Seq(0, 30, 50))(_)
    val byLabel = sparse.groupBy(_._2).map { case (l, m) =>
      l -> m.keys.map(pSparse).toSet }
    assert(byLabel.values.forall(_.size == 1), s"impure label: $byLabel")
    // deterministic: bit-identical on rerun
    assert(clusters(dense, nlist = 3, k = 8) == got)
  }

  test("k-center coreset: planted clusters each get a center, coverage improves with k, deterministic") {
    import spark.implicits._
    import graft.operators.Similarity
    // three well-separated clusters of different sizes on distinct axes
    def jit(c: Int, i: Int, d: Int) = ((c * 31 + i * 7 + d * 3) % 5) * 0.01f
    val vecs = (0 until 60).map { i =>
      val c = if (i < 30) 0 else if (i < 50) 1 else 2
      val base = Array.fill(8)(0.0f)
      base(c) = 1.0f
      (i.toLong, base.zipWithIndex.map { case (x, d) => x + jit(c, i, d) })
    }
    val e = vecs.toDF("vec_id", "embedding")
    val k3 = Similarity.sampleKcenterFrom(e, k = 3, poolSize = 32).collect()
    assert(k3.length == 3)
    // each planted cluster is covered by exactly one center: the
    // assignment census recovers the planted sizes
    assert(k3.map(_.getAs[Long]("n_assigned")).sorted.toSeq == Seq(10L, 20L, 30L))
    // every member sits close to its center (intra-cluster cosine ~1)
    k3.foreach(r => assert(r.getAs[Double]("coverage_min_cos") > 0.99,
      s"cluster under-covered: $r"))
    // k=1 cannot cover the orthogonal clusters: its worst assignment
    // is near-orthogonal, so coverage improves strictly with k
    val k1 = Similarity.sampleKcenterFrom(e, k = 1, poolSize = 32).collect()
    assert(k1.length == 1 && k1.head.getAs[Long]("n_assigned") == 60L)
    assert(k1.head.getAs[Double]("coverage_min_cos") < 0.2)
    // centers are real corpus members and the greedy is bit-reproducible
    val again = Similarity.sampleKcenterFrom(e, k = 3, poolSize = 32).collect()
    assert(k3.map(_.toString).toSeq == again.map(_.toString).toSeq)
    val ids = vecs.map(_._1).toSet
    k3.foreach(r => assert(ids.contains(r.getAs[Long]("center_vec_id"))))
  }
}

class MultimodalSpec extends SparkSpec {
  test("frame samples reassemble to min(payload, maxFrames*stride) bytes") {
    val frames = Multimodal.frameSample(spark, Sf, stride = 100, maxFrames = 8)
    val perDoc = frames.groupBy("media_id").agg(sum("frame_len").as("bytes"), count(lit(1)).as("n"))
    val docs = Multimodal.mediaTable(spark, Sf)
      .select(col("media_id"), length(col("payload")).as("n_bytes"))
    val bad = perDoc.join(docs, "media_id")
      .filter(col("bytes") =!= least(col("n_bytes"), lit(800)))
      .count()
    assert(bad == 0)
  }

  test("media near-dup pairs planted byte-twins, skips unrelated payloads") {
    import spark.implicits._
    val base = ("A" * 400) + ("B" * 400) + ("C" * 400)
    val media = Seq(
      (1L, base),
      (2L, base.updated(0, 'Z').toString),  // one byte-group perturbed
      (3L, scala.util.Random.javaRandomToRandom(new java.util.Random(7))
        .alphanumeric.take(1200).mkString)) // unrelated
      .toDF("media_id", "text")
      .select(col("media_id"), encode(col("text"), "utf-8").as("payload"))
    val pairs = Multimodal.mediaNearDupFrom(media).collect()
      .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))).toSet
    assert(pairs.contains((1L, 2L)), s"byte-twin pair missing: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"unrelated payload paired: $pairs")
    // corpus run: pairs are canonical and within the hamming budget
    val rows = Multimodal.mediaNearDup(spark, Sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("media_a") < r.getAs[Long]("media_b"))
      assert(r.getAs[Int]("hamming") <= 7)
    }
  }

  test("feature vectors are 16-wide and bins sum to char count") {
    val bad = Multimodal.featureExtract(spark, Sf)
      .filter(size(col("feature_vec")) =!= 16 ||
        aggregate(col("feature_vec"), lit(0), (a, x) => a + x) =!= col("n_chars"))
      .count()
    assert(bad == 0)
  }

  test("resize clamps every payload to exactly 256 bytes") {
    val bad = Multimodal.mediaResize(spark, Sf)
      .filter(length(col("resized")) =!= 256)
      .count()
    assert(bad == 0)
  }

  test("media metadata derives byte length from utf-8 payload") {
    val bad = Multimodal.mediaMetadata(spark, Sf)
      .filter(col("n_bytes") <= 0 || col("fake_width") < 16 || col("fake_height") < 16)
      .count()
    assert(bad == 0)
  }

  // ---- real image codec (planted via BufferedImage — no external assets)

  private def gradientImg(w: Int, h: Int, shift: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 255 / w + shift) % 256
      val g = y * 255 / h
      val b = (x + y) * 255 / (w + h)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    img
  }

  private def checkerImg(w: Int, h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, if (((x / 4) + (y / 4)) % 2 == 0) 0xffffff else 0x000000)
    img
  }

  private def encoded(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  private def animatedGif(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    import javax.imageio.{ImageIO, IIOImage}
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    frames.foreach(f =>
      writer.writeToSequence(new IIOImage(f, null, null), writer.getDefaultWriteParam))
    writer.endWriteSequence()
    writer.dispose(); ios.close()
    bos.toByteArray
  }

  test("image metadata reads TRUE dimensions and frame counts from real decodes") {
    import spark.implicits._
    val png = encoded(gradientImg(96, 64, 0), "png")
    val gif = animatedGif(Seq(gradientImg(40, 30, 0), gradientImg(40, 30, 60),
      gradientImg(40, 30, 120)))
    val media = Seq((1L, png), (2L, gif), (3L, "not an image".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val got = Multimodal.imageMetadataFrom(media).collect()
      .map(r => r.getAs[Long]("media_id") ->
        ((r.getAs[Boolean]("decode_ok"),
          Option(r.getAs[Integer]("width")).map(_.toInt),
          Option(r.getAs[Integer]("height")).map(_.toInt),
          Option(r.getAs[Integer]("n_frames")).map(_.toInt)))).toMap
    assert(got(1L) == ((true, Some(96), Some(64), Some(1))))
    assert(got(2L) == ((true, Some(40), Some(30), Some(3))))
    assert(got(3L) == ((false, None, None, None)))
  }

  test("frame sampling decodes a planted multi-frame GIF into its real frames") {
    import spark.implicits._
    val f0 = gradientImg(32, 24, 0); val f1 = gradientImg(32, 24, 80)
    val gif = animatedGif(Seq(f0, f1))
    val media = Seq((7L, gif), (8L, "plain bytes only".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val rows = Multimodal.frameSampleFrom(media, stride = 4, maxFrames = 8).collect()
    val gifFrames = rows.filter(_.getAs[Long]("media_id") == 7L)
    assert(gifFrames.length == 2, s"want the GIF's 2 real frames, got ${gifFrames.length}")
    // each emitted frame is a decodable PNG with the source dimensions
    // and the right pixels (spot-check a corner pixel per frame)
    gifFrames.foreach { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("frame_bytes")))
      assert(img.getWidth == 32 && img.getHeight == 24)
    }
    // non-image payload takes the byte-slice fallback: ceil(16/4)=4 frames
    assert(rows.count(_.getAs[Long]("media_id") == 8L) == 4)
  }

  test("perceptual near-dup: byte twins AND a PNG->JPEG re-encode pair; unrelated image doesn't") {
    import spark.implicits._
    val img = gradientImg(96, 64, 0)
    val png = encoded(img, "png")
    val jpg = encoded(img, "jpg") // lossy twin — shares almost no BYTES with the png
    val other = encoded(checkerImg(96, 64), "png")
    val media = Seq((1L, png), (2L, jpg), (3L, other), (4L, png.clone()),
      (5L, "some text payload, the fallback arm".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val pairs = Multimodal.phashNearDupFrom(media).collect()
      .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b")) ->
        r.getAs[Int]("hamming")).toMap
    assert(pairs.get((1L, 4L)).contains(0), s"byte twins must hash identically: $pairs")
    assert(pairs.contains((1L, 2L)), s"PNG->JPEG twins must pair perceptually: $pairs")
    assert(pairs.contains((2L, 4L)), s"jpg must pair with the twin copy too: $pairs")
    assert(!pairs.keys.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated checkerboard paired: $pairs")
    assert(!pairs.keys.exists(p => p._1 == 5L || p._2 == 5L),
      s"fallback text payload paired with images: $pairs")
    // the corpus (non-image) leg stays total and canonical
    val corpus = Multimodal.phashNearDup(spark, Sf).collect()
    corpus.foreach { r =>
      assert(r.getAs[Long]("media_a") < r.getAs[Long]("media_b"))
      assert(r.getAs[Int]("hamming") <= 7)
    }
  }

  test("phash clusters: re-encode chain rolls into ONE cluster; singletons counted") {
    import spark.implicits._
    val img = gradientImg(96, 64, 0)
    // {png, jpeg re-encode, byte twin} must land in one size-3 cluster
    // even if only adjacent pairs clear the Hamming cut (transitivity
    // is the whole point of the CC rollup); checkerboard and the text
    // fallback payload stay size-1
    val media = Seq(
      (1L, encoded(img, "png")), (2L, encoded(img, "jpg")),
      (3L, encoded(checkerImg(96, 64), "png")), (4L, encoded(img, "png")),
      (5L, "some text payload, the fallback arm".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val census = Multimodal.mediaPhashClustersFrom(media).collect()
      .map(r => r.getAs[Long]("cluster_size") -> r.getAs[Long]("n_clusters")).toMap
    assert(census == Map(3L -> 1L, 1L -> 2L), s"census: $census")
    // sf corpus: cluster mass conserves the media row count
    val sf = Multimodal.mediaPhashClusters(spark, Sf).collect()
    val mass = sf.map(r => r.getAs[Long]("cluster_size") * r.getAs[Long]("n_clusters")).sum
    assert(mass == Multimodal.mediaTable(spark, Sf).count())
  }

  test("pHash is deterministic and resample/DCT behave on hand-built images") {
    val img = gradientImg(128, 96, 10)
    val h1 = operators.ImageCodec.pHash64(img)
    val h2 = operators.ImageCodec.pHash64(gradientImg(128, 96, 10))
    assert(h1 == h2, "same pixels must give the same hash")
    // a resized copy of the same scene stays perceptually close
    val small = new java.awt.image.BufferedImage(64, 48,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 48; x <- 0 until 64)
      small.setRGB(x, y, img.getRGB(x * 2, y * 2))
    val hSmall = operators.ImageCodec.pHash64(small)
    assert(java.lang.Long.bitCount(h1 ^ hSmall) <= 7,
      s"downscaled twin drifted ${java.lang.Long.bitCount(h1 ^ hSmall)} bits")
    // gray resample of a constant image is constant
    val flat = new java.awt.image.BufferedImage(10, 10,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 10; x <- 0 until 10) flat.setRGB(x, y, 0x808080)
    val g = operators.ImageCodec.grayResample(flat, 4)
    assert(g.forall(v => math.abs(v - 128.0) < 1e-6))
  }
}
