package graft

import org.apache.spark.sql.functions._
import graft.operators.{Basket, EventMarts, Relational, TextAnalysis}

/** Specs for the retrieval/corpus-statistics family (BM25, TF-IDF
  * keywords, Zipf/Heaps curves) and the affinity/Pareto queries. */
class RetrievalSpec extends SparkSpec {

  private def docs(texts: Seq[String]) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", s"src${i % 3}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("zipf curve: planted frequencies rank deterministically with exact shares") {
    val d = docs(Seq("a a a b b c", "b a"))
    val rows = TextAnalysis.zipfCurveFrom(d, k = 2).collect()
    assert(rows.map(_.getAs[String]("term")).toSeq == Seq("a", "b"))
    val a = rows(0)
    assert(a.getAs[Int]("rank") == 1 && a.getAs[Long]("freq") == 4 &&
      a.getAs[Long]("rank_freq") == 4)
    assert(a.getAs[Double]("share_pct") == 4.0 / 8.0 * 100.0)
    val b = rows(1)
    assert(b.getAs[Long]("freq") == 3 && b.getAs[Long]("rank_freq") == 6)
    assert(b.getAs[Double]("cum_share_pct") == 7.0 / 8.0 * 100.0)
  }

  test("vocab growth: words attribute to their first decile; cumulative vocab is the corpus vocabulary") {
    // 10 docs, ids 0..9 → one per decile. Words: "w" everywhere
    // (first decile 0), each doc i also has unique word u_i.
    val d = docs((0 until 10).map(i => s"w u$i"))
    val rows = TextAnalysis.vocabGrowthFrom(d).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getAs[Int]("decile")).toSeq == (0 until 10))
    assert(rows.head.getAs[Long]("new_words") == 2) // w + u0
    assert(rows.tail.forall(_.getAs[Long]("new_words") == 1))
    assert(rows.last.getAs[Long]("cum_vocab") == 11)
    assert(rows.last.getAs[Long]("cum_tokens") == 20)
    assert(rows.last.getAs[Double]("type_token_ratio") == 11.0 / 20.0)
    // sf invariant: final cum_vocab equals the corpus distinct-word count
    val sf = TextAnalysis.vocabGrowth(spark, Sf).orderBy(desc("decile")).limit(1)
      .collect().head.getAs[Long]("cum_vocab")
    val vocab = Tables.documents(spark, Sf)
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .distinct().count()
    assert(sf == vocab)
  }

  test("tf-idf keywords: rarity dominates; common terms rank below distinctive ones") {
    // "common" is in all 3 docs (idf 1); each doc has a distinctive
    // term with idf 3 that must win rank 1 despite equal tf.
    val d = docs(Seq(
      "common alpha common", "common beta", "common gamma gamma"))
    val rows = TextAnalysis.tfidfKeywordsFrom(d, k = 2).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(rows(0L).head.getAs[String]("term") == "alpha")
    assert(rows(1L).head.getAs[String]("term") == "beta")
    assert(rows(2L).head.getAs[String]("term") == "gamma")
    // doc 2: gamma tf=2 dl=3 df=1 n=3 → (2/3)*(3/1) = 2.0 exactly
    assert(rows(2L).head.getAs[Double]("score") == (2.0 / 3.0) * (3.0 / 1.0))
    assert(rows(2L).map(_.getAs[String]("term")).toSet == Set("gamma", "common"))
  }

  test("BM25 matches an exact driver-side recompute on the same JVM") {
    val (k1, b) = (1.2, 0.75)
    val terms = Seq("spark", "vector", "stream", "window")
    val d = Tables.documents(spark, Sf)
    val corpus = d.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq).toMap
    val n = corpus.size
    val avgdl = corpus.values.map(_.size.toLong).sum.toDouble / n.toDouble
    val df = terms.map(t => t -> corpus.values.count(_.contains(t))).toMap
    def score(toks: Seq[String]): Double = {
      val dl = toks.size
      terms.map { t =>
        val tf = toks.count(_ == t)
        if (tf == 0) 0.0
        else {
          // Spark's log expression evaluates via StrictMath — the JVM
          // intrinsic Math.log can differ in the last ulp; the idf
          // additionally quantizes to the 1e-7 grid (the oracle-parity
          // model — see TextAnalysis.textEntropy's Scaladoc)
          val idf = math.round(StrictMath.log(1.0 +
            (n.toDouble - df(t).toDouble + 0.5) / (df(t).toDouble + 0.5))
            * 10000000.0).toDouble / 10000000.0
          idf * ((tf.toDouble * (k1 + 1.0)) /
            (tf.toDouble + k1 * ((1.0 - b) + (b * dl.toDouble) / avgdl)))
        }
      }.reduce(_ + _)
    }
    val expected = corpus.toSeq.map { case (id, toks) => (id, score(toks)) }
      .filter(_._2 > 0.0)
      .sortBy { case (id, s) => (-s, id) }.take(10)
    val got = TextAnalysis.searchBm25(spark, Sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
    assert(got == expected, s"\ngot     =$got\nexpected=$expected")
  }

  test("self-retrieval: unique-vocab docs rank first; an exact duplicate demotes the copy to 2") {
    import spark.implicits._
    // shared filler + one unique distinctive word per doc
    def doc(word: String) =
      s"the quick brown filler text common to all $word $word $word"
    val docs = Seq(
      (1L, doc("albatross")),
      (2L, doc("barnacle")),
      (3L, doc("cormorant")),
      (4L, doc("albatross"))) // exact duplicate of doc 1's content
      .toDF("doc_id", "text")
    val rows = TextAnalysis.searchSelfRecallFrom(docs, numQueries = 4).collect()
      .map(r => r.getAs[Long]("query_doc") -> r).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 4L))
    // unique-vocab probes retrieve themselves first
    assert(rows(2L).getAs[Long]("rank") == 1L &&
      rows(2L).getAs[Double]("reciprocal_rank") == 1.0)
    assert(rows(3L).getAs[Long]("rank") == 1L)
    // the duplicated content ties on score; doc_id breaks the tie —
    // the original ranks 1, the copy ranks 2 for the SAME query
    assert(rows(1L).getAs[Long]("rank") == 1L)
    assert(rows(4L).getAs[Long]("rank") == 2L &&
      rows(4L).getAs[Double]("reciprocal_rank") == 0.5)
    // every probe used two query terms
    rows.values.foreach(r => assert(r.getAs[Long]("src_terms") == 2L))
    // registry form at sf: every probe present, ranks deterministic
    // and sane; a second run reproduces them exactly
    val reg = TextAnalysis.searchSelfRecall(spark, Sf).collect()
    assert(reg.length == 20)
    reg.foreach { r =>
      assert(r.getAs[Long]("rank") >= 1L)
      val rr = r.getAs[Double]("reciprocal_rank")
      assert(rr > 0.0 && rr <= 1.0)
    }
    val again = TextAnalysis.searchSelfRecall(spark, Sf).collect()
    assert(reg.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("retrieval-health log: a corpus swap planting duplicate flooding bends the MRR trend down") {
    import spark.implicits._
    def doc(word: String) =
      s"the quick brown filler text common to all $word $word $word"
    // run 1: healthy corpus — every probe retrieves itself first
    val healthy = Seq(
      (11L, doc("albatross")), (12L, doc("barnacle")),
      (13L, doc("cormorant")), (14L, doc("dugong")))
      .toDF("doc_id", "text")
    // run 2: a re-crawl slipped in a clone of every doc with a LOWER
    // doc_id — the clone ties on score and wins the tie, so every
    // original's self-rank degrades to 2 (near-duplicate flooding)
    val flooded = healthy.unionByName(
      healthy.select((col("doc_id") - 1000L).as("doc_id"), col("text")))
    val logDir = java.nio.file.Files.createTempDirectory("graft_srl").toString
    TextAnalysis.selfRecallLogAppend(
      TextAnalysis.searchSelfRecallFrom(healthy, numQueries = 4), logDir, "r1")
    TextAnalysis.selfRecallLogAppend(
      TextAnalysis.searchSelfRecallFrom(flooded, numQueries = 4), logDir, "r2")
    val trend = TextAnalysis.selfRecallTrendFromLog(spark, logDir, k = 1).collect()
    assert(trend.map(_.getAs[String]("run_id")).toSeq == Seq("r1", "r2"))
    val r1 = trend(0); val r2 = trend(1)
    assert(r1.getAs[Double]("mrr") == 1.0 && r1.getAs[Long]("rank1_hits") == 4L)
    // run 2's probes are the 4 lowest doc_ids = the clones; each clone
    // ties its original and wins on id → rank 1; the plant is visible
    // through the ORIGINALS' probes only if probes sample them — so
    // probe count 4 samples the clones. Probe at 8 to cover both:
    val wide = TextAnalysis.searchSelfRecallFrom(flooded, numQueries = 8)
    TextAnalysis.selfRecallLogAppend(wide, logDir, "r2")
    val t2 = TextAnalysis.selfRecallTrendFromLog(spark, logDir, k = 1).collect()
      .map(r => r.getAs[String]("run_id") -> r).toMap
    assert(t2("r2").getAs[Long]("n_probes") == 8L,
      "same run_id re-append must REPLACE, not double-count")
    assert(t2("r2").getAs[Double]("mrr") < t2("r1").getAs[Double]("mrr"),
      s"flooding must bend MRR down: ${t2("r2").getAs[Double]("mrr")}")
    assert(t2("r2").getAs[Double]("recall_at_k") == 0.5,
      "exactly the 4 original docs lose rank 1 to their clones")
  }

  test("item CF: cosine neighbors from planted purchases; whales and singletons gated out") {
    import spark.implicits._
    // u1:{1,2} u2:{1,2} u3:{1,3} u4:{9} (singleton — out)
    // u5 buys 4 items with maxItemsPerUser=3 — out
    val rows = Seq(
      (1L, 1), (1L, 2), (2L, 1), (2L, 2), (3L, 1), (3L, 3), (4L, 9),
      (5L, 1), (5L, 2), (5L, 3), (5L, 4))
      .zipWithIndex.map { case ((u, p), i) =>
        (i.toLong, u, "2024-01-01 10:00:00", "purchase", 5.0, s"""{"k": $p}""") }
      .toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = Basket.itemCfNeighborsFrom(EventMarts.enrich(rows),
        k = 5, maxItemsPerUser = 3).collect()
    val byItem = got.groupBy(_.getAs[Int]("product_k"))
    assert(!byItem.contains(9)) // singleton's item never pairs
    // item 1 users {u1,u2,u3}=3, item 2 users {u1,u2}=2, cooc(1,2)=2
    val n12 = byItem(1).find(_.getAs[Int]("neighbor_k") == 2).get
    assert(n12.getAs[Long]("cooc_users") == 2 &&
      n12.getAs[Long]("users_a") == 3 && n12.getAs[Long]("users_b") == 2)
    assert(n12.getAs[Double]("cosine") == 2.0 / math.sqrt(6.0))
    // symmetric: item 2 lists item 1 with the same cosine
    val n21 = byItem(2).find(_.getAs[Int]("neighbor_k") == 1).get
    assert(n21.getAs[Double]("cosine") == n12.getAs[Double]("cosine"))
    // rank 1 for item 1 is item 2 (cosine 2/√6 ≈ .816 > 1/√6 of item 3)
    assert(byItem(1).minBy(_.getAs[Int]("rank")).getAs[Int]("neighbor_k") == 2)
  }

  test("epoch plan: budget splits by weight, cap binds scarce sources, shortfall surfaces") {
    // via the sf corpus: weights 16/8/4/2..., budget 100k over ~25k
    // corpus tokens — heavy sources cap at 4 epochs
    val rows = graft.operators.TextAnalysis
      .corpusEpochPlan(spark, Sf, budgetTokens = 100000L).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tokens = r.getAs[Long]("tokens").toDouble
      val target = r.getAs[Double]("target_tokens")
      val epochs = r.getAs[Double]("epochs")
      assert(epochs <= 4.0 + 1e-12)
      if (r.getAs[Int]("capped") == 1) {
        assert(epochs == 4.0)
        assert(r.getAs[Double]("shortfall_tokens") > 0.0)
      } else {
        // uncapped: planned tokens meet the target exactly
        assert(math.abs(epochs * tokens - target) < 1e-6)
        assert(math.abs(r.getAs[Double]("shortfall_tokens")) < 1e-6)
      }
    }
    // targets decompose the budget exactly (shares sum to 1)
    assert(math.abs(rows.map(_.getAs[Double]("target_tokens")).sum - 100000.0) < 1e-6)
    // src0 (weight 16) gets 8x the default-weight (2) target
    val byS = rows.map(r => r.getAs[String]("source") -> r).toMap
    assert(math.abs(byS("src0").getAs[Double]("target_tokens") -
      8.0 * byS("src3").getAs[Double]("target_tokens")) < 1e-6)
  }

  test("personalized pagerank: seed-restart matches a driver replica; unreachable nodes are exactly 0") {
    import spark.implicits._
    import graft.operators.Graph
    // 1→2→3 (3 dangling), 4→1: node 4 is unreachable FROM the seed 1
    val edges = Seq((1, 2, 1L), (2, 3, 1L), (4, 1, 1L))
      .toDF("src", "dst", "weight")
    val got = Graph.pagerankFrom(edges, iterations = 12, restart = Seq(1))
      .collect().map(r => r.getAs[Int]("product_k") -> r).toMap
    // driver replica: restart AND dangling mass return to the seed
    val d = 0.85
    def r0(v: Int) = if (v == 1) 1.0 else 0.0
    var r = Map(1 -> r0(1), 2 -> r0(2), 3 -> r0(3), 4 -> r0(4))
    for (_ <- 1 to 12) {
      val dang = r(3)
      val inflow = Map(1 -> r(4) * 1.0, 2 -> r(1) * 1.0, 3 -> r(2) * 1.0, 4 -> 0.0)
      r = r.keys.map(v =>
        v -> ((1.0 - d) * r0(v) + d * (inflow(v) + dang * r0(v)))).toMap
    }
    r.foreach { case (v, exp) =>
      assert(math.abs(got(v).getAs[Double]("pagerank") - exp) < 1e-9,
        s"node $v: ${got(v)}")
    }
    // unreachable-from-seed is EXACTLY 0, not merely small
    assert(got(4).getAs[Double]("pagerank") == 0.0)
    // the seed holds the walk's largest share on this chain
    assert(got(1).getAs[Double]("pagerank") ==
      got.values.map(_.getAs[Double]("pagerank")).max)
    // registry-shape form on crafted browse sessions: u1 views 1→2→3,
    // u2 views 1→2, u3 views 2→1 — product 2 is most-viewed? no:
    // product 1 has 3 views, 2 has 3, tie → seed = 1 (smallest key)
    import graft.operators.EventMarts
    val ev = Seq(
      (1L, 1L, "2024-01-01 10:00:00", 1), (2L, 1L, "2024-01-01 10:01:00", 2),
      (3L, 1L, "2024-01-01 10:02:00", 3),
      (4L, 2L, "2024-01-01 11:00:00", 1), (5L, 2L, "2024-01-01 11:01:00", 2),
      (6L, 3L, "2024-01-01 12:00:00", 2), (7L, 3L, "2024-01-01 12:01:00", 1))
      .map { case (id, u, ts, k) => (id, u, ts, "view", 1.0, s"""{"k": $k}""") }
      .toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
    val reg = Graph.productPprFrom(EventMarts.enrich(ev),
      iterations = 8, tol = 0.0).collect()
    assert(reg.nonEmpty)
    val seed = reg.head.getAs[Int]("seed_product")
    assert(reg.forall(_.getAs[Int]("seed_product") == seed))
    assert(seed == 1)
    val byK = reg.map(rr => rr.getAs[Int]("product_k") -> rr.getAs[Double]("ppr")).toMap
    // mass conserves: Σ ppr = 1 (restart is a distribution too); the
    // seed's direct successor 2 outranks the two-hop 3
    assert(math.abs(byK.values.sum - 1.0) < 1e-6)
    assert(byK(2) > byK(3))
  }

  test("ppr serving table: N seeds bit-match standalone single-seed runs off one edge build") {
    import spark.implicits._
    import graft.operators.{EventMarts, Graph}
    // browse sessions over 4 products so three seeds emerge: views
    // 1:4×, 2:3×, 3:2×, 4:1× with rich transitions
    val ev = Seq(
      (1L, 1L, "2024-01-01 10:00:00", 1), (2L, 1L, "2024-01-01 10:01:00", 2),
      (3L, 1L, "2024-01-01 10:02:00", 3), (4L, 1L, "2024-01-01 10:03:00", 1),
      (5L, 2L, "2024-01-01 11:00:00", 2), (6L, 2L, "2024-01-01 11:01:00", 1),
      (7L, 2L, "2024-01-01 11:02:00", 4),
      (8L, 3L, "2024-01-01 12:00:00", 3), (9L, 3L, "2024-01-01 12:01:00", 2),
      (10L, 3L, "2024-01-01 12:02:00", 1))
      .map { case (id, u, ts, k) => (id, u, ts, "view", 1.0, s"""{"k": $k}""") }
      .toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
    val e = EventMarts.enrich(ev)
    val table = Graph.pprServingTableFrom(e, numSeeds = 3, k = 5).collect()
    val seeds = table.map(_.getAs[Int]("seed_product")).distinct.sorted.toSeq
    assert(seeds == Seq(1, 2, 3),
      s"out-weight census must pick seeds 1,2,3 (weights 2,3,2): $seeds")
    // graph-derived seeds make the table non-vacuous BY CONSTRUCTION
    // wherever transitions exist: every seed has ≥1 outgoing edge, so
    // ≥1 nonzero neighbor — the registered forms must produce rows at
    // GATE scale (sf0.01, where the view-census seeds sat at
    // spark_rows 0 for two rounds); the transitionless sf0.001 slice
    // returns the honest EMPTY table, not an error
    val gate = "/root/testdata/sf0.01"
    assert(Graph.pprServingTable(spark, gate).count() > 0,
      "ppr_related_products must exercise rows at gate scale")
    assert(Graph.pprServingTableBatched(spark, gate).count() > 0,
      "ppr_related_products_batched must exercise rows at gate scale")
    assert(Graph.pprServingTable(spark, Sf).count() == 0,
      "a transitionless corpus reads as an empty serving table")
    // each seed's block bit-matches a STANDALONE single-seed run
    seeds.foreach { s =>
      val standalone = Graph.pagerankFrom(Graph.productEdgesFrom(e),
          iterations = 15, tol = 0.0, checkEvery = 3, restart = Seq(s))
        .filter(col("product_k") =!= s && col("pagerank") > 0.0)
        .orderBy(desc("pagerank"), asc("product_k")).limit(5)
        .collect().map(r => (r.getAs[Int]("product_k"), r.getAs[Double]("pagerank")))
        .toSeq
      val block = table.filter(_.getAs[Int]("seed_product") == s).sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Int]("related_product"), r.getAs[Double]("ppr"))).toSeq
      assert(block == standalone, s"seed $s diverged:\n$block\nvs\n$standalone")
    }
    // ranks are 1..k contiguous per seed; the seed never relates to itself
    table.groupBy(_.getAs[Int]("seed_product")).foreach { case (s, rows) =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rows.length).toSeq)
      assert(!rows.exists(_.getAs[Int]("related_product") == s))
    }
    // the BATCHED core (one iteration loop for all N seeds) serves the
    // same table at the same fixed round count — rank tuples exact,
    // scores to 1e-12 (per-seed arithmetic is independent; only
    // partial-sum order inside each (node, seed) rollup may differ)
    val seq12 = Graph.pprServingTableFrom(e, numSeeds = 3, k = 5,
        iterations = 12, tol = 0.0).collect()
      .map(r => (r.getAs[Int]("seed_product"), r.getAs[Int]("rank")) ->
        ((r.getAs[Int]("related_product"), r.getAs[Double]("ppr")))).toMap
    val bat12 = Graph.pprServingTableBatchedFrom(e, numSeeds = 3, k = 5,
        iterations = 12, tol = 0.0).collect()
      .map(r => (r.getAs[Int]("seed_product"), r.getAs[Int]("rank")) ->
        ((r.getAs[Int]("related_product"), r.getAs[Double]("ppr")))).toMap
    assert(bat12.keySet == seq12.keySet)
    seq12.foreach { case (key, (rel, ppr)) =>
      assert(bat12(key)._1 == rel, s"related diverged at $key")
      assert(math.abs(bat12(key)._2 - ppr) < 1e-12, s"ppr diverged at $key")
    }
    // per-seed mass conserves in the raw batched ranks (restart is a
    // distribution per walk)
    val mass = Graph.pagerankBatched(Graph.productEdgesFrom(e), Seq(1, 2, 3),
        iterations = 12)
      .groupBy("seed_product").agg(sum(col("ppr")).as("m")).collect()
    mass.foreach(r => assert(math.abs(r.getAs[Double]("m") - 1.0) < 1e-6, r.toString))
  }

  test("pagerank: distributed iterations match exact driver power iteration; edges respect the session gap") {
    import spark.implicits._
    import graft.operators.Graph
    // crafted graph: 1→2 (w2), 2→1 (w1), 1→3 (w1); 3 is dangling
    val edges = Seq((1, 2, 2L), (2, 1, 1L), (1, 3, 1L))
      .toDF("src", "dst", "weight")
    val got = Graph.pagerankFrom(edges, iterations = 15).collect()
      .map(r => r.getAs[Int]("product_k") -> r).toMap
    // driver-exact power iteration with the same update rule
    val d = 0.85; val n = 3.0
    var r = Map(1 -> 1 / n, 2 -> 1 / n, 3 -> 1 / n)
    for (_ <- 1 to 15) {
      val dang = r(3)
      val inflow = Map(
        1 -> r(2) * 1.0 / 1.0,
        2 -> r(1) * 2.0 / 3.0,
        3 -> r(1) * 1.0 / 3.0)
      r = r.map { case (k, _) =>
        k -> ((1.0 - d) / n + d * (inflow(k) + dang / n)) }
    }
    Seq(1, 2, 3).foreach { k =>
      assert(math.abs(got(k).getAs[Double]("pagerank") - r(k)) < 1e-9,
        s"node $k: ${got(k).getAs[Double]("pagerank")} vs ${r(k)}")
    }
    assert(math.abs(got.values.map(_.getAs[Double]("pagerank")).sum - 1.0) < 1e-9)
    assert(got(3).getAs[Double]("out_weight") == 0.0 &&
      got(3).getAs[Long]("out_edges") == 0L)
    assert(got(1).getAs[Long]("in_edges") == 1L && got(1).getAs[Long]("out_edges") == 2L)
    // more-cited 2 (weight 2 from the hub) outranks 3 (weight 1)
    assert(got(2).getAs[Double]("pagerank") > got(3).getAs[Double]("pagerank"))

    // edge extraction: consecutive views within the gap, product change
    val ev = Seq(
      (1L, 7L, "2024-01-01 10:00:00", "view", "{\"k\": 1}"),
      (2L, 7L, "2024-01-01 10:05:00", "view", "{\"k\": 2}"),  // 1→2
      (3L, 7L, "2024-01-01 10:06:00", "view", "{\"k\": 2}"),  // same product — no edge
      (4L, 7L, "2024-01-01 12:00:00", "view", "{\"k\": 3}"),  // gap > 30 min — no edge
      (5L, 7L, "2024-01-01 12:10:00", "click", "{\"k\": 1}"), // non-view ignored
      (6L, 7L, "2024-01-01 12:20:00", "view", "{\"k\": 1}"),  // 3→1
      (7L, 8L, "2024-01-01 12:20:00", "view", "{\"k\": 9}"))  // other user
      .toDF("event_id", "user_id", "ts", "event_type", "props")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("value", lit(1.0))
    val e2 = Graph.productEdgesFrom(EventMarts.enrich(ev)).collect()
      .map(r => (r.getAs[Int]("src"), r.getAs[Int]("dst")) -> r.getAs[Long]("weight"))
      .toMap
    assert(e2 == Map((1, 2) -> 1L, (3, 1) -> 1L))
    // fixed mode reports the full round count
    assert(got(1).getAs[Int]("iterations_run") == 15)
  }

  test("pagerank convergence control: tol mode stops at the first passing check, matching the driver replica exactly") {
    import spark.implicits._
    import graft.operators.Graph
    val edges = Seq((1, 2, 2L), (2, 1, 1L), (1, 3, 1L))
      .toDF("src", "dst", "weight")
    val d = 0.85; val n = 3.0; val tol = 1e-6; val checkEvery = 3; val maxIter = 50
    // driver replica of the SAME loop: delta read every checkEvery-th
    // round (or the guard round), stop at the first passing check
    var r = Map(1 -> 1 / n, 2 -> 1 / n, 3 -> 1 / n)
    var stopRound = 0
    var round = 1
    while (round <= maxIter && stopRound == 0) {
      val dang = r(3)
      val inflow = Map(
        1 -> r(2) * 1.0 / 1.0,
        2 -> r(1) * 2.0 / 3.0,
        3 -> r(1) * 1.0 / 3.0)
      val next = r.map { case (k, _) =>
        k -> ((1.0 - d) / n + d * (inflow(k) + dang / n)) }
      if (round % checkEvery == 0 || round == maxIter) {
        val delta = r.keys.map(k => math.abs(next(k) - r(k))).sum
        if (delta < tol) stopRound = round
      }
      r = next
      round += 1
    }
    assert(stopRound > 0 && stopRound < maxIter) // the guard never fired
    val got = Graph.pagerankFrom(edges, iterations = maxIter, tol = tol,
        checkEvery = checkEvery).collect()
      .map(x => x.getAs[Int]("product_k") -> x).toMap
    assert(got(1).getAs[Int]("iterations_run") == stopRound)
    assert(got(1).getAs[Double]("last_delta") < tol)
    Seq(1, 2, 3).foreach { k =>
      assert(math.abs(got(k).getAs[Double]("pagerank") - r(k)) < 1e-12,
        s"node $k: ${got(k).getAs[Double]("pagerank")} vs ${r(k)}")
    }
    assert(math.abs(got.values.map(_.getAs[Double]("pagerank")).sum - 1.0) < 1e-9)
  }

  test("basket rules: directed confidence from planted baskets, support floor enforced") {
    import spark.implicits._
    // p1 in orders A,B,C,D; p2 in A,B,C → pair(1,2)=3; p3 only with p1
    // once → pair below the floor of 3 never emits
    val li = Seq(
      (10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L), (12L, 1L), (12L, 2L),
      (13L, 1L), (13L, 3L))
      .toDF("l_orderkey", "l_partkey")
    val got = Basket.basketRulesFrom(li, topN = 10, minPairOrders = 3).collect()
    assert(got.length == 2) // (1→2) and (2→1) only
    val byDir = got.map(r => (r.getAs[Long]("antecedent"), r.getAs[Long]("consequent")) -> r).toMap
    val r12 = byDir((1L, 2L)); val r21 = byDir((2L, 1L))
    assert(r12.getAs[Long]("pair_orders") == 3)
    assert(r12.getAs[Double]("confidence") == 3.0 / 4.0) // p1 in 4 orders
    assert(r21.getAs[Double]("confidence") == 1.0)       // p2 always with p1
    assert(r12.getAs[Double]("lift") == 3.0 * 4.0 / (4.0 * 3.0))
    assert(r21.getAs[Double]("lift") == r12.getAs[Double]("lift")) // lift symmetric
    // confidence-desc ordering puts the certain rule first
    assert(got.head.getAs[Long]("antecedent") == 2L)
  }

  test("revenue Pareto: planted concentration yields exact A/B/C classes") {
    import spark.implicits._
    // revenues: p1=800, p2=150, p3=50 → cum 80%/95%/100%
    val li = Seq(
      (1L, 1L, 800.0, 0.0), (2L, 2L, 150.0, 0.0), (3L, 3L, 50.0, 0.0))
      .toDF("l_orderkey", "l_partkey", "l_extendedprice", "l_discount")
    val rows = Relational.revenueParetoFrom(li).collect()
    assert(rows.map(r => (r.getAs[Long]("l_partkey"), r.getAs[String]("abc_class"))).toSeq ==
      Seq((1L, "A"), (2L, "B"), (3L, "C")))
    assert(rows.map(_.getAs[Double]("cum_share_pct")).toSeq == Seq(80.0, 95.0, 100.0))
    assert(rows.head.getAs[Double]("revenue") == 800.0)
    // discount applies: same part, 10% off second line
    val li2 = Seq((1L, 1L, 100.0, 0.0), (2L, 1L, 100.0, 0.10))
      .toDF("l_orderkey", "l_partkey", "l_extendedprice", "l_discount")
    val r2 = Relational.revenueParetoFrom(li2).collect()
    assert(r2.head.getAs[Double]("revenue") == 190.0)
  }

  test("full ABC census: banded prefix sums equal the global single-window cumulative exactly") {
    import spark.implicits._
    // planted: classes split exactly at the 80/95 boundaries
    val li = Seq(
      (1L, 1L, 800.0, 0.0), (2L, 2L, 150.0, 0.0), (3L, 3L, 50.0, 0.0))
      .toDF("l_orderkey", "l_partkey", "l_extendedprice", "l_discount")
    val got = Relational.revenueAbcFrom(li, bands = 2).collect()
    assert(got.map(r => (r.getAs[Long]("l_partkey"), r.getAs[String]("abc_class"))).toSeq ==
      Seq((1L, "A"), (2L, "B"), (3L, "C")))
    assert(got.map(_.getAs[Double]("cum_share_pct")).toSeq == Seq(80.0, 95.0, 100.0))
    // sf: the banded form must equal a driver-side global cumulative
    // bit-for-bit (decimal addition is associative)
    val full = Relational.revenueAbc(spark, Sf).collect()
    val parts = full.map(r => (r.getAs[Long]("l_partkey"), r.getAs[Double]("revenue")))
    val total = BigDecimal(parts.map(p => BigDecimal(p._2)).sum.toString)
    var cum = BigDecimal(0)
    full.foreach { r =>
      cum += BigDecimal(r.getAs[Double]("revenue").toString)
      // compare the derived share loosely (double re-derivation), the
      // class label exactly via the row's own share column
      val share = r.getAs[Double]("cum_share_pct")
      val cls = if (share <= 80.0) "A" else if (share <= 95.0) "B" else "C"
      assert(r.getAs[String]("abc_class") == cls)
    }
    // monotone cumulative, ends at 100%
    val shares = full.map(_.getAs[Double]("cum_share_pct")).toSeq
    assert(shares == shares.sorted)
    assert(math.abs(shares.last - 100.0) < 1e-9)
    // every part classified — the census covers the whole dimension
    assert(full.length == Tables.lineitem(spark, Sf)
      .select("l_partkey").distinct().count())
    // the top of the census agrees with the top-100 curve query
    val pareto = Relational.revenuePareto(spark, Sf).collect()
    assert(pareto.map(_.getAs[Long]("l_partkey")).toSeq ==
      full.take(100).map(_.getAs[Long]("l_partkey")).toSeq)
    assert(pareto.map(_.getAs[Double]("cum_share_pct")).toSeq ==
      full.take(100).map(_.getAs[Double]("cum_share_pct")).toSeq)
  }

  test("edge memo: one build per graph family, accessors hit, matches fresh exactly") {
    import graft.operators.{EventMarts, Graph}
    // sf0.01: the sf0.001 slice has NO product transitions (the
    // vacuous-table story) and pagerank requires a non-empty graph
    val dir = "/root/testdata/sf0.01"
    Graph.edgeMemo.clear()
    val before = Graph.edgeMemo.builds
    Graph.productPagerank(spark, dir).count()
    Graph.productPpr(spark, dir).count()
    Graph.pprServingTable(spark, dir).count()
    Graph.productCommunities(spark, dir).count()
    assert(Graph.edgeMemo.builds == before + 1,
      "the product-transition family must share ONE edge build")
    Graph.coviewTriangles(spark, dir).count()
    Graph.graphKcore(spark, dir).count()
    Graph.graphDegreeCensus(spark, dir).count()
    Graph.graphAssortativity(spark, dir).count()
    Graph.graphComponents(spark, dir).count()
    assert(Graph.edgeMemo.builds == before + 2,
      "the co-view family must share ONE edge build")
    // memoized frames equal uncached fresh builds exactly — both edge
    // frames are integer aggregates, bit-deterministic
    val e = EventMarts.enriched(spark, dir)
    assert(Graph.productEdges(spark, dir).collect().map(_.toSeq).toSet ==
      Graph.productEdgesFrom(e).collect().map(_.toSeq).toSet,
      "memoized product edges drifted from a fresh build")
    assert(Graph.coviewEdges(spark, dir).collect().map(_.toSeq).toSet ==
      Graph.coviewEdgesFrom(e).collect().map(_.toSeq).toSet,
      "memoized coview edges drifted from a fresh build")
    assert(Graph.edgeMemo.builds == before + 2, "accessors must HIT")
  }

  test("label propagation: a weighted barbell splits into its two cliques; the weak bridge cannot flip a side") {
    import spark.implicits._
    import graft.operators.Graph
    // cliques {1,2,3} and {4,5,6} at weight 10, bridged 3—4 at weight 1
    val clique = Seq((1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6))
      .map { case (a, b) => (a, b, 10L) }
    val edges = (clique :+ ((3, 4, 1L))).toDF("src", "dst", "weight")
    val got = Graph.communitiesFrom(edges, iterations = 5).collect()
      .map(r => r.getAs[Int]("product_k") ->
        (r.getAs[Int]("community"), r.getAs[Long]("community_size"))).toMap
    assert(Set(1, 2, 3).map(got(_)._1).size == 1, "left clique one community")
    assert(Set(4, 5, 6).map(got(_)._1).size == 1, "right clique one community")
    assert(got(1)._1 != got(4)._1, "bridge did not merge the cliques")
    assert(got.values.forall(_._2 == 3L))
    // at sf: every product labeled exactly once, sizes consistent
    val full = Graph.productCommunities(spark, Sf).collect()
    assert(full.map(_.getAs[Int]("product_k")).distinct.length == full.length)
    val bySize = full.groupBy(_.getAs[Int]("community"))
    bySize.foreach { case (_, rows) =>
      assert(rows.forall(_.getAs[Long]("community_size") == rows.length.toLong))
    }
  }

  test("unigram perplexity matches an exact driver recompute; repetitive text scores fewer bits than diverse text") {
    // crafted corpus: doc 0 is one word repeated (low entropy), doc 1
    // all-distinct words (high), doc 2 mixes both vocabularies
    val d = docs(Seq("aa aa aa aa", "bb cc dd ee", "aa bb aa cc"))
    val got = TextAnalysis.textPerplexityFrom(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("bits_per_token"),
          r.getAs[Double]("perplexity"))).toMap
    // driver recompute with the same smoothing: p(w) = (cw+1)/(N+V)
    val corpus = Map(0L -> Seq("aa", "aa", "aa", "aa"), 1L -> Seq("bb", "cc", "dd", "ee"),
      2L -> Seq("aa", "bb", "aa", "cc"))
    val cw = corpus.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = cw.values.sum; val v = cw.size.toLong
    // r14 quantized model: per-word log-prob rounds to a 1e-5-bit
    // integer at vocab grain, per-doc sum is exact, 2^bpt rounds 1e-4
    corpus.foreach { case (id, toks) =>
      def lpq(w: String): Long = math.round(
        -(Math.log((cw(w) + 1.0) / (n + v).toDouble) / Math.log(2.0)) * 100000.0)
      val bitsQ = toks.groupBy(identity)
        .map { case (w, ws) => ws.size.toLong * lpq(w) }.sum
      val bits = bitsQ.toDouble / toks.size.toDouble / 100000.0
      assert(got(id)._1 == toks.size.toLong)
      assert(math.abs(got(id)._2 - bits) < 1e-9, s"doc $id bits")
      assert(math.abs(got(id)._3 -
        math.round(Math.pow(2.0, bits) * 10000.0) / 10000.0) < 1e-9)
    }
    assert(got(0L)._2 < got(2L)._2 && got(2L)._2 < got(1L)._2)
  }

  test("bigram perplexity matches an exact driver replay of the interpolated LM") {
    // doc 0: one repeated bigram (predictable); doc 1: BRANCHING
    // histories (bb → cc and bb → dd — what "unpredictable" means to
    // a bigram model; all-singleton histories would score as
    // perfectly predictable, the classic self-trained-LM overfit);
    // doc 2: a rare continuation of a common history
    val d = docs(Seq("aa aa aa aa", "bb cc bb dd", "aa aa bb cc"))
    val got = TextAnalysis.textPerplexityBigramFrom(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("bits_per_token"),
          r.getAs[Double]("perplexity")))).toMap
    // driver replay: P(w2|w1) = λ·cb/ch + (1−λ)·(cu+1)/(N+V) over
    // second positions, λ = 0.75
    val corpus = Map(
      0L -> Seq("aa", "aa", "aa", "aa"),
      1L -> Seq("bb", "cc", "bb", "dd"),
      2L -> Seq("aa", "aa", "bb", "cc"))
    val bgs = corpus.view.mapValues(t => t.zip(t.tail)).toMap
    val cb = bgs.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ch = cb.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val cu = cb.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val n2 = cu.values.sum; val v2 = cu.size.toLong
    // r14 quantized model: per-bigram log-prob rounds to a 1e-5-bit
    // integer at LM grain, per-doc sum is exact, 2^bpt rounds 1e-4
    bgs.foreach { case (id, pairs) =>
      val bitsQ = pairs.groupBy(identity).map { case ((w1, w2), ps) =>
        val p = 0.75 * (cb((w1, w2)).toDouble / ch(w1).toDouble) +
          0.25 * ((cu(w2) + 1.0) / (n2 + v2).toDouble)
        ps.size.toLong * math.round(-(Math.log(p) / Math.log(2.0)) * 100000.0)
      }.sum
      val bits = bitsQ.toDouble / pairs.size.toDouble / 100000.0
      assert(got(id)._1 == pairs.size.toLong)
      assert(math.abs(got(id)._2 - bits) < 1e-9, s"doc $id bits")
      assert(math.abs(got(id)._3 -
        math.round(Math.pow(2.0, bits) * 10000.0) / 10000.0) < 1e-9)
    }
    // word order carries the signal: the doc of one repeated bigram
    // scores the fewest bits of the three
    assert(got(0L)._2 < got(1L)._2 && got(0L)._2 < got(2L)._2)
    // a one-word doc has no bigram positions → no row
    val single = TextAnalysis.textPerplexityBigramFrom(docs(Seq("aa aa", "zz")))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(single == Set(0L))
    // measured broadcast arming: past the vocab bound the LM joins
    // pin SHUFFLE_HASH — no hash-broadcast build anywhere in the plan
    // (the 1-row totals cross stays the intended broadcast NLJ) —
    // and the scores are unchanged
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case p => p
      }
    val armed = TextAnalysis.textPerplexityBigramFrom(d, broadcastMaxVocab = 0L)
    assert(plan(armed).collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }.isEmpty, "armed LM joins must never plan a broadcast hash build")
    val armedGot = armed.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Double]("bits_per_token")).toMap
    got.foreach { case (id, (_, bits, _)) =>
      assert(math.abs(armedGot(id) - bits) < 1e-9, s"armed path drifted at doc $id")
    }
    // unarmed, every hash-broadcast build is an LM-side (BuildRight)
    // frame — the FACT frame can never be the build (the stats
    // accident that broadcast a 3.7 GiB hash table at the deep leg)
    val unarmedJoins = plan(TextAnalysis.textPerplexityBigramFrom(d)).collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(unarmedJoins.nonEmpty, "unarmed small-vocab LM must broadcast")
    assert(unarmedJoins.forall(_.buildSide ==
      org.apache.spark.sql.catalyst.optimizer.BuildRight),
      "the broadcast build must always be the vocab-grain LM side")
  }

  test("collocations: the planted phrase tops the lift ranking with exact counts") {
    // "new york" always adjacent (4×); "the" ubiquitous — high counts,
    // no lift; pairs under the support floor are pruned
    val d = docs(Seq(
      "new york the city the lights",
      "the new york the subway runs",
      "new york a trip a day",
      "a the new york the end"))
    val got = TextAnalysis.wordCollocationsFrom(d, minCount = 3, k = 10).collect()
    val top = got.head
    assert(top.getAs[String]("w1") == "new" && top.getAs[String]("w2") == "york")
    assert(top.getAs[Long]("pair_count") == 4L)
    assert(top.getAs[Long]("w1_count") == 4L && top.getAs[Long]("w2_count") == 4L)
    // 20 bigram positions total (4 docs × 5): lift = 4·20/(4·4) = 5
    assert(top.getAs[Long]("total_pairs") == 20L)
    assert(top.getAs[Double]("lift") == 5.0)
    assert(top.getAs[Double]("p_w2_given_w1") == 1.0)
    // every surviving pair cleared the floor
    assert(got.forall(_.getAs[Long]("pair_count") >= 3L))
  }

  test("triangle census: K4 counts each triangle once; coview base forms exact triangles") {
    import spark.implicits._
    import graft.operators.Graph
    // complete graph on 4 nodes: C(4,3)=4 triangles, every node in 3,
    // clustering 1.0 everywhere; all degrees tie (3) so orientation
    // falls back to node id — the double-count trap the degree-order
    // construction must survive
    val k4 = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)).toDF("a", "b")
    val got = Graph.trianglesFrom(k4).collect()
      .map(r => r.getAs[Int]("product_k") -> r).toMap
    assert(got.size == 4)
    got.values.foreach { r =>
      assert(r.getAs[Long]("degree") == 3L)
      assert(r.getAs[Long]("triangles") == 3L)
      assert(r.getAs[Double]("clustering_coeff") == 1.0)
    }

    // coview base: user 10's {1,2,3} basket closes a triangle; user
    // 11's {3,4} adds an open edge; user 12's singleton is gated out
    val ev = Seq(
      (1L, 10L, "view", "{\"k\": 1}"), (2L, 10L, "view", "{\"k\": 2}"),
      (3L, 10L, "view", "{\"k\": 3}"),
      (4L, 11L, "view", "{\"k\": 3}"), (5L, 11L, "view", "{\"k\": 4}"),
      (6L, 12L, "view", "{\"k\": 5}"),
      (7L, 10L, "click", "{\"k\": 9}")) // non-view never pairs
      .toDF("event_id", "user_id", "event_type", "props")
      .withColumn("ts", lit("2024-01-01 10:00:00").cast("timestamp"))
      .withColumn("value", lit(1.0))
    val e = EventMarts.enrich(ev)
    val edges = Graph.coviewEdgesFrom(e).collect()
      .map(r => (r.getAs[Int]("a"), r.getAs[Int]("b"))).toSet
    assert(edges == Set((1, 2), (1, 3), (2, 3), (3, 4)))
    val tri = Graph.trianglesFrom(Graph.coviewEdgesFrom(e)).collect()
      .map(r => r.getAs[Int]("product_k") ->
        ((r.getAs[Long]("degree"), r.getAs[Long]("triangles"),
          r.getAs[Double]("clustering_coeff")))).toMap
    assert(tri(1) == ((2L, 1L, 1.0)))
    assert(tri(2) == ((2L, 1L, 1.0)))
    assert(tri(3) == ((3L, 1L, 2.0 * 1.0 / 6.0)))
    assert(tri(4) == ((1L, 0L, 0.0)))
    assert(!tri.contains(5)) // singleton basket gated out — no edges
    // oversized-basket gate: with max 2, a 3-product basket is dropped
    assert(Graph.coviewEdgesFrom(e, maxProductsPerDay = 2).collect()
      .map(r => (r.getAs[Int]("a"), r.getAs[Int]("b"))).toSet == Set((3, 4)))
  }

  test("star-contraction CC: chain labels in far fewer rounds than its diameter") {
    import spark.implicits._
    import graft.operators.Graph
    // a 64-node path — min-label propagation would need 63 rounds;
    // large-star/small-star is O(log^2 n): assert the speedup, don't claim it
    val verts = (0L to 63L).toDF("id")
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val (_, rounds) = Graph.starContract(edges, maxRounds = 25,
      requireConvergence = true)
    assert(rounds <= 10, s"chain-64 took $rounds rounds — not diameter-independent")
    val labels = Graph.connectedComponentsFrom(verts, edges).collect()
    assert(labels.forall(_.getAs[Long]("component") == 0L))
    assert(labels.length == 64)
  }

  test("star-contraction CC: cliques, isolated vertices, and equivalence with min-label propagation") {
    import spark.implicits._
    import graft.operators.Graph
    // two 5-cliques + an isolated vertex (in vertices, absent from edges)
    val verts = ((0L to 4L) ++ (10L to 14L) ++ Seq(20L)).toDF("id")
    val cl = for { c <- Seq(0L, 10L); i <- 0 to 4; j <- (i + 1) to 4 }
      yield (c + i, c + j)
    val got = Graph.connectedComponentsFrom(verts, cl.toDF("a", "b")).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    assert((0L to 4L).forall(got(_) == 0L))
    assert((10L to 14L).forall(got(_) == 10L))
    assert(got(20L) == 20L) // isolated: labels itself
    // seeded random graph: identical labels to Dedup.componentLabels
    val rnd = new scala.util.Random(42)
    val n = 150L
    val redges = (1 to 120).map(_ => (rnd.nextLong(n), rnd.nextLong(n)))
      .filter(p => p._1 != p._2)
    val rverts = (0L until n).toDF("id")
    val star = Graph.connectedComponentsFrom(rverts, redges.toDF("a", "b"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    val lp = graft.operators.Dedup.componentLabels(
        rverts.select(col("id").as("doc_id")),
        redges.toDF("doc_a", "doc_b"), maxRounds = 150)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keeper")).toMap
    assert(star == lp)
  }

  test("coreness: planted clique/chain/triangle exact; sf equals a driver-side peel") {
    import spark.implicits._
    import graft.operators.Graph
    // K5 (coreness 4) with a pendant path 4-10-11-12 (coreness 1),
    // plus a disjoint triangle 20-21-22 (coreness 2)
    val k5 = for { i <- 0 to 4; j <- (i + 1) to 4 } yield (i.toLong, j.toLong)
    val path = Seq((4L, 10L), (10L, 11L), (11L, 12L))
    val tri = Seq((20L, 21L), (21L, 22L), (20L, 22L))
    val got = Graph.corenessFrom((k5 ++ path ++ tri).toDF("a", "b")).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("coreness")).toMap
    (0L to 4L).foreach(v => assert(got(v) == 4L, s"K5 node $v: ${got(v)}"))
    Seq(10L, 11L, 12L).foreach(v => assert(got(v) == 1L))
    Seq(20L, 21L, 22L).foreach(v => assert(got(v) == 2L))
    // Between-present-values H-index: X(30) sees two K4 nodes and three
    // leaves — round-1 capped neighbor values [4,4,1,1,1] have h = 2,
    // which is NOT a present histogram t (the "max t with cum >= t"
    // shortcut returns 1 here and the monotone iteration never
    // recovers). True coreness: K4 = 3, X = 2, leaves = 1.
    val k4 = for { i <- 31 to 34; j <- (i + 1) to 34 } yield (i.toLong, j.toLong)
    val bridge = Seq((30L, 31L), (30L, 32L), (30L, 40L), (30L, 41L), (30L, 42L))
    val got2 = Graph.corenessFrom((k4 ++ bridge).toDF("a", "b")).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("coreness")).toMap
    assert(got2(30L) == 2L, s"bridge node: ${got2(30L)}")
    (31L to 34L).foreach(v => assert(got2(v) == 3L, s"K4 node $v: ${got2(v)}"))
    Seq(40L, 41L, 42L).foreach(v => assert(got2(v) == 1L))
    // sf co-view graph: every coreness equals the classic sequential
    // peel run driver-side on the collected edges
    val edges = Graph.coviewEdgesFrom(EventMarts.enriched(spark, Sf)).collect()
      .map(r => (r.getAs[Int]("a").toLong, r.getAs[Int]("b").toLong))
    val adj = scala.collection.mutable.Map[Long, scala.collection.mutable.Set[Long]]()
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set()) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set()) += a
    }
    val deg = scala.collection.mutable.Map(adj.map { case (k, s) => k -> s.size }.toSeq: _*)
    val remaining = scala.collection.mutable.Set(adj.keys.toSeq: _*)
    val core = scala.collection.mutable.Map[Long, Long]()
    var k = 0
    while (remaining.nonEmpty) {
      val peelable = remaining.filter(deg(_) <= k)
      if (peelable.isEmpty) k += 1
      else peelable.foreach { v =>
        core(v) = k.toLong
        remaining -= v
        adj(v).foreach { u =>
          if (remaining(u)) { deg(u) -= 1; adj(u) -= v }
        }
      }
    }
    val dist = Graph.corenessFrom(
        Graph.coviewEdgesFrom(EventMarts.enriched(spark, Sf))).collect()
      .map(r => r.getAs[Int]("node").toLong -> r.getAs[Long]("coreness")).toMap
    assert(dist == core.toMap, "h-index fixpoint must equal the sequential peel")
    // the census query rolls the same labels
    val census = Graph.graphKcore(spark, Sf).collect()
      .map(r => r.getAs[Long]("coreness") -> r.getAs[Long]("n_products")).toMap
    assert(census == core.values.groupBy(identity).map { case (c, vs) => c -> vs.size.toLong })
  }

  test("graph_components census conserves the co-view node set") {
    import graft.operators.Graph
    val census = Graph.graphComponents(spark, Sf).collect()
    assert(census.nonEmpty)
    val totalNodes = census
      .map(r => r.getAs[Long]("component_size") * r.getAs[Long]("n_components")).sum
    val e = Graph.coviewEdgesFrom(EventMarts.enriched(spark, Sf))
    val distinctNodes = e.select(col("a").as("n"))
      .unionByName(e.select(col("b").as("n"))).distinct().count()
    assert(totalNodes == distinctNodes)
  }

  test("graph_degree_census: mass identities vs the edge frame") {
    import graft.operators.Graph
    val census = Graph.graphDegreeCensus(spark, Sf).collect()
      .map(r => r.getAs[Long]("degree") -> r.getAs[Long]("n_products")).toMap
    val e = Graph.coviewEdgesFrom(EventMarts.enriched(spark, Sf))
    // Σ n_products = |V|; Σ degree·n_products = 2|E| (handshake lemma)
    val nodes = e.select(col("a").as("n"))
      .unionByName(e.select(col("b").as("n"))).distinct().count()
    assert(census.values.sum == nodes)
    assert(census.map { case (d, n) => d * n }.sum == 2 * e.count())
    assert(census.keys.forall(_ >= 1L))
  }

  test("assortativity: star pins -1, regular graph degenerates, sf matches a driver replica") {
    import spark.implicits._
    import graft.operators.Graph
    // star K1,3: center degree 3, leaves degree 1 → r = -1 exactly
    val star = Seq((0, 1), (0, 2), (0, 3)).toDF("a", "b")
    val s = Graph.assortativityFrom(star).collect().head
    assert(s.getAs[Long]("n_edges") == 3L)
    assert(s.getAs[Double]("mean_degree") == 2.0)
    assert(s.getAs[Double]("assortativity") == -1.0)
    // triangle: regular graph, zero degree variance → NULL by guard
    val tri = Seq((1, 2), (2, 3), (1, 3)).toDF("a", "b")
    val t = Graph.assortativityFrom(tri).collect().head
    assert(t.isNullAt(t.fieldIndex("assortativity")))
    // sf: bit-exact vs a driver replica of the same mean-form chain
    val got = Graph.graphAssortativity(spark, Sf).collect().head
    val edges = Graph.coviewEdgesFrom(EventMarts.enriched(spark, Sf))
      .collect().map(r => (r.getAs[Int]("a"), r.getAs[Int]("b")))
    val deg = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val dirs = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val m = dirs.length.toDouble
    val sx = dirs.map(e => BigInt(deg(e._1))).sum
    val sxy = dirs.map(e => BigInt(deg(e._1)) * BigInt(deg(e._2))).sum
    val sxx = dirs.map(e => BigInt(deg(e._1)) * BigInt(deg(e._1))).sum
    val mx = sx.toDouble / m
    val r = (sxy.toDouble / m - mx * mx) / (sxx.toDouble / m - mx * mx)
    assert(got.getAs[Long]("n_edges") == edges.length.toLong)
    assert(got.getAs[Double]("assortativity") == r)
    assert(r >= -1.0 && r <= 1.0)
  }

  test("revenue gini: whale concentration pins the closed form; banded == global ranks at sf") {
    import spark.implicits._
    def expected(vals: Seq[(Long, BigDecimal)]): Double = {
      // the EXACT final IEEE chain the operator uses, on exact decimals
      val sorted = vals.sortBy(v => (v._2, v._1))
      val sRank = sorted.zipWithIndex
        .map { case ((_, v), i) => v * BigDecimal(i + 1) }.sum
      val n = sorted.length
      val s = sorted.map(_._2).sum
      2.0 * sRank.toDouble / (n.toDouble * s.toDouble) -
        (n + 1).toDouble / n.toDouble
    }
    // all-equal → 0; one whale among minnows → the closed form
    val equal = Seq((1L, 1L, 100.0), (2L, 2L, 100.0), (3L, 3L, 100.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    assert(Relational.revenueGiniFrom(equal).collect().head
      .getAs[Double]("gini") == 0.0)
    val whale = Seq((1L, 1L, 1.0), (2L, 2L, 1.0), (3L, 3L, 998.0),
      (4L, 3L, 0.0)) // multi-order customer sums before ranking
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val w = Relational.revenueGiniFrom(whale).collect().head
    assert(w.getAs[Long]("n_customers") == 3L)
    assert(w.getAs[Double]("total_revenue") == 1000.0)
    assert(w.getAs[Double]("gini") ==
      expected(Seq(1L -> BigDecimal(1), 2L -> BigDecimal(1), 3L -> BigDecimal(998))))
    // sf: the banded ranks must reproduce the global-sort closed form
    // bit-for-bit (Σ i·vᵢ is tie-order-invariant)
    val sf = Relational.revenueGini(spark, Sf).collect().head
    val driver = Tables.orders(spark, Sf)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(12,2)"))
        .cast("decimal(18,2)").as("v"))
      .collect().map(r => (r.getAs[Long]("o_custkey"), BigDecimal(r.getDecimal(1))))
    assert(sf.getAs[Double]("gini") == expected(driver.toSeq))
    assert(sf.getAs[Double]("gini") >= 0.0 && sf.getAs[Double]("gini") < 1.0)
  }

  test("embedding dim stats: driver-exact on a planted frame; moment inequalities at sf") {
    import spark.implicits._
    val planted = Seq(
      (1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, -2.0f)), (3L, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.operators.Similarity.embeddingDimStatsFrom(planted).collect()
      .map(r => r.getAs[Int]("dim") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("mean_v"), r.getAs[Double]("min_v"),
          r.getAs[Double]("max_v"), r.getAs[Double]("mean_abs"),
          r.getAs[Double]("rms")))).toMap
    val d0 = got(0)
    assert(d0._1 == 3L && d0._2 == 1.0 && d0._3 == -1.0 && d0._4 == 3.0)
    assert(math.abs(d0._5 - 5.0 / 3.0) < 1e-12)
    assert(math.abs(d0._6 - math.sqrt(11.0 / 3.0)) < 1e-12)
    val d1 = got(1)
    assert(d1._2 == 0.0 && d1._3 == -2.0 && d1._4 == 2.0)
    // sf: every dim has full support and the moment inequalities hold
    // (|mean| <= mean_abs <= rms, min <= mean <= max)
    val sf = graft.operators.Similarity.embeddingDimStats(spark, Sf).collect()
    val corpus = Tables.embeddings(spark, Sf).count()
    assert(sf.forall(_.getAs[Long]("n") == corpus))
    sf.foreach { r =>
      val (m, ma, rms) = (r.getAs[Double]("mean_v"), r.getAs[Double]("mean_abs"),
        r.getAs[Double]("rms"))
      assert(math.abs(m) <= ma + 1e-12 && ma <= rms + 1e-12)
      assert(r.getAs[Double]("min_v") <= m && m <= r.getAs[Double]("max_v"))
    }
  }

  test("embedding drift: planted cohort shift flags the moved dim; parity split is A/A at sf") {
    import spark.implicits._
    // cohort a: dim0 centered at 1.0, dim1 at 0.0; cohort b: dim0
    // unchanged, dim1 shifted to +0.5 → only dim1 drifts
    val a = Seq((1L, Seq(1.0f, 0.1f)), (2L, Seq(1.0f, -0.1f)))
      .toDF("vec_id", "embedding")
    val b = Seq((3L, Seq(1.0f, 0.6f)), (4L, Seq(1.0f, 0.4f)))
      .toDF("vec_id", "embedding")
    val got = graft.operators.Similarity.embeddingDriftBetween(a, b).collect()
      .map(r => r.getAs[Int]("dim") -> r).toMap
    assert(got(0).getAs[Long]("n_a") == 2L && got(0).getAs[Long]("n_b") == 2L)
    assert(got(0).getAs[Double]("mean_delta") == 0.0)
    assert(got(0).getAs[Double]("shift") == 0.0)
    assert(!got(0).getAs[Boolean]("drift_flag"))
    // dim1: mean_a 0, mean_b 0.5; rms_a = 0.1 → shift = 5.0, flags
    assert(math.abs(got(1).getAs[Double]("mean_delta") - 0.5) < 1e-7)
    assert(math.abs(got(1).getAs[Double]("rms_a") - 0.1) < 1e-7)
    assert(math.abs(got(1).getAs[Double]("shift") - 5.0) < 1e-5)
    assert(got(1).getAs[Boolean]("drift_flag"))
    // a zero-rms_a reference dim yields NULL shift, false flag (no NPE)
    val z = graft.operators.Similarity.embeddingDriftBetween(
      Seq((1L, Seq(0.0f))).toDF("vec_id", "embedding"),
      Seq((2L, Seq(1.0f))).toDF("vec_id", "embedding")).collect()(0)
    assert(z.isNullAt(z.fieldIndex("shift")) && !z.getAs[Boolean]("drift_flag"))
    // sf: the vec_id-parity split is an A/A read — both cohorts
    // populated, and no dimension should flag on iid halves
    val sf = graft.operators.Similarity.embeddingDrift(spark, Sf).collect()
    assert(sf.nonEmpty)
    assert(sf.forall(r => r.getAs[Long]("n_a") > 0 && r.getAs[Long]("n_b") > 0))
    assert(sf.count(_.getAs[Boolean]("drift_flag")) == 0,
      "A/A parity split must not drift")
  }
}
