package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Fleet-wide plan lint: every registered query is PLANNED (not
  * executed) and checked against the scale invariants that individual
  * specs can't guard once the query count grows. A regression that
  * sneaks a cartesian product, an unintended nested-loop join, or a
  * shuffle explosion into any operator fails here by name.
  *
  * With AQE on, `executedPlan` is an `AdaptiveSparkPlanExec` WRAPPER
  * whose TreeNode children are empty — a plain `.collect` on it finds
  * nothing and silently lints an empty tree. The physical plan to
  * audit is its `inputPlan` (the pre-adaptive plan; AQE only ever
  * improves on it at runtime). The shuffle cap reads the AQE initial
  * plan instead, which also holds the exchanges EnsureRequirements
  * inserts. */
class PlanAuditSpec extends SparkSpec {

  /** Queries whose broadcast nested-loop join is the intended plan:
    * ann_cosine_topk brute-force-scores every candidate against the
    * whole broadcast query set by design; q22 crosses each customer
    * with the ONE-ROW broadcast global-average threshold (the
    * scalar-subquery pattern — a 1-row build side is O(n) work);
    * q11 crosses per-part values with its ONE-ROW broadcast total for
    * the same scalar-threshold reason; dq_anomaly's dense-fill crosses
    * the bucket sequence with the distinct event types (buckets ×
    * types — the full grid IS the intended output). */
  // every member audited (r10 VERDICT "what's wrong" #4 walk + this
  // lint's first run): the window input is a bounded post-aggregation
  // frame — top-k-limited, day/hour-grain, quantile/bucket-grain, or
  // ≤a-few-hundred rows by construction — so the single partition is
  // intentional. The runtime WARN is silenced in GraftSession; this
  // set is the receipt. Anything NOT here that plans a partition-less
  // window fails the lint.
  private val IntendedGlobalWindow: Set[String] = Set(
    // cumulative curves over day-grain rollups
    "ab_cuped", "ab_sequential", "ab_test_summary", "product_rank_shift",
    "traffic_changepoint", "traffic_decompose", "order_backlog",
    // funnel/coverage stages over ≤|stages| or ≤|sources| rows
    "corpus_funnel", "corpus_source_mix", "dq_corpus_coverage",
    "quality_buckets", "sample_temperature",
    // r11: the greedy mix rank/cumsum over the |sources| frame (a
    // constant partitionBy(lit(1)) folds away — by design); the
    // budget-grid sweep shares the same bounded frame ×9 grid rows
    "corpus_mix_plan", "mix_budget_curve",
    // threshold/budget curves over ≤|grid| rows
    "dsir_budget_curve", "ppl_threshold_curve", "quality_threshold_curve",
    // top-k-limited rankings and histograms
    "dq_key_skew", "revenue_pareto", "zipf_curve", "vocab_growth",
    "vocab_coverage", "session_gap_histogram",
    // merged-sketch percentile frames (≤|quantiles| rows)
    "shipping_latency_percentiles", "value_percentiles_merged",
    // the sweep-line net-carry over the |hour buckets| frame
    "session_concurrency", "session_concurrency_bucketed",
    // r15 crossJoin(broadcast(total))-removal sweep (guide §2.4): the
    // grand total now rides a global window over the SAME tiny
    // post-aggregate frame instead of a 1-row agg cross-joined back
    // (which re-derived the whole upstream subtree a second time —
    // no ReusedExchange fired on any of these). Frames: ≤100-cell
    // grid / ≤|segments| / ≤41 bins / ≤7 gap buckets / ≤168 hour
    // slots / ≤9 digits / ≤16-tier matrix
    "quality_rarity_grid", "segment_order_profile",
    "embedding_norm_census", "purchase_intervals",
    "traffic_seasonality", "dq_benford", "rfm_transitions")

  private val IntendedBnlj = Set("ann_cosine_topk", "ann_hard_negatives",
    // ann_recall_curve / ann_mmr_diverse score the broadcast query
    // sample against the corpus by design (the eval/pool stage is the
    // brute baseline; swap in the IVF probe at corpus scale)
    "ann_recall_curve", "ann_mmr_diverse", "ann_mmr_diverse_indexed",
    // r11: the truncated-dim eval scores the same broadcast query
    // sample against the corpus (the eval stage is brute by design)
    "embedding_recall_vs_dim",
    "q22_untapped_segments",
    "q11_important_parts", "dq_anomaly",
    // dq_value_drift's dense day×16-bucket zero-fill is the same
    // intended tiny-grid cross join as dq_anomaly's
    "dq_value_drift",
    // basket_pairs crosses the aggregated pair frame with its ONE-ROW
    // broadcast order total (the same scalar-subquery pattern as q11/q22)
    "basket_pairs", "basket_rules",
    // rfm_segments broadcasts TWO one-row frames (reference date and
    // percentile thresholds) — the same scalar pattern
    "rfm_segments", "rfm_segments_approx",
    // user_feature_matrix crosses user rows with the ONE-ROW broadcast
    // corpus-max date; traffic_seasonality crosses its ≤168 slot rows
    // with the ONE-ROW grand total — both the scalar-subquery pattern
    "user_feature_matrix", "traffic_seasonality",
    // ab_cuped rides its ONE-ROW broadcast epoch midpoint onto the
    // fact scan before the user rollup — the scalar-subquery pattern
    "ab_cuped",
    // dq_contract_drift rides its ONE-ROW broadcast corpus max date
    // onto the pinned-side scan — the scalar-subquery pattern
    "dq_contract_drift",
    // traffic_changepoint crosses the day frame with its ONE-ROW
    // broadcast (n_days, total) — the scalar-subquery pattern
    "traffic_changepoint",
    // zipf_curve / vocab_growth / doc_tfidf_keywords / search_bm25
    // each cross ONE-ROW broadcast corpus stats (total tokens, max id,
    // doc count, N+avgdl) — the scalar-subquery pattern again
    "zipf_curve", "vocab_growth", "doc_tfidf_keywords", "search_bm25",
    // revenue_pareto crosses its post-limit ≤100 rows with the ONE-ROW
    // broadcast grand total; corpus_epoch_plan crosses its per-source
    // rows with the ONE-ROW broadcast weight total
    "revenue_pareto", "corpus_epoch_plan",
    // vocab_coverage crosses its ≤10k post-TakeOrdered rows with the
    // ONE-ROW broadcast corpus totals — the scalar-subquery pattern
    "vocab_coverage",
    // retention_survival crosses user spans with the ONE-ROW broadcast
    // corpus end; word_collocations / text_perplexity cross pair/vocab
    // rows with ONE-ROW broadcast corpus totals — all the scalar-
    // subquery pattern
    "retention_survival", "word_collocations", "text_perplexity",
    "text_perplexity_bigram",
    // purchase_intervals / ab_test_summary / dq_key_skew each cross
    // a tiny aggregate with its ONE-ROW broadcast total (gap total,
    // control rate, key-census totals) — the scalar-subquery pattern
    "purchase_intervals", "ab_test_summary", "dq_key_skew",
    "session_gap_histogram",
    // dq_benford crosses its ≤9-row digit census with the ONE-ROW
    // broadcast value total — the scalar-subquery pattern
    "dq_benford",
    // rfm_transitions broadcasts the 1-row cutoff + each half's 1-row
    // thresholds + the 1-row matrix total; traffic_forecast broadcasts
    // the 1-row bounds/recent-level scalars into its ≤24-row frame
    "rfm_transitions", "traffic_forecast",
    // value_percentiles_merged probes its ≤16-row cumulative curve
    // against the tiny percentile spec (16 × |pcts| non-equi) plus
    // the 1-row broadcast total — both intended tiny
    "value_percentiles_merged",
    // corpus_funnel crosses its ≤4-row zero-filled stage frame with
    // the ONE-ROW broadcast input total
    "corpus_funnel", "quality_threshold_curve",
    // corpus_funnel_by_source's |sources|×4 stage grid and
    // shipping_latency_percentiles' 16×|pcts| probe are the same
    // intended tiny shapes
    "corpus_funnel_by_source", "shipping_latency_percentiles",
    // ab_cuped_stratified rides the same ONE-ROW broadcast epoch
    // midpoint as ab_cuped; forecast_backtest broadcasts the 1-row
    // holdout/train/level scalars into its ≤24-row frame (the
    // traffic_forecast shape); product_rank_shift rides the 1-row
    // broadcast epoch midpoint onto the fact scan (the ab_cuped shape)
    "ab_cuped_stratified", "forecast_backtest", "product_rank_shift",
    // ppl_threshold_curve crosses its ≤16-row histogram with the
    // ONE-ROW broadcast doc/token totals; embedding_norm_census
    // crosses its ≤41-row bin frame with the ONE-ROW vector total —
    // both the scalar-subquery pattern
    "ppl_threshold_curve", "embedding_norm_census",
    // dsir_budget_curve probes its ≤max(ks) post-TakeOrdered ranking
    // against the |ks|-row budget frame (rank ≤ k non-equi) — the
    // value_percentiles_merged tiny-probe shape
    "dsir_budget_curve",
    // ab_sequential crosses its ≤|days| look frame with the ONE-ROW
    // broadcast total-looks scalar — the scalar-subquery pattern
    "ab_sequential",
    // quality_rarity_grid crosses its ≤100-cell frame with the
    // ONE-ROW broadcast doc total — the scalar-subquery pattern;
    // segment_order_profile crosses its ≤5-segment frame with the
    // ONE-ROW broadcast revenue total — the same pattern
    "quality_rarity_grid", "segment_order_profile",
    // PQ ADC scores every code row against the broadcast query LUTs
    // by design (the shortlist cut happens after the lookup-table sum)
    "ann_pq_topk[probe]")

  /** Queries whose CONSTRUCTION runs real Spark jobs (localCheckpoint
    * propagation rounds, k-means collect loops, the PCA moment
    * aggregation + driver eigensolve), so the DataFrame they return is
    * only the post-checkpoint/post-training tail — auditing it would
    * skip the expensive candidate-generation/probe subtrees. Those
    * subtrees are audited directly below instead. */
  private val AuditedViaSubplans =
    Set("dedup_near_corpus", "ann_ivf_kmeans", "embedding_pca",
      "embedding_pca_whitened", "semdedup",
      "ann_pq_topk", "ann_ivfpq_topk", "ann_mmr_diverse_indexed",
      "product_freq_cms", "dedup_substring",
      // component labels run propagation jobs at construction; the
      // expensive generation subtree is minhashLsh, audited directly
      // (dedup_cluster_sizes keeps its direct audit — its returned
      // tail is the two-level census, cheap to plan post-propagation)
      "dedup_source_profile",
      // bpe_vocab/text_bpe_tokens run k merge-training rounds at
      // construction (driver-local merge table / dictionary-join
      // tail); each round's plan is the pair-count two-level
      // aggregate audited via its own spec
      "bpe_vocab", "text_bpe_tokens",
      // product_pagerank runs its power iterations at construction
      // (checkpointed ranks per round); the fact-sized subtree is the
      // edge aggregation, audited directly below — each iteration is
      // an equi-join of two aggregated checkpointed frames.
      // product_ppr is the same iteration plan (the restart column is
      // the only change) over the SAME audited edge subtree — and its
      // seed scalar + iterations run at construction too
      "product_pagerank", "product_ppr",
      // ppr_related_products runs N seeded walks at construction over
      // the ONE pinned edge frame (the same audited edge subtree);
      // its returned tail is the N·k-row union + rank window
      "ppr_related_products", "ppr_related_products_batched",
      // product_communities runs its label-propagation rounds at
      // construction (checkpointed labels per round) over the same
      // audited edge subtree; text_perplexity checkpoints its (word,
      // doc) counts so one scan feeds both the vocab rollup and the
      // join back — the audited tails are the cheap post-checkpoint
      // rollups, exercised by their specs
      "product_communities", "text_perplexity", "text_perplexity_bigram",
      // embedding_separability collects its |labels| centroids at
      // construction (the IVF-literal pattern) — scoring is a narrow
      // literal projection; traffic_anomaly_seasonal checkpoints its
      // day×24 rollup so the baseline and the scored rows share the
      // one fact exchange
      "embedding_separability", "traffic_anomaly_seasonal",
      // ann_recall_curve trains the shared Lloyd loop at construction
      // (centroid literals); its scoring tail is the audited brute
      // baseline + tiny-aggregate curve algebra
      "ann_recall_curve",
      // coview_triangles checkpoints its edge + oriented-edge frames
      // at construction (each has multiple consumers); the fact-sized
      // basket self-join subtree is the same shape audited via
      // coview_pairs, and the wedge/closure joins are edge-dimension
      "coview_triangles",
      // embedding_outliers trains the shared Lloyd loop at
      // construction; its scoring tail (narrow centroid-literal
      // projection + fixed-state percentile + intended 1-row-broadcast
      // cross + TakeOrdered) is the cheap part and is exercised by its
      // spec on crafted clusters
      "embedding_outliers",
      // graph_components runs its star-contraction rounds at
      // construction (checkpointed edge frames per round); the
      // fact-sized subtree is the same gated basket self-join audited
      // via coview_pairs/coview_triangles, and each round is a
      // groupBy-min + equi-join over the shrinking checkpointed edges
      "graph_components",
      // graph_kcore runs its h-index rounds at construction over the
      // same audited edge subtree; each round is audited directly
      // below via Graph.hIndexRound
      "graph_kcore",
      // graph_assortativity checkpoints the same gated edge frame at
      // construction (two consumers: degrees + the doubled edge
      // list); the fact-sized subtree is the basket self-join audited
      // via coview_pairs, and the tail is two node-keyed dim joins +
      // a 1-row aggregate (the degree-census shape, linted there)
      "graph_assortativity",
      // media_phash_clusters decodes + checkpoints its pair frame and
      // runs star-contraction rounds at construction; the banded
      // fingerprint pair subtree is the same shape audited via
      // media_near_dup, and the CC rounds are graph_components' shape
      "media_phash_clusters",
      // quality_classifier[_eval] run their GD rounds at construction
      // (1-row gradient aggregates over the checkpointed feature
      // frame — the Lloyd control-flow class); the corpus-sized
      // subtree is the single-scan feature projection, audited below
      "quality_classifier", "quality_classifier_eval",
      // ann_knn_graph memoizes its localCheckpointed build (r12), so
      // the registered plan is a bare checkpoint scan; the build
      // subtree is audited directly below over literal centroids.
      // embedding_clusters / ann_knn_classify stay in the main lint —
      // their tails (LPA rounds / vote join) over the checkpoint scan
      // are still real plans worth holding to the invariants
      "ann_knn_graph",
      // session_sequences memoizes its localCheckpointed frame the
      // same way (session_patterns rolls over it warm); the build
      // subtree is audited directly below, as is the shared
      // session-stats build behind daily/concurrency/error_impact
      // (whose registered rollup tails stay in the main lint)
      "session_sequences")

  /** Shuffle-exchange budget per query: distinct exchanges in the AQE
    * initial plan ([[shuffleCount]]). The default bound catches shuffle
    * explosions; queries listed here carry a deliberate higher count,
    * each at its measured count at sf0.001 with the reason. */
  private val DefaultMaxShuffles = 6
  private val MaxShuffles = Map(
    // one scan and one two-stage distinct aggregate per profiled
    // column, unioned (6, 5 and 11 columns)
    "dq_column_profile" -> 12,
    "dq_profile_orders" -> 12,
    "dq_profile_documents" -> 10,
    "dq_profile_lineitem" -> 22,
    // the per-column profile passes plus the fused range aggregate and
    // the isin distinct
    "dq_suggested_checks" -> 15,
    "dq_suggested_orders" -> 17,
    "dq_suggested_documents" -> 17,
    "dq_suggested_lineitem" -> 27,
    // the suggestions built twice, pinned and fresh, then diffed
    "dq_contract_drift" -> 32,
    // the segmented sessionize derives its local (user_id, bucket)
    // windows twice, once per consumer
    "markov_next_event_bucketed" -> 7,
    "session_concurrency_bucketed" -> 7,
    "session_quality_gate_bucketed" -> 7,
    "session_transitions_bucketed" -> 7,
    // one user rollup, then day-grain cumulative windows per arm
    "ab_sequential" -> 7,
    // exact and truncated-dimension top-k windows per query over
    // numQueries·k·|dims|-row pools
    "embedding_recall_vs_dim" -> 7,
    // one user rollup, then two span-bounded histograms exploded into
    // their offsets and joined back
    "retention_survival" -> 10,
    // two RFM scorings (one customer shuffle each, percentile
    // thresholds) and a customer-grain full-outer join
    "rfm_transitions" -> 9,
    // one hourly fact rollup, then hour-of-week and day-grain windows
    // over it
    "traffic_forecast" -> 8,
    // the forecast's fact rollup twice (train and holdout legs) plus
    // its day-grain windows
    "forecast_backtest" -> 11,
    // the full (gram, doc) stage with its three consumers, audited
    // uncheckpointed
    "dedup_substring" -> 7,
    // the coview edge build plus one contraction round (two min
    // rollups, two equi-joins)
    "graph_components" -> 9)

  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }

  /** The AQE initial plan: `executedPlan` of the unexecuted wrapper,
    * which holds the exchanges EnsureRequirements inserts. */
  private def initialPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  /** Distinct shuffle exchanges in the AQE initial plan. The ones
    * EnsureRequirements inserts are not in `inputPlan`, and AQE's stage
    * cache reuses an exchange whose canonical plan is equal, so the
    * distinct canonical forms are the shuffles that run. */
  private def shuffleCount(df: DataFrame): Int =
    initialPlan(df).collect { case e: ShuffleExchangeExec => e.canonicalized }.distinct.size

  private def offendersIn(name: String, df: DataFrame): Seq[String] = {
    val plan = physical(df)
    val cartesian = plan.collect { case c: CartesianProductExec => c }
    val bnlj = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
    val shuffles = shuffleCount(df)
    // partition-less windows single-partition their input; each one in
    // a registered plan must be an AUDITED bounded post-aggregation
    // frame (top-k-limited / day-grain / ≤k rows). The runtime WARN for
    // the audited set is silenced in GraftSession — THIS lint is what
    // keeps the silence honest: a new unintentional global window fails
    // here instead of scrolling past in a muted log.
    val globalWindows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
        if w.partitionSpec.isEmpty => w
    }
    val base = name.takeWhile(_ != '[')
    val cap = MaxShuffles.getOrElse(base, DefaultMaxShuffles)
    (if (cartesian.nonEmpty) Seq(s"$name: CartesianProduct") else Nil) ++
      (if (bnlj.nonEmpty && !IntendedBnlj(name)) Seq(s"$name: BroadcastNestedLoopJoin") else Nil) ++
      (if (globalWindows.nonEmpty && !IntendedGlobalWindow(base))
        Seq(s"$name: partition-less Window over an unaudited frame") else Nil) ++
      (if (shuffles > cap) Seq(s"$name: $shuffles shuffle exchanges (cap $cap)") else Nil)
  }

  test("no cartesian products, unintended nested-loop joins, or shuffle explosions") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => AuditedViaSubplans(name) }
      .flatMap { case (name, fn) => offendersIn(name, fn(spark, Sf)) }
    assert(offenders.isEmpty, s"plan lint failures:\n${offenders.mkString("\n")}")
  }

  test("underlying plans of job-running queries hold the same invariants") {
    // dedup_near_corpus: candidate generation is minhashLsh; each
    // propagation round is an equi-join of the checkpointed edge list
    // against labels (same shape every round) — audit the generator.
    // ann_ivf_kmeans: the probe plan is ivfTopKWith over literal
    // centroids (training only varies the literals) — audit the probe.
    val fakeCents = (0 until 4).map(i => i -> Array.fill(64)(i.toFloat + 0.5f))
    val fakeBooks = (0 until 8).map(mi => (0 until 4).map(j => j -> Array.fill(8)(j * 0.1f + mi)).toSeq)
    graft.functions.GraftFunctions.ensureRegistered(spark)
    import org.apache.spark.sql.functions.{call_function, col, count => fcount}
    // embedding_pca's returned frame is only the post-eigensolve
    // projection; its expensive subtree is the moment aggregation —
    // audit that plan directly (vec_sum fixed-state reduce, no explode)
    val momentPlan = Tables.embeddings(spark, Sf)
      .agg(
        call_function("vec_sum", call_function("pca_moments", col("embedding"))).as("s"),
        fcount(col("embedding")).as("cnt"))
    // semdedup: training and component collapse run eagerly; the
    // expensive subtree is the in-cell pair generation — audit it over
    // a literal-centroid cell assignment
    val semAssigned = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding"),
        org.apache.spark.sql.functions.explode(
          operators.Similarity.nearestCellsCol(col("embedding"), fakeCents, 1)).as("cell"))
    val offenders =
      offendersIn("dedup_near_corpus[minhashLsh]",
        operators.Dedup.minhashLsh(spark, Sf)) ++
      offendersIn("ann_ivf_kmeans[ivfTopKWith]",
        operators.Similarity.ivfTopKWith(spark, Sf, fakeCents, numQueries = 10, k = 5, nProbe = 2)) ++
      offendersIn("embedding_pca[moments]", momentPlan) ++
      offendersIn("semdedup[pairs]",
        operators.Similarity.semDedupPairsFrom(semAssigned, threshold = 0.985, maxBucket = 1024)) ++
      // ann_pq_topk: training varies only the codebook literals; the
      // corpus-side plan is the encode projection (must stay narrow —
      // the scoring tail is the intended broadcast BNLJ + two bounded
      // top-k windows)
      offendersIn("ann_pq_topk[encode]",
        operators.Similarity.pqEncode(
          Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding")),
          fakeBooks)) ++
      offendersIn("ann_ivfpq_topk[probe]", ivfpqProbePlan(fakeCents, fakeBooks)) ++
      offendersIn("ann_pq_topk[probe]", pqProbePlan(fakeBooks)) ++
      // dedup_substring eagerly checkpoints its (gram, doc) stage at
      // construction; audit the FULL un-checkpointed shape (scan +
      // explode + the three-consumer tail) — strictly a superset of
      // the runtime plan
      offendersIn("dedup_substring[full]",
        operators.Dedup.substringDupTail(
          operators.TextAnalysis.perDocGramCounts(Tables.documents(spark, Sf), "occ"))) ++
      // product_freq_cms collects its sketch at construction; the
      // distributed subtree is the single map-side-combined aggregate
      offendersIn("product_freq_cms[sketch]",
        operators.EventMarts.enriched(spark, Sf)
          .filter(col("product_k").isNotNull)
          .select(org.apache.spark.sql.functions.count_min_sketch(
            col("product_k"),
            org.apache.spark.sql.functions.lit(0.001),
            org.apache.spark.sql.functions.lit(0.99),
            org.apache.spark.sql.functions.lit(42)))) ++
      // product_pagerank's fact-sized subtree: the session-gap
      // transition edge aggregation (one user window + one rollup)
      offendersIn("product_pagerank[edges]",
        operators.Graph.productEdgesFrom(operators.EventMarts.enriched(spark, Sf))) ++
      // graph_components: the fact-sized subtree is the coview edge
      // frame (same gated basket self-join as coview_pairs); each
      // contraction round is two groupBy-mins + two equi-joins over
      // the checkpointed, monotonically-shrinking edges — audit one
      // round's full shape over the real edge frame
      offendersIn("graph_components[round]",
        operators.Graph.starRound(
          operators.Graph.coviewEdgesFrom(operators.EventMarts.enriched(spark, Sf))
            .select(col("a").as("u"), col("b").as("v")))) ++
      // quality_classifier's corpus-sized subtree: the one-scan
      // feature/label projection (native word_rep_stats, no shuffle)
      offendersIn("quality_classifier[features]",
        operators.TextAnalysis.qualityLrFeatures(Tables.documents(spark, Sf))) ++
      // ann_knn_graph's memoized build: cell-assigned candidates
      // equi-joined to nProbe-assigned queries over literal centroids
      // (training only varies the literals), one per-vector window
      offendersIn("ann_knn_graph[build]",
        operators.Similarity.annKnnGraphWith(spark,
          Tables.embeddings(spark, Sf), fakeCents, k = 5, nProbe = 2)) ++
      // the memoized session frames' builds: the sequences frame
      // (user window + per-session rank + rollup) and the shared
      // per-session stats frame (one rollup riding the sessionize
      // exchange)
      offendersIn("session_sequences[build]",
        operators.Sessionize.sessionSequencesFrom(
          operators.EventMarts.enriched(spark, Sf))) ++
      offendersIn("session_daily[stats]",
        operators.Sessionize.sessionStatsFrom(
          operators.EventMarts.enriched(spark, Sf))) ++
      // graph_kcore's per-round shape over the real edge frame
      offendersIn("graph_kcore[round]", {
        val e = operators.Graph.coviewEdgesFrom(operators.EventMarts.enriched(spark, Sf))
        val sym = e.select(col("a").as("node"), col("b").as("nbr"))
          .unionByName(e.select(col("b").as("node"), col("a").as("nbr")))
        val labels = sym.groupBy("node")
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("c"))
        operators.Graph.hIndexRound(sym, labels)
      })
    assert(offenders.isEmpty, s"plan lint failures:\n${offenders.mkString("\n")}")
  }

  /** The plain-PQ scoring plan over literal codebooks: every code row
    * crosses the broadcast query LUTs (the intended BNLJ) into the
    * shared ADC+refine tail. */
  private def pqProbePlan(books: Seq[Seq[(Int, Array[Float])]]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import spark.implicits._
    val codes = operators.Similarity.pqEncode(
      Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding")), books)
    val queries = Seq((0L, Array.fill(64)(0.1f), Seq.fill(8)(Seq.fill(4)(0.0))))
      .toDF("query_id", "q_emb", "lut")
    operators.Similarity.adcRefineTopK(codes.crossJoin(broadcast(queries)),
      m = 8, k = 5, refine = 32)
  }

  /** The IVF-PQ probe plan over literal index metadata (training only
    * varies the literals): code rows cell-assigned narrow, equi-joined
    * on the cell key against a broadcast literal query frame, then the
    * shared ADC+refine tail. */
  private def ivfpqProbePlan(cents: Seq[(Int, Array[Float])],
                             books: Seq[Seq[(Int, Array[Float])]]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, explode}
    import spark.implicits._
    val codes = operators.Similarity.pqEncode(
        Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding")), books)
      .withColumn("cell", explode(operators.Similarity.nearestCellsCol(col("c_emb"), cents, 1)))
    val queries = Seq((0L, Array.fill(64)(0.1f), Seq.fill(8)(Seq.fill(4)(0.0))))
      .toDF("query_id", "q_emb", "lut")
      .withColumn("cell", explode(operators.Similarity.nearestCellsCol(col("q_emb"), cents, 2)))
    operators.Similarity.adcRefineTopK(codes.join(broadcast(queries), "cell"),
      m = 8, k = 5, refine = 32)
  }

  /** Hash exchanges that move RAW event rows by user: keyed on
    * `user_id` without a spreading key (`bucket`, or `event_id` for a
    * distinct-id dedup), with some path down to a leaf that meets no
    * aggregate. Such an exchange sends a hot user's (or hot session's)
    * whole history to one task. The exchanges EnsureRequirements adds
    * are not in `inputPlan`: under AQE they first appear in the initial
    * plan, which an unexecuted frame's `executedPlan` still is. */
  private def rawUserExchanges(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def rawBelow(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => false
      case leaf if leaf.children.isEmpty => true
      case other => other.children.exists(rawBelow)
    }
    val prepared = initialPlan(df)
    val exchanges = prepared.collect { case x: ShuffleExchangeExec => x }
    assert(exchanges.nonEmpty, s"no exchange in the prepared plan:\n$prepared")
    exchanges.collect {
      case x if rawBelow(x.child) && (x.outputPartitioning match {
        case h: HashPartitioning =>
          val keys = h.expressions.flatMap(_.references.map(_.name)).toSet
          keys("user_id") && !keys("bucket") && !keys("event_id")
        case _ => false
      }) => x.outputPartitioning.toString
    }
  }

  test("hot-key lint: no bucketed session query shuffles raw rows on user_id alone") {
    import operators.Sessionize._
    val e = operators.EventMarts.enriched(spark, Sf)
    // each bucketed query's registered plan, plus surprise's pair
    // subtree (its registered tail reads a localCheckpoint of it)
    val bucketed = SessionTwins.map(n => s"${n}_bucketed")
      .map(n => n -> SparkEntry.queries(n)(spark, Sf)) :+
      ("session_surprise_bucketed[pairs]" -> sessionPairsBucketedFrom(e))
    val offenders = bucketed.flatMap { case (n, df) => rawUserExchanges(df).map(x => s"$n: $x") }
    assert(offenders.isEmpty, s"raw-row user_id exchanges:\n${offenders.mkString("\n")}")
    // not vacuous: every plain twin (frame-input form, un-memoized)
    // sessionizes through exactly such an exchange
    val plain = Seq(
      "session_sequences" -> sessionSequencesFrom(e),
      "session_patterns" -> sessionPatternsFrom(e),
      "session_transitions" -> sessionTransitionsFrom(e),
      "session_daily" -> sessionDailyFrom(e),
      "session_concurrency" -> sessionConcurrencyFrom(e),
      "session_quality_gate" -> sessionQualityGateFrom(e),
      "session_funnel" -> sessionFunnelFrom(e),
      "session_entry_exit" -> sessionEntryExitFrom(e),
      "error_impact" -> errorImpactFrom(e),
      "markov_next_event" -> markovNextEventFrom(e),
      "session_surprise[pairs]" -> sessionPairsFrom(e))
    val clean = plain.collect { case (n, df) if rawUserExchanges(df).isEmpty => n }
    assert(clean.isEmpty, s"the lint passes plain twins, so it checks nothing: $clean")
  }

  /** The session queries registered in a plain and a `_bucketed` form. */
  private val SessionTwins = Seq("session_sequences", "session_patterns",
    "session_transitions", "session_daily", "session_concurrency", "session_quality_gate",
    "session_funnel", "session_entry_exit", "error_impact", "markov_next_event",
    "session_surprise")

  test("approx latency marts plan fixed-state sketches, never the group-buffering exact percentile") {
    // the whole point of the *_approx siblings: no aggregate in their
    // plans may buffer a group's every value. Exact `percentile` is
    // the one group-buffering aggregate this family ever used; its GK
    // replacement prints as approx_percentile.
    val approxQueries = Seq("conversion_latency_approx", "funnel_step_latency_approx",
      "shipping_latency_approx", "rfm_segments_approx")
    approxQueries.foreach { name =>
      val plan = physical(SparkEntry.queries(name)(spark, Sf)).toString
      assert(plan.contains("approx_percentile"), s"$name: no approx_percentile in plan")
      val exactPct = "(?<!approx_)percentile\\(".r.findFirstIn(plan)
      assert(exactPct.isEmpty, s"$name plans exact percentile:\n$plan")
    }
  }

  test("funnel+product marts plan without an Expand (distinct pre-aggregate, not multi-countDistinct)") {
    // N countDistincts over one groupBy plan an Expand that multiplies
    // every pre-shuffle row ×(N+1) — the per-(keys…, user) pre-aggregate
    // form must keep all four queries Expand-free (order_cube and the
    // dq grouping-sets plans are the only INTENDED Expands in the repo).
    // The dq profile/suggest/drift family profiles one countDistinct
    // per column pass for the same reason.
    import org.apache.spark.sql.execution.ExpandExec
    (Seq("mart_funnel_daily" -> operators.EventMarts.martFunnelDaily(spark, Sf),
        "funnel_conversion" -> operators.EventMarts.funnelConversion(spark, Sf),
        "mart_product_daily" -> operators.EventMarts.martProductDaily(spark, Sf),
        "product_top_n" -> operators.EventMarts.productTopN(spark, Sf)) ++
      DqProfileFamily.map(n => n -> SparkEntry.queries(n)(spark, Sf)))
      .foreach { case (n, df) =>
        assert(physical(df).collect { case e: ExpandExec => e }.isEmpty,
          s"$n plans an Expand")
      }
  }

  /** The dq profile → suggest → drift queries. */
  private val DqProfileFamily = Seq("dq_column_profile", "dq_profile_documents",
    "dq_profile_orders", "dq_profile_lineitem", "dq_suggested_checks",
    "dq_suggested_documents", "dq_suggested_orders", "dq_suggested_lineitem",
    "dq_contract_drift")

  test("suggestions profile each column once: scan leaves per query in the AQE initial plan") {
    // one scan per profiled column (not_null and unique share it), one
    // per isin column, one for the fused range; the drift's pinned
    // side adds the max-date scan under each of its legs. Counted in
    // the initial plan, before AQE reuses any exchange.
    def scanLeaves(df: DataFrame): Int =
      initialPlan(df).collectLeaves().count(_.nodeName.contains("Scan"))
    val expected = Seq("dq_suggested_checks" -> 8, "dq_suggested_documents" -> 9,
      "dq_suggested_orders" -> 9, "dq_suggested_lineitem" -> 14,
      "dq_contract_drift" -> 24)
    val got = expected.map { case (n, _) => n -> scanLeaves(SparkEntry.queries(n)(spark, Sf)) }
    assert(got == expected)
  }

  test("runtime bloom-filter pruning arms the fact-fact join at the no-broadcast scale point") {
    val conf = spark.conf
    assert(conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true",
      "runtime bloom filters must stay enabled — at 100 TB they are the probe-side semi-prune")
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.get(k))
    // emulate the 100 TB regime: the probe scan is over the size
    // threshold and the build side is too big to broadcast (at test
    // scale every dim broadcasts, so the filter correctly stays off)
    conf.set(keys(0), "0")
    conf.set(keys(1), "-1")
    try {
      val plan = operators.Relational.q12PrioritySplit(spark, Sf)
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected a bloom runtime filter on the lineitem probe side:\n${plan.take(2000)}")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("the lint itself sees through the AQE wrapper (not vacuous)") {
    // a plan with a known BNLJ must be detected — guards against the
    // wrapper regression where .collect on AdaptiveSparkPlanExec
    // silently audited an empty tree
    val bf = operators.Similarity.bruteForceTopK(spark, Sf)
    assert(physical(bf).collect { case j: BroadcastNestedLoopJoinExec => j }.nonEmpty,
      "expected the brute-force scorer's BNLJ to be visible to the lint")
    // the shuffle cap reads the initial plan: a grouped count's
    // exchange is inserted by EnsureRequirements, so inputPlan lacks
    // it, and a planted extra repartition raises the count by one
    import org.apache.spark.sql.functions.col
    val grouped = Tables.events(spark, Sf).groupBy("user_id").count()
    assert(physical(grouped).collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"inputPlan is expected to hold no inserted exchange:\n${physical(grouped)}")
    assert(shuffleCount(grouped) == 1, initialPlan(grouped).toString)
    assert(shuffleCount(grouped.repartition(7, col("count"))) == 2)
  }
}
