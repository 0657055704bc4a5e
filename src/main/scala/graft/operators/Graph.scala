package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.EventMarts.enriched

/** Graph centrality over the product browse graph — PageRank on the
  * directed view-transition graph (product A viewed, then product B
  * by the same user within the session gap). The popularity measure
  * that counts being REACHED FROM popular places, which plain view
  * counts (product_top_n) and co-occurrence (coview/item_cf) don't
  * capture.
  *
  * Scale shape: the edge list aggregates once (events → per-user lag
  * pairs under the session-gap predicate → (src, dst) weights) and is
  * localCheckpoint-pinned — every iteration reuses it. One PageRank
  * iteration = ranks ⋈ edges on src (rank frame is node-dimension
  * scale, edges fact scale, both hash-partitioned on the join key) +
  * one dst rollup; the dangling mass rides the plan as a 1-row
  * broadcast aggregate (the scalar-subquery pattern — ZERO driver
  * round-trips per round; the checkpoint materialization is the only
  * job, and the convergence delta is computed once at the end, not
  * per round). Ranks re-checkpoint per
  * iteration to truncate lineage, exactly like the Lloyd loop in
  * ann_ivf_kmeans. Iteration count is fixed (power iteration
  * converges geometrically at damping rate); convergence delta is
  * surfaced in the output for observability.
  *
  * rows-only by design: iterated float arithmetic (and partial-sum
  * order inside each rollup) is not bit-reproducible in a DuckDB
  * re-expression; the spec pins a driver-side exact power iteration
  * within 1e-9 on a crafted graph plus structural invariants at sf.
  */
object Graph {

  @transient private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  val Damping = 0.85
  val GapSeconds = 1800L

  /** Directed product-transition edges: consecutive VIEW events by
    * one user within the session gap, product changing. One user
    * exchange for the lag window, then the (src, dst) rollup. */
  def productEdgesFrom(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("event_epoch", "event_id")
    e.filter(col("event_type") === "view" && col("product_k").isNotNull &&
        col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_epoch"), col("product_k"))
      .withColumn("prev_k", lag("product_k", 1).over(w))
      .withColumn("prev_epoch", lag("event_epoch", 1).over(w))
      .filter(col("prev_k").isNotNull &&
        col("event_epoch") - col("prev_epoch") <= GapSeconds &&
        col("prev_k") =!= col("product_k"))
      .groupBy(col("prev_k").as("src"), col("product_k").as("dst"))
      .agg(count(lit(1)).as("weight"))
  }

  // ---- dir-grain edge memo ----
  // Ten registry queries build one of TWO edge frames from the same
  // events table (product transitions: pagerank/ppr/serving tables/
  // communities; co-view: triangles/kcore/degree census/assortativity/
  // components) — each paid its own window + rollup + checkpoint per
  // call. Both frames are deterministic aggregates, so one session
  // builds each ONCE, localCheckpointed. `*From` forms (arbitrary
  // event frames) stay uncached.
  private[graft] val edgeMemo = new graft.Caches.Memo[DataFrame](8, Seq(_))

  private def edgeFrame(spark: SparkSession, dir: String, kind: String)
      (build: => DataFrame): DataFrame =
    edgeMemo(graft.Caches.dirKey(spark,
      kind +: dir +: graft.Tables.events(spark, dir).inputFiles.sorted)) {
      build.localCheckpoint()
    }

  private[graft] def productEdges(spark: SparkSession, dir: String): DataFrame =
    edgeFrame(spark, dir, "product")(productEdgesFrom(enriched(spark, dir)))

  private[graft] def coviewEdges(spark: SparkSession, dir: String): DataFrame =
    edgeFrame(spark, dir, "coview")(coviewEdgesFrom(enriched(spark, dir)))

  def productPagerank(spark: SparkSession, dir: String,
      iterations: Int = 15, tol: Double = 0.0, checkEvery: Int = 1): DataFrame =
    pagerankPrepared(productEdges(spark, dir), iterations,
      tol = tol, checkEvery = checkEvery)

  /** Personalized PageRank from the corpus's most-viewed product —
    * "related by random-walk proximity", the recommender signal the
    * other two product rankings can't give (item_cf sees direct
    * co-occurrence only; global pagerank scores popularity with no
    * seed): restart AND dangling mass return to the seed, so scores
    * decay with walk distance from it and nodes unreachable from the
    * seed converge to exactly 0 (spec-pinned). The seed is the
    * most-viewed product (ties to the smallest key) — a 1-row driver
    * scalar of the kmeans-init class; swap in any seed set for a
    * production "related to X" query. Same iteration plan as
    * `product_pagerank` (the restart column is the only change).
    *
    * Round budget (measured): the registry forms run
    * FIXED rounds (tol = 0 — one delta read at the final round, for
    * observability). A 1e-6 tolerance is unreachable inside any sane
    * budget — power iteration contracts at the damping rate, and the
    * measured L1 delta reads 5.9e-3 at round 15 and still 1.4e-5 at
    * round 30 — so tolerance-mode defaults paid 5 futile N-scale
    * delta jobs per walk that could never fire. Reducing the budget
    * below 15 was measured-and-rejected separately: the serving
    * table's top-k is NOT stable mid-flight (26/30 exact triples at
    * 12 rounds, 20/30 at 10 — no knee, just decay). Tolerance mode
    * stays available for long-budget convergence runs
    * (iterations = 50+, where the spec pins the stop-round against a
    * driver replica). */
  def productPpr(spark: SparkSession, dir: String,
      iterations: Int = 15, tol: Double = 0.0, checkEvery: Int = 3): DataFrame =
    productPprWith(enriched(spark, dir), productEdges(spark, dir),
      iterations, tol, checkEvery)

  def productPprFrom(e: DataFrame,
      iterations: Int = 15, tol: Double = 0.0, checkEvery: Int = 3): DataFrame =
    productPprWith(e, productEdgesFrom(e).localCheckpoint(),
      iterations, tol, checkEvery)

  private def productPprWith(e: DataFrame, edges: DataFrame,
      iterations: Int, tol: Double, checkEvery: Int): DataFrame = {
    val seed = e.filter(col("product_k").isNotNull && col("event_type") === "view")
      .groupBy(col("product_k")).agg(count(lit(1)).as("views"))
      .orderBy(desc("views"), asc("product_k")).limit(1)
      .collect().head.getAs[Int]("product_k") // 1-row control scalar
    pagerankPrepared(edges, iterations, tol = tol,
      checkEvery = checkEvery, restart = Seq(seed))
      .withColumnRenamed("pagerank", "ppr")
      .withColumn("seed_product", lit(seed))
  }

  /** The PPR SERVING table — "related to X" rows a product page or a
    * recommender candidate-generator actually reads: top-`k` random-
    * walk neighbors for each of the `numSeeds` most-transitioned-FROM
    * products (top outgoing weight in the session-transition graph,
    * ties to the smallest key). Seeding from the GRAPH rather than the
    * raw view census matters twice over: a walk from a product that
    * never co-occurs inside a session has no nonzero neighbors by
    * construction (every non-seed converges to exactly 0 — the vacuous
    * table two gate rounds recorded at sf0.01), and the products whose
    * pages need "related" rows most are exactly the ones users
    * navigate AWAY from. One row per (seed, related product) with the
    * walk score and rank; the seed itself and unreachable (exactly-0)
    * nodes are excluded.
    *
    * Scale shape: the expensive inputs are shared, not repeated — the
    * edge frame builds and localCheckpoints ONCE and feeds both the
    * seed census (a TakeOrdered-N over the |edges| frame, the
    * kmeans-init class of driver scalar) and all N walks
    * (`pagerankPrepared`); each walk's output is node-dimension and
    * its top-k is a TakeOrdered, so the final table is N·k rows. N is
    * a SERVING choice (the heads everyone asks about), not a coverage
    * claim — full-catalog related-items at 100 TB would batch seeds
    * per walk with a seed-keyed rank vector instead. rows-only by
    * design (iterated float walks); the spec pins bit-identity of
    * each seed's rows against a standalone single-seed run. */
  /** Seed census for the serving tables: top-N nodes by total
    * outgoing edge weight (ties to the smallest key) — every chosen
    * seed has ≥1 outgoing transition, so its walk has ≥1 nonzero
    * neighbor and the serving table is never vacuously empty. */
  private def topSeeds(edges: DataFrame, numSeeds: Int): Seq[Int] =
    edges.groupBy(col("src")).agg(sum(col("weight")).as("w"))
      .orderBy(desc("w"), asc("src")).limit(numSeeds)
      .collect().map(_.getAs[Int]("src")).toSeq

  /** A transitionless corpus has nothing to relate: the serving
    * table is honestly EMPTY (correct shape), never an error — tiny
    * dev slices and cold-start corpora flow through. */
  private def emptyServingTable(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("seed_product", IntegerType),
        StructField("related_product", IntegerType),
        StructField("ppr", DoubleType),
        StructField("rank", IntegerType))))
  }

  def pprServingTable(spark: SparkSession, dir: String, numSeeds: Int = 3,
      k: Int = 10, iterations: Int = 15, tol: Double = 0.0,
      checkEvery: Int = 3): DataFrame =
    pprServingTableWith(spark, productEdges(spark, dir), numSeeds, k,
      iterations, tol, checkEvery)

  /** All N personalized walks in ONE iteration loop — the batched
    * core behind `ppr_related_products_batched`: ranks live at
    * (node, seed) grain (seed is a broadcast ≤N-row dimension), so
    * each round is ONE join + ONE rollup + ONE checkpoint regardless
    * of N, where the sequential form pays that per seed. Per-seed
    * dangling mass is an ≤N-row broadcast aggregate; the restart
    * column concentrates each walk's teleport on its own seed, so
    * every (·, seed) slice computes exactly the single-seed walk.
    * Convergence (tol > 0) reads the MAX per-seed L1 delta — all
    * walks stop at the same round, which is what makes the batch one
    * job stream; the spec therefore compares against sequential walks
    * run with the SAME fixed round count (per-seed arithmetic is
    * independent and identical; only partial-sum ORDER inside each
    * (node, seed) rollup may differ, so equality is pinned to 1e-12,
    * not bitwise). Scale: rows are |nodes|·N — N is a serving choice
    * (the heads everyone asks about); for catalog-wide N the same
    * frame shape holds, partitioned on (node, seed). */
  def pagerankBatched(edges: DataFrame, restarts: Seq[Int],
      iterations: Int = 15, damping: Double = Damping,
      tol: Double = 0.0, checkEvery: Int = 3): DataFrame = {
    require(restarts.nonEmpty, "need at least one seed")
    require(checkEvery >= 1, "checkEvery must be >= 1")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    val outW = e.groupBy(col("src").as("node"))
      .agg(sum(col("weight")).cast("double").as("out_weight"))
    val base = nodes.join(outW, Seq("node"), "left")
      .crossJoin(broadcast(restarts.toDF("seed")))
      .localCheckpoint()
    val r0 = when(col("node") === col("seed"), lit(1.0)).otherwise(lit(0.0))
    var ranks = base.select(col("node"), col("seed"), col("out_weight"),
      r0.as("rank"))
    var delta = Double.NaN
    var ranIterations = 0
    var converged = false
    var i = 1
    while (i <= iterations && !converged) {
      val dang = ranks.filter(col("out_weight").isNull)
        .groupBy(col("seed"))
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dangling"))
      val contribs = ranks.filter(col("out_weight").isNotNull)
        .join(e, ranks("node") === e("src"))
        .select(col("dst").as("node"), col("seed"),
          (col("rank") * col("weight").cast("double") / col("out_weight")).as("c"))
        .groupBy(col("node"), col("seed")).agg(sum(col("c")).as("inflow"))
      val next = base.join(contribs, Seq("node", "seed"), "left")
        .join(broadcast(dang), Seq("seed"), "left")
        .select(col("node"), col("seed"), col("out_weight"),
          (lit(1.0 - damping) * r0 +
            lit(damping) * (coalesce(col("inflow"), lit(0.0)) +
              coalesce(col("dangling"), lit(0.0)) * r0)).as("rank"))
        .localCheckpoint()
      val readDelta = (tol > 0.0 && (i % checkEvery == 0 || i == iterations)) ||
        (tol == 0.0 && i == iterations)
      if (readDelta) {
        delta = next.as("a")
          .join(ranks.as("b"), Seq("node", "seed"))
          .groupBy(col("seed"))
          .agg(coalesce(sum(abs(col("a.rank") - col("b.rank"))), lit(0.0)).as("d"))
          .agg(coalesce(max(col("d")), lit(0.0)))
          .collect().head.getDouble(0)
        if (tol > 0.0 && delta < tol) converged = true
      }
      ranks = next
      ranIterations = i
      i += 1
    }
    ranks.select(col("seed").as("seed_product"), col("node").as("product_k"),
      col("rank").as("ppr"),
      lit(delta).as("last_delta"), lit(ranIterations).as("iterations_run"))
  }

  /** The serving table off the batched core — same output shape as
    * [[pprServingTableFrom]], one job stream for all N seeds. */
  def pprServingTableBatched(spark: SparkSession, dir: String,
      numSeeds: Int = 3, k: Int = 10, iterations: Int = 15,
      tol: Double = 0.0, checkEvery: Int = 3): DataFrame =
    pprServingTableBatchedWith(spark, productEdges(spark, dir), numSeeds,
      k, iterations, tol, checkEvery)

  def pprServingTableBatchedFrom(e: DataFrame, numSeeds: Int = 3, k: Int = 10,
      iterations: Int = 15, tol: Double = 0.0,
      checkEvery: Int = 3): DataFrame =
    pprServingTableBatchedWith(e.sparkSession,
      productEdgesFrom(e).localCheckpoint(), numSeeds, k, iterations,
      tol, checkEvery)

  private def pprServingTableBatchedWith(spark: SparkSession,
      edges: DataFrame, numSeeds: Int, k: Int, iterations: Int,
      tol: Double, checkEvery: Int): DataFrame = {
    val seeds = topSeeds(edges, numSeeds)
    if (seeds.isEmpty) return emptyServingTable(spark)
    val ranks = pagerankBatched(edges, seeds,
      iterations, tol = tol, checkEvery = checkEvery)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seed_product"))
      .orderBy(desc("ppr"), asc("product_k"))
    ranks
      .filter(col("product_k") =!= col("seed_product") && col("ppr") > 0.0)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("seed_product"), col("product_k").as("related_product"),
        col("ppr"), col("rank"))
      .orderBy("seed_product", "rank")
  }

  def pprServingTableFrom(e: DataFrame, numSeeds: Int = 3, k: Int = 10,
      iterations: Int = 15, tol: Double = 0.0,
      checkEvery: Int = 3): DataFrame =
    pprServingTableWith(e.sparkSession,
      productEdgesFrom(e).localCheckpoint(), // ONE build, N walks
      numSeeds, k, iterations, tol, checkEvery)

  private def pprServingTableWith(spark: SparkSession, edges: DataFrame,
      numSeeds: Int, k: Int, iterations: Int, tol: Double,
      checkEvery: Int): DataFrame = {
    val seeds = topSeeds(edges, numSeeds) // bounded driver scalar
    if (seeds.isEmpty) return emptyServingTable(spark)
    val perSeed = seeds.map { s =>
      pagerankPrepared(edges, iterations, tol = tol,
        checkEvery = checkEvery, restart = Seq(s))
        .filter(col("product_k") =!= s && col("pagerank") > 0.0)
        .orderBy(desc("pagerank"), asc("product_k")).limit(k)
        .select(lit(s).as("seed_product"),
          col("product_k").as("related_product"),
          col("pagerank").as("ppr"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seed_product"))
      .orderBy(desc("ppr"), asc("related_product"))
    perSeed.reduce(_ unionByName _) // N·k rows — the window below is tiny
      .withColumn("rank", row_number().over(w))
      .orderBy("seed_product", "rank")
  }

  /** Weighted PageRank over an (src, dst, weight) edge frame.
    * Returns (node, pagerank, out_weight, in_edges, out_edges,
    * last_delta, iterations_run) with Σ pagerank = 1 (dangling mass
    * redistributed uniformly each round).
    *
    * Convergence control: with `tol` = 0 (default) the loop runs a
    * FIXED `iterations` rounds and the L1 delta is computed once at
    * the end — pure observability, zero driver round-trips inside the
    * loop. With `tol` > 0, `iterations` becomes the max-round guard
    * and every `checkEvery`-th round pays one extra join+aggregate to
    * read the delta (a driver scalar — control flow now, the same
    * class as the Lloyd loop's convergence check); the loop stops as
    * soon as delta < tol. Power iteration converges geometrically at
    * the damping rate, so checkEvery > 1 amortizes the check against
    * rounds that were almost certainly still needed. */
  def pagerankFrom(edges: DataFrame, iterations: Int = 15,
      damping: Double = Damping, tol: Double = 0.0,
      checkEvery: Int = 1, restart: Seq[Int] = Nil): DataFrame =
    pagerankPrepared(edges.localCheckpoint(), iterations, damping, tol,
      checkEvery, restart)

  /** The iteration core over an ALREADY-PINNED edge frame — callers
    * running SEVERAL walks on one graph (the PPR serving table's N
    * seeds) pay the edge build + checkpoint once and share it here;
    * `pagerankFrom` remains the single-walk door. */
  private[graft] def pagerankPrepared(edges: DataFrame, iterations: Int = 15,
      damping: Double = Damping, tol: Double = 0.0,
      checkEvery: Int = 1, restart: Seq[Int] = Nil): DataFrame = {
    val e = edges // pinned by the caller — every iteration reuses it
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    val n = nodes.count()
    require(n > 0, "empty graph")
    val outW = e.groupBy(col("src").as("node"))
      .agg(sum(col("weight")).cast("double").as("out_weight"))
    // node base frame: out_weight NULL marks a dangling node
    val base = nodes.join(outW, Seq("node"), "left").localCheckpoint()
    require(checkEvery >= 1, "checkEvery must be >= 1")
    // the restart (teleport) distribution: uniform for global
    // PageRank; concentrated on the seed set for the PERSONALIZED
    // walk (restart mass AND dangling mass both return to the seeds,
    // so nodes unreachable from them converge to exactly 0)
    val r0 = if (restart.isEmpty) lit(1.0 / n.toDouble)
      else when(col("node").isin(restart.map(Int.box): _*),
        lit(1.0 / restart.size.toDouble)).otherwise(lit(0.0))
    var ranks = base.select(col("node"), col("out_weight"), r0.as("rank"))
    var delta = Double.NaN
    var ranIterations = 0
    var converged = false
    var i = 1
    while (i <= iterations && !converged) {
      // the dangling mass rides the iteration plan as a ONE-ROW
      // broadcast (scalar-subquery pattern) — zero driver round-trips
      // per round; the checkpoint materialization is the only job
      val dang = ranks.filter(col("out_weight").isNull)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dangling"))
      val contribs = ranks.filter(col("out_weight").isNotNull)
        .join(e, ranks("node") === e("src"))
        .select(col("dst").as("node"),
          (col("rank") * col("weight").cast("double") / col("out_weight")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("inflow"))
      val next = base.join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"), col("out_weight"),
          (lit(1.0 - damping) * r0 +
            lit(damping) * (coalesce(col("inflow"), lit(0.0)) +
              col("dangling") * r0)).as("rank"))
        .localCheckpoint()
      // fixed mode (tol = 0): the convergence reading is observability,
      // not control flow — only the FINAL round pays its extra
      // join+aggregate (computing it every round nearly doubled the
      // per-iteration job count). Tolerance mode: read it every
      // checkEvery-th round and stop once it clears tol.
      val readDelta = (tol > 0.0 && (i % checkEvery == 0 || i == iterations)) ||
        (tol == 0.0 && i == iterations)
      if (readDelta) {
        delta = next.as("a").join(ranks.as("b"), "node")
          .agg(coalesce(sum(abs(col("a.rank") - col("b.rank"))), lit(0.0)))
          .collect().head.getDouble(0)
        if (tol > 0.0 && delta < tol) converged = true
      }
      ranks = next
      ranIterations = i
      i += 1
    }
    val inDeg = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_edges"))
    val outDeg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_edges"))
    ranks.join(inDeg, Seq("node"), "left").join(outDeg, Seq("node"), "left")
      .select(col("node").as("product_k"), col("rank").as("pagerank"),
        coalesce(col("out_weight"), lit(0.0)).as("out_weight"),
        coalesce(col("in_edges"), lit(0L)).as("in_edges"),
        coalesce(col("out_edges"), lit(0L)).as("out_edges"),
        lit(delta).as("last_delta"),
        lit(ranIterations).as("iterations_run"))
      .orderBy(desc("pagerank"), asc("product_k"))
  }

  /** Product communities over the UNDIRECTED browse graph —
    * synchronous weighted label propagation (Raghavan et al. 2007)
    * with deterministic tie-breaking: each round every node adopts
    * the label carrying the most incident edge weight among its
    * neighbors, ties to the smallest label. Bounded rounds;
    * deterministic by construction (no random visit order — the
    * classic async LPA is order-dependent, this sync+min-tie variant
    * trades a little convergence speed for reproducibility).
    *
    * The "what sells together browses together" clustering — distinct
    * from connected components (one giant component on any real
    * browse graph) because WEIGHT decides: a weak bridge between two
    * dense cliques cannot flip either side.
    *
    * Scale shape: one round = labels ⋈ edges on the neighbor key +
    * an argmax window over (node, label) partial sums — both at edge
    * dimension, hash-partitioned; labels re-checkpoint per round to
    * truncate lineage (the Lloyd/PageRank loop pattern). Full SQL
    * since r14: every round is PURE INTEGER arithmetic (count-sum
    * weights, row_number argmax, min-label ties) over a fixed round
    * budget, so [[productCommunitiesSql]] mirrors the loop as
    * unrolled CTE stages bit-exactly — no float anywhere. The spec
    * additionally pins exact convergence on a crafted barbell. */
  def productCommunities(spark: SparkSession, dir: String,
      iterations: Int = 8): DataFrame =
    communitiesFrom(productEdges(spark, dir), iterations)

  /** `semiSync = true` switches the update schedule from fully
    * synchronous to deterministic two-phase semi-synchronous: each
    * round updates first the even-hashed nodes (odd frozen), then the
    * odd-hashed ones. Sync LPA OSCILLATES on mutual-strongest pairs —
    * two nodes whose top-weight neighbor is each other swap labels
    * every round and never settle (the documented sync-LPA failure
    * mode; a kNN graph over jittered clusters is full of such pairs,
    * which is why `embedding_clusters` requires this schedule, while
    * the co-view product graph's heavy shared-weight edges never
    * exhibited it). The parity split is a 2-coloring by xxhash64, so
    * within a sub-round no updating node reads another updating
    * node's label — the Raghavan et al. async guarantee, made
    * deterministic. */
  def communitiesFrom(edges: DataFrame, iterations: Int = 8,
                      semiSync: Boolean = false): DataFrame = {
    // symmetrize: incident weight of (a,b) = both directions' sum
    val und = edges.select(col("src").as("a"), col("dst").as("b"), col("weight"))
      .unionByName(edges.select(col("dst").as("a"), col("src").as("b"), col("weight")))
      .groupBy(col("a"), col("b")).agg(sum(col("weight")).as("w"))
      .localCheckpoint()
    val nodes = und.select(col("a").as("node")).distinct().localCheckpoint()
    var labels = nodes.withColumn("label", col("node"))
    val wArgmax = org.apache.spark.sql.expressions.Window
      .partitionBy("a").orderBy(desc("lw"), asc("label"))
    def argmaxLabels(cur: DataFrame): DataFrame =
      und.join(cur, und("b") === cur("node"))
        .groupBy(col("a"), col("label")).agg(sum(col("w")).as("lw"))
        .withColumn("rk", row_number().over(wArgmax))
        .filter(col("rk") === 1)
        .select(col("a").as("node"), col("label"))
    for (_ <- 1 to iterations) {
      if (semiSync) {
        for (par <- 0 to 1) {
          val upd = argmaxLabels(labels)
            .withColumnRenamed("label", "new_label")
          labels = labels.join(upd, Seq("node"), "left")
            .withColumn("label",
              when(pmod(xxhash64(col("node")), lit(2)) === par &&
                col("new_label").isNotNull, col("new_label"))
                .otherwise(col("label")))
            .select(col("node"), col("label"))
            .localCheckpoint()
        }
      } else {
        labels = argmaxLabels(labels).localCheckpoint()
      }
    }
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("community_size"))
    labels.join(sizes, Seq("label"))
      .select(col("node").as("product_k"), col("label").as("community"),
        col("community_size"))
      .orderBy(desc("community_size"), asc("community"), asc("product_k"))
  }

  /** DuckDB oracle for [[productCommunities]] at the default round
    * budget: the same directed view-transition edge extraction, the
    * same symmetrized integer weight rollup, and the SAME synchronous
    * argmax round — (node, label) weight sums, ties to the smallest
    * label — unrolled `iterations` times. The whole loop is integer
    * arithmetic with deterministic tie-breaks, so the mirror is
    * bit-exact at any partitioning; the fixed `for (1 to iterations)`
    * budget on the Spark side is what makes a fixed unroll the exact
    * re-expression (no convergence-dependent round count). */
  def productCommunitiesSql(iterations: Int = 8): String = {
    val roundCtes = (0 until iterations).map { i =>
      s"""l${i + 1} AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT a AS node, label,
         |      ROW_NUMBER() OVER (PARTITION BY a ORDER BY lw DESC, label ASC) AS rk
         |    FROM (
         |      SELECT u.a, c.label, CAST(SUM(u.w) AS BIGINT) AS lw
         |      FROM und u JOIN l$i c ON u.b = c.node
         |      GROUP BY u.a, c.label
         |    )
         |  ) WHERE rk = 1
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH base AS (
       |  SELECT user_id, event_id,
       |    CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS event_epoch,
       |    CAST(json_extract_string(props, '$$.k') AS INT) AS product_k
       |  FROM events
       |  WHERE event_type = 'view' AND json_extract_string(props, '$$.k') IS NOT NULL
       |    AND ts IS NOT NULL AND user_id IS NOT NULL
       |), lagged AS (
       |  SELECT product_k,
       |    LAG(product_k) OVER w AS prev_k,
       |    event_epoch, LAG(event_epoch) OVER w AS prev_epoch
       |  FROM base
       |  WINDOW w AS (PARTITION BY user_id ORDER BY event_epoch, event_id)
       |), edges AS (
       |  SELECT prev_k AS src, product_k AS dst, CAST(COUNT(*) AS BIGINT) AS weight
       |  FROM lagged
       |  WHERE prev_k IS NOT NULL AND event_epoch - prev_epoch <= $GapSeconds
       |    AND prev_k <> product_k
       |  GROUP BY prev_k, product_k
       |), und AS MATERIALIZED (
       |  SELECT a, b, CAST(SUM(weight) AS BIGINT) AS w FROM (
       |    SELECT src AS a, dst AS b, weight FROM edges
       |    UNION ALL SELECT dst AS a, src AS b, weight FROM edges
       |  ) GROUP BY a, b
       |), l0 AS MATERIALIZED (
       |  SELECT DISTINCT a AS node, a AS label FROM und
       |), $roundCtes, sizes AS (
       |  SELECT label, CAST(COUNT(*) AS BIGINT) AS community_size
       |  FROM l$iterations GROUP BY label
       |)
       |SELECT l.node AS product_k, l.label AS community, s.community_size
       |FROM l$iterations l JOIN sizes s USING (label)
       |ORDER BY s.community_size DESC, community ASC, product_k ASC""".stripMargin
  }

  /** Triangle census + local clustering coefficient over the
    * UNDIRECTED co-view graph — the graph-density complement of
    * coview_pairs (which ranks individual edges) and
    * product_communities (which labels dense regions): a product in
    * many triangles sits inside a browsing CLIQUE (accessory
    * ecosystems, size runs), not just on popular edges.
    *
    * Scale technique — degree-ordered orientation (the MapReduce
    * triangle-counting standard, Suri & Vassilvitskii WWW'11): every
    * undirected edge is directed toward its (degree, id)-larger
    * endpoint, so each triangle has exactly ONE node with two
    * out-edges and is generated exactly once (no post-dedup), and
    * wedge fan-out per node is bounded by out-degree ≤ O(√E) for ANY
    * degree distribution — the hub that breaks the naive
    * neighbor-join (a degree-10⁶ hub would generate 10¹² wedges)
    * contributes only low-degree-endpoint wedges here. The edge
    * frame is localCheckpoint-pinned for its three consumers (two
    * wedge sides + the closure probe); everything downstream of the
    * one basket self-join is edge/wedge-dimension, not fact-
    * dimension. The co-view base reuses coviewPairs' [2, max]
    * basket gate, which also caps per-basket pair fan-out.
    *
    * Exact integers until two final IEEE ops (the libm rule):
    * coefficient = 2·triangles / degree·(degree−1). */
  def coviewTriangles(spark: SparkSession, dir: String, topN: Int = 50): DataFrame =
    trianglesFrom(coviewEdges(spark, dir), topN)

  /** Distinct undirected co-view edges (a < b): product pairs viewed
    * by at least one (user, day) basket under the coviewPairs gate —
    * the basket frame IS `Basket.coviewBasketFrom` (shared, not
    * copied, so the two co-view surfaces can't drift). */
  def coviewEdgesFrom(e: DataFrame, maxProductsPerDay: Int = 50): DataFrame = {
    val basket = Basket.coviewBasketFrom(e, maxProductsPerDay)
    basket.as("x").join(basket.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_date") === col("y.event_date") &&
          col("x.product_k") < col("y.product_k"))
      .select(col("x.product_k").as("a"), col("y.product_k").as("b"))
      .distinct()
  }

  /** Triangle count per node over a distinct undirected (a < b) edge
    * frame. Returns (product_k, degree, triangles, clustering_coeff)
    * for the topN nodes by triangle count. */
  def trianglesFrom(edges: DataFrame, topN: Int = 50): DataFrame = {
    val ed = edges.localCheckpoint() // feeds degrees AND orientation
    val deg = ed.select(col("a").as("node"))
      .unionByName(ed.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
      .localCheckpoint() // three consumers: both orientation joins + the final census
    val withDeg = ed
      .join(deg.select(col("node").as("a"), col("degree").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("degree").as("db")), Seq("b"))
    val aLower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = withDeg.select(
        when(aLower, col("a")).otherwise(col("b")).as("src"),
        when(aLower, col("b")).otherwise(col("a")).as("dst"),
        when(aLower, col("db")).otherwise(col("da")).as("dst_deg"))
      .localCheckpoint() // two wedge sides + the closure probe
    val wedges = o.as("e1").join(o.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.dst_deg") < col("e2.dst_deg") ||
            (col("e1.dst_deg") === col("e2.dst_deg") &&
              col("e1.dst") < col("e2.dst"))))
      .select(col("e1.dst").as("v"), col("e2.dst").as("w"),
        col("e1.src").as("u"))
    val tri = wedges
      .join(o.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
    val perNode = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node").as("product_k"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          lit(2.0) * coalesce(col("triangles"), lit(0L)).cast("double")
            / (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("clustering_coeff"))
      .orderBy(desc("triangles"), desc("degree"), asc("product_k"))
      .limit(topN)
  }

  val coviewTrianglesSql: String =
    """WITH up AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS event_date,
      |    CAST(json_extract_string(props, '$.k') AS INT) AS product_k
      |  FROM events
      |  WHERE event_type = 'view' AND json_extract_string(props, '$.k') IS NOT NULL
      |), eligible AS (
      |  SELECT user_id, event_date FROM up
      |  GROUP BY user_id, event_date
      |  HAVING COUNT(*) BETWEEN 2 AND 50
      |), basket AS (
      |  SELECT up.* FROM up JOIN eligible USING (user_id, event_date)
      |), edges AS (
      |  SELECT DISTINCT x.product_k AS a, y.product_k AS b
      |  FROM basket x JOIN basket y
      |    ON x.user_id = y.user_id AND x.event_date = y.event_date
      |   AND x.product_k < y.product_k
      |), deg AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
      |    SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges) t
      |  GROUP BY node
      |), o AS (
      |  SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS src,
      |         CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS dst,
      |         CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END AS dst_deg
      |  FROM (SELECT e.a, e.b, d1.degree AS da, d2.degree AS db
      |        FROM edges e
      |        JOIN deg d1 ON e.a = d1.node
      |        JOIN deg d2 ON e.b = d2.node) w
      |), tri AS (
      |  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
      |  FROM o e1 JOIN o e2 ON e1.src = e2.src
      |    AND (e1.dst_deg < e2.dst_deg
      |         OR (e1.dst_deg = e2.dst_deg AND e1.dst < e2.dst))
      |  JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst
      |), pn AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
      |    SELECT u AS node FROM tri
      |    UNION ALL SELECT v AS node FROM tri
      |    UNION ALL SELECT w AS node FROM tri) t
      |  GROUP BY node
      |)
      |SELECT d.node AS product_k, d.degree,
      |  COALESCE(pn.triangles, 0) AS triangles,
      |  CASE WHEN d.degree >= 2
      |       THEN 2.0 * CAST(COALESCE(pn.triangles, 0) AS DOUBLE)
      |            / CAST(d.degree * (d.degree - 1) AS DOUBLE)
      |       ELSE 0.0 END AS clustering_coeff
      |FROM deg d LEFT JOIN pn ON d.node = pn.node
      |ORDER BY triangles DESC, degree DESC, product_k
      |LIMIT 50""".stripMargin

  /** Connected components via alternating large-star / small-star
    * contraction (Kiveris, Lattanzi, Mirrokni, Rastogi,
    * Vassilvitskii — "Connected Components in MapReduce and Beyond",
    * ACM SoCC 2014). The SECOND component core in the repo, and the
    * one to reach for on high-diameter graphs: `Dedup
    * .componentLabels`' min-label propagation needs one round per hop
    * of the largest component's eccentricity from its min id — right
    * for near-dup clusters (stars and cliques, diameter ≤ 3), fatal
    * for a 10^6-link chain — while star contraction converges in
    * O(log² n) rounds REGARDLESS of diameter. Each round: large-star
    * hangs every strictly-larger neighbor of u under
    * m(u) = min(N(u) ∪ {u}); small-star re-hangs each node and its
    * smaller neighbors under its minimum parent; at the joint
    * fixpoint the edge set IS a star forest rooted at each
    * component's minimum id.
    *
    * Scale shape per round: one groupBy-min over the symmetric edge
    * frame + one join back — both hash-partitioned on the node id;
    * the edge frame shrinks monotonically toward one edge per
    * non-root node (a hub's fan-out lands on its min in ONE
    * large-star round — no hot task survives round 1). Frames are
    * localCheckpoint'ed per round (lineage cut; on a real cluster
    * prefer a reliable checkpoint dir — localCheckpoint does not
    * survive executor loss). Convergence detection is EXACT set
    * equality on the materialized frames (count match + empty
    * anti-join), not a checksum.
    *
    * @param vertices one-column frame of node ids (isolated nodes
    *   label themselves); @param edges two-column undirected pair
    *   frame, any orientation/duplication. Returns (id, component =
    *   component min id). */
  def connectedComponentsFrom(vertices: DataFrame, edges: DataFrame,
      maxRounds: Int = 25, requireConvergence: Boolean = true): DataFrame = {
    val (stars, _) = starContract(edges, maxRounds, requireConvergence)
    val vid = vertices.columns.head
    // at the star-forest fixpoint each non-root appears exactly once
    // as v; the min() also covers a maxRounds-capped partial forest
    vertices.select(col(vid).as("id"))
      .join(stars.select(col("v").as("id"), col("u").as("root")), Seq("id"), "left")
      .groupBy("id")
      .agg(min(coalesce(col("root"), col("id"))).as("component"))
  }

  /** The contraction loop itself: (canonical star edges u < v, rounds
    * used). Exposed for the round-count spec — diameter independence
    * is the point, so the spec asserts it instead of claiming it. */
  private[graft] def starContract(edges: DataFrame, maxRounds: Int,
      requireConvergence: Boolean): (DataFrame, Int) = {
    var cur = canon(edges.select(col(edges.columns(0)).as("u"),
        col(edges.columns(1)).as("v")))
      .localCheckpoint()
    var curCount = cur.count()
    var converged = curCount == 0L
    var rounds = 0
    while (rounds < maxRounds && !converged) {
      val ss = starRound(cur).localCheckpoint()
      val ssCount = ss.count()
      converged = ssCount == curCount &&
        ss.join(cur, Seq("u", "v"), "left_anti").isEmpty
      cur = ss
      curCount = ssCount
      rounds += 1
    }
    if (!converged) {
      val msg = s"star contraction hit the $maxRounds-round cap without reaching " +
        "the star-forest fixpoint: component labels may be partially collapsed"
      if (requireConvergence) throw new IllegalStateException(msg)
      log.warn(msg)
    }
    (cur, rounds)
  }

  private def canon(df: DataFrame): DataFrame =
    df.select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  /** One large-star + small-star round over a canonical (u < v) edge
    * frame — exposed so the plan lint audits the per-round shape the
    * loop actually runs (two groupBy-mins + two equi-joins, all
    * hash-partitioned on the node id, no cartesian anywhere). */
  private[graft] def starRound(cur: DataFrame): DataFrame = {
    // large-star: (v, m(u)) for every neighbor v > u
    val sym = cur.unionByName(
      cur.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    val ls = canon(sym.join(mins, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v")))
    // small-star on the canonical (parent u < child v) orientation:
    // re-hang each parent and the child under the child's min parent
    val minsP = ls.groupBy("v").agg(min("u").as("m"))
    canon(
      ls.join(minsP, Seq("v")).select(col("u"), col("m").as("v"))
        .unionByName(minsP.select(col("v").as("u"), col("m").as("v"))))
  }

  /** Coreness of every node (the max k such that the node survives
    * k-core peeling) via the ITERATED H-INDEX operator (Lü, Zhou,
    * Zhang, Stanley, "The H-index of a network node and its relation
    * to degree and coreness", Nature Communications 2016): init
    * c(v) = degree, then c'(v) = H-index of the neighbors' current
    * values, which converges monotonically from above to coreness —
    * the decentralized form of k-core decomposition. Classic peeling
    * is inherently SEQUENTIAL (remove min-degree nodes one k at a
    * time — a driver loop over k with a mutating frontier); the
    * h-operator is one bulk-synchronous round per step, the right
    * shape for 100 TB.
    *
    * Per-round plan — NO per-node buffers anywhere: neighbor values
    * cap at the node's own value (H(min(vals, c)) = min(H(vals), c),
    * so the cap changes nothing at the fixpoint but bounds the bucket
    * domain), roll to a (node, value) COUNT histogram — at most
    * min(degree, current c) rows per node, edge-bounded overall —
    * and the H-index is the largest t whose descending cumulative
    * count ≥ t: a partition-local window over the tiny per-node
    * histogram, never a collect_list of neighbors (a 10⁶-degree hub
    * costs 10⁶ histogram ROWS spread across the sort, not a 10⁶-slot
    * aggregation buffer). Values are non-increasing integers bounded
    * below → exact convergence in finitely many rounds, detected by
    * an empty changed-row probe on checkpointed frames.
    *
    * Full SQL since r14: coreness is algorithm-independent and the
    * h-operator is pure integer arithmetic, so [[graphKcoreSql]]
    * replays it as unrolled CTE stages (fixpoint-stable — extra
    * rounds are no-ops). The spec additionally pins planted
    * clique/chain/triangle corenesses and full equivalence with a
    * driver-side exact peel on the sf co-view graph. */
  def corenessFrom(edges: DataFrame, maxRounds: Int = 50,
      requireConvergence: Boolean = true): DataFrame = {
    val e = canon(edges.select(col(edges.columns(0)).as("u"),
        col(edges.columns(1)).as("v")))
      .localCheckpoint()
    val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      .select(col("u").as("node"), col("v").as("nbr"))
    var labels = sym.groupBy("node").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    var rounds = 0
    var converged = labels.isEmpty
    while (rounds < maxRounds && !converged) {
      val next = hIndexRound(sym, labels).localCheckpoint()
      converged = next.filter(col("c") =!= col("prev")).isEmpty
      labels = next.select("node", "c")
      rounds += 1
    }
    if (!converged) {
      val msg = s"h-index iteration hit the $maxRounds-round cap before its " +
        "fixpoint: coreness values may still be above their true core numbers"
      if (requireConvergence) throw new IllegalStateException(msg)
      log.warn(msg)
    }
    labels.withColumnRenamed("c", "coreness")
  }

  /** One h-operator round: (node, c, prev) — exposed so the plan lint
    * audits the loop's real per-round shape (two equi-joins on the
    * node id, a histogram rollup, one per-node window over ≤ c rows). */
  private[graft] def hIndexRound(sym: DataFrame, labels: DataFrame): DataFrame = {
    val hist = sym
      .join(labels.select(col("node").as("nbr"), col("c").as("c_nbr")), Seq("nbr"))
      .join(labels, Seq("node"))
      .select(col("node"), least(col("c_nbr"), col("c")).as("t"))
      .groupBy("node", "t").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("node").orderBy(col("t").desc)
    // h = max over PRESENT t of min(t, cum(t)). The naive "max t with
    // cum(t) >= t" is wrong whenever h falls between present values:
    // capped values [4,4,1,1,1] have h = 2 (two values >= 2) but no
    // present t satisfies cum >= t above t = 1. min(t, cum) at the
    // smallest present t >= h equals exactly h (cum there = cum(h) >= h
    // and <= cum(h+1) <= h when t > h), and every present t yields
    // min(t, cum) <= h, so the max over the histogram is exact.
    val h = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .groupBy("node").agg(max(least(col("t"), col("cum"))).as("h"))
    labels.withColumnRenamed("c", "prev")
      .join(h, Seq("node"), "left")
      .select(col("node"), coalesce(col("h"), lit(0L)).as("c"), col("prev"))
  }

  /** k-core census of the co-view graph: how many products sit at
    * each coreness — the density ladder (max row = the degeneracy).
    * The engagement-core view the component census (connectivity) and
    * triangle census (local density) both miss: a product can be in
    * the giant component with zero triangles yet sit deep in the
    * core. Same gated edge frame as coview_triangles. */
  def graphKcore(spark: SparkSession, dir: String): DataFrame =
    corenessFrom(coviewEdges(spark, dir))
      .groupBy("coreness").agg(count(lit(1)).as("n_products"))
      .orderBy(desc("coreness"))

  /** Degree census of the co-view graph — how many products have each
    * co-view degree. The distribution PRIMITIVE under every other
    * graph readout: the triangle coefficient, the coreness ladder and
    * the component census all change meaning with the degree shape
    * (a heavy power-law tail is why the orientation/histogram tricks
    * exist at all), and a catalog change shows up here first — heads
    * growing (a hub product coupling everything) or the body thinning
    * (browse fragmentation) — before any downstream census moves.
    * Two exchanges total (edges → per-node degree → histogram), both
    * strictly shrinking; full SQL oracle over the same gated edge
    * frame as `coview_triangles`/`graph_components`. */
  def graphDegreeCensus(spark: SparkSession, dir: String): DataFrame = {
    val edges = coviewEdges(spark, dir)
    edges.select(col("a").as("node"))
      .unionByName(edges.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_products"))
      .orderBy(desc("degree"))
  }

  /** DuckDB oracle for [[graphKcore]]: coreness is ALGORITHM-
    * INDEPENDENT (the max k a node survives peeling to is unique),
    * so the oracle replays the same integer h-operator as `rounds`
    * UNROLLED CTE stages — pure integer arithmetic, no float risk —
    * over the shared co-view edge SQL. The iteration is monotone
    * non-increasing and fixpoint-stable, so any `rounds` at or past
    * Spark's convergence round (which [[corenessFrom]] REQUIRES —
    * it throws at the cap) yields the identical fixpoint; extra
    * rounds are no-ops. 32 is ~4× the observed sf fixpoint depth. */
  def graphKcoreSql(rounds: Int = 32): String = {
    val roundCtes = (0 until rounds).map { i =>
      // AS MATERIALIZED: each round reads its predecessor TWICE; an
      // inlining planner would otherwise expand the chain into 2^R
      // scans of the base table (observed as fd exhaustion at R=32)
      s"""c${i + 1} AS MATERIALIZED (
         |  SELECT node, MAX(LEAST(t, cum)) AS c FROM (
         |    SELECT node, t,
         |      CAST(SUM(cnt) OVER (PARTITION BY node ORDER BY t DESC) AS BIGINT) AS cum
         |    FROM (
         |      SELECT s.node, LEAST(cn.c, cs.c) AS t, CAST(COUNT(*) AS BIGINT) AS cnt
         |      FROM sym s JOIN c$i cn ON cn.node = s.nbr JOIN c$i cs ON cs.node = s.node
         |      GROUP BY s.node, LEAST(cn.c, cs.c)
         |    )
         |  ) GROUP BY node
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH up AS (
       |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS event_date,
       |    CAST(json_extract_string(props, '$$.k') AS INT) AS product_k
       |  FROM events
       |  WHERE event_type = 'view' AND json_extract_string(props, '$$.k') IS NOT NULL
       |), eligible AS (
       |  SELECT user_id, event_date FROM up
       |  GROUP BY user_id, event_date
       |  HAVING COUNT(*) BETWEEN 2 AND 50
       |), basket AS (
       |  SELECT up.* FROM up JOIN eligible USING (user_id, event_date)
       |), edges AS (
       |  SELECT DISTINCT x.product_k AS a, y.product_k AS b
       |  FROM basket x JOIN basket y
       |    ON x.user_id = y.user_id AND x.event_date = y.event_date
       |   AND x.product_k < y.product_k
       |), sym AS MATERIALIZED (
       |  SELECT a AS node, b AS nbr FROM edges
       |  UNION ALL SELECT b AS node, a AS nbr FROM edges
       |), c0 AS MATERIALIZED (
       |  SELECT node, CAST(COUNT(*) AS BIGINT) AS c FROM sym GROUP BY node
       |), $roundCtes
       |SELECT c AS coreness, CAST(COUNT(*) AS BIGINT) AS n_products
       |FROM c$rounds GROUP BY c ORDER BY coreness DESC""".stripMargin
  }

  val graphDegreeCensusSql: String =
    """WITH up AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS event_date,
      |    CAST(json_extract_string(props, '$.k') AS INT) AS product_k
      |  FROM events
      |  WHERE event_type = 'view' AND json_extract_string(props, '$.k') IS NOT NULL
      |), eligible AS (
      |  SELECT user_id, event_date FROM up
      |  GROUP BY user_id, event_date
      |  HAVING COUNT(*) BETWEEN 2 AND 50
      |), basket AS (
      |  SELECT up.* FROM up JOIN eligible USING (user_id, event_date)
      |), edges AS (
      |  SELECT DISTINCT x.product_k AS a, y.product_k AS b
      |  FROM basket x JOIN basket y
      |    ON x.user_id = y.user_id AND x.event_date = y.event_date
      |   AND x.product_k < y.product_k
      |), deg AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
      |    SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges
      |  ) GROUP BY node
      |)
      |SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_products
      |FROM deg GROUP BY degree ORDER BY degree DESC""".stripMargin

  /** Degree assortativity of the co-view graph — the Pearson
    * correlation of degrees across edge endpoints (Newman 2002): do
    * hub products co-view with hubs (r > 0, a clustered "popular
    * core") or with the long tail (r < 0, hub-and-spoke browsing)?
    * The ONE-number mixing summary the degree census can't express
    * (two graphs with identical degree histograms can sit at opposite
    * ends of r), and the early detector for recommendation feedback
    * loops — a recommender that routes all tail traffic through a few
    * hub products drives r down before the census shape moves.
    *
    * Scale shape: degree frame (two strictly-shrinking exchanges),
    * two node-keyed dim joins onto the symmetrized edge list, ONE
    * 1-row global aggregate — no window, no sort. Exact
    * decimal(38,0) sums of integer degrees through the shuffle; the
    * Pearson r is then a FIXED scalar chain over the exact sums in
    * MEAN form, r = (E[xy] − E[x]²)/(E[x²] − E[x]²) (symmetrized
    * marginals are equal, so Σy-terms collapse) — mean form keeps
    * every intermediate within double range at 10⁹-node scale, where
    * the textbook m·Σxy − (Σx)² products would overflow even
    * decimal(38). Identical op order in the DuckDB oracle → hashes
    * bit-identically; a regular graph (zero degree variance)
    * degenerates to NULL by guard in both engines. */
  def graphAssortativity(spark: SparkSession, dir: String): DataFrame =
    assortativityFrom(coviewEdges(spark, dir))

  def assortativityFrom(edges: DataFrame): DataFrame = {
    val ed = edges.localCheckpoint() // feeds degrees AND the doubled edge list
    val deg = ed.select(col("a").as("node"))
      .unionByName(ed.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val both = ed.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(ed.select(col("b").as("src"), col("a").as("dst")))
    val xy = both
      .join(deg.select(col("node").as("src"),
        col("degree").cast("decimal(19,0)").as("x")), Seq("src"))
      .join(deg.select(col("node").as("dst"),
        col("degree").cast("decimal(19,0)").as("y")), Seq("dst"))
    val m = col("m").cast("double")
    val mx = col("sx").cast("double") / m
    val exy = col("sxy").cast("double") / m
    val exx = col("sxx").cast("double") / m
    xy.agg(
        count(lit(1)).as("m"), // directed count = 2|E|
        sum(col("x")).as("sx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(
        (col("m") / lit(2)).cast("long").as("n_edges"),
        mx.as("mean_degree"),
        when(exx - mx * mx =!= lit(0.0),
          (exy - mx * mx) / (exx - mx * mx)).as("assortativity"))
  }

  val graphAssortativitySql: String =
    """WITH up AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS event_date,
      |    CAST(json_extract_string(props, '$.k') AS INT) AS product_k
      |  FROM events
      |  WHERE event_type = 'view' AND json_extract_string(props, '$.k') IS NOT NULL
      |), eligible AS (
      |  SELECT user_id, event_date FROM up
      |  GROUP BY user_id, event_date
      |  HAVING COUNT(*) BETWEEN 2 AND 50
      |), basket AS (
      |  SELECT up.* FROM up JOIN eligible USING (user_id, event_date)
      |), edges AS (
      |  SELECT DISTINCT x.product_k AS a, y.product_k AS b
      |  FROM basket x JOIN basket y
      |    ON x.user_id = y.user_id AND x.event_date = y.event_date
      |   AND x.product_k < y.product_k
      |), deg AS (
      |  SELECT node, CAST(COUNT(*) AS DECIMAL(19,0)) AS degree FROM (
      |    SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges
      |  ) GROUP BY node
      |), both_dir AS (
      |  SELECT a AS src, b AS dst FROM edges
      |  UNION ALL SELECT b AS src, a AS dst FROM edges
      |), s AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS m,
      |    SUM(dx.degree) AS sx,
      |    SUM(dx.degree * dy.degree) AS sxy,
      |    SUM(dx.degree * dx.degree) AS sxx
      |  FROM both_dir e
      |  JOIN deg dx ON e.src = dx.node
      |  JOIN deg dy ON e.dst = dy.node
      |)
      |SELECT CAST(m / 2 AS BIGINT) AS n_edges,
      |  CAST(sx AS DOUBLE) / CAST(m AS DOUBLE) AS mean_degree,
      |  CASE WHEN CAST(sxx AS DOUBLE) / CAST(m AS DOUBLE)
      |         - (CAST(sx AS DOUBLE) / CAST(m AS DOUBLE))
      |           * (CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)) <> 0.0
      |    THEN (CAST(sxy AS DOUBLE) / CAST(m AS DOUBLE)
      |            - (CAST(sx AS DOUBLE) / CAST(m AS DOUBLE))
      |              * (CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)))
      |         / (CAST(sxx AS DOUBLE) / CAST(m AS DOUBLE)
      |            - (CAST(sx AS DOUBLE) / CAST(m AS DOUBLE))
      |              * (CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)))
      |  END AS assortativity
      |FROM s""".stripMargin

  /** Component-size census of the co-view graph — how many components
    * of each size, over the SAME gated edge frame as
    * `coview_triangles`. One giant component = healthy browse graph;
    * a shattered census = catalog silos (or an over-aggressive basket
    * gate). The one graph query with a FULL oracle: at sf0.01 DuckDB
    * rebuilds the exact census with a recursive-CTE transitive
    * closure (Σ size² label pairs — fine at oracle scale, which is
    * the only place the oracle runs; the Spark path stays
    * O(E · log² n) for 100 TB). */
  def graphComponents(spark: SparkSession, dir: String): DataFrame = {
    val edges = coviewEdges(spark, dir)
    val vertices = edges.select(col("a").as("id"))
      .unionByName(edges.select(col("b").as("id"))).distinct()
    connectedComponentsFrom(vertices, edges)
      .groupBy("component").agg(count(lit(1)).as("component_size"))
      .groupBy("component_size").agg(count(lit(1)).as("n_components"))
      .orderBy(desc("component_size"))
  }

  val graphComponentsSql: String =
    """WITH RECURSIVE up AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS event_date,
      |    CAST(json_extract_string(props, '$.k') AS INT) AS product_k
      |  FROM events
      |  WHERE event_type = 'view' AND json_extract_string(props, '$.k') IS NOT NULL
      |), eligible AS (
      |  SELECT user_id, event_date FROM up
      |  GROUP BY user_id, event_date
      |  HAVING COUNT(*) BETWEEN 2 AND 50
      |), basket AS (
      |  SELECT up.* FROM up JOIN eligible USING (user_id, event_date)
      |), edges AS (
      |  SELECT DISTINCT x.product_k AS a, y.product_k AS b
      |  FROM basket x JOIN basket y
      |    ON x.user_id = y.user_id AND x.event_date = y.event_date
      |   AND x.product_k < y.product_k
      |), sym AS (
      |  SELECT a AS u, b AS v FROM edges UNION ALL SELECT b AS u, a AS v FROM edges
      |), nodes AS (
      |  SELECT DISTINCT u AS node FROM sym
      |), reach AS (
      |  SELECT node, node AS lbl FROM nodes
      |  UNION
      |  SELECT s.v AS node, r.lbl FROM reach r JOIN sym s ON s.u = r.node
      |), lab AS (
      |  SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
      |), sizes AS (
      |  SELECT component, CAST(COUNT(*) AS BIGINT) AS component_size
      |  FROM lab GROUP BY component
      |)
      |SELECT component_size, CAST(COUNT(*) AS BIGINT) AS n_components
      |FROM sizes GROUP BY component_size
      |ORDER BY component_size DESC""".stripMargin
}
