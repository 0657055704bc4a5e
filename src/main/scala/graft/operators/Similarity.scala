package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Similarity search over the `embeddings` table (SURVEY.md §2D):
  * brute-force cosine top-k as the exact baseline, random-hyperplane
  * LSH bucketing as the scale path, and cosine near-dup pairs.
  *
  * Scale design: the brute-force path BROADCASTS the (small) query set
  * against the candidate corpus — one pass over the big side, no
  * shuffle until the per-query top-k (which shuffles only k rows per
  * query after a partial top-k). The LSH path buckets both sides by
  * signature so only same-bucket pairs are scored. Norms are
  * precomputed once per side, never per pair.
  */
object Similarity {

  /** Exact brute-force top-k neighbors for each query vector
    * (query set = vec_id < numQueries, broadcast). Deterministic
    * ranking: similarity is rounded to 6 dp before ordering and ties
    * break on vec_id. */
  def bruteForceTopK(spark: SparkSession, dir: String, numQueries: Int = 10, k: Int = 5): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(spark)
    val e = Tables.embeddings(spark, dir)
    val queries = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // repartition: the corpus may arrive as one split; every candidate
    // row scores against all broadcast queries, so spread that work
    val candidates = e.filter(col("vec_id") >= numQueries)
      .repartition(spark.sessionState.conf.numShufflePartitions, col("vec_id"))
      .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
    // native codegen'd expression — single fused loop per pair
    val sim = round(expr("cosine_sim(q_emb, c_emb)"), 6)
    val w = Window.partitionBy("query_id").orderBy(desc("similarity"), asc("cand_id"))
    candidates.join(broadcast(queries))
      .select(col("query_id"), col("cand_id"), sim.as("similarity"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** Hard-negative mining for contrastive/embedding training: for
    * each query vector, the top-k most-similar candidates whose LABEL
    * differs from the query's — the near-miss examples a triplet/
    * InfoNCE loss learns the most from (easy negatives are already
    * far; same-label hits are positives, not negatives). Same
    * broadcast-query + partial-top-k plan as bruteForceTopK with the
    * label-inequality predicate fused into the join; at corpus-×-
    * corpus scale swap in the LSH/IVF blocking exactly as the ANN
    * ladder does. Deterministic: similarity rounded to 6 dp, ties on
    * cand_id. */
  def hardNegatives(spark: SparkSession, dir: String, numQueries: Int = 10,
                    k: Int = 5): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(spark)
    val e = Tables.embeddings(spark, dir)
    val queries = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val candidates = e.filter(col("vec_id") >= numQueries)
      .repartition(spark.sessionState.conf.numShufflePartitions, col("vec_id"))
      .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
        col("label").as("c_label"))
    val sim = round(expr("cosine_sim(q_emb, c_emb)"), 6)
    val w = Window.partitionBy("query_id").orderBy(desc("similarity"), asc("cand_id"))
    candidates.join(broadcast(queries), col("c_label") =!= col("q_label"))
      .select(col("query_id"), col("cand_id"), col("c_label").as("neg_label"),
        sim.as("similarity"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** LSH tables × hyperplanes per table: multiple independent tables
    * trade compute for recall (a true neighbor only needs to collide in
    * ONE table). 6 tables × 6 bits → 64 buckets/table. */
  val NumTables: Int = graft.functions.HyperplaneBands.NumTables
  val PlanesPerTable: Int = graft.functions.HyperplaneBands.PlanesPerTable

  /** (table_idx, bucket) LSH band keys, one output row per table, via
    * the fused native expression (functions.HyperplaneBands): ONE pass
    * over the vector feeds every tables×planes accumulator, where the
    * composable HOF form walked the embedding once per plane (36
    * traversals with a lambda application per element, per row).
    * Shared by `lshTopK` (ANN) and `cosineNearDup` (near-dup
    * blocking). */
  private def bandKeyed(df: DataFrame, idAs: String, embAs: String): DataFrame =
    df.select(col("vec_id").as(idAs), col("embedding").as(embAs),
      posexplode(call_function("hyperplane_bands", col("embedding")))
        .as(Seq("table_idx", "bucket")))

  /** Random-hyperplane LSH ANN: each side gets one sign-bit signature
    * per table; candidate pairs are scored only when they collide in
    * some table. This is the scale path when the query set is also
    * huge (cannot broadcast): the join key is (table_idx, bucket), so
    * the shuffle carries each row NumTables times instead of
    * enumerating all pairs. */
  def lshTopK(spark: SparkSession, dir: String, numQueries: Int = 10, k: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val e = Tables.embeddings(spark, dir)
    val queries = bandKeyed(e.filter(col("vec_id") < numQueries), "query_id", "q_emb")
    val candidates = bandKeyed(e.filter(col("vec_id") >= numQueries), "cand_id", "c_emb")
    val sim = round(expr("cosine_sim(q_emb, c_emb)"), 6)
    val w = Window.partitionBy("query_id").orderBy(desc("similarity"), asc("cand_id"))
    candidates.join(broadcast(queries), Seq("table_idx", "bucket"))
      .select(col("query_id"), col("cand_id"), sim.as("similarity"))
      .distinct() // a pair may collide in several tables
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** Per-label embedding centroids — the vector aggregation every
    * IVF-style ANN index build and cluster-dedup pass needs. Spark has
    * no native vector-sum aggregate, so the idiomatic distributed plan
    * is posexplode → (label, dim) grouped sum → re-assemble ordered by
    * dim. Two shuffles, both map-side combined; component sums are
    * decimal so the result is bit-identical to the oracle regardless
    * of partial-aggregation order. */
  private def componentMeans(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
    // Components are quantized to 1e-7 (integer units) before summing:
    // float→decimal casts are NOT identical across engines (Spark casts
    // via the float's shortest decimal form), but float→double widening,
    // a double multiply, and away-from-zero rounding are — so the
    // integer sum is exact and order-independent on both sides.
    e.groupBy(col("label"), col("dim"))
      .agg((sum(round(col("x").cast("double") * lit(1e7)).cast("bigint")).cast("double") /
            (count(lit(1)) * lit(1e7))).as("c"))
  }

  /** Long-format centroids (label, dim, c) — the driver-comparable
    * shape (array columns crash the harness's pandas compare). */
  def embeddingCentroidsLong(spark: SparkSession, dir: String): DataFrame =
    componentMeans(spark, dir)
      .select(col("label"), col("dim"), col("c"))
      .orderBy("label", "dim")

  def embeddingCentroids(spark: SparkSession, dir: String): DataFrame = {
    componentMeans(spark, dir)
      .groupBy(col("label"))
      .agg(
        transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          s => s.getField("c")).as("centroid"),
        max(col("dim") + 1).cast("bigint").as("dim_count"))
      .select(col("label"), col("centroid"), col("dim_count"))
      .orderBy("label")
  }

  val embeddingCentroidsSql: String =
    """WITH comps AS (
      |  SELECT label, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim, unnest(embedding) AS x
      |  FROM embeddings
      |)
      |SELECT label, dim,
      |  CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS DOUBLE)
      |    / (COUNT(*) * 10000000) AS c
      |FROM comps GROUP BY label, dim
      |ORDER BY label, dim""".stripMargin

  /** Coarse-quantizer index metadata: the trained centroids, collected
    * to the driver as nlist (cell_id, vector) pairs. nlist is small by
    * construction (10s-1000s of cells for billions of rows), so this is
    * the one legitimate driver materialization in the IVF family — the
    * moral equivalent of broadcasting the index, except embedding it as
    * a LITERAL lets cell assignment run as a narrow projection with no
    * join, no window, and no shuffle at all. */
  private[operators] def collectCentroids(cents: DataFrame): Seq[(Int, Array[Float])] =
    cents.collect().toSeq.map { r =>
      r.getInt(r.fieldIndex("cell")) ->
        r.getSeq[Double](r.fieldIndex("c_vec")).map(_.toFloat).toArray
    }

  /** `probes` nearest cells of `emb` as an array column — a NARROW map:
    * per row, score the literal centroid array in one projection
    * (fused `cosine_sim` per cell), order by (sim desc, cell asc) via
    * struct sort on (neg_sim, cell), keep the first `probes`. Zero
    * exchanges between the embeddings scan and whatever consumes the
    * cell ids. */
  /** Cell assignment: `probes` nearest centroids by cosine, ordered
    * ascending (−cos, cell id). Native since r13 — the HOF form
    * (literal struct array + array_sort + slice) allocated and sorted
    * nlist scored structs PER ROW, measured at 53 s quantizer / 51 s
    * graph for (200k rows, nlist=1000) on the --ann-deep axis;
    * `nearest_cells` binds the centroid matrix once and runs a
    * zero-allocation probes-pass argmin, bit-identical output
    * (parity spec incl. ties and zero-norm cells). Callers must have
    * run GraftFunctions.ensureRegistered (they all do — analysis
    * fails loudly otherwise). */
  private[graft] def nearestCellsCol(emb: org.apache.spark.sql.Column,
      cents: Seq[(Int, Array[Float])], probes: Int): org.apache.spark.sql.Column =
    call_function("nearest_cells", emb,
      typedlit(cents.flatMap(_._2.toSeq)), typedlit(cents.map(_._1)),
      lit(probes))

  /** The pre-r13 HOF formulation, kept as the parity spec's
    * independent reference implementation of the ordering contract. */
  private[graft] def nearestCellsColHof(emb: org.apache.spark.sql.Column,
      cents: Seq[(Int, Array[Float])], probes: Int): org.apache.spark.sql.Column = {
    val centArr = array(cents.map { case (cell, vec) =>
      struct(lit(cell).as("cell"), array(vec.toSeq.map(lit(_)): _*).as("vec"))
    }: _*)
    val scored = transform(centArr, c => struct(
      (-call_function("cosine_sim", emb, c.getField("vec"))).as("neg_sim"),
      c.getField("cell").as("cell")))
    transform(slice(array_sort(scored), 1, probes), s => s.getField("cell"))
  }

  /** IVF-style ANN: a coarse quantizer (the per-label centroids — see
    * `kmeansCentroids` for the trained variant) partitions the corpus
    * into cells; each candidate is indexed under its nearest centroid,
    * each query probes its `nProbe` nearest cells, and exact scoring
    * happens only inside probed cells. This is the second scale path
    * next to `lshTopK`: cell assignment is a narrow projection against
    * the literal centroid array (`nearestCellsCol` — no exchange
    * between the embeddings scan and the probe join), the probe join
    * broadcasts the query side, and recall is tuned with nProbe
    * instead of re-indexing. At 100 TB the scan's own input splits
    * carry the parallelism — nothing here repartitions. */
  def ivfTopK(spark: SparkSession, dir: String, numQueries: Int = 10, k: Int = 5,
              nProbe: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val cents = collectCentroids(
      embeddingCentroids(spark, dir)
        .select(col("label").as("cell"), col("centroid").as("c_vec")))
    ivfTopKWith(spark, dir, cents, numQueries, k, nProbe)
  }

  private[graft] def ivfTopKWith(spark: SparkSession, dir: String,
      cents: Seq[(Int, Array[Float])], numQueries: Int, k: Int, nProbe: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val e = Tables.embeddings(spark, dir)
    val candidates = e.filter(col("vec_id") >= numQueries)
      .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
        explode(nearestCellsCol(col("embedding"), cents, 1)).as("cell"))
    val queries = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(nearestCellsCol(col("embedding"), cents, nProbe)).as("cell"))
    val sim = round(expr("cosine_sim(q_emb, c_emb)"), 6)
    val w = Window.partitionBy("query_id").orderBy(desc("similarity"), asc("cand_id"))
    candidates.join(broadcast(queries), "cell")
      .select(col("query_id"), col("cand_id"), sim.as("similarity"))
      .distinct() // a pair may meet in several probed cells
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** FILTERED vector search — top-k under a metadata predicate (the
    * production vector-DB feature every retrieval stack ships: "top-k
    * among label = L"; here the query's own label plays the filter,
    * the deterministic in-corpus stand-in for an arbitrary metadata
    * predicate). The filter is applied to the candidate side BEFORE
    * scoring — a predicate pushed below the probe join, not a
    * post-filter over-fetch that silently returns < k when the
    * filter is selective. The standard caveat rides the operator:
    * a selective filter empties probed cells, so filtered recall at
    * fixed nProbe is LOWER than unfiltered — the nProbe dial (read
    * `ann_recall_curve`) matters more, and at full probe the result
    * is exactly the brute-filtered answer (spec-pinned).
    *
    * Scale shape: identical to `ivfTopK` (queries broadcast, cells
    * equi-joined, per-query top-k windows over probed-cell members
    * only) with one more pushed conjunct on the candidate scan. */
  def ivfFilteredTopK(spark: SparkSession, dir: String, numQueries: Int = 10,
      k: Int = 5, nProbe: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val cents = collectCentroids(
      embeddingCentroids(spark, dir)
        .select(col("label").as("cell"), col("centroid").as("c_vec")))
    val e = Tables.embeddings(spark, dir)
    val candidates = e.filter(col("vec_id") >= numQueries)
      .select(col("vec_id").as("cand_id"), col("label").as("c_label"),
        col("embedding").as("c_emb"),
        explode(nearestCellsCol(col("embedding"), cents, 1)).as("cell"))
    val queries = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("label").as("filter_label"),
        col("embedding").as("q_emb"),
        explode(nearestCellsCol(col("embedding"), cents, nProbe)).as("cell"))
    val sim = round(expr("cosine_sim(q_emb, c_emb)"), 6)
    val w = Window.partitionBy("query_id").orderBy(desc("similarity"), asc("cand_id"))
    candidates.join(broadcast(queries), Seq("cell"))
      .filter(col("c_label") === col("filter_label")) // before scoring
      .select(col("query_id"), col("filter_label"), col("cand_id"),
        sim.as("similarity"))
      .distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** K-means-trained IVF coarse quantizer (a few seeded Lloyd
    * iterations) executed as DataFrame aggregates — the trained
    * replacement for the label-cell quantizer, which on real corpora
    * has no geometric meaning. Per iteration: assign every vector to
    * its nearest current centroid in a NARROW projection
    * (`nearestCellsCol`, no shuffle), then recompute component means
    * with the posexplode grouped-sum plan (map-side combined,
    * quantized integer sums for run-to-run determinism). Only the
    * nlist centroid vectors cross the driver between iterations — the
    * same index metadata `ivfTopKWith` embeds as a literal; empty
    * cells keep their previous centroid. */
  // ---- shared trained-quantizer memo ----
  // Nine registry queries (ivf_kmeans, pq/ivfpq, semdedup, knn graph/
  // classify, topic mix, topic-balanced sampling, recall curve) train
  // the SAME k-means quantizer at registry defaults; training is
  // bit-deterministic (hash-ordered seeding, per-dim sums as rounded
  // bigints — order-independent exact aggregates), so per-query
  // retraining in one session is pure waste. The value is a
  // driver-side Seq (no checkpointed frame). `kmeansCentroidsFrom`
  // (arbitrary frames) stays uncached.
  private[graft] val kmeansMemo =
    new graft.Caches.Memo[Seq[(Int, Array[Float])]](16, _ => Nil)

  def kmeansCentroids(spark: SparkSession, dir: String, nlist: Int = 10,
                      iters: Int = 3): Seq[(Int, Array[Float])] = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    kmeansMemo(graft.Caches.dirKey(spark,
      dir +: e.inputFiles.sorted :+ s"nlist=$nlist" :+ s"iters=$iters")) {
      kmeansCentroidsFrom(e, nlist, iters)
    }
  }

  private[graft] def kmeansCentroidsFrom(e0: DataFrame, nlist: Int,
                                         iters: Int): Seq[(Int, Array[Float])] = {
    graft.functions.GraftFunctions.ensureRegistered(e0.sparkSession)
    // every Lloyd iteration re-reads the corpus projection — persist it
    // once for the training loop (at scale this cache is what makes an
    // iterative index build tolerable at all)
    val e = e0.select(col("vec_id"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // deterministic seeding: the nlist smallest-hashed rows (a
      // uniform sample — can seed two near-twins as separate cells).
      // Gonzalez k-center seeds left cohesion unchanged (±0.1 % at
      // sf0.1 and 10×) and only evened cell occupancy (1.14 → 1.05),
      // so hash seeding keeps every persisted index byte-identical.
      var cents: Seq[(Int, Array[Float])] = e
        .withColumn("h", xxhash64(col("vec_id")))
        .orderBy("h", "vec_id").limit(nlist)
        .collect().toSeq.zipWithIndex.map { case (r, i) =>
          i -> r.getSeq[Float](r.fieldIndex("embedding")).toArray }
      var it = 0
      while (it < iters) {
        val means = e
          .select(explode(nearestCellsCol(col("embedding"), cents, 1)).as("cell"),
            col("embedding"))
          .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .groupBy(col("cell"), col("dim"))
          .agg((sum(round(col("x").cast("double") * lit(1e7)).cast("bigint")).cast("double") /
                (count(lit(1)) * lit(1e7))).as("c"))
          .groupBy(col("cell"))
          .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
            s => s.getField("c")).as("centroid"))
          .collect().toSeq.map(r => r.getInt(r.fieldIndex("cell")) ->
            r.getSeq[Double](r.fieldIndex("centroid")).map(_.toFloat).toArray).toMap
        cents = cents.map { case (i, old) => i -> means.getOrElse(i, old) }
        it += 1
      }
      cents
    } finally {
      e.unpersist()
      ()
    }
  }

  /** IVF ANN over the k-means quantizer — same probe plan as
    * `ivfTopK`, better cells (label cells carry no geometry; Lloyd
    * cells are Voronoi regions, so true neighbors co-locate). */
  def ivfTopKKmeans(spark: SparkSession, dir: String, numQueries: Int = 10,
                    k: Int = 5, nProbe: Int = 2, nlist: Int = 10,
                    iters: Int = 3): DataFrame =
    ivfTopKWith(spark, dir, kmeansCentroids(spark, dir, nlist, iters),
      numQueries, k, nProbe)

  /** Int8 scalar quantization of embeddings — the compression step a
    * billion-vector ANN index needs (4 bytes/dim float → 1 byte/dim).
    * Per-vector min/max scaling: q = floor((x - min)/(max - min)·255),
    * clamped to 255 at the top edge; a constant vector quantizes to 0.
    * A pure NARROW map — min/max come from the same row's array before
    * the posexplode, so there is no shuffle at all and the op scales
    * with the scan. Output is long-format (vec_id, dim, q) for the
    * driver compare; floor (not round) keeps the bucket function
    * identical across engines' rounding modes. */
  /** Second-moment frame for PCA: ONE pass over the corpus emitting,
    * per row, the upper-triangular products (i, j, xi·xj) AND the
    * first moments as (i, -1, xi) — D(D+3)/2 tiny structs per row —
    * then one map-side-combined shuffle to (i, j) grain. The shuffle
    * payload is only (D(D+3)/2) × partitions rows regardless of corpus
    * size, which is what makes a driver-side covariance assembly
    * viable at 100 TB. */
  private def momentSums(spark: SparkSession, dir: String): (Long, Array[Double], Map[(Int, Int), Double]) = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // one fused native pass builds the D(D+3)/2 moment vector per row
    // (graft.functions.PcaMoments), reduced by the fixed-state vec_sum
    // aggregate (graft.functions.VecSumAgg): one array-add per row on
    // the map side, ONE moment vector per partition through the
    // shuffle. The previous posexplode + groupBy(pos) form multiplied
    // every corpus row ×D(D+3)/2 before the partial aggregate — ~70M
    // exploded rows at sf0.1, measured 3.4× slower end-to-end.
    // vec_sum fails loudly on ragged vectors, which subsumes the old
    // per-position count-equality guard against silently wrong
    // covariance from ragged embedding columns.
    val row = Tables.embeddings(spark, dir)
      .agg(
        call_function("vec_sum", call_function("pca_moments", col("embedding"))).as("s"),
        count(col("embedding")).as("cnt"))
      .collect()(0)
    require(!row.isNullAt(0), "empty embeddings table — nothing to decompose")
    val n = row.getAs[Long]("cnt")
    val moments = row.getSeq[Double](0).toArray
    val total = moments.length
    // total = dim + dim(dim+1)/2 → dim = (−3 + √(9+8·total))/2
    val dim = ((math.sqrt(9.0 + 8.0 * total) - 3.0) / 2.0).round.toInt
    require(dim + dim * (dim + 1) / 2 == total, s"non-triangular moment count $total")
    val sums = Array.tabulate(dim)(moments(_))
    val prods = scala.collection.mutable.Map.empty[(Int, Int), Double]
    var idx = dim
    for (i <- 0 until dim; j <- i until dim) {
      prods((i, j)) = moments(idx)
      idx += 1
    }
    (n, sums, prods.toMap)
  }

  /** Cyclic Jacobi eigendecomposition of a small symmetric matrix
    * (classic textbook routine — Golub & Van Loan §8.5). Returns
    * (eigenvalues, eigenvectors as columns), unsorted. Only ever runs
    * on the driver over the D×D covariance (D = embedding dim). */
  private[operators] def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val m = a0.map(_.clone)
    val v = Array.tabulate(n, n)((r, c) => if (r == c) 1.0 else 0.0)
    def offNorm: Double = {
      var s = 0.0
      var p = 0
      while (p < n) { var q = p + 1; while (q < n) { s += m(p)(q) * m(p)(q); q += 1 }; p += 1 }
      s
    }
    var sweep = 0
    while (sweep < 60 && offNorm > 1e-20) {
      var p = 0
      while (p < n) {
        var q = p + 1
        while (q < n) {
          if (math.abs(m(p)(q)) > 1e-18) {
            val theta = (m(q)(q) - m(p)(p)) / (2.0 * m(p)(q))
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < n) { // column rotation: M ← M·G
              val akp = m(k)(p); val akq = m(k)(q)
              m(k)(p) = c * akp - s * akq
              m(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) { // row rotation: M ← Gᵀ·M
              val apk = m(p)(k); val aqk = m(q)(k)
              m(p)(k) = c * apk - s * aqk
              m(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < n) { // accumulate eigenvectors: V ← V·G
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => m(i)(i)), v)
  }

  /** Top-k PCA basis of the embedding corpus: (component index,
    * eigenvalue, eigenvector), eigenvalues descending, each vector
    * sign-normalized (largest-|entry| positive) for determinism.
    * Covariance = (Σxᵢxⱼ − ΣxᵢΣxⱼ/n)/(n−1) from the one-pass moment
    * sums; the eigensolve is driver-side over the D×D matrix. */
  def pcaBasis(spark: SparkSession, dir: String, k: Int = 4): Seq[(Int, Double, Array[Double])] =
    basisFrom(momentSums(spark, dir), k)

  private def basisFrom(moments: (Long, Array[Double], Map[(Int, Int), Double]),
                        k: Int): Seq[(Int, Double, Array[Double])] = {
    val (n, sums, prods) = moments
    val dim = sums.length
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      val (lo, hi) = if (i <= j) (i, j) else (j, i)
      (prods((lo, hi)) - sums(i) * sums(j) / n) / (n - 1.0)
    }
    val (eig, vecs) = jacobiEigen(cov)
    (0 until dim)
      .sortBy(c => (-eig(c), c))
      .take(k).zipWithIndex
      .map { case (c, rank) =>
        val vec = Array.tabulate(dim)(r => vecs(r)(c))
        val maxAbsIdx = vec.indices.maxBy(i => math.abs(vec(i)))
        val signed = if (vec(maxAbsIdx) < 0) vec.map(-_) else vec
        (rank, eig(c), signed)
      }
  }

  /** PCA projection of every embedding onto the top-k principal
    * components, long format (vec_id, component, value) — the
    * dimensionality-reduction front-end for ANN/clustering at scale.
    * The projection itself is a NARROW map: k dot products against
    * eigenvector literals; centering folds into a per-component scalar
    * offset (Σ μ·c), so the mean vector never ships with the rows.
    * Rows-only oracle (iterative eigensolve has no SQL form);
    * ScalaTest pins orthonormality, eigenvalue ordering, and
    * projected-variance ≈ eigenvalue. */
  def embeddingPca(spark: SparkSession, dir: String, k: Int = 4): DataFrame = {
    val moments @ (n, sums, _) = momentSums(spark, dir)
    val basis = basisFrom(moments, k)
    val means = sums.map(_ / n)
    val projections = array(basis.map { case (rank, _, vec) =>
      val offset = vec.zip(means).map { case (c, mu) => c * mu }.sum
      struct(lit(rank).as("component"),
        (graft.functions.VectorFunctions.dot(col("embedding"),
          array(vec.toIndexedSeq.map(lit(_)): _*)) - lit(offset)).as("value"))
    }: _*)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), explode(projections).as("p"))
      .select(col("vec_id"), col("p.component"), col("p.value"))
      .orderBy("vec_id", "component")
  }

  /** Whitened PCA projection — embeddingPca's components divided by
    * √eigenvalue, so the output space has (approximately) unit
    * variance per component and zero cross-covariance: the
    * normalization ANN distance metrics and linear probes want when
    * raw components differ by orders of magnitude. Same plan as
    * embeddingPca (one fixed-state moment pass + a narrow projection
    * against literals); whitening is a per-component scalar baked
    * into the projection literals, zero added plan cost. Fails
    * loudly on a near-zero-variance component (whitening would
    * divide by ~0 and amplify noise unboundedly). */
  def embeddingPcaWhitened(spark: SparkSession, dir: String, k: Int = 4): DataFrame = {
    val moments @ (n, sums, _) = momentSums(spark, dir)
    val basis = basisFrom(moments, k)
    val means = sums.map(_ / n)
    val projections = array(basis.map { case (rank, eig, vec) =>
      require(eig > 1e-9, s"component $rank variance $eig too small to whiten")
      val offset = vec.zip(means).map { case (c, mu) => c * mu }.sum
      val scale = 1.0 / math.sqrt(eig)
      struct(lit(rank).as("component"),
        ((graft.functions.VectorFunctions.dot(col("embedding"),
          array(vec.toIndexedSeq.map(lit(_)): _*)) - lit(offset)) * lit(scale))
          .as("value"))
    }: _*)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), explode(projections).as("p"))
      .select(col("vec_id"), col("p.component"), col("p.value"))
      .orderBy("vec_id", "component")
  }

  def embeddingQuantize(spark: SparkSession, dir: String): DataFrame = {
    val vmin = array_min(col("embedding")).cast("double")
    val vmax = array_max(col("embedding")).cast("double")
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), vmin.as("vmin"), vmax.as("vmax"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"),
        when(col("vmax") === col("vmin"), lit(0))
          .otherwise(least(lit(255L),
            floor((col("x").cast("double") - col("vmin")) /
                  (col("vmax") - col("vmin")) * lit(255))))
          .cast("int").as("q"))
      .orderBy("vec_id", "dim")
  }

  val embeddingQuantizeSql: String =
    """SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
      |  CAST(CASE WHEN list_max(embedding) = list_min(embedding) THEN 0
      |    ELSE LEAST(255, FLOOR(
      |      (CAST(unnest(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE))
      |        / (CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) * 255))
      |    END AS INT) AS q
      |FROM embeddings ORDER BY vec_id, dim""".stripMargin

  /** Cosine near-duplicate pairs (embedding-space dedup). The block
    * key is a random-hyperplane LSH band (table_idx, bucket) — the same
    * hyperplanes as `lshTopK` — so a pair is scored only when it
    * collides in some table; exact cosine is the in-bucket verifier and
    * `distinct` collapses multi-table collisions.
    *
    * Scale design: no whole-corpus broadcast and no low-cardinality
    * block shuffle — the join shuffles on NumTables × 2^PlanesPerTable
    * band keys and carries each row NumTables times, the same invariant
    * as `Dedup.minhashLsh`. Recall vs bucket size trades with
    * PlanesPerTable: at larger corpora add planes so per-bucket pair
    * counts stay bounded (expected bucket size halves per added
    * plane). */
  def cosineNearDup(spark: SparkSession, dir: String, threshold: Double = 0.4,
                    maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    cosineNearDupFrom(Tables.embeddings(spark, dir), threshold, maxBucket)
  }

  /** Dropped-bucket report for `cosineNearDup` at the same maxBucket
    * (see Dedup.droppedBuckets — non-zero means the skew guard cost
    * recall in degenerate buckets). */
  def cosineDroppedBuckets(spark: SparkSession, dir: String,
                           maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    Dedup.droppedBuckets(
      bandKeyed(Tables.embeddings(spark, dir), "vec_id", "embedding"),
      Seq("table_idx", "bucket"), maxBucket)
  }

  /** DataFrame-input core of `cosineNearDup` — input needs (vec_id,
    * embedding). Recall is threshold-dependent by LSH nature: true
    * near-duplicates (sim → 1) collide in some table with probability
    * → 1, while barely-over-threshold pairs are the hard case — which
    * is the correct trade for dedup, where the verifier must never
    * pass a false positive but a borderline near-miss is harmless. */
  private[graft] def cosineNearDupFrom(e: DataFrame, threshold: Double,
                                       maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val banded = bandKeyed(e
      // spread the band-key projection and the per-bucket pair scoring
      // across tasks even when the local input is a single split
      .repartition(e.sparkSession.sessionState.conf.numShufflePartitions, col("vec_id")),
      "vec_id", "embedding")
    // grouped-bucket index-pair enumeration (see Dedup.minhashLsh):
    // band keys are computed once and shuffled once; pairs come from
    // tiny (i, j) index structs with the embedding payloads
    // dereferenced from the member list only at projection time, and
    // the maxBucket skew guard bounds degenerate buckets. Exact fused
    // cosine verifies each pair.
    val x = expr("element_at(members, p.i)")
    val y = expr("element_at(members, p.j)")
    val sim = round(call_function("cosine_sim",
      x.getField("embedding"), y.getField("embedding")), 6)
    Dedup.bucketPairs(banded, Seq("table_idx", "bucket"),
        Seq("vec_id", "embedding"), maxBucket)
      .select(
        least(x.getField("vec_id"), y.getField("vec_id")).as("vec_a"),
        greatest(x.getField("vec_id"), y.getField("vec_id")).as("vec_b"),
        sim.as("similarity"))
      .filter(col("similarity") >= threshold)
      .distinct() // a pair may collide in several tables
      .orderBy("vec_a", "vec_b")
  }

  // ---------- Product quantization (the ANN compression stage) ----------

  /** L2-normalized copy of (vec_id, embedding) with the norm computed
    * ONCE per row in its own projection (a norm folded into the
    * per-element lambda would be re-evaluated per element — the
    * documented HOF-CSE trap). Zero vectors pass through unscaled so
    * downstream cosine stays 0 for them. */
  private def normalized(e: DataFrame): DataFrame =
    withNormalized(e, "embedding", "nv").select(col("vec_id"), col("nv"))

  /** Append an L2-normalized copy of `in` as `out`, keeping every
    * other column (the streaming encoder needs the event time) —
    * shared so batch and streaming PQ paths can't drift. */
  private[graft] def withNormalized(df: DataFrame, in: String, out: String): DataFrame =
    df.withColumn("__nrm",
        sqrt(aggregate(transform(col(in), x => x.cast("double") * x.cast("double")),
          lit(0.0), (a, v) => a + v)))
      .withColumn(out,
        when(col("__nrm") > 0,
          transform(col(in), x => (x.cast("double") / col("__nrm")).cast("float")))
          .otherwise(col(in)))
      .drop("__nrm")

  /** Flat m-major codebook literal for the native `pq_encode`
    * (component t of codeword j of subspace mi at
    * ((mi·ksub)+j)·dsub+t) — constant-folded into one array literal. */
  private[graft] def flatBooksLit(books: Seq[Seq[(Int, Array[Float])]]): Column =
    array(books.flatMap(_.flatMap(_._2.toSeq)).map(lit(_)): _*)

  // PQ codebooks are the quantizer memo's sibling: pq_topk,
  // ivfpq_topk and saveIvfPqIndex all train the identical books at
  // dir grain (deterministic — hash-seeded init, integer-quantized
  // sums, id tiebreaks). Driver-side value, like the quantizer.
  private[graft] val pqBooksMemo =
    new graft.Caches.Memo[Seq[Seq[(Int, Array[Float])]]](8, _ => Nil)

  private[graft] def pqBooks(spark: SparkSession, dir: String,
      numQueries: Int, m: Int, ksub: Int,
      iters: Int): Seq[Seq[(Int, Array[Float])]] = {
    val e = Tables.embeddings(spark, dir)
    pqBooksMemo(graft.Caches.dirKey(spark,
      dir +: e.inputFiles.sorted :+ s"nq=$numQueries" :+ s"m=$m" :+
        s"ksub=$ksub" :+ s"iters=$iters")) {
      pqCodebooks(e.select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") >= numQueries), m, ksub, iters)
    }
  }

  /** PQ codebook training: M subspaces × ksub codewords via seeded
    * Lloyd iterations. Each iteration is ONE distributed job: the
    * native `pq_encode` assigns all M subspaces in a single narrow
    * pass (no subvector explode, no per-subspace loop), then the mean
    * update rides one map-side-combined shuffle keyed (subspace,
    * codeword, dim) — the subspace id is derived from the exploded
    * component index, so codes are computed once per row, not per
    * component. Deterministic: hash-seeded init, integer-quantized
    * mean sums, argmin tiebreak on codeword id. */
  private[graft] def pqCodebooks(e: DataFrame, m: Int, ksub: Int,
                                 iters: Int): Seq[Seq[(Int, Array[Float])]] = {
    graft.functions.GraftFunctions.ensureRegistered(e.sparkSession)
    val nv = normalized(e).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the same ksub smallest-hash rows seed every subspace (sliced
      // per subspace on the driver — one job, not one per subspace)
      val seedRows = nv.withColumn("h", xxhash64(col("vec_id")))
        .orderBy("h", "vec_id").limit(ksub)
        .collect().map(r => r.getSeq[Float](r.fieldIndex("nv")).toArray)
      require(seedRows.length == ksub, s"corpus smaller than ksub=$ksub")
      val dim = seedRows.head.length
      require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
      val dsub = dim / m
      var books: Seq[Seq[(Int, Array[Float])]] = (0 until m).map(mi =>
        seedRows.zipWithIndex.map { case (v, j) =>
          j -> v.slice(mi * dsub, (mi + 1) * dsub) }.toSeq)
      var it = 0
      while (it < iters) {
        val coded = nv.select(
          call_function("pq_encode", col("nv"), flatBooksLit(books), lit(m)).as("codes"),
          col("nv"))
        val means = coded
          .select(col("codes"), posexplode(col("nv")).as(Seq("dim", "x")))
          .select((col("dim") / lit(dsub)).cast("int").as("m"),
            element_at(col("codes"), (col("dim") / lit(dsub)).cast("int") + 1).as("cell"),
            col("dim"), col("x"))
          .groupBy(col("m"), col("cell"), col("dim"))
          .agg((sum(round(col("x").cast("double") * lit(1e7)).cast("bigint")).cast("double") /
                (count(lit(1)) * lit(1e7))).as("c"))
          .groupBy(col("m"), col("cell"))
          .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
            s => s.getField("c")).as("centroid"))
          .collect().toSeq
          .map(r => (r.getAs[Int]("m"), r.getAs[Int]("cell")) ->
            r.getSeq[Double](r.fieldIndex("centroid")).map(_.toFloat).toArray).toMap
        books = books.zipWithIndex.map { case (book, mi) =>
          book.map { case (c, old) => c -> means.getOrElse((mi, c), old) } }
        it += 1
      }
      books
    } finally {
      nv.unpersist()
      ()
    }
  }

  /** PQ-compressed ANN with asymmetric-distance scoring and exact
    * refine — the 100 TB memory story for similarity search: the
    * corpus is held as M byte codes per vector (a 64×+ compression of
    * a float corpus; this is what makes a billion-vector index fit a
    * cluster's RAM at all), queries score candidates through per-query
    * literal lookup tables (ADC: one table lookup per subspace instead
    * of a d-dim dot product), and only the top `refine` shortlist per
    * query is re-scored against exact float vectors. Encode is one
    * narrow projection against the literal codebooks; scoring is a
    * broadcast join of the tiny query side against the code table;
    * nothing reshuffles the corpus. Composes with the IVF cell filter
    * (`ivfTopK`) for sub-linear probe at even larger scale.
    * Normalized-space squared L2 = 2 − 2·cosine, so ADC ranking
    * agrees with the family's cosine ranking. Rows-only: recall
    * floors and code-range invariants are spec-pinned. */
  def pqTopK(spark: SparkSession, dir: String, numQueries: Int = 10, k: Int = 5,
             m: Int = 8, ksub: Int = 16, iters: Int = 2, refine: Int = 32): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val books = pqBooks(spark, dir, numQueries, m, ksub, iters)
    val codes = pqEncode(e.filter(col("vec_id") >= numQueries), books)
    val queries = pqQueryFrame(e.filter(col("vec_id") < numQueries), books)
    adcRefineTopK(codes.crossJoin(broadcast(queries)), m, k, refine)
  }

  /** IVF-PQ — the production ANN composition: IVF cells bound WHICH
    * candidates each query scores (sub-linear probe: only nProbe of
    * nlist cells are touched), PQ codes bound the BYTES per scored
    * candidate. Cell assignment and encode are both narrow
    * projections against literals; the probe is an equi-join on the
    * cell key with the tiny query side broadcast, so the corpus never
    * reshuffles and per-query work is (corpus/nlist)·nProbe ADC
    * lookups. Recall is tuned with nProbe and refine, never by
    * re-indexing. */
  def ivfpqTopK(spark: SparkSession, dir: String, numQueries: Int = 10, k: Int = 5,
                nlist: Int = 10, nProbe: Int = 3, m: Int = 8, ksub: Int = 16,
                iters: Int = 2, refine: Int = 32): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val cands = e.filter(col("vec_id") >= numQueries)
    val cents = kmeansCentroids(spark, dir, nlist, iters)
    val books = pqBooks(spark, dir, numQueries, m, ksub, iters)
    val codes = pqEncode(cands, books)
      .withColumn("cell", explode(nearestCellsCol(col("c_emb"), cents, 1)))
    val queries = pqQueryFrame(e.filter(col("vec_id") < numQueries), books)
      .withColumn("cell", explode(nearestCellsCol(col("q_emb"), cents, nProbe)))
    // a candidate lives in exactly one cell, so a (query, cand) pair
    // meets at most once — no dedup needed after the probe join
    adcRefineTopK(codes.join(broadcast(queries), "cell"), m, k, refine)
  }

  /** Persisted IVF-PQ index: train once, write three parquet tables
    * (`centroids`, `codebooks`, `codes`), and serve every later probe
    * from the artifact — the operational piece between the index
    * builders (one-shot training) and the streaming delta encoder
    * (which assumes exactly this metadata exists offline). At 100 TB
    * the codes table is the 64×-compressed corpus; re-training per
    * query session would re-scan the full embedding corpus every time.
    * Training is seeded/deterministic, so probe-from-disk is
    * byte-identical to probe-from-training (the spec asserts it). */
  def saveIvfPqIndex(spark: SparkSession, dir: String, indexPath: String,
                     numQueries: Int = 10, nlist: Int = 10, m: Int = 8,
                     ksub: Int = 16, iters: Int = 2): Unit = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val cands = e.filter(col("vec_id") >= numQueries)
    writeIndexArtifact(cands, indexPath,
      kmeansCentroids(spark, dir, nlist, iters),
      pqBooks(spark, dir, numQueries, m, ksub, iters))
  }

  /** Index build from an arbitrary candidate frame — what the
    * maintenance loop re-trains with when the LIVE corpus (original +
    * appended deltas) has drifted off the trained cells. Centroids
    * and codebooks both train on `cands` here (there is no separate
    * query population at re-train time). */
  def saveIvfPqIndexFrom(cands: DataFrame, indexPath: String, nlist: Int = 10,
                         m: Int = 8, ksub: Int = 16, iters: Int = 2): Unit = {
    graft.functions.GraftFunctions.ensureRegistered(cands.sparkSession)
    val c = cands.select(col("vec_id"), col("embedding"))
    writeIndexArtifact(c, indexPath,
      kmeansCentroidsFrom(c, nlist, iters), pqCodebooks(c, m, ksub, iters))
  }

  /** Canonical renderings of trained metadata — the strings every
    * artifact fingerprint hashes. Float rendering via Float.toString
    * is exact and platform-stable. Shared between the IVF-PQ index
    * stamp and the standalone quantizer/codebook artifacts so the
    * same trained values always fingerprint identically. */
  private def centsCanonical(cents: Seq[(Int, Array[Float])]): String =
    cents.sortBy(_._1).map { case (c, v) => s"c$c:${v.mkString(",")}" }
      .mkString("\n")

  private def booksCanonical(books: Seq[Seq[(Int, Array[Float])]]): String =
    books.zipWithIndex.map { case (book, mi) =>
      book.sortBy(_._1).map { case (c, v) => s"b$mi.$c:${v.mkString(",")}" }
        .mkString("\n")
    }.mkString("\n")

  /** Canonical fingerprint of an index's trained metadata (centroids
    * + codebooks) — the manifest's content stamp. */
  private[graft] def indexMetaFp(cents: Seq[(Int, Array[Float])],
                                 books: Seq[Seq[(Int, Array[Float])]]): String =
    graft.sources.ArtifactManifest.fp(
      centsCanonical(cents) + "\n--\n" + booksCanonical(books))

  private[graft] def centroidsFp(cents: Seq[(Int, Array[Float])]): String =
    graft.sources.ArtifactManifest.fp(centsCanonical(cents))

  private[graft] def pqBooksFp(books: Seq[Seq[(Int, Array[Float])]]): String =
    graft.sources.ArtifactManifest.fp(booksCanonical(books))

  private def writeIndexArtifact(cands: DataFrame, indexPath: String,
                                 cents: Seq[(Int, Array[Float])],
                                 books: Seq[Seq[(Int, Array[Float])]]): Unit = {
    val spark = cands.sparkSession
    import spark.implicits._
    cents.toDF("cell", "c_vec")
      .write.mode("overwrite").parquet(s"$indexPath/centroids")
    books.zipWithIndex
      .flatMap { case (book, mi) => book.map { case (c, v) => (mi, c, v) } }
      .toDF("m_idx", "code", "v")
      .write.mode("overwrite").parquet(s"$indexPath/codebooks")
    pqEncode(cands, books)
      .withColumn("cell", explode(nearestCellsCol(col("c_emb"), cents, 1)))
      .write.mode("overwrite").parquet(s"$indexPath/codes")
    // training-time drift baseline: per-cell occupancy AND mean
    // quantization error (squared L2 of each vector to its assigned
    // centroid). Occupancy catches mass shifts between cells; the
    // error catches ORTHOGONAL drift — vectors off every trained cell
    // scatter across cells by noise (occupancy barely moves) but sit
    // far from whichever centroid they land on.
    indexCellStats(spark, indexPath)
      .withColumnRenamed("n", "n_train").withColumnRenamed("err", "err_train")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$indexPath/stats")
    // compatibility stamp, written LAST: content = the trained
    // metadata the probes load, built-from = the candidate corpus
    // state (order-independent xor) — a crash mid-write leaves a
    // stale-or-absent stamp that loadIndexMeta flags, never a stamp
    // blessing half-written tables
    val corpus = cands.agg(count(lit(1)),
      expr("bit_xor(xxhash64(vec_id, embedding))")).collect().head
    graft.sources.ArtifactManifest.write(indexPath,
      graft.sources.ArtifactManifest.Stamp("ivfpq_index", indexMetaFp(cents, books),
        s"embeddings:${corpus.getLong(0)}:${if (corpus.isNullAt(1)) 0L else corpus.getLong(1)}"))
  }

  /** Per-cell (n, mean squared-L2-to-centroid) over the live codes
    * table — the drift detector's observable, computed the same way
    * at train time (the baseline) and at each maintenance tick. One
    * broadcast join of the nlist-row centroids table against the
    * codes scan; output is nlist rows. */
  private[graft] def indexCellStats(spark: SparkSession, indexPath: String): DataFrame = {
    val cents = spark.read.parquet(s"$indexPath/centroids")
    spark.read.parquet(s"$indexPath/codes")
      .join(broadcast(cents), "cell")
      .select(col("cell"),
        aggregate(zip_with(col("c_emb"), col("c_vec"),
            (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
          lit(0.0), (a, v) => a + v).as("d2"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), avg(col("d2")).as("err"))
  }

  private[graft] def loadIndexMeta(spark: SparkSession, indexPath: String)
      : (Seq[(Int, Array[Float])], Seq[Seq[(Int, Array[Float])]]) = {
    val cents = spark.read.parquet(s"$indexPath/centroids").collect()
      .map(r => r.getAs[Int]("cell") ->
        r.getSeq[Float](r.fieldIndex("c_vec")).toArray)
      .sortBy(_._1).toSeq
    val books = spark.read.parquet(s"$indexPath/codebooks").collect()
      .map(r => (r.getAs[Int]("m_idx"), r.getAs[Int]("code"),
        r.getSeq[Float](r.fieldIndex("v")).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(t => t._2 -> t._3).toSeq }
    // strict-on-presence: a stamped index whose loaded metadata no
    // longer matches its manifest (half-replaced tables, a codes/
    // codebooks mix from two training runs) must fail here, not
    // return quiet garbage from the probe join
    graft.sources.ArtifactManifest.verifyContent(indexPath, "ivfpq_index",
      indexMetaFp(cents, books))
    (cents, books)
  }

  /** Probe the persisted index: query-side cell assignment + LUTs
    * against the LOADED metadata, equi-join on the cell key against
    * the stored codes — no training jobs, no full-corpus scan. */
  def ivfpqTopKFromIndex(spark: SparkSession, dir: String, indexPath: String,
                         numQueries: Int = 10, k: Int = 5, nProbe: Int = 3,
                         refine: Int = 32): DataFrame =
    ivfpqTopKFromIndexWith(spark,
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") < numQueries),
      indexPath, k, nProbe, refine)

  /** Probe the persisted index with an ARBITRARY query frame
    * (vec_id, embedding) — the serving entry the maintenance loop's
    * recall checks use. */
  def ivfpqTopKFromIndexWith(spark: SparkSession, queries0: DataFrame,
                             indexPath: String, k: Int = 5, nProbe: Int = 3,
                             refine: Int = 32): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val (cents, books) = loadIndexMeta(spark, indexPath)
    val m = books.size
    val codes = spark.read.parquet(s"$indexPath/codes")
    val queries = pqQueryFrame(queries0, books)
      .withColumn("cell", explode(nearestCellsCol(col("q_emb"), cents, nProbe)))
    adcRefineTopK(codes.join(broadcast(queries), "cell"), m, k, refine)
  }

  // ---- stamped on-disk artifacts for the trained session memos ----
  // The quantizer, PQ codebooks, and kNN graph memoize per JVM
  // session; a nightly pipeline pays every cold build again in every
  // new JVM. Each trained artifact therefore also gets the
  // saveIvfPqIndex / saveQualityLr lifecycle: snapshot-overwrite
  // parquet + an ArtifactManifest stamp (content fp of the trained
  // values, built-from = the embedding corpus state), strict-on-
  // presence verification at load, and a disk-served query form whose
  // output is BYTE-IDENTICAL to the trained path (training is
  // bit-deterministic, so the specs assert equality, not tolerance).

  /** Order-independent corpus stamp for built-from provenance —
    * the saveQualityLr/saveIvfPqIndex convention. */
  private def embeddingsBuiltFrom(e: DataFrame): String = {
    val corpus = e.agg(count(lit(1)),
      expr("bit_xor(xxhash64(vec_id, embedding))")).collect().head
    s"embeddings:${corpus.getLong(0)}:${if (corpus.isNullAt(1)) 0L else corpus.getLong(1)}"
  }

  /** Train (or read the session memo) and persist the k-means
    * quantizer as a stamped parquet artifact. Snapshot overwrite —
    * retraining replaces it atomically; the manifest is written LAST
    * so a crash mid-write leaves a stamp mismatch the loader flags,
    * never a stamp blessing half-written data. */
  def saveKmeansCentroids(spark: SparkSession, dir: String, outPath: String,
      nlist: Int = 10, iters: Int = 3): Seq[(Int, Array[Float])] = {
    import spark.implicits._
    val cents = kmeansCentroids(spark, dir, nlist, iters)
    cents.toDF("cell", "c_vec")
      .coalesce(1).write.mode("overwrite").parquet(outPath)
    graft.sources.ArtifactManifest.write(outPath,
      graft.sources.ArtifactManifest.Stamp("kmeans_centroids",
        centroidsFp(cents), embeddingsBuiltFrom(
          Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))))
    cents
  }

  /** Load a persisted quantizer; stamped artifacts verify against
    * their own manifest (corruption / half-replacement fails loud —
    * a quantizer whose cells drifted off its codes returns quiet
    * garbage from every probe, the failure class the stamp exists
    * to catch). */
  def loadKmeansCentroids(spark: SparkSession, path: String): Seq[(Int, Array[Float])] = {
    val cents = spark.read.parquet(path).collect()
      .map(r => r.getAs[Int]("cell") ->
        r.getSeq[Float](r.fieldIndex("c_vec")).toArray)
      .sortBy(_._1).toSeq
    require(cents.nonEmpty, s"empty kmeans_centroids artifact at $path")
    graft.sources.ArtifactManifest.verifyContent(path, "kmeans_centroids",
      centroidsFp(cents))
    cents
  }

  /** Serve `ann_ivf_kmeans` from the persisted quantizer — zero
    * training jobs; byte-identical to the trained form by
    * determinism. The registry-adjacent disk path a nightly pipeline
    * uses to amortize the quantizer across JVMs. */
  def ivfTopKKmeansFromArtifact(spark: SparkSession, dir: String,
      centroidsPath: String, numQueries: Int = 10, k: Int = 5,
      nProbe: Int = 2): DataFrame =
    ivfTopKWith(spark, dir, loadKmeansCentroids(spark, centroidsPath),
      numQueries, k, nProbe)

  /** Train (or read the session memo) and persist the PQ codebooks —
    * the standalone sibling of the IVF-PQ index's `codebooks` table
    * for the flat-PQ path (`pq_topk` without an IVF index). */
  def savePqBooks(spark: SparkSession, dir: String, outPath: String,
      numQueries: Int = 10, m: Int = 8, ksub: Int = 16,
      iters: Int = 2): Seq[Seq[(Int, Array[Float])]] = {
    import spark.implicits._
    val books = pqBooks(spark, dir, numQueries, m, ksub, iters)
    books.zipWithIndex
      .flatMap { case (book, mi) => book.map { case (c, v) => (mi, c, v) } }
      .toDF("m_idx", "code", "v")
      .coalesce(1).write.mode("overwrite").parquet(outPath)
    graft.sources.ArtifactManifest.write(outPath,
      graft.sources.ArtifactManifest.Stamp("pq_codebooks",
        pqBooksFp(books), embeddingsBuiltFrom(
          Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
            .filter(col("vec_id") >= numQueries))))
    books
  }

  /** Load persisted PQ codebooks with strict-on-presence
    * verification. */
  def loadPqBooks(spark: SparkSession, path: String): Seq[Seq[(Int, Array[Float])]] = {
    val books = spark.read.parquet(path).collect()
      .map(r => (r.getAs[Int]("m_idx"), r.getAs[Int]("code"),
        r.getSeq[Float](r.fieldIndex("v")).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(t => t._2 -> t._3).toSeq }
    require(books.nonEmpty, s"empty pq_codebooks artifact at $path")
    graft.sources.ArtifactManifest.verifyContent(path, "pq_codebooks",
      pqBooksFp(books))
    books
  }

  /** Serve `ann_pq_topk` from persisted codebooks — encode + probe
    * only, no Lloyd jobs. */
  def pqTopKFromBooks(spark: SparkSession, dir: String, booksPath: String,
      numQueries: Int = 10, k: Int = 5, refine: Int = 32): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val books = loadPqBooks(spark, booksPath)
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val codes = pqEncode(e.filter(col("vec_id") >= numQueries), books)
    val queries = pqQueryFrame(e.filter(col("vec_id") < numQueries), books)
    adcRefineTopK(codes.crossJoin(broadcast(queries)), books.size, k, refine)
  }

  /** Canonical fingerprint of a kNN graph's CONTENT — computed
    * distributively (one agg over the frame, order-independent xor),
    * never a collect: the graph is k·N rows, corpus-sized. Exact by
    * determinism: similarity is rounded to 6 decimals before it ever
    * leaves the build, so the double bits are stable across runs. */
  private[graft] def knnGraphFp(graph: DataFrame): String = {
    val r = graph.agg(count(lit(1)),
      expr("bit_xor(xxhash64(vec_id, neighbor_id, similarity, rank))"))
      .collect().head
    graft.sources.ArtifactManifest.fp(
      s"knn:${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}")
  }

  /** Build (or read the session memo) and persist the kNN graph.
    * Unlike the quantizer/codebooks (driver scalars), the graph IS
    * corpus-sized data — it persists distributed, unsorted, and the
    * stamp fingerprints the full row content so a half-replaced
    * artifact cannot serve. */
  def saveKnnGraph(spark: SparkSession, dir: String, outPath: String,
      k: Int = 5, nProbe: Int = 2, nlist: Int = 10, iters: Int = 3): Unit = {
    val graph = annKnnGraph(spark, dir, k, nProbe, nlist, iters)
    graph.write.mode("overwrite").parquet(outPath)
    graft.sources.ArtifactManifest.write(outPath,
      graft.sources.ArtifactManifest.Stamp("knn_graph",
        knnGraphFp(spark.read.parquet(outPath)), embeddingsBuiltFrom(
          Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))))
  }

  /** Load the persisted kNN graph. Strict-on-presence means ONE
    * verification scan of the artifact here (linear in the graph,
    * which is 64 bytes × k·N — not the corpus) — the price of never
    * serving a half-replaced graph to LPA/classify; callers that
    * reuse the frame hold onto the returned Dataset. */
  def loadKnnGraph(spark: SparkSession, path: String): DataFrame = {
    val graph = spark.read.parquet(path)
    graft.sources.ArtifactManifest.verifyContent(path, "knn_graph",
      knnGraphFp(graph))
    graph
  }

  /** Serve `embedding_clusters` from the persisted graph — LPA only,
    * no quantizer training, no graph build. Default budget stays
    * equal to [[embeddingClusters]]'s (the disk-served and trained
    * forms must agree byte-for-byte at defaults). */
  def embeddingClustersFromArtifact(spark: SparkSession, graphPath: String,
      lpaIters: Int = 4): DataFrame =
    clustersFromGraph(loadKnnGraph(spark, graphPath), lpaIters)

  /** Serve `ann_knn_classify` from the persisted graph (labels still
    * come from the corpus — they are input data, not trained
    * state). */
  def annKnnClassifyFromArtifact(spark: SparkSession, dir: String,
      graphPath: String): DataFrame =
    classifyFromGraph(loadKnnGraph(spark, graphPath),
      Tables.embeddings(spark, dir).select(col("vec_id"), col("label")))

  /** Tiny ADC query side: (query_id, normalized q_emb, per-query LUT
    * of M × ksub squared-L2 partials against each codebook). Collected
    * to the driver — the query set is small by contract (it is
    * broadcast either way); the LUT turns every candidate score into M
    * table lookups. */
  private[graft] def pqQueryFrame(q: DataFrame, books: Seq[Seq[(Int, Array[Float])]]): DataFrame = {
    val spark = q.sparkSession
    val dsub = books.head.head._2.length
    val qRows = normalized(q)
      .collect().map { r =>
        val qv = r.getSeq[Float](r.fieldIndex("nv")).toArray
        val lut = books.zipWithIndex.map { case (book, mi) =>
          book.map { case (_, cw) =>
            cw.zipWithIndex.map { case (c, t) =>
              val d = qv(mi * dsub + t) - c; d * d.toDouble }.sum } }
        (r.getLong(r.fieldIndex("vec_id")), qv, lut.map(_.toSeq).toSeq)
      }.toSeq
    import spark.implicits._
    qRows.toDF("query_id", "q_emb", "lut")
  }

  /** ADC shortlist + exact refine over a joined (codes × queries)
    * frame with (query_id, cand_id, c_emb, q_emb, lut, codes): rank by
    * the LUT sum, keep `refine` per query, re-score those exactly,
    * return the top k. */
  private[graft] def adcRefineTopK(joined: DataFrame, m: Int, k: Int, refine: Int): DataFrame = {
    val adc = expr(
      s"aggregate(sequence(0, $m - 1), cast(0.0 as double), " +
        "(acc, mi) -> acc + element_at(element_at(lut, mi + 1), element_at(codes, mi + 1) + 1))")
    val wAdc = Window.partitionBy("query_id").orderBy(asc("adc_dist"), asc("cand_id"))
    val wTop = Window.partitionBy("query_id").orderBy(desc("similarity"), asc("cand_id"))
    joined
      .select(col("query_id"), col("cand_id"), col("c_emb"), col("q_emb"),
        round(adc, 9).as("adc_dist"))
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= refine)
      .select(col("query_id"), col("cand_id"),
        round(call_function("cosine_sim", col("q_emb"), col("c_emb")), 6).as("similarity"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** PQ encode: every vector → M codeword bytes in one narrow
    * projection through the native `pq_encode` against the literal
    * codebooks (this column, not the floats, is what a production
    * index persists). */
  private[graft] def pqEncode(e: DataFrame, books: Seq[Seq[(Int, Array[Float])]]): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(e.sparkSession)
    normalized(e).select(col("vec_id").as("cand_id"), col("nv").as("c_emb"),
      call_function("pq_encode", col("nv"), flatBooksLit(books), lit(books.length)).as("codes"))
  }

  /** SemDeDup-style semantic deduplication (k-means cells as blocking
    * keys, exact cosine inside each cell, connected near-sets
    * collapsed to one keeper): prunes embeddings that are
    * semantically redundant even when their source texts share no
    * n-grams — the pruning pass a web-scale training corpus runs
    * AFTER exact/MinHash dedup. Returns a per-cell census
    * (n_vectors / n_kept / n_pruned) so the prune rate is observable
    * per region of embedding space.
    *
    * Scale shape: cell assignment is a NARROW projection against the
    * literal trained centroids (`nearestCellsCol` — no exchange after
    * the scan); in-cell pairs come from the same grouped-bucket
    * index-pair enumeration as every other dedup family member (one
    * shuffle on the cell key, maxBucket skew guard); survivors come
    * from the shared component-collapse core. At production scale
    * `nlist` grows with the corpus (SemDeDup uses ~100k cells for
    * billions of docs) so cells stay both small — bounding the
    * in-cell O(|cell|²) — and numerous, keeping the cell-key shuffle
    * parallel. nlist=10 here only matches the 10-label testdata. */
  def semDedup(spark: SparkSession, dir: String, threshold: Double = 0.985,
               nlist: Int = 10, iters: Int = 3, maxBucket: Int = 4096): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val cents = kmeansCentroids(spark, dir, nlist, iters)
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // localCheckpoint: `assigned` feeds three consumers (the pair
    // graph, the docs side of the component collapse, the census) and
    // neither ReuseExchange nor AQE dedups the shared subtree — without
    // it the scan + nlist-way argmin runs 3×. Checkpoint (not persist):
    // the returned census frame is lazy, so a persist could never be
    // unpersisted; checkpoint blocks are ContextCleaner-collected.
    val assigned = e.select(col("vec_id"), col("embedding"),
      explode(nearestCellsCol(col("embedding"), cents, 1)).as("cell"))
      .localCheckpoint()
    val survivors = semDedupSurvivorsFrom(assigned, threshold, maxBucket)
    assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
      .join(survivors.groupBy(col("cell")).agg(count(lit(1)).as("n_kept")), Seq("cell"), "left")
      .select(col("cell"),
        col("n_vectors").cast("bigint").as("n_vectors"),
        coalesce(col("n_kept"), lit(0L)).cast("bigint").as("n_kept"))
      .withColumn("n_pruned", (col("n_vectors") - col("n_kept")).cast("bigint"))
      .orderBy("cell")
  }

  /** Survivor core of `semDedup` — input needs (vec_id, embedding,
    * cell); returns the kept (vec_id, cell) rows (min vec_id per
    * connected near-set within a cell). Split out so specs can plant
    * vectors against literal centroids. */
  private[graft] def semDedupSurvivorsFrom(assigned: DataFrame, threshold: Double,
                                           maxBucket: Int): DataFrame =
    Dedup.nearDupCorpusFromPairs(
        assigned.select(col("vec_id").as("doc_id"), col("cell")),
        semDedupPairsFrom(assigned, threshold, maxBucket))
      .select(col("doc_id").as("vec_id"), col("cell"))

  /** k-NN GRAPH over the whole embedding corpus — every vector gets
    * its `k` approximate nearest neighbors. This is the all-to-all
    * sibling of `ivfTopKKmeans` (there: a handful of external queries;
    * here: every corpus vector plays the query role), and the
    * substrate for graph-based curation — semantic-cluster discovery,
    * connectivity-based dedup, diversity sampling, kNN classification.
    *
    * Plan: one trained coarse quantizer (seeded Lloyd — deterministic);
    * every vector is INDEXED under its nearest cell and PROBES its
    * `nProbe` nearest cells, both narrow literal-centroid projections
    * off the same scan; the block join on `cell` generates only
    * in-cell pairs (a candidate lives in exactly one cell, so a pair
    * meets at most once — no distinct needed); per-query top-k is one
    * window over the probed candidates. Quadratic only WITHIN a cell:
    * at N vectors and nlist cells the pair count is ~N²·nProbe/nlist,
    * so nlist scales with √N to hold per-cell work flat (the standard
    * IVF sizing) — nothing here is all-pairs, and recall tunes with
    * nProbe, never by re-indexing. Rows-only oracle (approximate);
    * spec pins structure + recall vs exact brute-force. */
  // The dir-grain graph is shared downstream (ann_knn_graph,
  // embedding_clusters' LPA, ann_knn_classify's vote join) and is
  // deterministic end-to-end (memoized quantizer, similarity rounded
  // to 6 decimals, id tiebreaks), so one session builds it ONCE,
  // localCheckpointed. `annKnnGraphWith` (arbitrary frames/centroids)
  // stays uncached.
  private[graft] val knnGraphMemo = new graft.Caches.Memo[DataFrame](8, Seq(_))

  def annKnnGraph(spark: SparkSession, dir: String, k: Int = 5,
                  nProbe: Int = 2, nlist: Int = 10, iters: Int = 3): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    knnGraphMemo(graft.Caches.dirKey(spark,
      dir +: e.inputFiles.sorted :+
        s"k=$k" :+ s"nProbe=$nProbe" :+ s"nlist=$nlist" :+ s"iters=$iters")) {
      annKnnGraphWith(spark, e,
        kmeansCentroids(spark, dir, nlist, iters), k, nProbe)
        .localCheckpoint()
    }
  }

  private[graft] def annKnnGraphWith(spark: SparkSession, e: DataFrame,
      cents: Seq[(Int, Array[Float])], k: Int, nProbe: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val cands = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
      explode(nearestCellsCol(col("embedding"), cents, 1)).as("cell"))
    val queries = e.select(col("vec_id"), col("embedding").as("q_emb"),
      explode(nearestCellsCol(col("embedding"), cents, nProbe)).as("cell"))
    val w = Window.partitionBy("vec_id").orderBy(desc("similarity"), asc("neighbor_id"))
    queries.join(cands, "cell")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        round(call_function("cosine_sim", col("q_emb"), col("c_emb")), 6).as("similarity"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("vec_id", "rank")
  }

  /** Corpus TOPIC MIX — what a curation run reports before choosing
    * sampling weights: k-means cells over the embeddings as emergent
    * "topics", crossed with the documents' declared `source`. The
    * (source, topic) grid shows which sources carry which semantic
    * mass — the input to mixture rebalancing (sample_weighted_sources
    * decides WEIGHTS; this shows what the weights act on).
    *
    * Plan: cell assignment is the usual narrow literal-centroid
    * projection over the embeddings scan; one equi-join links vec_id
    * to doc_id (the corpus convention: embeddings are row-aligned to
    * documents); the rollup is a tiny (sources × nlist) aggregate and
    * the share window runs over that aggregate frame only. Rows-only
    * oracle (cell geometry is float-trained); spec pins the partition
    * invariants and determinism. */
  def corpusTopicMix(spark: SparkSession, dir: String, nlist: Int = 10,
                     iters: Int = 3): DataFrame = {
    val cents = kmeansCentroids(spark, dir, nlist, iters)
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val topics = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"),
        explode(nearestCellsCol(col("embedding"), cents, 1)).as("topic"))
    Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(topics, "doc_id")
      .groupBy(col("source"), col("topic"))
      .agg(count(lit(1)).as("docs"))
      .withColumn("source_share",
        col("docs").cast("double")
          / sum(col("docs")).over(Window.partitionBy("source")).cast("double") * lit(100))
      .orderBy("source", "topic")
  }

  /** Emergent corpus clusters — weighted label propagation over the
    * approximate kNN graph: topic/near-community discovery WITHOUT
    * choosing k (the count emerges; k-means' nlist here only shapes
    * the ANN index that builds the graph, not the clustering). The
    * embedding-space sibling of `product_communities`, sharing
    * `Graph.communitiesFrom` so the LPA semantics (symmetrized
    * weights, deterministic ties, checkpoint-per-round) cannot drift
    * between the two surfaces — but on the SEMI-SYNC update schedule:
    * a kNN graph over tight clusters is full of mutual-strongest
    * pairs, and fully-synchronous LPA swaps their labels forever (the
    * planted-cluster spec caught exactly this oscillation).
    * Negative cosines clamp to 0 weight (anti-similarity is absence
    * of affinity for community purposes, not repulsion — LPA has no
    * meaningful negative-weight semantics). Edge count is ≤ k·|V| by
    * the kNN construction, so LPA rounds are corpus-LINEAR, never
    * pair-quadratic. rows-only; spec pins planted-cluster recovery
    * and determinism.
    *
    * Round budget (measured): planted-cluster recovery needs 3
    * semi-sync rounds (1–2 under-merge the dense corpus; purity holds
    * at every budget) and is stable 3–8;
    * the shipped default is 4 = the spec floor plus one round of
    * margin. On sf0.1 the 8-round budget cost 3.35 s warm against
    * 1.80 s at 4, with 97% per-vector label agreement between the
    * two — the extra four rounds bought label churn, not structure.
    * A fixed-point early exit was measured and rejected (real
    * corpora churn a few labels every round, so the exit never fires
    * and its stability probe is pure overhead); the budget itself is
    * the honest knob, re-pinned by the planted spec at the default. */
  def embeddingClusters(spark: SparkSession, dir: String, k: Int = 5,
                        nProbe: Int = 2, nlist: Int = 10, iters: Int = 3,
                        lpaIters: Int = 4): DataFrame =
    clustersFromGraph(annKnnGraph(spark, dir, k, nProbe, nlist, iters), lpaIters)

  private[graft] def clustersFromGraph(knn: DataFrame, lpaIters: Int): DataFrame =
    Graph.communitiesFrom(
      knn.select(col("vec_id").as("src"), col("neighbor_id").as("dst"),
        greatest(col("similarity"), lit(0.0)).as("weight")),
      lpaIters, semiSync = true)
      .withColumnRenamed("product_k", "vec_id")
      .withColumnRenamed("community", "cluster")
      .withColumnRenamed("community_size", "cluster_size")

  /** Leave-one-out kNN label eval over the graph — the standard
    * embedding-quality probe a curation pipeline runs before trusting
    * vectors for dedup/sampling: if k nearest neighbors can't predict
    * a vector's own label, the space doesn't cluster by label and
    * every similarity-based decision downstream is suspect. Each
    * vector is classified by the majority label of its `k` approximate
    * neighbors (self excluded by the graph — proper leave-one-out),
    * rolled to a per-label accuracy census.
    *
    * Plan: the kNN graph (see annKnnGraph) + one shuffle join to
    * attach neighbor labels, a (vec, label) vote count, one window
    * over the ≤k-row vote frame per vector (ties to the smaller
    * label), one join back to the vector's own label, and a
    * |labels|-row rollup. Rows-only oracle; spec pins the census
    * partition, determinism, and 100% accuracy on crafted separated
    * clusters. */
  def annKnnClassify(spark: SparkSession, dir: String, k: Int = 5,
                     nProbe: Int = 2, nlist: Int = 10, iters: Int = 3): DataFrame =
    classifyFromGraph(annKnnGraph(spark, dir, k, nProbe, nlist, iters),
      Tables.embeddings(spark, dir).select(col("vec_id"), col("label")))

  private[graft] def annKnnClassifyFrom(spark: SparkSession, e: DataFrame,
      cents: Seq[(Int, Array[Float])], k: Int, nProbe: Int): DataFrame =
    classifyFromGraph(annKnnGraphWith(spark, e, cents, k, nProbe),
      e.select(col("vec_id"), col("label")))

  private def classifyFromGraph(graph: DataFrame, labels: DataFrame): DataFrame = {
    val votes = graph
      .join(labels.select(col("vec_id").as("neighbor_id"), col("label").as("n_label")),
        "neighbor_id")
      .groupBy(col("vec_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
    val wVote = Window.partitionBy("vec_id").orderBy(desc("votes"), asc("n_label"))
    val predicted = votes
      .withColumn("rk", row_number().over(wVote))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("n_label").as("predicted"))
    predicted.join(labels, "vec_id")
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vectors"),
        sum(when(col("predicted") === col("label"), 1L).otherwise(0L)).as("correct"))
      .withColumn("accuracy_pct",
        col("correct").cast("double") / col("n_vectors").cast("double") * lit(100))
      .orderBy("label")
  }

  /** TOPIC-BALANCED sampling — diversity sampling over the LEARNED
    * strata: where `sample_stratified` balances over declared columns
    * (lang, source), this balances over the k-means topic cells, the
    * cluster-balanced draw semantic curation uses so one dominant
    * topic cannot crowd the sample (the selection-side complement of
    * semdedup's removal side). Per topic, a deterministic uniform draw
    * of `perTopic` documents: the same salted-md5 bottom-k order as
    * sample_uniform_k, ranked per topic by ONE window that rides the
    * topic join's partitioning. Rows-only oracle (cell geometry is
    * float-trained); spec pins per-topic caps, determinism, and
    * exact-k for saturated topics. */
  def sampleTopicBalanced(spark: SparkSession, dir: String, perTopic: Int = 20,
                          nlist: Int = 10, iters: Int = 3): DataFrame = {
    val cents = kmeansCentroids(spark, dir, nlist, iters)
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val topics = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"),
        explode(nearestCellsCol(col("embedding"), cents, 1)).as("topic"))
    val w = Window.partitionBy("topic")
      .orderBy(md5(concat_ws(":", lit("topicbal"), col("doc_id"))), col("doc_id"))
    Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("lang"))
      .join(topics, "doc_id")
      .withColumn("draw_rank", row_number().over(w))
      .filter(col("draw_rank") <= perTopic)
      .select(col("doc_id"), col("topic"), col("source"), col("lang"), col("draw_rank"))
      .orderBy("topic", "draw_rank")
  }

  /** In-cell over-threshold pair graph of `semDedup` — the expensive
    * candidate-generation subtree, exposed so the plan lint can audit
    * it directly (the survivor frame is a post-checkpoint tail). */
  private[graft] def semDedupPairsFrom(assigned: DataFrame, threshold: Double,
                                       maxBucket: Int): DataFrame = {
    val x = expr("element_at(members, p.i)")
    val y = expr("element_at(members, p.j)")
    val sim = call_function("cosine_sim",
      x.getField("embedding"), y.getField("embedding"))
    Dedup.bucketPairs(
        assigned.repartition(assigned.sparkSession.sessionState.conf.numShufflePartitions,
          col("cell")),
        Seq("cell"), Seq("vec_id", "embedding"), maxBucket)
      .select(
        least(x.getField("vec_id"), y.getField("vec_id")).as("doc_a"),
        greatest(x.getField("vec_id"), y.getField("vec_id")).as("doc_b"),
        sim.as("similarity"))
      .filter(col("similarity") >= threshold)
      .select(col("doc_a"), col("doc_b"))
  }

  /** Embedding-space outlier detection: the corpus vectors FURTHEST
    * from every trained k-means centroid — encoder failures, corrupt
    * inputs, and out-of-domain docs surface here before they poison
    * similarity decisions downstream (the vector-side sibling of the
    * text garbage score). A vector's cohesion is its best cosine to
    * ANY centroid; the outlier cut is the corpus' own 5th percentile
    * of that cohesion (GK sketch — fixed state, 1-row broadcast), so
    * the query needs no tuned threshold. Returns the worst `k`
    * flagged vectors (TakeOrdered, cohesion asc).
    *
    * Scale shape: training is the shared Lloyd loop (kmeansCentroids);
    * scoring is ONE narrow projection against the literal centroid
    * array (array_max over the fused per-cell cosine — no exchange);
    * the percentile is one fixed-state aggregate. rows-only: trained
    * centroids + libm cosine make a SQL oracle meaningless; the spec
    * plants far-off vectors among tight clusters and requires exactly
    * those flagged worst. */
  def embeddingOutliers(spark: SparkSession, dir: String, k: Int = 50,
      nlist: Int = 10, iters: Int = 3): DataFrame =
    embeddingOutliersFrom(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      k, nlist, iters)

  private[graft] def embeddingOutliersFrom(e: DataFrame, k: Int = 50,
      nlist: Int = 10, iters: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(e.sparkSession)
    val cents = kmeansCentroidsFrom(e, nlist, iters)
    // An outlier can CAPTURE its own k-means cell (it seeds or drags a
    // centroid onto itself) and then score cohesion 1.0 against it —
    // evading detection. Bulk-mass gate: cohesion only counts
    // centroids whose cell holds at least 1/(10·nlist) of the corpus
    // (an even split gives 1/nlist; a cell 10× under parity is
    // representing noise, not the bulk). Occupancy is an nlist-row
    // aggregate; the kept centroids go back as literals.
    val assigned = e.select(col("vec_id"), col("embedding"),
        explode(nearestCellsCol(col("embedding"), cents, 1)).as("cell"))
      .localCheckpoint() // occupancy gate + scoring share one assignment pass
    val occ = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = occ.values.sum
    val floor = math.max(2L, total / (10L * nlist))
    val kept = cents.filter { case (cell, _) => occ.getOrElse(cell, 0L) >= floor }
    require(kept.nonEmpty, s"every cell under the $floor-row bulk floor")
    val keptArr = array(kept.map { case (_, vec) =>
      array(vec.toSeq.map(lit(_)): _*)
    }: _*)
    val cohesion = array_max(transform(keptArr,
      c => call_function("cosine_sim", col("embedding"), c)))
    val scored = assigned.select(col("vec_id"), col("cell"), cohesion.as("cohesion"))
    val cut = scored.agg(
      expr("approx_percentile(cohesion, 0.05, 10000)").as("p05"))
    scored.crossJoin(broadcast(cut))
      .filter(col("cohesion") < col("p05"))
      .orderBy(asc("cohesion"), asc("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cell"), col("cohesion"), col("p05"))
  }

  /** Embedding-space class separability — the Fisher-style probe of
    * "do the labels mean anything in this space": per label, the mean
    * squared distance of its vectors to their own centroid
    * (intra-class spread) against the squared distance to the NEAREST
    * other centroid; separability = inter/intra (≫1 = clean clusters,
    * ≈1 = the label boundary is inside the noise floor). The
    * embedding-quality gate a training pipeline runs before trusting
    * labels for kNN classification or topic-balanced sampling.
    *
    * Scale shape: per-label centroids come from the exact fixed-state
    * component-mean rollup (one fact exchange); the |labels| centroids
    * collect to the driver (tiny by construction — the IVF-literal
    * pattern) and go back as a when-chain of array LITERALS, so
    * own-centroid scoring is a NARROW projection (no join, no second
    * shuffle beyond the label rollup); nearest-other distances are
    * driver arithmetic over the |labels|² grid. rows-only (float
    * distance sums); spec pins planted tight/far clusters. */
  def embeddingSeparability(spark: SparkSession, dir: String): DataFrame =
    embeddingSeparabilityFrom(Tables.embeddings(spark, dir))

  private[graft] def embeddingSeparabilityFrom(e: DataFrame): DataFrame = {
    val cents: Seq[(Int, Array[Double])] = {
      val comps = e.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg((sum(round(col("x").cast("double") * lit(1e7)).cast("bigint")).cast("double") /
          (count(lit(1)) * lit(1e7))).as("c"))
        .collect()
      comps.groupBy(_.getAs[Int]("label")).toSeq.map { case (l, rows) =>
        l -> rows.sortBy(_.getAs[Int]("dim")).map(_.getAs[Double]("c")).toArray
      }.sortBy(_._1)
    }
    require(cents.nonEmpty, "no labels")
    def sqDistTo(c: Array[Double]) = aggregate(
      zip_with(col("embedding").cast("array<double>"),
        array(c.toSeq.map(lit(_)): _*), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    val ownDist = cents.tail.foldLeft(
      when(col("label") === cents.head._1, sqDistTo(cents.head._2))) {
      case (acc, (l, c)) => acc.when(col("label") === l, sqDistTo(c))
    }
    val intra = e.filter(col("label").isin(cents.map(c => Int.box(c._1)): _*))
      .select(col("label"), ownDist.as("d2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        (sum(col("d2")) / count(lit(1)).cast("double")).as("intra_mean_sq"))
    def sq(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val nearest = cents.map { case (l, c) =>
      val (ol, od) = cents.filter(_._1 != l)
        .map { case (o, oc) => (o, sq(c, oc)) }
        .minByOption(t => (t._2, t._1)).getOrElse((l, 0.0))
      (l, ol, od)
    }
    import e.sparkSession.implicits._
    intra.join(broadcast(
        nearest.toDF("label", "nearest_label", "inter_centroid_sq")), "label")
      .select(col("label"), col("n_vecs"), col("intra_mean_sq"),
        col("nearest_label"), col("inter_centroid_sq"),
        when(col("intra_mean_sq") > 0,
          col("inter_centroid_sq") / col("intra_mean_sq")).as("separability"))
      .orderBy("label")
  }

  /** nProbe→recall@k tuning curve for the IVF index, in ONE pass —
    * the dial-setting table an index operator reads before fixing
    * nProbe in production. One scoring pass derives the whole nested
    * curve, because probe sets are nested: the cells probed at
    * nProbe=p are the first p of the probe ORDER.
    *
    * Construction: brute-force ground truth per query (broadcast
    * queries — the eval runs on a query sample, like every recall
    * eval) with each truth member's INDEX CELL carried along; its
    * probe_rank = position of that cell in the query's centroid-
    * distance order (a narrow literal projection). A truth member is
    * retrieved at nProbe=p iff probe_rank ≤ p — it can never lose
    * the in-probe top-k cut, because global top-k members outrank
    * every other probed candidate by definition. So the full curve
    * is a ≤ numQueries·k-row frame exploded over p = 1..nlist, all
    * tiny-aggregate algebra after the one scoring pass.
    *
    * rows-only by design (float cosine); the spec pins the curve on
    * crafted clusters against hand-derived recalls and asserts the
    * structural invariants (monotone nondecreasing, exactly 1.0 at
    * nProbe = nlist). */
  def annRecallCurve(spark: SparkSession, dir: String, numQueries: Int = 10,
      k: Int = 5, nlist: Int = 10, iters: Int = 3): DataFrame = {
    annRecallCurveFrom(Tables.embeddings(spark, dir),
      kmeansCentroids(spark, dir, nlist, iters), numQueries, k)
  }

  private[graft] def annRecallCurveFrom(e: DataFrame,
      cents: Seq[(Int, Array[Float])], numQueries: Int, k: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(e.sparkSession)
    val nlist = cents.size
    val candidates = e.filter(col("vec_id") >= numQueries)
      .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"),
        explode(nearestCellsCol(col("embedding"), cents, 1)).as("cand_cell"))
    val queries = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        nearestCellsCol(col("embedding"), cents, nlist).as("probe_order"))
    val sim = round(expr("cosine_sim(q_emb, c_emb)"), 6)
    val w = Window.partitionBy("query_id").orderBy(desc("similarity"), asc("cand_id"))
    val truth = candidates.join(broadcast(queries))
      .select(col("query_id"), col("cand_id"), sim.as("similarity"),
        array_position(col("probe_order"), col("cand_cell")).as("probe_rank"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    // per-(query, nProbe) hit counts → curve; every frame from here is
    // ≤ numQueries·k·nlist rows
    val perQuery = truth
      .select(col("query_id"), col("probe_rank"),
        explode(sequence(lit(1), lit(nlist))).as("n_probe"))
      .groupBy("query_id", "n_probe")
      // divide by the per-query TRUTH-SET size, not the literal k: a
      // corpus smaller than numQueries+k yields <k ground-truth rows
      // and a /k recall could never reach the documented 1.0 at full
      // probe (count is constant across n_probe — one row per truth
      // member per probe depth)
      .agg((sum(when(col("probe_rank") <= col("n_probe"), 1).otherwise(0))
        .cast("double") / count(lit(1)).cast("double")).as("recall"))
    perQuery.groupBy("n_probe")
      .agg((sum(col("recall")) / count(lit(1)).cast("double")).as("mean_recall"),
        min(col("recall")).as("min_recall"),
        count(lit(1)).as("n_queries"))
      .orderBy("n_probe")
  }

  /** Truncated-dimension recall — the Matryoshka-representation
    * question (Kusupati et al., MRL, NeurIPS 2022) asked of the
    * corpus's OWN embeddings: if retrieval ran on only the first d
    * dimensions (the memory/latency knob a serving tier actually
    * turns), what fraction of the full-dim top-k survives? Per dim d:
    * brute top-k under cosine over `slice(embedding, 1, d)` compared
    * against the UNTRUNCATED-embedding truth set (computed from the
    * full vector, not `slice(..., dims.max)` — so a dims list whose
    * max falls short of the real embedding dimension is graded
    * against real truth, and the max(dims) row reads as genuine
    * truncation recall rather than a trivial 1.0), recall averaged
    * over the query sample. The same broadcast-query/bounded-pool
    * shape as
    * `ann_recall_curve` (the eval stage is brute by design — IVF is
    * the serving path); every post-scan frame is ≤ numQueries·k·|dims|
    * rows. Rows-only: float dot products (libm rule). */
  def recallVsDim(spark: SparkSession, dir: String, numQueries: Int = 10,
      k: Int = 5, dims: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val e = Tables.embeddings(spark, dir)
    val candidates = e.filter(col("vec_id") >= numQueries)
      .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
    val queries = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // two bounded plans over the same broadcast join (truncated grid
    // + full-dim truth); NOT checkpointed — materializing the
    // |corpus|·numQueries pair frame with both vectors would cost
    // more than the extra scan at corpus scale
    val pairs = candidates.join(broadcast(queries))
    val scored = pairs
      .select(col("query_id"), col("cand_id"), col("q_emb"), col("c_emb"),
        explode(typedlit(dims)).as("dim"))
      .select(col("query_id"), col("cand_id"), col("dim"),
        round(expr("cosine_sim(slice(q_emb, 1, dim), slice(c_emb, 1, dim))"), 6)
          .as("similarity"))
    val w = Window.partitionBy("query_id", "dim")
      .orderBy(desc("similarity"), asc("cand_id"))
    val topk = scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    // truth from the UNTRUNCATED embedding — independent of dims.max
    val wFull = Window.partitionBy("query_id")
      .orderBy(desc("similarity"), asc("cand_id"))
    val truth = pairs
      .select(col("query_id"), col("cand_id"),
        round(expr("cosine_sim(q_emb, c_emb)"), 6).as("similarity"))
      .withColumn("rank", row_number().over(wFull))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"))
    val perQuery = topk
      .join(truth.withColumn("in_truth", lit(1)),
        Seq("query_id", "cand_id"), "left")
      .groupBy("query_id", "dim")
      .agg((sum(coalesce(col("in_truth"), lit(0))).cast("double") /
        count(lit(1)).cast("double")).as("recall"))
    perQuery.groupBy("dim")
      .agg((sum(col("recall")) / count(lit(1)).cast("double")).as("mean_recall"),
        min(col("recall")).as("min_recall"),
        count(lit(1)).as("n_queries"))
      .orderBy("dim")
  }

  /** MMR diverse top-k retrieval (Carbonell & Goldstein '98) — the
    * redundancy-aware re-rank between ANN shortlist and consumer
    * (RAG context assembly, few-shot example picking, dedup'd
    * recommendations): greedily select k of a top-`poolSize`
    * relevance pool, each pick maximizing
    * λ·sim(q,c) − (1−λ)·max_{s∈selected} sim(c,s) — the second term
    * charges a candidate for resembling something already picked, so
    * two near-identical high-relevance docs can't both make the cut
    * (plain top-k keeps both; dedup'ing the CORPUS can't help when
    * the near-dups are legitimately distinct docs that happen to
    * crowd one query).
    *
    * Scale shape: the pool comes from the standard broadcast-query +
    * partial-top-k plan (swap in the IVF probe at corpus scale — the
    * pool stage IS ann's output); the greedy fold runs per query ROW
    * over its own ≤poolSize array via codegen'd HOFs (aggregate/
    * filter/transform/zip_with — zero UDFs, zero driver round-trips,
    * k·poolSize·k·D flops per query, trivially data-parallel across
    * queries). The groupBy(query_id) collect rides the top-k
    * window's existing exchange — no extra shuffle. Embeddings are
    * L2-normalized BEFORE pooling so in-pool similarity is a plain
    * dot fold.
    *
    * rows-only by design (float arithmetic); the spec replays the
    * exact greedy on the driver (same fold order → bit-equal scores)
    * and pins the planted near-dup demotion MMR exists for. */
  def mmrDiverseTopK(spark: SparkSession, dir: String, numQueries: Int = 10,
      k: Int = 5, poolSize: Int = 30, lambda: Double = 0.7): DataFrame =
    mmrDiverseFrom(Tables.embeddings(spark, dir), numQueries, k, poolSize, lambda)

  private[graft] def mmrDiverseFrom(e0: DataFrame, numQueries: Int, k: Int,
      poolSize: Int, lambda: Double): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(e0.sparkSession)
    val e = withNormalized(e0.select(col("vec_id"), col("embedding")),
      "embedding", "nemb")
    val queries = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("nemb").as("q_emb"))
    val candidates = e.filter(col("vec_id") >= numQueries)
      .select(col("vec_id").as("cand_id"), col("nemb").as("c_emb"))
    val sim = round(expr("cosine_sim(q_emb, c_emb)"), 6)
    val w = Window.partitionBy("query_id").orderBy(desc("similarity"), asc("cand_id"))
    val poolRows = candidates.join(broadcast(queries))
      .select(col("query_id"), col("cand_id"), sim.as("similarity"), col("c_emb"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= poolSize)
    mmrRerank(poolRows, k, lambda)
  }

  /** MMR over the PERSISTED-index pool — the production composition:
    * the shortlist comes from the IVF-PQ probe (cells bound the
    * candidates, PQ bounds the bytes) instead of the brute baseline,
    * so the diverse re-rank serves at index cost; pool recall then
    * bounds MMR recall (tuned with nProbe/refine as ever — the
    * re-rank is downstream of whatever the probe returned). One
    * cand-dimension join attaches normalized embeddings to the pool
    * (the probe returns ids + exact refined similarity; the fold
    * needs vectors for the in-pool penalty). */
  def mmrDiverseIndexed(spark: SparkSession, dir: String, numQueries: Int = 10,
      k: Int = 5, poolSize: Int = 30, lambda: Double = 0.7,
      nProbe: Int = 6, refine: Int = 96): DataFrame = {
    val pool = ivfpqTopK(spark, dir, numQueries, k = poolSize,
      nProbe = nProbe, refine = refine)
    val e = withNormalized(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      "embedding", "nemb")
    // BROADCAST the ~numQueries×poolSize pool against the corpus-sized
    // embeddings side — the pool's size ESTIMATE derives from the
    // corpus leaf, so without the hint static planning shuffles the
    // whole embeddings table to attach a few hundred vectors
    mmrRerank(
      e.select(col("vec_id").as("cand_id"), col("nemb").as("c_emb"))
        .join(broadcast(
          pool.select(col("query_id"), col("cand_id"), col("similarity"))),
          Seq("cand_id")),
      k, lambda)
  }

  /** The greedy MMR fold over ANY (query_id, cand_id, similarity,
    * c_emb) pool frame — shared by the brute and indexed variants so
    * the selection rule cannot drift between them. */
  private[graft] def mmrRerank(poolRows: DataFrame, k: Int,
      lambda: Double): DataFrame = {
    val pool = poolRows
      // on the brute path this groupBy reuses the top-k window's
      // query_id partitioning (no extra exchange); the indexed path's
      // cand_id join breaks that, but its pool is broadcast-tiny so
      // the one query_id exchange moves ~numQueries×poolSize rows
      .groupBy("query_id")
      .agg(array_sort(collect_list(struct(
        (-col("similarity")).as("neg_sim"), col("cand_id"),
        col("similarity").as("sim"), col("c_emb").as("emb")))).as("pool"))
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    val selType = "array<struct<cand_id:bigint,sim:double," +
      "emb:array<float>,mmr_score:double,pick:int>>"
    val selected = aggregate(
      sequence(lit(1), least(lit(k), size(col("pool")))),
      array().cast(selType),
      (sel, i) => {
        val scored = transform(
          filter(col("pool"), c => !exists(sel,
            s => s.getField("cand_id") === c.getField("cand_id"))),
          c => struct(
            (lit(lambda) * c.getField("sim") - lit(1.0 - lambda) * coalesce(
              array_max(transform(sel, s => dot(c.getField("emb"), s.getField("emb")))),
              lit(0.0))).as("score"),
            (-c.getField("cand_id")).as("neg_id"),
            c.getField("cand_id").as("cand_id"),
            c.getField("sim").as("sim"),
            c.getField("emb").as("emb")))
        val best = array_max(scored) // max score, ties to the SMALLEST id
        concat(sel, array(struct(
          best.getField("cand_id").as("cand_id"),
          best.getField("sim").as("sim"),
          best.getField("emb").as("emb"),
          best.getField("score").as("mmr_score"),
          i.cast("int").as("pick"))))
      })
    pool.select(col("query_id"), explode(selected).as("s"))
      .select(col("query_id"), col("s.pick").as("pick"),
        col("s.cand_id").as("cand_id"), col("s.sim").as("similarity"),
        col("s.mmr_score").as("mmr_score"))
      .orderBy("query_id", "pick")
  }

  /** Greedy k-center coreset selection (Gonzalez 1985 farthest-point
    * traversal) — the DIVERSITY sampler beside `sample_uniform_k`'s
    * representative one and `ann_mmr_diverse`'s per-query re-ranker:
    * pick k vectors that 2-approximate the minimal covering radius,
    * the standard seed/anchor selection for curriculum buckets, eval
    * probes, and annotation budgets over an embedding corpus.
    *
    * Scale split, same as kmeans init: the greedy itself is
    * inherently sequential (each pick depends on all previous), so it
    * runs on a deterministic hash-ordered candidate POOL (TakeOrdered
    * — per-partition top-N, no global sort; k·poolSize flops on the
    * driver, never corpus-sized). The corpus-sized work — assigning
    * every vector to its nearest selected center and the per-center
    * coverage census — is one narrow codegen'd projection against the
    * literal center array (`cosine_sim` fold, the nearestCellsCol
    * shape) plus one ≤k-row aggregation. Ties break to the earliest
    * pool index, so the selection is bit-reproducible. rows-only (the
    * census averages are float); spec pins planted-cluster hits,
    * coverage improving with k, and determinism. */
  def sampleKcenter(spark: SparkSession, dir: String, k: Int = 8,
                    poolSize: Int = 256): DataFrame =
    sampleKcenterFrom(graft.Tables.embeddings(spark, dir), k, poolSize)

  /** Deterministic hash-ordered candidate pool (TakeOrdered — no
    * global sort), collected for driver-side greedy selection. */
  private def hashOrderedPool(e: DataFrame, poolSize: Int): Array[(Long, Array[Float])] =
    e.select(col("vec_id"), col("embedding"))
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy("h", "vec_id").limit(poolSize)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)

  private def cosDriver(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Gonzalez greedy over a pool: seed = first row, then repeatedly
    * take the point FARTHEST (cosine distance) from its nearest
    * selected center; strict > keeps ties at the earliest index —
    * bit-reproducible. */
  private def kcenterPicks(pool: Array[(Long, Array[Float])],
                           k: Int): Seq[(Long, Array[Float])] = {
    require(pool.nonEmpty, "kcenterPicks: empty pool")
    val kk = math.min(k, pool.length)
    val selected = scala.collection.mutable.ArrayBuffer(pool.head)
    val minDist = scala.collection.mutable.ArrayBuffer.tabulate(pool.length)(
      i => 1.0 - cosDriver(pool(i)._2, pool.head._2))
    while (selected.length < kk) {
      var best = 0; var bd = -1.0
      var i = 0
      while (i < pool.length) {
        if (minDist(i) > bd) { bd = minDist(i); best = i }
        i += 1
      }
      val c = pool(best)
      selected += c
      i = 0
      while (i < pool.length) {
        val d = 1.0 - cosDriver(pool(i)._2, c._2)
        if (d < minDist(i)) minDist(i) = d
        i += 1
      }
    }
    selected.toSeq
  }

  def sampleKcenterFrom(e0: DataFrame, k: Int, poolSize: Int = 256): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(e0.sparkSession)
    val e = e0.select(col("vec_id"), col("embedding"))
    val pool = hashOrderedPool(e, poolSize)
    require(pool.nonEmpty, "sampleKcenter: empty embeddings input")
    val selected = scala.collection.mutable.ArrayBuffer(kcenterPicks(pool, k): _*)
    // corpus-sized census: nearest-center assignment as a literal fold
    val centArr = array(selected.toSeq.zipWithIndex.map { case ((_, vec), i) =>
      struct(lit(i).as("c"), array(vec.toIndexedSeq.map(lit(_)): _*).as("vec"))
    }: _*)
    val scored = transform(centArr, c => struct(
      (-call_function("cosine_sim", col("embedding"), c.getField("vec"))).as("neg"),
      c.getField("c").as("c")))
    val bestC = element_at(array_sort(scored), 1)
    val centerVid = selected.toSeq.zipWithIndex.foldLeft(lit(-1L)) {
      case (acc, ((vid, _), i)) => when(col("center_id") === i, lit(vid)).otherwise(acc)
    }
    e.select(col("vec_id"), bestC.getField("c").as("center_id"),
        (-bestC.getField("neg")).as("sim"))
      .groupBy(col("center_id"))
      .agg(count(lit(1)).as("n_assigned"),
        avg(col("sim")).as("mean_cos"),
        min(col("sim")).as("coverage_min_cos"))
      .withColumn("center_vec_id", centerVid)
      .select(col("center_id"), col("center_vec_id"), col("n_assigned"),
        col("mean_cos"), col("coverage_min_cos"))
      .orderBy("center_id")
  }

  /** Per-dimension census of the embedding corpus: mean / min / max /
    * mean-abs / RMS for each coordinate. The embedding-health panel a
    * pipeline reads before trusting downstream cosine math — a dead
    * dimension (rms ≈ 0), a runaway one (|mean| ≫ others), or a
    * non-centered batch (means systematically ≠ 0) all show up here,
    * and it's the diagnostic input `embedding_pca`'s whitening
    * assumes. The ONE embedding query that is fully SQL-expressible
    * (closed-form per-dim aggregates; sqrt is IEEE-correctly-rounded
    * so the RMS survives the oracle hash, unlike log/exp — the libm
    * rule).
    *
    * Scale shape: posexplode to (row × dim) then ONE map-combined
    * rollup to |dims| rows — partials are fixed-state per dim, no
    * vector ever crosses the shuffle whole. */
  /** Per-VECTOR norm census on fixed quarter-unit bins — the
    * unnormalized-batch detector (`embedding_dim_stats` reads
    * per-DIMENSION health; this reads per-vector magnitude: a batch
    * encoded without L2 normalization, or through the wrong
    * pooling, lands in different norm bins than the corpus and
    * poisons cosine-vs-dot assumptions downstream). ZERO shuffle on
    * vector content: the squared-sum is a codegen'd left fold inside
    * each row, sqrt is IEEE-correctly-rounded, bins are fixed
    * power-free quarters (comparable across runs, the histogram
    * rule), and only (int bin, count) crosses the one rollup
    * exchange. Oracle-exact because the DuckDB side folds with
    * list_reduce in the same left-to-right order — both engines
    * compute bit-identical norms. */
  def embeddingNormCensus(spark: SparkSession, dir: String): DataFrame =
    embeddingNormCensusFrom(Tables.embeddings(spark, dir))

  def embeddingNormCensusFrom(e: DataFrame): DataFrame = {
    val ss = aggregate(col("embedding"), lit(0.0),
      (a, x) => a + x.cast("double") * x.cast("double"))
    val binned = e
      .select(least(floor(sqrt(ss) * 4).cast("int"), lit(40)).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_vectors"))
    // r15 (guide §2.4): window total over the ≤41-bin census — the
    // 1-row agg + crossJoin re-derived the norm-fold scan twice.
    val wAllBins = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    binned
      .withColumn("n_total", sum(col("n_vectors")).over(wAllBins))
      .select(col("bin"),
        (col("bin").cast("double") / 4.0).as("norm_lo"),
        col("n_vectors"),
        (col("n_vectors").cast("double") / col("n_total").cast("double")).as("share"))
      .orderBy("bin")
  }

  val embeddingNormCensusSql: String =
    """WITH n AS (
      |  SELECT LEAST(CAST(FLOOR(SQRT(list_reduce(
      |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      |      (a, b) -> a + b)) * 4) AS INT), 40) AS bin
      |  FROM embeddings
      |), h AS (
      |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_vectors FROM n GROUP BY bin
      |)
      |SELECT CAST(bin AS INT) AS bin, CAST(bin AS DOUBLE) / 4.0 AS norm_lo, n_vectors,
      |  CAST(n_vectors AS DOUBLE) / CAST(SUM(n_vectors) OVER () AS DOUBLE) AS share
      |FROM h ORDER BY bin""".stripMargin

  def embeddingDimStats(spark: SparkSession, dir: String): DataFrame =
    embeddingDimStatsFrom(Tables.embeddings(spark, dir))

  def embeddingDimStatsFrom(e: DataFrame): DataFrame =
    e
      .select(posexplode(col("embedding")).as(Seq("dim", "f")))
      .select(col("dim"), col("f").cast("double").as("v"))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        avg(col("v")).as("mean_v"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"),
        avg(abs(col("v"))).as("mean_abs"),
        sqrt(avg(col("v") * col("v"))).as("rms"))
      .orderBy("dim")

  val embeddingDimStatsSql: String =
    """SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
      |  AVG(v) AS mean_v, MIN(v) AS min_v, MAX(v) AS max_v,
      |  AVG(ABS(v)) AS mean_abs, SQRT(AVG(v*v)) AS rms
      |FROM (
      |  SELECT CAST(generate_subscripts(embedding, 1) AS INT) - 1 AS dim,
      |         CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings)
      |GROUP BY dim ORDER BY dim""".stripMargin

  /** Per-dimension embedding DRIFT between two corpus cohorts — the
    * `profileDrift` idea on the embedding axis (a re-trained or
    * fine-tuned encoder shifts dimension means long before recall
    * visibly degrades; `IndexMaintenance` detects drift at the CELL
    * grain, this names the DIMENSIONS that moved). The normalized
    * shift (mean_b − mean_a)/rms_a is a per-dim effect size; |shift| >
    * 0.25 flags.
    *
    * The registry query instantiates the two cohorts by vec_id parity
    * — a deterministic surrogate for snapshot A/B on a table with no
    * time column (on real corpora pass the two snapshots to
    * [[embeddingDriftBetween]]); on the synthetic embeddings the
    * parity split is an A/A read, so near-zero shifts everywhere IS
    * the check. Scale shape: posexplode to (row × dim), ONE
    * map-combined conditional rollup to |dims| rows — the
    * embeddingDimStats shape with a cohort flag; the flag rides the
    * explode, so one pass covers both cohorts. */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    embeddingDriftBetween(
      e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 =!= 0))
  }

  def embeddingDriftBetween(a: DataFrame, b: DataFrame,
                            threshold: Double = 0.25): DataFrame =
    a.select(lit(true).as("is_a"), col("embedding"))
      .unionByName(b.select(lit(false).as("is_a"), col("embedding")))
      .select(col("is_a"), posexplode(col("embedding")).as(Seq("dim", "f")))
      .select(col("is_a"), col("dim"), col("f").cast("double").as("v"))
      .groupBy("dim")
      .agg(
        count(when(col("is_a"), 1)).as("n_a"),
        count(when(!col("is_a"), 1)).as("n_b"),
        avg(when(col("is_a"), col("v"))).as("mean_a"),
        avg(when(!col("is_a"), col("v"))).as("mean_b"),
        sqrt(avg(when(col("is_a"), col("v") * col("v")))).as("rms_a"),
        sqrt(avg(when(!col("is_a"), col("v") * col("v")))).as("rms_b"))
      .withColumn("mean_delta", col("mean_b") - col("mean_a"))
      .withColumn("shift", when(col("rms_a") =!= lit(0.0),
        (col("mean_b") - col("mean_a")) / col("rms_a")))
      .withColumn("drift_flag",
        coalesce(abs(col("shift")) > lit(threshold), lit(false)))
      .orderBy("dim")

  val embeddingDriftSql: String =
    """WITH v AS (
      |  SELECT vec_id % 2 = 0 AS is_a,
      |    CAST(generate_subscripts(embedding, 1) AS INT) - 1 AS dim,
      |    CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings
      |), g AS (
      |  SELECT dim,
      |    CAST(COUNT(CASE WHEN is_a THEN 1 END) AS BIGINT) AS n_a,
      |    CAST(COUNT(CASE WHEN NOT is_a THEN 1 END) AS BIGINT) AS n_b,
      |    AVG(CASE WHEN is_a THEN v END) AS mean_a,
      |    AVG(CASE WHEN NOT is_a THEN v END) AS mean_b,
      |    SQRT(AVG(CASE WHEN is_a THEN v * v END)) AS rms_a,
      |    SQRT(AVG(CASE WHEN NOT is_a THEN v * v END)) AS rms_b
      |  FROM v GROUP BY dim
      |)
      |SELECT dim, n_a, n_b, mean_a, mean_b, rms_a, rms_b,
      |  mean_b - mean_a AS mean_delta,
      |  CASE WHEN rms_a <> 0.0 THEN (mean_b - mean_a) / rms_a END AS shift,
      |  COALESCE(ABS(CASE WHEN rms_a <> 0.0 THEN (mean_b - mean_a) / rms_a END)
      |    > 0.25, FALSE) AS drift_flag
      |FROM g ORDER BY dim""".stripMargin
}
