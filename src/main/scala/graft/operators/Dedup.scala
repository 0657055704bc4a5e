package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deduplication operators for LLM-training-data pipelines over the
  * `documents` table (SURVEY.md §2D): exact, n-gram Jaccard,
  * MinHash+LSH, SimHash.
  *
  * Scale design: the only all-pairs computation is inside a BLOCK —
  * exact dedup is a hash groupBy (one shuffle); Jaccard pairs are
  * blocked by language (in production: by LSH band, as in
  * `minhashLsh`); MinHash/SimHash candidates come from band-bucket
  * joins, never an unblocked self-join. All signatures are computed
  * with higher-order functions on arrays — no UDFs, no explode of
  * shingles (the per-doc signature is folded in a single projection).
  */
object Dedup {

  @transient private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Whitespace tokens. */
  private def toks(c: Column): Column = split(trim(c), "\\s+")

  /** Shingles hashed to sorted distinct longs — set operations on long
    * arrays (merge pass) instead of string arrays (per-pair hash-set
    * build). Hashing is injective in practice at shingle-set sizes, so
    * intersection/union cardinalities — and hence Jaccard — are
    * unchanged. One fused native pass (graft.functions
    * .TrigramShingleHashes): the HOF chain materialized every trigram
    * as a string and ran two distinct passes per document. */
  private def shingleHashes(c: Column): Column =
    call_function("trigram_hashes", c)

  /** Exact dedup: group by content hash, keep min doc_id.
    * One shuffle on the 128-bit hash — the canonical 100 TB exact-dedup
    * plan (hash is computed map-side; the shuffle carries only
    * (hash, id)). */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("text_md5"))
      .agg(
        count(lit(1)).as("dup_count"),
        min(col("doc_id")).as("keeper_doc_id"))
      .orderBy("text_md5")

  val exactSql: String =
    """SELECT md5(text) AS text_md5, COUNT(*) AS dup_count, MIN(doc_id) AS keeper_doc_id
      |FROM documents GROUP BY 1 ORDER BY text_md5""".stripMargin

  /** The deduplicated corpus itself: one kept document per distinct
    * content hash (min doc_id wins). This is the consumable output of
    * exact dedup — `exact()` reports the groups; this returns the
    * surviving rows. Implemented as a keeper-id window filter, one
    * shuffle on the content hash. */
  def dedupedCorpus(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col("text").cast("binary")))
    Tables.documents(spark, dir)
      .withColumn("keeper", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  val dedupedCorpusSql: String =
    """SELECT doc_id, lang, source, n_chars
      |FROM (
      |  SELECT doc_id, lang, source, n_chars,
      |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
      |  FROM documents
      |) t WHERE doc_id = keeper
      |ORDER BY doc_id""".stripMargin

  /** Near-dup pairs by exact 3-gram Jaccard within a language block.
    * The block bounds the self-join (at scale the block key would be an
    * LSH bucket — see minhashLsh — this operator is the exact verifier
    * that runs on candidate pairs). */
  /** @param broadcastBuild broadcast the build side (default): right
    *   when this runs as the exact verifier over bounded candidate
    *   blocks. Pass false for a pre-blocked corpus too large to
    *   broadcast — the join falls back to a shuffle on the block key
    *   (then the caller must ensure block-key cardinality ≫ cores,
    *   e.g. LSH band buckets, or parallelism collapses). */
  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.2,
                   broadcastBuild: Boolean = true): DataFrame =
    ngramJaccardFrom(spark, Tables.documents(spark, dir), threshold, broadcastBuild)

  private[graft] def ngramJaccardFrom(spark: SparkSession, docs: DataFrame,
      threshold: Double = 0.2, broadcastBuild: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // repartition before the heavy per-row work: the corpus may arrive
    // in a handful of splits (here: one parquet file), which would run
    // shingling — and every probe of the broadcast join — in one task.
    // The shuffle moves only raw text; the pair scoring downstream is
    // orders of magnitude heavier.
    val nPart = spark.sessionState.conf.numShufflePartitions
    val d = docs
      .repartition(nPart, col("doc_id"))
      .select(col("doc_id"), col("lang"), shingleHashes(col("text")).as("sh"))
      .withColumn("n", size(col("sh")))
    val a = d.as("a")
    val b = d.as("b")
    // |A∩B| in one merge pass (native expression); |A∪B| = |A|+|B|-|A∩B|
    val inter = expr("sorted_intersect_count(a.sh, b.sh)")
    val jac = inter.cast("double") /
      (col("a.n") + col("b.n") - inter).cast("double")
    // Length prefilter (lossless): J(A,B) ≤ min/max, so any pair with
    // min(|A|,|B|) < τ·max(|A|,|B|) can never reach the threshold —
    // pruned BEFORE the merge-count runs. The build side is broadcast:
    // a lang block's dictionary is bounded (this operator is the exact
    // verifier; unbounded corpora go through minhashLsh first), and a
    // broadcast join keeps full parallelism where a shuffle join would
    // collapse to one partition per distinct lang key.
    a.join(if (broadcastBuild) broadcast(b) else b,
        col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id") &&
        least(col("a.n"), col("b.n")).cast("double") >=
          lit(threshold) * greatest(col("a.n"), col("b.n")).cast("double"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.lang").as("lang"), jac.as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** The DuckDB trigram-shingle snippet — the oracle-parity contract
    * for BOTH exact pair verifiers (Jaccard and containment); one
    * definition so a tokenizer fix can't reach one oracle and miss
    * the other. Mirrors the native `shingleHashes` fallback: <3 words
    * → single tokens. */
  private val sqlShingles: String =
    """list_distinct(CASE WHEN len(string_split_regex(trim(text), '\s+')) >= 3
      |  THEN list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 1),
      |       i -> string_split_regex(trim(text), '\s+')[i] || ' ' || string_split_regex(trim(text), '\s+')[i+1] || ' ' || string_split_regex(trim(text), '\s+')[i+2])
      |  ELSE string_split_regex(trim(text), '\s+') END)""".stripMargin

  val ngramJaccardSql: String = {
    val sh = sqlShingles
    s"""WITH d AS (SELECT doc_id, lang, $sh AS sh FROM documents)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
       |FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.2
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Asymmetric n-gram CONTAINMENT pairs — what Jaccard structurally
    * misses: a short doc quoted verbatim inside a long one has
    * containment ≈ 1 but Jaccard ≈ |short|/|long| ≈ 0, so excerpt/
    * quotation dedup needs |A∩B|/|A| per direction, thresholded on
    * the larger direction. Same lang-blocked broadcast join and
    * one-merge-pass native intersect as ngramJaccard, but WITHOUT its
    * length prefilter — that filter is exactly the pairs containment
    * exists to keep (the smaller side can always be fully contained).
    * Like the Jaccard verifier, this is the exact in-block form;
    * unbounded corpora block through minhashLsh first. */
  def ngramContainment(spark: SparkSession, dir: String, threshold: Double = 0.8,
                       broadcastBuild: Boolean = true): DataFrame =
    ngramContainmentFrom(spark, Tables.documents(spark, dir), threshold, broadcastBuild)

  private[graft] def ngramContainmentFrom(spark: SparkSession, docs: DataFrame,
      threshold: Double, broadcastBuild: Boolean): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val nPart = spark.sessionState.conf.numShufflePartitions
    val d = docs
      .repartition(nPart, col("doc_id"))
      .select(col("doc_id"), col("lang"), shingleHashes(col("text")).as("sh"))
      .withColumn("n", size(col("sh")))
    val a = d.as("a")
    val b = d.as("b")
    val inter = expr("sorted_intersect_count(a.sh, b.sh)")
    val ca = inter.cast("double") / col("a.n").cast("double")
    val cb = inter.cast("double") / col("b.n").cast("double")
    a.join(if (broadcastBuild) broadcast(b) else b,
        col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.lang").as("lang"),
        ca.as("containment_a"), cb.as("containment_b"))
      .filter(greatest(col("containment_a"), col("containment_b")) >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  val ngramContainmentSql: String = {
    val sh = sqlShingles
    s"""WITH d AS (SELECT doc_id, lang, $sh AS sh FROM documents)
       |SELECT doc_a, doc_b, lang, containment_a, containment_b
       |FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / CAST(len(a.sh) AS DOUBLE) AS containment_a,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / CAST(len(b.sh) AS DOUBLE) AS containment_b
       |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |) t
       |WHERE GREATEST(containment_a, containment_b) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Number of MinHash permutations / LSH bands (16 bands × 4 rows —
    * catches Jaccard ≳ 0.5 with high probability). Permutation
    * parameters live in the native expression
    * (graft.functions.MinHashSignature — a fused single pass; the
    * higher-order-function form inlined the shingle-hash subtree 64
    * times, re-hashing every shingle once per permutation). */
  val NumPerms = 64
  val NumBands = 16
  val RowsPerBand = 4

  /** The ONE default for every bucket skew guard in the dedup/ANN
    * family — referenced by each public API's default parameter so
    * the query surface and pipeline consumers can't drift. */
  val DefaultMaxBucket = 1024

  /** Per-doc MinHash signature: fused shingle hashing, then one fused
    * 64-permutation pass (both native codegen'd expressions). */
  private def signature(text: Column): Column =
    call_function("minhash_sig", call_function("trigram_hashes", text))

  /** MinHash + LSH banding: shingle → 64 minhashes → 16 band keys →
    * bucket self-join → candidate pairs with estimated Jaccard
    * (signature agreement ratio). At 100 TB this is THE near-dup plan:
    * the shuffle key is (band_idx, band_hash) so only colliding docs
    * ever meet; no unblocked pair enumeration exists anywhere.
    * Oracle: rows-only (approximate operator, no SQL equivalent). */
  /** @param maxBucket skew guard: a band bucket larger than this is a
    *   degenerate block (e.g. a boilerplate/empty-text cluster) whose
    *   O(bucket²) pairs add no near-dup information beyond what exact
    *   dedup already collapses — such buckets are dropped rather than
    *   allowed to dominate the stage. */
  def minhashLsh(spark: SparkSession, dir: String, estThreshold: Double = 0.4,
                 maxBucket: Int = DefaultMaxBucket): DataFrame =
    minhashLshFrom(spark, Tables.documents(spark, dir), estThreshold, maxBucket)
      .orderBy("doc_a", "doc_b")

  /** DataFrame-input core of `minhashLsh` — input needs (doc_id,
    * text); lets pipelines run the near-dup stage over an
    * already-cleaned frame instead of re-reading the table. UNSORTED:
    * only the public query wrapper pays the presentation orderBy —
    * pipeline consumers feed the pairs straight into an eagerly
    * materialized edge list, where a global sort is pure waste.
    * Defaults live on the public wrapper only, so the two entries
    * can't drift. */
  private[graft] def minhashLshFrom(spark: SparkSession, raw: DataFrame,
                                    estThreshold: Double,
                                    maxBucket: Int): DataFrame = {
    // Pairs are enumerated INSIDE each band bucket from the grouped
    // member list: signatures are computed once and shuffled once (the
    // self-join formulation planned the fused signature subtree into
    // BOTH join sides — twice the dominant CPU cost — and leaned on a
    // broadcast). Enumeration is by INDEX pair (i < j, ~n²/2 tiny
    // structs); the signature payloads are looked up from the member
    // list only at projection time, per exploded pair — the naive
    // member×member product would materialize every payload n times
    // inside one row.
    val pairs = bucketPairs(minhashBandedFrom(spark, raw),
      Seq("band_idx", "band_hash"), Seq("doc_id", "sig"), maxBucket)
    val x = expr("element_at(members, p.i)")
    val y = expr("element_at(members, p.j)")
    val agree = call_function("sig_agree", x.getField("sig"), y.getField("sig"))
    pairs
      .select(
        least(x.getField("doc_id"), y.getField("doc_id")).as("doc_a"),
        greatest(x.getField("doc_id"), y.getField("doc_id")).as("doc_b"),
        (agree.cast("double") / lit(NumPerms.toDouble)).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= estThreshold)
  }

  /** All (i, j) index pairs with 1 ≤ i < j ≤ size(members) — the
    * bounded in-bucket pair space as 8-byte structs (payloads stay in
    * the member list and are dereferenced per pair downstream). */
  private[operators] def indexPairs: Column = expr(
    """flatten(transform(sequence(1, size(members) - 1), i ->
      |  transform(sequence(i + 1, size(members)), j -> struct(i AS i, j AS j))))""".stripMargin)

  /** The (doc_id, sig, band_idx, band_hash) MinHash banding frame —
    * the shared input of `minhashLsh` and `minhashDroppedBuckets` (the
    * diagnostic must profile EXACTLY the band keys the pair stage
    * shuffles on). */
  private[graft] def minhashBanded(spark: SparkSession, dir: String): DataFrame =
    minhashBandedFrom(spark, Tables.documents(spark, dir))

  private[graft] def minhashBandedFrom(spark: SparkSession, raw: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // repartition raw docs so signature computation parallelizes even
    // from a single input split (see ngramJaccard)
    val docs = raw
      .repartition(spark.sessionState.conf.numShufflePartitions, col("doc_id"))
      .select(col("doc_id"), signature(col("text")).as("sig"))
    docs.select(
      col("doc_id"), col("sig"),
      explode(transform(sequence(lit(0), lit(NumBands - 1)), b =>
        struct(b.as("band_idx"),
          xxhash64(slice(col("sig"), b * RowsPerBand + 1, lit(RowsPerBand)))
            .as("band_hash")))).as("band"))
      .select(col("doc_id"), col("sig"), col("band.band_idx"), col("band.band_hash"))
  }

  /** Grouped-bucket index-pair enumeration shared by every banded
    * near-dup family (MinHash, SimHash, embedding-LSH): one shuffle on
    * the band key, members collected per bucket, (i, j) pairs exploded
    * as tiny index structs with payloads dereferenced downstream.
    * Buckets above `maxBucket` are DROPPED (skew guard) — use
    * `droppedBuckets` over the same banded frame to quantify what was
    * lost before trusting a keep-set on a skewed corpus. */
  private[graft] def bucketPairs(banded: DataFrame, keys: Seq[String],
                                 payload: Seq[String], maxBucket: Int): DataFrame =
    banded
      .groupBy(keys.map(col): _*)
      .agg(collect_list(struct(payload.map(col): _*)).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
      .select(col("members"), explode(indexPairs).as("p"))

  /** Skew-guard observability: one row quantifying the buckets the
    * `maxBucket` guard in `bucketPairs` dropped — bucket count, member
    * rows inside them, and the largest bucket seen. A non-zero count
    * means some candidate pairs were never enumerated (recall loss
    * concentrated in degenerate clusters — boilerplate/empty-text
    * docs the exact-dedup pass already collapses). */
  private[graft] def droppedBuckets(banded: DataFrame, keys: Seq[String],
                                    maxBucket: Int): DataFrame =
    banded
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucket)
      .agg(
        count(lit(1)).as("dropped_buckets"),
        coalesce(sum(col("bucket_size")), lit(0L)).cast("bigint").as("rows_in_dropped"),
        coalesce(max(col("bucket_size")), lit(0L)).cast("bigint").as("max_bucket_size"))

  /** Dropped-bucket report for `minhashLsh` at the same maxBucket. */
  def minhashDroppedBuckets(spark: SparkSession, dir: String,
                            maxBucket: Int = DefaultMaxBucket): DataFrame =
    droppedBuckets(minhashBanded(spark, dir), Seq("band_idx", "band_hash"), maxBucket)

  /** Dropped-bucket report for `simhash` at the same maxBucket. */
  def simhashDroppedBuckets(spark: SparkSession, dir: String,
                            maxBucket: Int = DefaultMaxBucket): DataFrame =
    droppedBuckets(simhashBanded(spark, dir), Seq("band_idx", "band_val"), maxBucket)

  /** The consumable output of NEAR-dup dedup: one kept document per
    * near-duplicate cluster (min doc_id wins), where clusters are the
    * connected components of the `minhashLsh` candidate-pair graph.
    *
    * Components are resolved with min-id label propagation TO
    * FIXPOINT — each round every doc's keeper becomes the min over
    * itself and its neighbors' keepers (one join + one grouped min
    * over (doc_id, keeper) pairs), and the loop stops as soon as a
    * round changes nothing. Rounds needed = the largest component's
    * eccentricity from its min id — tiny for near-dup clusters —
    * with `maxRounds` as a pathological-chain cap. Per-round frames
    * are localCheckpoint'ed: it cuts the growing lineage AND makes
    * the cheap convergence probe (limit-1 over changed rows) read
    * materialized data. On a real cluster prefer a reliable
    * checkpoint dir (localCheckpoint does not survive executor
    * loss). */
  def nearDupCorpus(spark: SparkSession, dir: String, estThreshold: Double = 0.4,
                    maxRounds: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    // the unsorted pair core: the presentation orderBy of the public
    // minhashLsh would be destroyed by the union+groupBy inside the
    // collapse anyway
    nearDupCorpusFromPairs(docs,
        minhashLshFrom(spark, Tables.documents(spark, dir), estThreshold, DefaultMaxBucket)
          .select(col("doc_a"), col("doc_b")), maxRounds)
      .orderBy("doc_id")
  }

  /** The component-collapse core over ANY candidate-pair graph —
    * feed it `minhashLsh`, `simhash`, `ngramJaccard` or
    * `Similarity.cosineNearDup` pairs (renamed to doc_a/doc_b).
    * UNSORTED output (the survivors feed writes/censuses downstream —
    * query wrappers add their own presentation orderBy).
    *
    * @param requireConvergence when true, a loop that exits via the
    *   `maxRounds` cap (a component deeper than maxRounds hops from
    *   its min id — still partially collapsed) throws instead of
    *   returning the partial keep-set; when false it logs a WARN so
    *   non-converged runs are detectable either way. */
  def nearDupCorpusFromPairs(docs: DataFrame, pairs: DataFrame,
                             maxRounds: Int = 20,
                             requireConvergence: Boolean = false): DataFrame = {
    // the measured chooser: near-dup graphs converge inside the probe
    // and stay on min-label; a pathological deep component (chained
    // near-copies from a template mill) switches to star contraction
    val (labels, _) = componentLabelsAuto(docs, pairs,
      maxRounds = maxRounds, requireConvergence = requireConvergence)
    docs.join(labels.filter(col("doc_id") === col("keeper")), Seq("doc_id"))
      .select(docs.columns.map(col).toSeq: _*)
  }

  /** The label-propagation core itself: (doc_id, keeper = component
    * min id) for every doc — shared by the survivor filter above and
    * the cluster-size census. */
  private[graft] def componentLabels(docs: DataFrame, pairs: DataFrame,
                                     maxRounds: Int = 20,
                                     requireConvergence: Boolean = false): DataFrame = {
    // candidate generation is materialized ONCE, then the undirected
    // adjacency is a cheap narrow union over the checkpointed pairs —
    // checkpointing only the union would re-plan the (expensive)
    // generation subtree into BOTH union branches, and no lineage cut
    // at all would re-plan it into every propagation round
    val p = pairs.localCheckpoint()
    val edges = p.unionByName(
      p.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    var labels = docs.select(col("doc_id"), col("doc_id").as("keeper"))
      .localCheckpoint()
    var r = 0
    var converged = false
    while (r < maxRounds && !converged) {
      val next = minLabelRound(edges, labels).localCheckpoint()
      converged = next.filter(col("keeper") =!= col("prev_keeper")).isEmpty
      labels = next.select(col("doc_id"), col("keeper"))
      r += 1
    }
    if (!converged) {
      val msg = s"near-dup label propagation hit the $maxRounds-round cap without " +
        "converging: some component deeper than the cap keeps multiple 'keeper' docs"
      if (requireConvergence) throw new IllegalStateException(msg)
      log.warn(msg)
    }
    labels
  }

  /** One min-label propagation round (keeper, prev_keeper per doc) —
    * shared by [[componentLabels]] and the probe loop below. */
  private def minLabelRound(edges: DataFrame, labels: DataFrame): DataFrame = {
    val viaNeighbors = edges
      .join(labels.withColumnRenamed("doc_id", "nbr"), col("doc_b") === col("nbr"))
      .groupBy(col("doc_a").as("doc_id"))
      .agg(min(col("keeper")).as("nbr_keeper"))
    labels.withColumnRenamed("keeper", "prev_keeper")
      .join(viaNeighbors, Seq("doc_id"), "left")
      .select(col("doc_id"),
        least(col("prev_keeper"), coalesce(col("nbr_keeper"), col("prev_keeper"))).as("keeper"),
        col("prev_keeper"))
  }

  /** The MEASURED chooser between the repo's two component cores —
    * the tuning-closure pattern applied to its own graph machinery
    * (gap histogram → GapSeconds, skew census → salt factor; here:
    * observed label-flow → which CC algorithm). Min-label propagation
    * needs one round per hop of a component's eccentricity from its
    * min id — ideal for near-dup graphs (stars/cliques, diameter ≤ 3,
    * converges inside the probe), fatal for a long chain — while
    * `Graph.connectedComponentsFrom`'s star contraction is O(log² n)
    * rounds regardless of diameter but pays two groupBy-mins + two
    * joins per round. The rule is measured, not guessed: run
    * min-label `probeRounds` rounds counting changed rows; if the
    * count hasn't at least HALVED relative to round 1 (a deep
    * component keeps labels flowing at full rate), switch to star
    * contraction — otherwise finish min-label's remaining budget.
    * Labels are identical either way (both converge to the component
    * min id — spec-pinned); only the plan changes. Probe cost is one
    * count per probe round, the same class as the convergence probe
    * the plain loop already pays. Returns the chosen path for logs. */
  private[graft] def componentLabelsAuto(docs: DataFrame, pairs: DataFrame,
      probeRounds: Int = 3, maxRounds: Int = 20,
      requireConvergence: Boolean = false): (DataFrame, String) = {
    require(probeRounds >= 1 && maxRounds >= 2,
      s"need probeRounds >= 1 and maxRounds >= 2, got $probeRounds/$maxRounds")
    val probe = math.min(probeRounds, maxRounds - 1)
    val p = pairs.localCheckpoint()
    val edges = p.unionByName(
      p.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    var labels = docs.select(col("doc_id"), col("doc_id").as("keeper"))
      .localCheckpoint()
    var firstChanged = -1L
    var lastChanged = -1L
    var r = 0
    while (r < probe && lastChanged != 0L) {
      val next = minLabelRound(edges, labels).localCheckpoint()
      lastChanged = next.filter(col("keeper") =!= col("prev_keeper")).count()
      if (r == 0) firstChanged = lastChanged
      labels = next.select(col("doc_id"), col("keeper"))
      r += 1
    }
    if (lastChanged == 0L) (labels, "min_label") // converged inside the probe
    else if (lastChanged * 2L > firstChanged) {
      // label flow has not collapsed — a deep component; the star
      // path re-labels from scratch (its rounds don't compose with
      // the probe's partial labels), O(log² n) regardless of depth
      log.info(s"componentLabelsAuto: switching to star contraction " +
        s"(changed $firstChanged -> $lastChanged after $probe rounds)")
      val vertices = docs.select(col("doc_id"))
      (Graph.connectedComponentsFrom(vertices, p,
          requireConvergence = requireConvergence)
        .select(col("id").as("doc_id"), col("component").as("keeper")), "star")
    } else {
      // collapsing geometrically — finish min-label's budget
      var converged = false
      while (r < maxRounds && !converged) {
        val next = minLabelRound(edges, labels).localCheckpoint()
        converged = next.filter(col("keeper") =!= col("prev_keeper")).isEmpty
        labels = next.select(col("doc_id"), col("keeper"))
        r += 1
      }
      if (!converged) {
        val msg = s"near-dup label propagation hit the $maxRounds-round cap " +
          "without converging after a collapsing probe"
        if (requireConvergence) throw new IllegalStateException(msg)
        log.warn(msg)
      }
      (labels, "min_label")
    }
  }

  /** Character-grain near-dup pairs by EXACT edit distance — the
    * modality the shingle family can't give: Jaccard/MinHash measure
    * token-SET overlap, so two docs differing by a few character
    * typos, a changed number, or an inserted word score near-1 but
    * the family never says "3 edits apart", while a doc with the same
    * vocabulary reshuffled scores high without being an edit-twin.
    * This reports the exact Levenshtein distance for candidate pairs
    * — the dedup evidence a takedown/canonicalization pipeline wants.
    *
    * Scale shape — never all-pairs: candidates come from PassJoin
    * pigeonhole blocking (Li, Deng, Feng — "PASS-JOIN: a
    * partition-based method for similarity joins", VLDB 2011, §3-4,
    * re-derived here for the equi-join formulation). Each doc is
    * partitioned into maxD+1 DISJOINT fixed-width segments of width
    * w = len div (maxD+1) at p_i = i·w + 1 (0-based i; the ≤ maxD-char
    * tail past the last segment is deliberately uncovered — the
    * pigeonhole argument needs the segments disjoint, not covering:
    * ≤ maxD edits each touch at most one of the maxD+1 disjoint
    * segments, so some segment of `s` survives untouched and appears
    * VERBATIM in any `r` within distance maxD). Its landing position
    * σ obeys the paper's two multi-match-aware bounds: |σ − p_i| ≤ i
    * (edits at or before p_i shift the image by ≤ 1 each) and
    * |σ − p_i − Δ| ≤ maxD − i with Δ = len_r − len_s (the suffix
    * after the image absorbs the remaining edits). Existence of an
    * untouched segment satisfying BOTH: f(j) = (edits before p_j) − j
    * is ≥ 0 at the first untouched segment (all earlier segments
    * carry ≥ 1 edit), ≤ e − maxD at the last (all later segments
    * carry ≥ 1 edit), and descends by at most 1 between consecutive
    * untouched segments — so f = 0 is hit at an untouched segment,
    * where both bounds follow. The SHORTER doc is always the indexed
    * side (ties by id) — the lemma holds for either role, so fixing
    * one halves the join. The probe side emits substrings of width
    * w−1/w only (the shorter partner's width never exceeds the
    * probe's) over the two-bound window, with Δ known at emission to
    * the width bucket and applied exactly post-join. RECALL IS
    * COMPLETE for pairs with both lengths ≥
    * maxD+1 — the only boundary left is sub-(maxD+1)-char docs, where
    * "within 16 edits" is vacuous anyway. One DENSITY boundary is
    * inherent rather than a blocking defect: docs with len ≲ 3·maxD
    * get width-1/2 segments that match broadly — but ANY exact
    * blocking degrades there ("within maxD edits" barely constrains
    * strings ~2·maxD long, so the short tier is near-all-pairs within
    * its length band information-theoretically; its candidate mass
    * grows quadratically in its own doc count). At true corpus scale
    * either gate it (a ≤50-char "document" is rarely dedup-worthy at
    * d=16) or shard it into its own length-band join; the measured
    * probe corpora carry it fine (~16% of candidates). Probe emission is the
    * published O(maxD²) substrings per doc (≈(maxD+1)(2maxD+1)·3
    * short rows) — bounded per row, shuffle-friendly, never
    * all-pairs. The distance itself is the threshold form (banded
    * DP, O(len·maxD) per pair, early exit) after the integer
    * length-band prefilter. Full SQL: segmentation, windows, band
    * and distance are engine-identical integers (DuckDB levenshtein
    * ≡ Spark levenshtein; generate_series ≡ sequence). */
  def editDistancePairs(spark: SparkSession, dir: String,
      maxD: Int = 16): DataFrame =
    editDistancePairsFrom(Tables.documents(spark, dir), maxD)

  /** Physical strategy of the candidate join: shuffled-hash never
    * sorts the probe side, 74 vs 86 s against the planner's sort-merge
    * join on the 100× replica corpus (tied at 1× and 10×). */
  private val CandJoinHint = "shuffle_hash"

  /** Bloom prune fpp for the probe side; see the filter construction
    * below. */
  private val CandBloomFpp = 0.02

  /** Doc count below which the probe-side Bloom prune is skipped (the
    * recall spec zeroes it to exercise the bloomed path on its fuzz
    * corpus). The rolling-hash probe makes probe rows cheap to build,
    * but they still ride the exchange, so the prune wins at the 5k-doc
    * bench corpus too (interleaved k=3: armed 2.36-2.47 s vs unarmed
    * 2.80-3.09 s at sf0.1). 2000 keeps gate-scale corpora (~500 docs,
    * exchange-trivial) unarmed. */
  @volatile private[graft] var candBloomMinDocs: Long = 2000L

  def editDistancePairsFrom(docs: DataFrame, maxD: Int = 16): DataFrame = {
    val n = maxD + 1
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val t = docs.select(col("doc_id"), col("text"))
      .filter(col("text").isNotNull && length(col("text")) >= n)
      .withColumn("len", length(col("text")))
      .withColumn("w", (col("len") / n).cast("int"))
    // join keys are 64-bit HASHES of the segment/substring, not the
    // strings: a collision only adds a candidate the exact distance
    // filter kills, and blocking completeness means every true pair is
    // in BOTH engines' candidate sets regardless — final rows are
    // engine-identical while the probe shuffle carries 8 bytes per key
    // instead of a ~w-char string (the third-decade shuffle diet).
    // r13 diet (docs/passjoin-candidate-diet.md): both sides' hashes
    // come from ONE native rolling-hash expression per document —
    // the r13 stage anatomy put ~1.5 s of the sf0.1 candidate stage
    // in per-σ substring copies + xxhash64 (windows overlap in all
    // but one codepoint) with the full text riding the generate
    // pipeline; now each (i, wp) window rolls in O(window + wp) and
    // text never leaves the expression. The probe's window bounds
    // (the VLDB'11 multi-match-aware two-bound derivation — see the
    // operator scaladoc) are transcribed verbatim inside
    // functions.PassJoinProbeHashes.
    val idx = t
      .select(col("doc_id").as("doc_s"), col("len").as("len_s"),
        col("w").as("w_s"),
        posexplode(call_function("pass_join_segments",
          col("text"), lit(maxD))))
      .withColumnRenamed("pos", "i")
      .withColumnRenamed("col", "hseg")
    val probe = t
      .select(col("doc_id").as("doc_r"), col("len").as("len_r"),
        explode(call_function("pass_join_probe",
          col("text"), lit(maxD))).as("e"))
      .select(col("doc_r"), col("len_r"), col("e.pi").as("pi"),
        col("e.wp").as("wp"), col("e.sigma").as("sigma"),
        col("e.h").as("hsub"))
    // map-side shuffle diet: most probe substrings match NO indexed
    // segment anywhere in the corpus (~75% at the probe corpora), yet
    // each used to ride the full exchange just to miss a hash lookup.
    // A driver-built Bloom over the segment hashes kills them INSIDE
    // the probe's generate pipeline, before the exchange. No false
    // negatives by construction — candidate recall and the SQL-oracle
    // final-row parity are untouched; false positives (fpp 2%) ride
    // the join and lose there. Cost: one segment-dimension
    // treeAggregate (linear, no shuffle) + |bits| per task binary;
    // sizing comes from the pre-filter doc count (metadata-cheap on a
    // bare table), so the filter never under-sizes.
    // adaptive: below candBloomMinDocs the probe side is
    // exchange-cheap and the filter's build pass + count cost more
    // than they save
    val nDocs = docs.count()
    val probeSide =
      if (nDocs < candBloomMinDocs) probe
      else {
        val nSegs = math.max(1024L, nDocs * n)
        val (bits, k) = graft.functions.LongBloom.build(idx, "hseg",
          nSegs, CandBloomFpp)
        probe.filter(call_function("bloom_contains_long",
          typedlit(bits.toSeq), lit(k), col("hsub")))
      }
    // role convention halves the join: the SHORTER doc (ties by id) is
    // always the indexed side — the lemma holds for either role, so
    // fixing one loses nothing and removes the mirrored duplicates
    val cand = idx.hint(CandJoinHint)
      .join(probeSide,
        col("i") === col("pi") && col("w_s") === col("wp") &&
        col("hseg") === col("hsub") &&
        (col("len_s") < col("len_r") ||
          (col("len_s") === col("len_r") && col("doc_s") < col("doc_r"))) &&
        col("len_r") - col("len_s") <= maxD &&
        abs(col("sigma") - (col("i") * col("w_s") + lit(1))) <= col("i") &&
        abs(col("sigma") - (col("i") * col("w_s") + lit(1)) -
          (col("len_r") - col("len_s"))) <= lit(maxD) - col("i"))
      .select(least(col("doc_s"), col("doc_r")).as("doc_a"),
        greatest(col("doc_s"), col("doc_r")).as("doc_b"))
      .distinct()
    cand
      .join(t.select(col("doc_id").as("doc_a"), col("text").as("ta")), Seq("doc_a"))
      .join(t.select(col("doc_id").as("doc_b"), col("text").as("tb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ta"), col("tb"), maxD).as("edit_distance"))
      .filter(col("edit_distance") >= 0 && col("edit_distance") <= maxD)
      .orderBy("doc_a", "doc_b")
  }

  def editDistancePairsSql(maxD: Int = 16): String = {
    val n = maxD + 1
    s"""WITH t AS (
       |  SELECT doc_id, text, LENGTH(text) AS len, LENGTH(text) // $n AS w
       |  FROM documents
       |  WHERE text IS NOT NULL AND LENGTH(text) >= $n
       |), idx AS (
       |  SELECT doc_s, len_s, w_s, i, substring(text, i * w_s + 1, w_s) AS seg
       |  FROM (
       |    SELECT doc_id AS doc_s, len AS len_s, w AS w_s, text,
       |      unnest(generate_series(0, ${n - 1})) AS i
       |    FROM t)
       |), probe0 AS (
       |  SELECT doc_id AS doc_r, len AS len_r, w, text,
       |    unnest(generate_series(0, ${n - 1})) AS i
       |  FROM t
       |), probe1 AS (
       |  SELECT doc_r, len_r, text, i, wp, i * wp + 1 AS p,
       |    GREATEST(len_r - $n * wp - $maxD, 0) AS dmin,
       |    LEAST(len_r - $n * wp, $maxD) AS dmax
       |  FROM (
       |    SELECT doc_r, len_r, text, i,
       |      unnest(generate_series(GREATEST(w - 1, 1), w)) AS wp
       |    FROM probe0)
       |), probe AS (
       |  SELECT doc_r, len_r, i, wp, sigma, substring(text, sigma, wp) AS sub
       |  FROM (
       |    SELECT doc_r, len_r, text, i, wp,
       |      unnest(generate_series(
       |        GREATEST(1, p - i, p + dmin - ($maxD - i)),
       |        LEAST(len_r - wp + 1, p + i, p + dmax + ($maxD - i)))) AS sigma
       |    FROM probe1)
       |), cand AS (
       |  SELECT DISTINCT LEAST(doc_s, doc_r) AS doc_a,
       |    GREATEST(doc_s, doc_r) AS doc_b
       |  FROM idx JOIN probe
       |    ON idx.i = probe.i AND idx.w_s = probe.wp AND idx.seg = probe.sub
       |   AND (idx.len_s < probe.len_r
       |        OR (idx.len_s = probe.len_r AND idx.doc_s < probe.doc_r))
       |   AND probe.len_r - idx.len_s <= $maxD
       |   AND ABS(probe.sigma - (idx.i * idx.w_s + 1)) <= idx.i
       |   AND ABS(probe.sigma - (idx.i * idx.w_s + 1)
       |           - (probe.len_r - idx.len_s)) <= $maxD - idx.i
       |)
       |SELECT doc_a, doc_b,
       |  CAST(levenshtein(a.text, b.text) AS INT) AS edit_distance
       |FROM cand
       |JOIN t a ON a.doc_id = cand.doc_a
       |JOIN t b ON b.doc_id = cand.doc_b
       |WHERE levenshtein(a.text, b.text) <= $maxD
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Method-agreement census over the three EXACT pair generators —
    * the calibration table a dedup owner reads before picking a
    * modality: token-set Jaccard, asymmetric containment, and
    * character-grain edit distance each admit a different pair
    * population (a reshuffled doc is Jaccard's pair but never edit's;
    * an excerpt is containment's but not Jaccard's; a typo-twin is
    * edit's and the shingle family barely moves). Per method pair:
    * both/only-a/only-b masses and the set-level Jaccard agreement.
    * All three generators are deterministic and full-SQL, so the
    * agreement census is too (exact integer counts, one final
    * division). One membership-flag rollup at pair grain — the
    * generators' own blocking does the heavy lifting; nothing here
    * is all-pairs. */
  /** Memoized member-pair frame for the dedup EVAL composites — the
    * five generators at their registry defaults, tagged and
    * localCheckpointed ONCE per (session, corpus): `doc_a, doc_b, m,
    * score` where `score` carries the jaccard member's exact value
    * (the lsh-recall decile axis) and is null elsewhere. The
    * agreement censuses, the LSH recall eval, and the edit-cluster
    * collapse each used to re-run their member generators from
    * scratch (the 4-5 s PassJoin pairs ran in THREE registry entries
    * per cold session); now the first composite pays the build and
    * the rest filter the pinned frame — byte-identical outputs, the
    * generators' semantics untouched. Keyed by the documents table's
    * dir + sorted input files (a rewrite mints new part names → MISS,
    * never a stale frame); off-default thresholds bypass the memo
    * entirely. */
  private[graft] val memberPairMemo = new graft.Caches.Memo[DataFrame](8, Seq(_))

  private[graft] def memberPairFrame(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    memberPairMemo(graft.Caches.dirKey(spark, dir +: docs.inputFiles.sorted)) {
      val nul = lit(null).cast("double")
      Seq(
        ngramContainment(spark, dir)
          .select(col("doc_a"), col("doc_b"), lit("containment").as("m"), nul.as("score")),
        editDistancePairsFrom(docs)
          .select(col("doc_a"), col("doc_b"), lit("edit").as("m"), nul.as("score")),
        ngramJaccard(spark, dir)
          .select(col("doc_a"), col("doc_b"), lit("jaccard").as("m"),
            col("jaccard").cast("double").as("score")),
        minhashLsh(spark, dir)
          .select(col("doc_a"), col("doc_b"), lit("minhash").as("m"), nul.as("score")),
        simhash(spark, dir)
          .select(col("doc_a"), col("doc_b"), lit("simhash").as("m"), nul.as("score")))
        .reduce(_ unionByName _)
        .localCheckpoint()
    }
  }

  /** Canonical fingerprint of a member-pair frame's CONTENT —
    * distributed (count + order-independent xor), never a collect:
    * the frame is pair-dimension. Exact by determinism: every member
    * generator is seeded/exact, and the jaccard score is an exact
    * integer ratio cast once. */
  private[graft] def memberPairsFp(pairs: DataFrame): String = {
    val r = pairs.agg(count(lit(1)),
      expr("bit_xor(xxhash64(doc_a, doc_b, m, coalesce(score, cast(-1.0 as double))))"))
      .collect().head
    graft.sources.ArtifactManifest.fp(
      s"member_pairs:${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}")
  }

  /** Persist the five-generator member-pair frame as a stamped
    * artifact (the saveKnnGraph treatment, r13 §7z #3): its cold
    * build is the dedup-eval family's payer (9.4 s at sf0.1, 168 s at
    * sf1 — §7y cold table), paid once per JVM by the session memo; a
    * nightly eval pipeline amortizes it ACROSS JVMs from here.
    * built-from = the documents corpus state, content fp over every
    * row so a half-replaced frame refuses to serve. */
  def saveMemberPairs(spark: SparkSession, dir: String, outPath: String): Unit = {
    val pairs = memberPairFrame(spark, dir)
    pairs.write.mode("overwrite").parquet(outPath)
    val docs = Tables.documents(spark, dir)
    val corpus = docs.agg(count(lit(1)),
      expr("bit_xor(xxhash64(doc_id, text))")).collect().head
    graft.sources.ArtifactManifest.write(outPath,
      graft.sources.ArtifactManifest.Stamp("member_pairs",
        memberPairsFp(spark.read.parquet(outPath)),
        s"documents:${corpus.getLong(0)}:${if (corpus.isNullAt(1)) 0L else corpus.getLong(1)}"))
  }

  /** Load the persisted member-pair frame; strict-on-presence
    * verification scans the artifact once (pair-dimension — the
    * price of never serving a half-replaced frame to a census). */
  def loadMemberPairs(spark: SparkSession, path: String): DataFrame = {
    val pairs = spark.read.parquet(path)
    graft.sources.ArtifactManifest.verifyContent(path, "member_pairs",
      memberPairsFp(pairs))
    pairs
  }

  /** Serve `dedup_method_agreement_full` from the persisted frame —
    * zero generator runs; byte-identical to the fresh census by the
    * generators' determinism. */
  def methodAgreementFullFromArtifact(spark: SparkSession,
      pairsPath: String): DataFrame =
    methodAgreementFullFromPairs(loadMemberPairs(spark, pairsPath))

  def methodAgreement(spark: SparkSession, dir: String,
      jaccardThreshold: Double = 0.2, containThreshold: Double = 0.8,
      maxD: Int = 16): DataFrame = {
    val defaults = jaccardThreshold == 0.2 && containThreshold == 0.8 && maxD == 16
    val tagged =
      if (defaults)
        memberPairFrame(spark, dir)
          .filter(col("m").isin("jaccard", "containment", "edit"))
          .select("doc_a", "doc_b", "m")
      else {
        val docs = Tables.documents(spark, dir)
        ngramJaccard(spark, dir, jaccardThreshold)
          .select("doc_a", "doc_b").withColumn("m", lit("jaccard"))
          .unionByName(ngramContainment(spark, dir, containThreshold)
            .select("doc_a", "doc_b").withColumn("m", lit("containment")))
          .unionByName(editDistancePairsFrom(docs, maxD)
            .select("doc_a", "doc_b").withColumn("m", lit("edit")))
      }
    val flags = tagged
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(
        max(when(col("m") === "jaccard", 1L).otherwise(0L)).as("in_j"),
        max(when(col("m") === "containment", 1L).otherwise(0L)).as("in_c"),
        max(when(col("m") === "edit", 1L).otherwise(0L)).as("in_e"))
    val agg = flags.agg(
      sum(col("in_j")).as("n_j"), sum(col("in_c")).as("n_c"),
      sum(col("in_e")).as("n_e"),
      sum(col("in_j") * col("in_c")).as("n_jc"),
      sum(col("in_j") * col("in_e")).as("n_je"),
      sum(col("in_c") * col("in_e")).as("n_ce"))
    agg
      .select(expr(
        "stack(3, 'containment', 'edit', n_c, n_e, n_ce, " +
          "'jaccard', 'containment', n_j, n_c, n_jc, " +
          "'jaccard', 'edit', n_j, n_e, n_je) " +
          "as (method_a, method_b, n_pairs_a, n_pairs_b, n_both)"))
      .select(col("method_a"), col("method_b"),
        col("n_pairs_a"), col("n_pairs_b"), col("n_both"),
        (col("n_pairs_a") - col("n_both")).as("n_only_a"),
        (col("n_pairs_b") - col("n_both")).as("n_only_b"),
        (col("n_both").cast("double") /
          greatest(col("n_pairs_a") + col("n_pairs_b") - col("n_both"),
            lit(1L)).cast("double")).as("agreement"))
      .orderBy("method_a", "method_b")
  }

  def methodAgreementSql(maxD: Int = 16): String =
    s"""WITH jp AS (SELECT doc_a, doc_b FROM ($ngramJaccardSql)),
       |cp AS (SELECT doc_a, doc_b FROM ($ngramContainmentSql)),
       |ep AS (SELECT doc_a, doc_b FROM (${editDistancePairsSql(maxD)})),
       |flags AS (
       |  SELECT doc_a, doc_b,
       |    MAX(CASE WHEN m = 'jaccard' THEN 1 ELSE 0 END) AS in_j,
       |    MAX(CASE WHEN m = 'containment' THEN 1 ELSE 0 END) AS in_c,
       |    MAX(CASE WHEN m = 'edit' THEN 1 ELSE 0 END) AS in_e
       |  FROM (
       |    SELECT doc_a, doc_b, 'jaccard' AS m FROM jp
       |    UNION ALL SELECT doc_a, doc_b, 'containment' AS m FROM cp
       |    UNION ALL SELECT doc_a, doc_b, 'edit' AS m FROM ep)
       |  GROUP BY doc_a, doc_b
       |), agg AS (
       |  SELECT CAST(SUM(in_j) AS BIGINT) AS n_j,
       |    CAST(SUM(in_c) AS BIGINT) AS n_c,
       |    CAST(SUM(in_e) AS BIGINT) AS n_e,
       |    CAST(SUM(in_j * in_c) AS BIGINT) AS n_jc,
       |    CAST(SUM(in_j * in_e) AS BIGINT) AS n_je,
       |    CAST(SUM(in_c * in_e) AS BIGINT) AS n_ce
       |  FROM flags
       |)
       |SELECT method_a, method_b, n_pairs_a, n_pairs_b, n_both,
       |  n_pairs_a - n_both AS n_only_a,
       |  n_pairs_b - n_both AS n_only_b,
       |  CAST(n_both AS DOUBLE) /
       |    CAST(GREATEST(n_pairs_a + n_pairs_b - n_both, 1) AS DOUBLE)
       |    AS agreement
       |FROM (
       |  SELECT 'containment' AS method_a, 'edit' AS method_b,
       |    n_c AS n_pairs_a, n_e AS n_pairs_b, n_ce AS n_both FROM agg
       |  UNION ALL
       |  SELECT 'jaccard', 'containment', n_j, n_c, n_jc FROM agg
       |  UNION ALL
       |  SELECT 'jaccard', 'edit', n_j, n_e, n_je FROM agg
       |)
       |ORDER BY method_a, method_b""".stripMargin

  /** Edit-distance CANONICALIZATION — the consumer the PassJoin pairs
    * exist for: docs within `maxD` edits collapse transitively into
    * clusters labeled by their min doc_id (the keeper a takedown /
    * canonical-version pipeline keeps), via the same auto-switching
    * component core the MinHash collapse uses (min-label probe →
    * geometric-collapse test → star contraction on deep chains).
    * Because pair recall is COMPLETE (PassJoin), a cluster here is a
    * guarantee: every member is reachable from the keeper through
    * ≤maxD-edit steps — not "the pairs the blocking happened to
    * admit". Docs shorter than maxD+1 chars have no pairs by the
    * documented gate and stay singletons. Full SQL since r14: the
    * OUTPUT is algorithm-independent — components of a deterministic
    * pair graph have one answer however you label them — so the
    * oracle computes the same clusters by recursive-CTE transitive
    * closure over [[editDistancePairsSql]]'s pair set while Spark
    * keeps the scalable propagation/star-contraction core. */
  def editClusters(spark: SparkSession, dir: String, maxD: Int = 16): DataFrame =
    if (maxD == 16)
      // registry default: the complete PassJoin pairs are already in
      // the shared member-pair frame — collapse those instead of
      // re-running the generator
      editClustersFromPairs(
        Tables.documents(spark, dir).select(col("doc_id")),
        memberPairFrame(spark, dir).filter(col("m") === "edit")
          .select("doc_a", "doc_b"))
    else editClustersFrom(Tables.documents(spark, dir), maxD)

  def editClustersFrom(docs: DataFrame, maxD: Int = 16): DataFrame =
    editClustersFromPairs(docs.select(col("doc_id")),
      editDistancePairsFrom(docs, maxD).select("doc_a", "doc_b"))

  private def editClustersFromPairs(ids: DataFrame, pairs: DataFrame): DataFrame = {
    val (labels, _) = componentLabelsAuto(ids, pairs)
    val sizes = labels.groupBy("keeper").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("keeper"))
      .select(col("doc_id"), col("keeper"), col("cluster_size"),
        (col("doc_id") === col("keeper")).as("is_keeper"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[editClusters]]: the same complete-recall
    * PassJoin pair set ([[editDistancePairsSql]]), components by
    * recursive-CTE transitive closure (UNION dedup bounds the state
    * at |component|² pairs — fine at oracle scale, which is exactly
    * why Spark runs the propagation core instead), keeper = MIN
    * reachable id. Output-equivalent to any component labeling. */
  def editClustersSql(maxD: Int = 16): String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_a, doc_b FROM (${editDistancePairsSql(maxD)})
       |), edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION
       |  SELECT doc_b AS u, doc_a AS v FROM pairs
       |), reach(src, node) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node
       |), lab AS (
       |  SELECT node AS doc_id, MIN(src) AS keeper FROM reach GROUP BY node
       |), sizes AS (
       |  SELECT keeper, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |  FROM lab GROUP BY keeper
       |)
       |SELECT l.doc_id, l.keeper, s.cluster_size,
       |  l.doc_id = l.keeper AS is_keeper
       |FROM lab l JOIN sizes s USING (keeper)
       |ORDER BY l.doc_id""".stripMargin

  /** Near-dup cluster-size histogram — the redundancy profile of the
    * corpus (how much of it is 1-of-N near-copies, and how large the
    * worst N runs): component labels from the same MinHash-LSH pair
    * graph the collapse uses, rolled to size → cluster count → doc
    * count. The number every dedup decision cites ("X% of docs sit in
    * clusters ≥ 2") falls straight out of the running totals.
    * Rows-only: component labels are iterative, not SQL-expressible. */
  def clusterSizes(spark: SparkSession, dir: String, estThreshold: Double = 0.4): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val labels = componentLabels(docs,
      minhashLshFrom(spark, Tables.documents(spark, dir), estThreshold, DefaultMaxBucket)
        .select(col("doc_a"), col("doc_b")))
    labels
      .groupBy(col("keeper"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .orderBy("cluster_size")
  }

  /** Per-source near-dup redundancy profile — WHICH sources are
    * feeding the corpus near-copies (the census a curation team reads
    * before cutting a crawler or re-weighting a source): component
    * labels from the shared MinHash-LSH pair graph, cluster sizes
    * rolled back onto each doc, then one source rollup — n_docs,
    * docs sitting in a ≥2 cluster, surviving keepers, and the
    * near-dup rate. Components are GLOBAL (a cluster can span
    * sources; its docs count against every source that contributed).
    * Rows-only: iterative component labels, not SQL-expressible. */
  def sourceProfile(spark: SparkSession, dir: String,
                    estThreshold: Double = 0.4): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val labels = componentLabels(docs.select(col("doc_id")),
      minhashLshFrom(spark, Tables.documents(spark, dir), estThreshold, DefaultMaxBucket)
        .select(col("doc_a"), col("doc_b")))
    val sizes = labels.groupBy(col("keeper")).agg(count(lit(1)).as("cluster_size"))
    docs.join(labels, "doc_id").join(sizes, "keeper")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("cluster_size") >= 2, 1)).as("near_dup_docs"),
        count(when(col("doc_id") === col("keeper"), 1)).as("keepers"))
      .withColumn("near_dup_rate",
        col("near_dup_docs").cast("double") / col("n_docs").cast("double"))
      .orderBy("source")
  }

  /** Train/val/test leakage audit — the eval-hygiene census: every
    * near-dup pair from the shared MinHash-LSH graph labeled with its
    * endpoints' split assignments (the SAME deterministic md5-bucket
    * assignment corpus_split ships), rolled to the split-pair grid
    * with a leaked flag on cross-split cells. A nonzero
    * (train, test) cell means test answers have training near-copies
    * — the number a release gate pins to zero AFTER near-dup-aware
    * splitting (naive random splits leave it positive). Rows-only. */
  def splitLeakage(spark: SparkSession, dir: String,
                   estThreshold: Double = 0.4): DataFrame = {
    // the split is a PURE FUNCTION of doc_id (deterministic md5
    // bucket), so both endpoints' assignments are derived arithmetically
    // on the pair frame — no join back to the corpus, no extra scans;
    // the only work beyond pair generation is a |pairs|-row projection
    minhashLshFrom(spark, Tables.documents(spark, dir), estThreshold, DefaultMaxBucket)
      .select(TextAnalysis.splitCol(col("doc_a")).as("sa"),
        TextAnalysis.splitCol(col("doc_b")).as("sb"))
      .groupBy(
        least(col("sa"), col("sb")).as("split_1"),
        greatest(col("sa"), col("sb")).as("split_2"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaked", (col("split_1") =!= col("split_2")).cast("int"))
      .orderBy("split_1", "split_2")
  }

  /** 64-bit SimHash near-dup: token hashes vote per bit; candidates
    * from 16-bit band blocking; pairs kept at Hamming distance ≤ 7.
    * Oracle: rows-only. */
  def simhash(spark: SparkSession, dir: String, maxHamming: Int = 7,
              maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // grouped-bucket index-pair enumeration (see minhashLsh): one
    // simhash computation, one shuffle, bounded per-bucket expansion
    val x = expr("element_at(members, p.i)")
    val y = expr("element_at(members, p.j)")
    bucketPairs(simhashBanded(spark, dir),
        Seq("band_idx", "band_val"), Seq("doc_id", "simhash"), maxBucket)
      .select(
        least(x.getField("doc_id"), y.getField("doc_id")).as("doc_a"),
        greatest(x.getField("doc_id"), y.getField("doc_id")).as("doc_b"),
        bit_count(x.getField("simhash").bitwiseXOR(y.getField("simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Incremental exact dedup — the daily-ingest form: an incoming
    * batch is deduped (a) against the EXISTING corpus by content hash
    * (left anti join — broadcast when the incoming side is small
    * relative to the corpus index, shuffle otherwise) and (b) within
    * itself (keeper window). The existing side only ever contributes
    * its hash column, so at scale the corpus is represented by its
    * hash index, not its text. */
  def incrementalFrom(incoming: DataFrame, existing: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = md5(col("text").cast("binary"))
    val existingHashes = existing.select(h.as("text_md5")).distinct()
    val w = Window.partitionBy(h)
    incoming
      .withColumn("keeper", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("keeper"))
      .join(existingHashes, h === col("text_md5"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Driver-contract form: the corpus split deterministically into an
    * "existing" majority and an "incoming" batch (doc_id % 5 == 0), so
    * the incremental path is oracle-checkable on one table. */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    incrementalFrom(
      docs.filter(pmod(col("doc_id"), lit(5)) === 0),
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
  }

  /** Incremental NEAR-dup: which incoming documents are near-dups of
    * the existing corpus — the daily-batch form of `minhashLsh`, and
    * the reason near-dup at 100 TB doesn't mean re-pairing the whole
    * corpus every day.
    *
    * Plan (asymmetric by design): the existing corpus's banded MinHash
    * index is grouped once per band key into bounded member buckets
    * (≤ maxBucket, same skew guard as `bucketPairs`) — at scale this
    * index is computed once and persisted, amortized across batches.
    * The incoming batch's banded signatures are BROADCAST against it
    * (a daily batch is small next to the corpus), so the existing side
    * never reshuffles per batch. Candidate (incoming, existing) pairs
    * explode from colliding buckets only; signature agreement is
    * estimated once per distinct pair.
    *
    * Rows-only oracle (approximate operator); ScalaTest pins exact-dup
    * recall and agreement-vs-exact-jaccard tracking. */
  def incrementalMinhashFrom(spark: SparkSession, incoming: DataFrame, existing: DataFrame,
                             estThreshold: Double = 0.4, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val in = minhashBandedFrom(spark, incoming)
      .select(col("band_idx"), col("band_hash"),
        col("doc_id").as("doc_in"), col("sig").as("sig_in"))
    val exBuckets = minhashBandedFrom(spark, existing)
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("members"))
      .filter(size(col("members")) <= maxBucket)
    val agree = call_function("sig_agree", col("sig_in"), col("m.sig"))
    exBuckets
      .join(broadcast(in), Seq("band_idx", "band_hash"))
      .select(col("doc_in"), col("sig_in"), explode(col("members")).as("m"))
      .select(col("doc_in"), col("m.doc_id").as("doc_existing"),
        (agree.cast("double") / lit(NumPerms.toDouble)).as("est_jaccard"))
      .dropDuplicates("doc_in", "doc_existing")
      .filter(col("est_jaccard") >= estThreshold)
      .orderBy("doc_in", "doc_existing")
  }

  def incrementalMinhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    incrementalMinhashFrom(spark,
      docs.filter(pmod(col("doc_id"), lit(5)) === 0),
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
  }

  val incrementalSql: String =
    """WITH incoming AS (
      |  SELECT doc_id, lang, source, n_chars, md5(text) AS h,
      |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
      |  FROM documents WHERE doc_id % 5 = 0
      |), existing AS (
      |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 5 <> 0
      |)
      |SELECT doc_id, lang, source, n_chars
      |FROM incoming
      |WHERE doc_id = keeper
      |  AND NOT EXISTS (SELECT 1 FROM existing WHERE existing.h = incoming.h)
      |ORDER BY doc_id""".stripMargin

  /** Cross-source content-overlap matrix — syndication/mirror
    * detection at the SOURCE grain (which feeds republish each
    * other's pages): per source pair, the count of distinct contents
    * (exact md5) present in BOTH; diagonal rows carry each source's
    * own distinct-content count — the normalizing denominator, so an
    * overlap coefficient is one division downstream and the matrix is
    * never empty on a dup-free corpus. A pair with high overlap means
    * one side is redundant: drop it from the crawl budget BEFORE
    * paying per-doc dedup on it.
    *
    * Scale shape: the (hash, source) DISTINCT frame is ≤ corpus-sized
    * and the self-join's per-hash fan-out is bounded by |sources| (a
    * content in s sources contributes ≤ s(s+1)/2 pairs — never a
    * quadratic doc blow-up); output ≤ |sources|² rows. */
  def crossSource(spark: SparkSession, dir: String): DataFrame =
    crossSourceFrom(Tables.documents(spark, dir))

  def crossSourceFrom(docs: DataFrame): DataFrame = {
    val hs = docs
      .select(md5(col("text").cast("binary")).as("h"), col("source"))
      .distinct()
    hs.as("a").join(hs.as("b"),
        col("a.h") === col("b.h") && col("a.source") <= col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("shared_contents"))
      .orderBy("source_a", "source_b")
  }

  val crossSourceSql: String =
    """WITH hs AS (
      |  SELECT DISTINCT md5(text) AS h, source FROM documents
      |)
      |SELECT a.source AS source_a, b.source AS source_b,
      |  COUNT(*) AS shared_contents
      |FROM hs a JOIN hs b ON a.h = b.h AND a.source <= b.source
      |GROUP BY 1, 2
      |ORDER BY source_a, source_b""".stripMargin

  // ---- content-defined chunk index + incremental containment ----

  /** The corpus's chunk-grain fingerprint set: DISTINCT
    * (chunk_hash, chunk_chars) over the CDC spans of `docs` (see
    * [[graft.functions.CdcChunkSpans]]). This is the persistable
    * artifact `incrementalCdcFrom` scores re-crawl batches against —
    * at 100 TB it is computed ONCE over the corpus and amortized
    * across daily batches (the `incrementalMinhashFrom` index
    * argument, at chunk grain), growing only by each absorbed batch's
    * novel chunks. (chunk_chars rides along so 64-bit collisions
    * can't mark unequal-length chunks as covered.) */
  def chunkIndexFrom(spark: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    docs
      .select(explode(call_function("cdc_spans", col("text"))).as("sp"))
      .select(col("sp.hash").as("chunk_hash"),
        (col("sp.end") - col("sp.start")).as("chunk_chars"))
      .distinct()
  }

  /** Order-independent content fingerprint of a chunk index — count,
    * xor of hashes, total chars: any row added/removed/changed moves
    * it, and it computes in one fixed-state aggregate regardless of
    * index size (no sort, no collect of the membership). */
  def chunkIndexFp(index: DataFrame): String = {
    val r = index.agg(
      count(lit(1)),
      coalesce(expr("bit_xor(chunk_hash)"), lit(0L)),
      coalesce(sum(col("chunk_chars")).cast("long"), lit(0L))).head()
    graft.sources.ArtifactManifest.fp(
      s"cdc_chunk_index:n=${r.getLong(0)},xor=${r.getLong(1)},chars=${r.getLong(2)}")
  }

  /** Persist the chunk index with its compatibility stamp (the
    * `saveBpeVocab` lifecycle): WHAT it is, a fingerprint of its own
    * content, and what it was built from. Containment scores taken
    * under different indexes are different units — a revision log
    * must not mix them (see `DocStream.revisionRateFromLog`). */
  def saveChunkIndex(spark: SparkSession, docs: DataFrame, outPath: String,
      builtFrom: String): Unit = {
    chunkIndexFrom(spark, docs).repartition(8)
      .write.mode("overwrite").parquet(outPath)
    graft.sources.ArtifactManifest.write(outPath,
      graft.sources.ArtifactManifest.Stamp("cdc_chunk_index",
        chunkIndexFp(spark.read.parquet(outPath)), builtFrom))
  }

  /** Load + verify a stamped chunk index; returns the frame and its
    * content fingerprint (for stamping rows derived from it). */
  def loadChunkIndex(spark: SparkSession, path: String): (DataFrame, String) = {
    val idx = spark.read.parquet(path)
    val fp = chunkIndexFp(idx)
    graft.sources.ArtifactManifest.verifyContent(path, "cdc_chunk_index", fp)
    (idx, fp)
  }

  /** Absorb a batch into the chunk index — the maintenance half of
    * the incremental contract (build-once indexes go stale the moment
    * ingest admits a doc; re-crawls of ADMITTED content must read 1.0
    * next time, which only an appended index can deliver): the
    * batch's NOVEL chunk keys append to the index files, the manifest
    * re-stamps. The index is never rewritten — an append is
    * batch-sized however big the corpus, and novelty is decided
    * without reshuffling the index (semi-join under the broadcast
    * batch keys marks the KNOWN keys; novel = batch − known, an
    * except between two batch-bounded frames). Returns (novel-chunk
    * count, new fingerprint); zero novel chunks appends nothing and
    * leaves the fingerprint unchanged — absorbing the same batch
    * twice is a no-op, which makes replay safe. */
  def appendChunkIndex(spark: SparkSession, admitted: DataFrame,
      indexPath: String, builtFrom: String): (Long, String) = {
    val (idx, _) = loadChunkIndex(spark, indexPath)
    val batchKeys = chunkIndexFrom(spark, admitted).localCheckpoint()
    val known = idx.join(broadcast(batchKeys), Seq("chunk_hash", "chunk_chars"), "leftsemi")
    val novel = batchKeys.except(known).localCheckpoint()
    val n = novel.count()
    if (n > 0) {
      novel.coalesce(1).write.mode("append").parquet(indexPath)
      val fp = chunkIndexFp(spark.read.parquet(indexPath))
      graft.sources.ArtifactManifest.write(indexPath,
        graft.sources.ArtifactManifest.Stamp("cdc_chunk_index", fp, builtFrom))
      (n, fp)
    } else (0L, chunkIndexFp(idx))
  }

  /** Incremental re-crawl/revision detection by CDC chunk CONTAINMENT:
    * per incoming document, what fraction of its characters sit in
    * chunks the existing corpus already has. An exact re-crawl reads
    * 1.0; a lightly revised page reads high (boundaries re-synchronize
    * around the edit, so untouched paragraphs still match — the
    * property that makes this work where `incremental`'s whole-doc
    * hash sees nothing); genuinely new text reads ~0. This is the
    * at-ingest guard production re-crawl pipelines run: MinHash asks
    * "is this similar to some EXISTING DOC"; containment asks "is this
    * text ALREADY IN THE CORPUS", which also catches mashup pages
    * assembled from known paragraphs that resemble no single document.
    *
    * Plan (asymmetric, the incremental contract): the index side
    * scans ONCE and never reshuffles — the batch's distinct chunk
    * keys broadcast into a semi-join against it, and the survivors
    * (≤ the batch's own chunk count by construction) broadcast back
    * onto the batch rollup. The batch's span frame is checkpointed
    * once for its two consumers. Zero-length docs chunk to nothing
    * and drop from the census (containment of no content is
    * undefined); rows-only (the gear table is not SQL-expressible). */
  def incrementalCdcFrom(spark: SparkSession, incoming: DataFrame, index: DataFrame,
      flagThreshold: Double = 0.5): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val spans = incoming
      .select(col("doc_id"), explode(call_function("cdc_spans", col("text"))).as("sp"))
      .select(col("doc_id"), col("sp.hash").as("chunk_hash"),
        (col("sp.end") - col("sp.start")).as("chunk_chars"))
      .localCheckpoint()
    val inChunks = spans.select("chunk_hash", "chunk_chars").distinct()
    val matched = index
      .join(broadcast(inChunks), Seq("chunk_hash", "chunk_chars"), "leftsemi")
      .withColumn("covered", lit(1))
    spans
      .join(broadcast(matched), Seq("chunk_hash", "chunk_chars"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(coalesce(col("covered"), lit(0))).cast("long").as("covered_chunks"),
        sum(col("chunk_chars")).cast("long").as("total_chars"),
        sum(when(col("covered") === 1, col("chunk_chars")).otherwise(lit(0)))
          .cast("long").as("covered_chars"))
      .withColumn("containment",
        col("covered_chars").cast("double") / col("total_chars").cast("double"))
      .withColumn("is_revision", col("containment") >= lit(flagThreshold))
      .orderBy("doc_id")
  }

  /** Registry form: the 1/5-of-corpus batch scored against the other
    * 4/5's chunk index (the `incremental` split). */
  def incrementalCdc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    incrementalCdcFrom(spark,
      docs.filter(pmod(col("doc_id"), lit(5)) === 0),
      chunkIndexFrom(spark, docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)))
  }

  /** The (doc_id, simhash, band_idx, band_val) SimHash banding frame —
    * shared by `simhash` and `simhashDroppedBuckets`. Bit b of the
    * simhash = majority vote of token-hash bit b — one fused pass in
    * the native expression (the higher-order-function form allocated a
    * 64-wide array per token). */
  private[graft] def simhashBanded(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        call_function("simhash64", transform(toks(col("text")), t => xxhash64(t))).as("simhash"))
      .select(col("doc_id"), col("simhash"),
        expr("explode(transform(sequence(0, 3), b -> struct(b as band_idx, shiftright(simhash, b * 16) & 65535 as band_val)))").as("band"))
      .select(col("doc_id"), col("simhash"), col("band.band_idx"), col("band.band_val"))
  }

  /** Cross-document duplicated-substring census — the corpus-level
    * signal behind substring-granular training-data dedup ("how much
    * of this document's text also appears verbatim in OTHER
    * documents"): per document, the count and fraction of its
    * word-trigram positions whose trigram occurs in at least one other
    * document. Whole-document dedup (exact/minhash) misses boilerplate
    * shared across otherwise-distinct pages; this census finds it.
    *
    * Plan shape (all hash aggregates, O(1) state per key — no window:
    * WindowExec would buffer every row of a gram's partition, and a
    * universal boilerplate gram's partition is the whole corpus): the
    * (gram, doc) count subtree — explode of positioned trigrams into
    * a map-side-combined count, so repeated grams collapse before the
    * shuffle — feeds three consumers: per-doc totals, per-gram doc
    * frequency as a PLAIN second-level count (no countDistinct
    * Expand), and the dup-mark join, whose build side keeps ONLY
    * grams seen in ≥2 docs (typically far smaller: on a healthy
    * corpus most grams are unique — same-session A/B vs joining ALL
    * grams back: 1.26 s vs 1.51 s at sf0.1). All-unique docs re-enter
    * with 0 through the left join onto the totals.
    *
    * The (gram, doc) stage is localCheckpoint'ed ONCE before fan-out:
    * neither static ReuseExchange nor AQE's stage cache dedups the
    * three canonically-identical subtrees (distinct stage ids
    * observed), so without it each consumer re-ran the text scan +
    * gram explosion — 3 corpus scans instead of 1. localCheckpoint
    * (not persist): the returned frame is lazy, so a persist could
    * never be unpersisted and would leak; checkpoint blocks are
    * ContextCleaner-collected when the plan is garbage (same
    * rationale as approxRetentionHll, EventMarts.scala). */
  def substringDup(spark: SparkSession, dir: String): DataFrame =
    substringDupFrom(spark, Tables.documents(spark, dir))

  private[graft] def substringDupFrom(spark: SparkSession, docs: DataFrame): DataFrame =
    substringDupTail(TextAnalysis.perDocGramCounts(docs, "occ").localCheckpoint())

  /** The three-consumer tail over an already-materialized (gram, doc,
    * occ) frame — split out so the plan lint can audit the full
    * un-checkpointed shape. */
  private[graft] def substringDupTail(perDocGram: DataFrame): DataFrame = {
    val totals = perDocGram
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).cast("bigint").as("n_grams"))
    val dupGrams = perDocGram
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") > 1)
      .select(col("gram"))
    val dupPerDoc = perDocGram.join(dupGrams, "gram")
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).cast("bigint").as("cross_dup_grams"))
    totals.join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("cross_dup_grams"), lit(0L)).as("cross_dup_grams"))
      .withColumn("dup_fraction",
        col("cross_dup_grams").cast("double") / col("n_grams").cast("double"))
      .orderBy("doc_id")
  }

  /** Span length (words) and cross-doc frequency threshold for
    * `cleanDupSpans`. 8 words is small enough to catch template
    * boilerplate on short documents while long enough that chance
    * collisions are negligible (C4 uses 13-word spans at web scale;
    * the mechanism is length-agnostic). */
  val SpanWords = 8
  val SpanMinDocs = 2

  /** Duplicated-SPAN scrub — the REMOVE complement of
    * `substringDup`'s census (that one measures verbatim cross-doc
    * overlap; this one deletes it). The C4/RefinedWeb batch step:
    * any `n`-word span occurring in ≥ `minDocs` distinct documents is
    * boilerplate, and every word position covered by such a span is
    * scrubbed from EVERY document, the survivors reassembled in
    * order. Position-COVERAGE semantics make overlap resolution
    * well-defined: a 9-word shared run is two overlapping 8-grams
    * whose covered-position union is the 9 positions (not 16), and a
    * span repeated twice inside one doc scrubs both occurrences.
    *
    * Plan shape: positioned grams come from ONE projection per doc
    * (`transform(sequence)` over the split array — no per-gram
    * re-split), localCheckpoint'ed ONCE because the frame feeds two
    * consumers (the gram-frequency build and the coverage join) that
    * neither ReuseExchange nor AQE dedups (same rationale as
    * substringDup). Doc frequency is a two-level plain count — no
    * countDistinct Expand. The coverage join keeps only grams whose
    * key survives the ≥ minDocs filter (on a healthy corpus almost
    * none), so the position explode is bounded by actual boilerplate
    * mass, not corpus size. Totals come from kept + removed counts
    * (full outer join) rather than a third corpus scan. The one
    * per-doc `collect_list` buffers a single document's surviving
    * words — the document is the unit of output, exactly like
    * doc_chunks. */
  /** Arming knobs for [[cleanDupSpansFrom]]'s covered-join bloom
    * prune — the candBloom pair's twin (fpp ≤ 0 disables). */
  @volatile private[graft] var spanBloomFpp: Double = 0.01
  @volatile private[graft] var spanBloomMinDocs: Long = 20000L

  def cleanDupSpans(spark: SparkSession, dir: String): DataFrame =
    cleanDupSpansFrom(Tables.documents(spark, dir))

  private[graft] def cleanDupSpansFrom(docs: DataFrame,
                                       n: Int = SpanWords,
                                       minDocs: Int = SpanMinDocs): DataFrame = {
    val base = docs.select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
    // the gram STRING never leaves the projection: positions carry a
    // 16-byte md5 instead (the repo's exact-identity hash, same as the
    // incremental corpus index) — at the 100× probe the third decade
    // is dominated by the linear gram shuffle (frequency build +
    // coverage join); shipping 16-byte hashes instead of ~60-byte
    // strings cut the same-harness 100× wall 48.3 → 42.4 s with
    // identical output
    val grams = base
      .select(col("doc_id"), explode(
        when(size(col("w")) >= n, expr(
          s"transform(sequence(1, size(w) - ${n - 1}), " +
            s"s -> struct(s AS s, unhex(md5(array_join(slice(w, s, $n), ' '))) AS g))"))
          .otherwise(expr("CAST(array() AS array<struct<s:int,g:binary>>)"))).as("sg"))
      .select(col("doc_id"), col("sg.s").as("s"), col("sg.g").as("g"))
      .localCheckpoint()
    val freq0 = grams
      .groupBy(col("g"), col("doc_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("g")).agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select(col("g"))
    // adaptive probe prune (the PassJoin LongBloom pattern): most
    // grams are corpus-UNIQUE, yet each used to ride the covered
    // join's full exchange just to miss the repeated-gram set (sf10
    // stage grain: 23.6M gram rows vs 1.05M repeated grams). A
    // driver-built bloom over the repeated grams' 64-bit hashes kills
    // unique grams pre-exchange; the join key stays the exact 16-byte
    // md5, so bloom false positives only ride the join and lose
    // there — never a false negative, output and oracle parity
    // untouched. Below the arming bound the corpus is exchange-cheap
    // and the extra freq materialization costs more than it saves.
    // arming count comes from the ALREADY-CHECKPOINTED grams frame,
    // not docs.count() — the input may carry an arbitrarily expensive
    // un-cached lineage (this op composes over other operators'
    // output), and arming is a performance heuristic, so an approx
    // distinct over the checkpoint is the right price. Docs shorter
    // than n words emit no grams and are invisible here; they also
    // contribute no join rows, so under-counting them only delays
    // arming — never correctness.
    val armBloom = spanBloomFpp > 0 &&
      grams.agg(approx_count_distinct(col("doc_id")).as("n"))
        .head().getLong(0) >= spanBloomMinDocs
    val (freq, probeGrams) =
      if (!armBloom) (freq0, grams)
      else {
        graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
        val f = freq0.withColumn("hg", xxhash64(col("g"))).localCheckpoint()
        val (bits, k) = graft.functions.LongBloom.build(
          f.select(col("hg")), "hg", math.max(1024L, f.count()), spanBloomFpp)
        (f.select(col("g")),
          grams.filter(call_function("bloom_contains_long",
            typedlit(bits.toSeq), lit(k), xxhash64(col("g")))))
      }
    // per-doc covered-position SETS (bounded by the doc's own length,
    // like the output row) — the scrub then never shuffles at word
    // grain: a token-exploded anti-join + rebuild aggregate would push
    // every word of the corpus through two exchanges, where this plan
    // shuffles only boilerplate positions (the covered explode) and
    // one doc-grain join, with the reassembly a pure narrow array op
    val covered = probeGrams.join(freq, "g")
      .select(col("doc_id"), explode(sequence(col("s"), col("s") + lit(n - 1))).as("pos"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("pos")).as("cov"))
    base.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("w"),
        coalesce(col("cov"), expr("CAST(array() AS array<int>)")).as("cov"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("total_words"),
        size(col("cov")).cast("long").as("removed_words"),
        (size(col("w")) - size(col("cov"))).cast("long").as("kept_words"),
        array_join(
          expr("transform(filter(transform(w, (x, i) -> struct(x AS word, i + 1 AS pos)), " +
            "s -> NOT array_contains(cov, s.pos)), s -> s.word)"),
          " ").as("clean_text"))
      .orderBy("doc_id")
  }

  val cleanDupSpansSql: String =
    """WITH base AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
      |), grams AS (
      |  SELECT doc_id, s, array_to_string(w[s:s+7], ' ') AS g
      |  FROM base, unnest(range(1, len(w) - 6)) AS t(s)
      |  WHERE len(w) >= 8
      |), pdg AS (
      |  SELECT g, doc_id FROM grams GROUP BY 1, 2
      |), freq AS (
      |  SELECT g FROM pdg GROUP BY g HAVING COUNT(*) >= 2
      |), covered AS (
      |  SELECT DISTINCT gr.doc_id, t.pos
      |  FROM grams gr JOIN freq USING (g), unnest(range(gr.s, gr.s + 8)) AS t(pos)
      |), toks AS (
      |  SELECT doc_id, generate_subscripts(w, 1) AS pos, unnest(w) AS word FROM base
      |), kept AS (
      |  SELECT t.doc_id, COUNT(*) AS kept,
      |    string_agg(t.word, ' ' ORDER BY t.pos) AS txt
      |  FROM toks t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
      |  WHERE c.pos IS NULL
      |  GROUP BY t.doc_id
      |)
      |SELECT b.doc_id,
      |  CAST(len(b.w) AS BIGINT) AS total_words,
      |  CAST(len(b.w) - COALESCE(k.kept, 0) AS BIGINT) AS removed_words,
      |  CAST(COALESCE(k.kept, 0) AS BIGINT) AS kept_words,
      |  COALESCE(k.txt, '') AS clean_text
      |FROM base b LEFT JOIN kept k USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  val substringDupSql: String =
    """WITH g AS (
      |  SELECT doc_id,
      |    unnest(CASE WHEN len(w) >= 3
      |      THEN list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      |      ELSE [] END) AS gram
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents) b
      |), pdg AS (
      |  SELECT gram, doc_id, COUNT(*) AS occ FROM g GROUP BY 1, 2
      |), gs AS (
      |  SELECT gram, COUNT(*) AS ndocs FROM pdg GROUP BY 1
      |)
      |SELECT p.doc_id,
      |  CAST(SUM(p.occ) AS BIGINT) AS n_grams,
      |  CAST(SUM(CASE WHEN gs.ndocs > 1 THEN p.occ ELSE 0 END) AS BIGINT) AS cross_dup_grams,
      |  CAST(SUM(CASE WHEN gs.ndocs > 1 THEN p.occ ELSE 0 END) AS DOUBLE) / CAST(SUM(p.occ) AS DOUBLE) AS dup_fraction
      |FROM pdg p JOIN gs USING (gram)
      |GROUP BY 1
      |ORDER BY doc_id""".stripMargin

  /** Calibration census of the MinHash estimator — the eval closure
    * of the near-dup family (what langid_confusion is to text_langid
    * and ann_recall_curve to the IVF ladder): per estimated-Jaccard
    * decile, how far est_jaccard sits from the EXACT trigram Jaccard
    * of the same pairs — the table read before trusting an
    * estThreshold (the S-curve says which pairs SURFACE; this says
    * whether their scores can be believed, which decides how much
    * exact verification the collapse stage still needs).
    *
    * Candidates come from the banding at estThreshold = 0 so the
    * low-est region is evaluated too (an eval that only sees
    * survivors can't measure the region where the cut happens).
    * Exact Jaccard reuses the verifier's own machinery — shingle
    * hashes + the one-merge-pass `sorted_intersect_count` — joined to
    * the PAIR frame (two hash joins at candidate-pair dimension,
    * bounded by the banding; never a second all-pairs pass). The
    * rollup is a ≤10-row frame.
    *
    * rows-only (est and err are float means, not oracle-hashed); the
    * spec plants identical docs (est = exact = 1, err = 0)
    * and near-dup pairs with hand-computed exact Jaccard, and pins
    * the 64-perm estimator's global error bound at sf. */
  def minhashCalibration(spark: SparkSession, dir: String): DataFrame =
    minhashCalibrationFrom(spark, Tables.documents(spark, dir))

  private[graft] def minhashCalibrationFrom(spark: SparkSession, raw: DataFrame,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val cand = minhashLshFrom(spark, raw, estThreshold = 0.0, maxBucket)
    // checkpoint: the shingle projection (trigram_hashes — the
    // dominant per-row CPU) feeds BOTH pair-side joins; without it
    // each side replans the full-corpus shingling
    val sh = raw.select(col("doc_id"), shingleHashes(col("text")).as("sh"))
      .withColumn("n", size(col("sh")))
      .localCheckpoint()
    val inter = expr("sorted_intersect_count(a_sh, b_sh)")
    val joined = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("a_sh"),
        col("n").as("a_n")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("b_sh"),
        col("n").as("b_n")), Seq("doc_b"))
      // two EMPTY shingle sets are identical content (J = 1), not a
      // NULL 0/0 — sum()/count() aggregation would silently skip the
      // NULLs and bias the most-trusted decile's means low
      .withColumn("exact_jaccard",
        when(col("a_n") + col("b_n") - inter === 0, lit(1.0))
          .otherwise(inter.cast("double") /
            (col("a_n") + col("b_n") - inter).cast("double")))
    // the means sum in decimal: a decimal sum is exact, so the result
    // does not depend on the order the shuffle delivers the pairs in
    def mean(x: Column) =
      sum(x.cast("decimal(38,18)")).cast("double") / count(lit(1)).cast("double")
    joined
      .select(least(floor(col("est_jaccard") * 10).cast("int"), lit(9)).as("est_decile"),
        col("est_jaccard"), col("exact_jaccard"))
      .groupBy("est_decile")
      .agg(count(lit(1)).as("n_pairs"),
        mean(col("est_jaccard")).as("mean_est"),
        mean(col("exact_jaccard")).as("mean_exact"),
        mean(abs(col("est_jaccard") - col("exact_jaccard"))).as("mean_abs_err"),
        sum(when(col("exact_jaccard") >= 0.4, 1).otherwise(0)).as("n_exact_ge_04"))
      .orderBy("est_decile")
  }

  /** [[methodAgreement]] extended to the SEEDED families — the same
    * pairwise set algebra over all five pair generators (the three
    * exact verifiers plus minhash-LSH and simhash banding), so the
    * calibration table covers the SCALE path, not just the verifiers:
    * minhash↔jaccard reads banding recall+precision in one row,
    * simhash↔edit reads what a Hamming cut means in character terms.
    * Ten method-pair rows from one membership-flag rollup. Rows-only
    * (the seeded families' hashes are engine-local); the exact
    * 3-method sub-census stays the full-SQL `dedup_method_agreement`,
    * and the spec pins this one's exact rows AGAINST it. */
  def methodAgreementFull(spark: SparkSession, dir: String): DataFrame =
    methodAgreementFullFromPairs(memberPairFrame(spark, dir))

  /** The census body over an explicit member-pair frame — what the
    * disk-served path feeds with [[loadMemberPairs]]. */
  private[graft] def methodAgreementFullFromPairs(pairs: DataFrame): DataFrame = {
    val names = Seq("containment", "edit", "jaccard", "minhash", "simhash")
    val tagged = pairs.select("doc_a", "doc_b", "m")
    val flagCols = names.map(n =>
      max(when(col("m") === n, 1L).otherwise(0L)).as(s"in_$n"))
    val flags = tagged.groupBy(col("doc_a"), col("doc_b"))
      .agg(flagCols.head, flagCols.tail: _*)
    val methodPairs = for {
      i <- names.indices; j <- (i + 1) until names.size
    } yield (names(i), names(j))
    val counters =
      names.map(n => sum(col(s"in_$n")).as(s"n_$n")) ++
      methodPairs.map { case (a, b) =>
        sum(col(s"in_$a") * col(s"in_$b")).as(s"n_${a}_$b") }
    val one = flags.agg(counters.head, counters.tail: _*)
    val stackExpr = methodPairs
      .map { case (a, b) => s"'$a', '$b', n_$a, n_$b, n_${a}_$b" }
      .mkString(", ")
    one
      .select(expr(s"stack(${methodPairs.size}, $stackExpr) " +
        "as (method_a, method_b, n_pairs_a, n_pairs_b, n_both)"))
      .select(col("method_a"), col("method_b"),
        col("n_pairs_a"), col("n_pairs_b"), col("n_both"),
        (col("n_pairs_a") - col("n_both")).as("n_only_a"),
        (col("n_pairs_b") - col("n_both")).as("n_only_b"),
        (col("n_both").cast("double") /
          greatest(col("n_pairs_a") + col("n_pairs_b") - col("n_both"),
            lit(1L)).cast("double")).as("agreement"))
      .orderBy("method_a", "method_b")
  }

  /** Persist one agreement census to the calibration log — the
    * FromLog pattern (selfRecallLogAppend's twin on the dedup side):
    * per-run rows land under a `run_id` partition via the
    * dynamic-overwrite mart writer, so a rerun of the same run_id
    * replaces its own partition idempotently. Method-pair grain:
    * 10 rows per run — the log grows with runs, never corpus size.
    * run_id CONTRACT: the trend readers order runs by run_id AS A
    * STRING, so ids must sort lexicographically in chronological
    * order — ISO dates (`2026-08-16`, what dailyReport stamps) or
    * zero-padded counters (`run_0042`). Bare counters like `r10`
    * sort before `r2` and would make the trend's deltas compare
    * against the wrong previous run — ENFORCED since r14: every
    * trend reader rejects a log whose ids sort differently under
    * string vs numeric-aware order ([[RunLog.requireChronological]]). */
  def calibrationLogAppend(agreement: DataFrame, logDir: String,
                           runId: String): Unit =
    graft.sources.MartSink.writePartitioned(
      agreement.withColumn("run_id", lit(runId)), logDir, Seq("run_id"))

  /** The dedup-calibration dial over the run log: per (method pair,
    * run), agreement plus its delta vs the SAME pair's previous run —
    * the trend a tokenizer change, a banding retune, or a corpus mix
    * shift bends before anyone reads a one-off census. A one-run log
    * has no previous row, so delta is null there, never 0 (a real 0
    * means "measured, unchanged"). Tiny frame: |runs| × 10 rows.
    * "Previous" = the lexicographically preceding run_id — see the
    * run_id contract on [[calibrationLogAppend]]. */
  def calibrationTrendFromLog(spark: SparkSession, logDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("method_a", "method_b").orderBy("run_id")
    val log = spark.read.parquet(logDir)
    RunLog.requireChronological(log)
    log
      .select(col("run_id").cast("string").as("run_id"),
        col("method_a"), col("method_b"), col("n_both"), col("agreement"))
      .withColumn("prev_agreement", lag(col("agreement"), 1).over(w))
      .withColumn("delta", col("agreement") - col("prev_agreement"))
      .orderBy("run_id", "method_a", "method_b")
  }

  /** Persist one banding-recall eval (`dedup_lsh_recall` rows) to its
    * run log — the agreement log's twin at Jaccard-decile grain
    * (≤10 rows per run, same run_id-partitioned idempotent append).
    * The two logs stay separate because their grains differ: the
    * agreement census watches the method FAMILY, this one watches
    * the banding S-curve's KNEE — the scale-path regression the
    * family census can't see (banding can lose a decile of recall
    * while every method-pair agreement barely moves). Same run_id
    * contract as [[calibrationLogAppend]]: ids must sort
    * lexicographically in chronological order. */
  def lshRecallLogAppend(recall: DataFrame, logDir: String,
                         runId: String): Unit =
    graft.sources.MartSink.writePartitioned(
      recall.withColumn("run_id", lit(runId)), logDir, Seq("run_id"))

  /** Banding-recall trend over the run log: per (decile, run),
    * recall plus its delta vs the SAME decile's previous run. First
    * run reads NULL delta, never 0 — a real 0 means "measured,
    * unchanged". Tiny frame: |runs| × ≤10 rows. "Previous" = the
    * lexicographically preceding run_id — see the run_id contract on
    * [[calibrationLogAppend]]. */
  def lshRecallTrendFromLog(spark: SparkSession, logDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("jaccard_decile").orderBy("run_id")
    val log = spark.read.parquet(logDir)
    RunLog.requireChronological(log)
    log
      .select(col("run_id").cast("string").as("run_id"),
        col("jaccard_decile"), col("n_truth"), col("n_found"), col("recall"))
      .withColumn("prev_recall", lag(col("recall"), 1).over(w))
      .withColumn("delta", col("recall") - col("prev_recall"))
      .orderBy("run_id", "jaccard_decile")
  }

  /** Empirical LSH RECALL against exact ground truth — the side
    * `minhash_calibration` cannot see: calibration grades the
    * estimates on pairs the banding FOUND; this grades what it
    * MISSED. Ground truth = the exact shingle-Jaccard pairs (complete
    * within their threshold); found = the production
    * `dedup_minhash_lsh` output; per exact-Jaccard decile: truth
    * mass, found mass, recall — the banding S-curve measured on the
    * corpus's own pairs instead of assumed from the (1-(1-s^r)^b)
    * formula. The number that justifies "minhash-block first, exact
    * verify per block" at 100 TB: recall ≈ 1 above the knee, and the
    * knee is VISIBLE. EVAL-grade, not a production-path op: the truth
    * side is the exact in-block verifier (quadratic within a lang
    * block by design — the same class as dedup_ngram_jaccard, and
    * excluded from the replica scale probes for the same reason); at
    * corpus scale you run it on a sampled slice, exactly like
    * ann_recall_curve's brute truth stage. Rows-only (seeded
    * minhash). */
  def lshRecall(spark: SparkSession, dir: String,
      truthThreshold: Double = 0.2, estThreshold: Double = 0.4,
      sampleMod: Int = 1): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    // corpus-scale discipline BY CONSTRUCTION: sampleMod = k keeps the
    // deterministic 1/k doc slice (xxhash64 mod k — stable across
    // runs, not a seeded rand), so the quadratic truth stage runs on
    // a bounded sample instead of relying on the caller remembering
    // to cut one. Recall estimated on the slice's pairs — both sides
    // see the SAME slice, so the ratio is unbiased for within-slice
    // pairs.
    val (truth, found) =
      if (sampleMod == 1 && truthThreshold == 0.2 && estThreshold == 0.4) {
        // default-threshold full-corpus form: both sides are already
        // in the shared member-pair frame — filter it instead of
        // re-running the exact verifier and the banding
        val m = memberPairFrame(spark, dir)
        (m.filter(col("m") === "jaccard")
           .select(col("doc_a"), col("doc_b"), col("score").as("jaccard")),
         m.filter(col("m") === "minhash")
           .select(col("doc_a"), col("doc_b"), lit(1L).as("found")))
      } else {
        val docs =
          if (sampleMod == 1) Tables.documents(spark, dir)
          else Tables.documents(spark, dir)
            .filter(pmod(xxhash64(col("doc_id")), lit(sampleMod.toLong)) === 0)
        (ngramJaccardFrom(spark, docs, truthThreshold)
           .select(col("doc_a"), col("doc_b"), col("jaccard")),
         minhashLshFrom(spark, docs, estThreshold, DefaultMaxBucket)
           .select(col("doc_a"), col("doc_b"), lit(1L).as("found")))
      }
    truth.join(found, Seq("doc_a", "doc_b"), "left")
      .select(least(floor(col("jaccard") * 10).cast("int"), lit(9))
        .as("jaccard_decile"), coalesce(col("found"), lit(0L)).as("found"))
      .groupBy("jaccard_decile")
      .agg(count(lit(1)).as("n_truth"),
        sum(col("found")).as("n_found"),
        (sum(col("found")).cast("double") / count(lit(1)).cast("double"))
          .as("recall"))
      .orderBy("jaccard_decile")
  }

  /** The REGISTERED form of [[lshRecall]]: `sampleMod` scale-tied to
    * the corpus instead of defaulting to the full quadratic truth
    * stage — `max(1, ceil(n_docs / targetDocs))`, so the eval's truth
    * slice is ≤ ~targetDocs docs at EVERY scale factor by
    * construction (at the gate/bench corpora the auto pick is 1 and
    * the output is the exhaustive form bit-for-bit; at 10×/100× the
    * deterministic 1/k doc slice bounds the quadratic stage the way
    * ann_recall_curve's brute truth stage is bounded). The count is
    * a parquet-metadata read, not a scan. The exhaustive form stays
    * callable as `lshRecall(sampleMod = 1)` — the spec pins both. */
  def lshRecallAuto(spark: SparkSession, dir: String,
      truthThreshold: Double = 0.2, estThreshold: Double = 0.4,
      targetDocs: Long = 5000L): DataFrame = {
    require(targetDocs >= 1, s"targetDocs must be >= 1, got $targetDocs")
    val n = Tables.documents(spark, dir).count()
    val mod = math.max(1L, (n + targetDocs - 1) / targetDocs).toInt
    lshRecall(spark, dir, truthThreshold, estThreshold, sampleMod = mod)
  }

  /** SimHash calibration — what a Hamming cut MEANS in Jaccard terms
    * (the minhash_calibration pattern for the simhash family,
    * completing the calibration set: every approximate-similarity
    * surface now ships its own est-vs-exact table): per Hamming
    * distance among banded candidates (enumerated at a LOOSE cut so
    * the region around the shipped threshold is measured), pair
    * count, mean exact trigram Jaccard, and the ≥ 0.4 share — the
    * table that decides where `dedup_simhash`'s maxHamming belongs.
    *
    * Scale shape: the pair side is the same bounded band-bucket
    * enumeration as `dedup_simhash`; exact scores reuse the shared
    * shingle projection (checkpointed once — it feeds both pair-side
    * joins) at candidate-pair dimension; output ≤ maxHamming+1 rows. */
  def simhashCalibration(spark: SparkSession, dir: String, maxHamming: Int = 16,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val cand = simhash(spark, dir, maxHamming, maxBucket)
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"), shingleHashes(col("text")).as("sh"))
      .withColumn("n", size(col("sh")))
      .localCheckpoint()
    val inter = expr("sorted_intersect_count(a_sh, b_sh)")
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("a_sh"),
        col("n").as("a_n")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("b_sh"),
        col("n").as("b_n")), Seq("doc_b"))
      .withColumn("exact_jaccard",
        when(col("a_n") + col("b_n") - inter === 0, lit(1.0))
          .otherwise(inter.cast("double") /
            (col("a_n") + col("b_n") - inter).cast("double")))
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"),
        (sum(col("exact_jaccard")) / count(lit(1)).cast("double")).as("mean_exact"),
        (sum(when(col("exact_jaccard") >= 0.4, 1).otherwise(0)).cast("double")
          / count(lit(1)).cast("double")).as("share_exact_ge_04"))
      .orderBy("hamming")
  }

  /** Token-inflation readout of exact duplication, by source: how
    * many tokens `dedupedCorpus`'s keeper rule (identical text, min
    * doc_id kept GLOBALLY) would remove from each source, and what
    * share of the source's token mass that is. The planning number a
    * corpus owner reads before cutting a crawler: a source whose
    * `dup_token_share` is high contributes mostly re-crawled copies,
    * not new text. Removed copies are attributed to the source of the
    * REMOVED document — a doc first crawled by src A and re-crawled
    * by src B counts against B, matching which crawl you'd turn off.
    *
    * Scale shape: ONE shuffle on the 128-bit content hash (computed
    * map-side — the exchange carries (hash, id, source, token_count),
    * never the text), a keeper window over each tiny dup group, then
    * a map-combined rollup to |sources| rows. Token counts reuse the
    * `text_token_count` word tokenizer so the readout is in the same
    * units as the corpus census. */
  def dedupInflation(spark: SparkSession, dir: String): DataFrame =
    dedupInflationFrom(Tables.documents(spark, dir))

  def dedupInflationFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("h"))
    docs
      .select(col("doc_id"), col("source"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("long").as("tok"),
        md5(col("text").cast("binary")).as("h"))
      .withColumn("keeper", min(col("doc_id")).over(w))
      .groupBy("source")
      .agg(
        count(lit(1)).as("docs"),
        sum(when(col("doc_id") =!= col("keeper"), 1L).otherwise(0L)).as("dup_docs"),
        sum(col("tok")).as("tokens_total"),
        sum(when(col("doc_id") =!= col("keeper"), col("tok")).otherwise(lit(0L)))
          .as("tokens_removed"))
      .withColumn("dup_token_share",
        col("tokens_removed").cast("double") / col("tokens_total").cast("double"))
      .orderBy("source")
  }

  val dedupInflationSql: String =
    """WITH k AS (
      |  SELECT doc_id, source,
      |    len(regexp_extract_all(text, '[a-z0-9]+')) AS tok,
      |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
      |  FROM documents
      |)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
      |  CAST(SUM(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
      |  CAST(SUM(tok) AS BIGINT) AS tokens_total,
      |  CAST(SUM(CASE WHEN doc_id <> keeper THEN tok ELSE 0 END) AS BIGINT) AS tokens_removed,
      |  CAST(SUM(CASE WHEN doc_id <> keeper THEN tok ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(tok) AS DOUBLE) AS dup_token_share
      |FROM k GROUP BY source ORDER BY source""".stripMargin
}
