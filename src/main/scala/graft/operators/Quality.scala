package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.EventMarts.enriched

/** The reference's 7-dimension data-quality validation re-expressed as
  * distributed aggregations (reference:
  * /root/reference/scripts/validate_quality.py:63-340 — null, duplicate,
  * range, funnel-sequence, timestamp, integrity, consistency checks;
  * PASS = pass_rate ≥ 99%).
  *
  * Where the reference loops over a Python list of dicts, each check
  * here is ONE aggregate over the events table — no driver-side
  * iteration, so a check over 100 TB is a map-side-combined scan.
  * Every check emits the reference's result shape:
  * (check_name, check_type, total_records, failed_records, pass_rate,
  * status).
  */
object Quality {

  private implicit class AggAll(df: DataFrame) {
    def aggAll(cols: Seq[Column]): DataFrame = df.agg(cols.head, cols.tail: _*)
  }

  /** The row rules of the seven-check suite, one Spark definition
    * each. The single-check ops, `perDateChecks`, `summaryFrom`, the
    * session gates (`Sessionize.typedRowFilter`/`fRange`/`fTs`/
    * `fIntegrity`) and the live check log
    * (`EventStream.qualityCountsOn`) all read these; the SQL strings
    * restate them for the oracle. */
  private[graft] val nullFailed: Column =
    col("event_id").isNull || col("ts").isNull || col("user_id").isNull ||
      col("event_type").isNull || col("value").isNull || col("props").isNull

  private[graft] val rangeFailed: Column =
    col("value") < 0 || col("value") > 1000000 ||
      !col("event_type").isin("view", "click", "purchase", "signup", "error")

  /** timestamp_check: `ts` null or its year outside [2020, 2030].
    * `typed` leaves out the null leg, for rows already past
    * `Sessionize.typedRowFilter`. */
  private[graft] def tsFailed(typed: Boolean = false): Column = {
    val early = year(col("ts")) < 2020
    (if (typed) early else col("ts").isNull || early) || year(col("ts")) > 2030
  }

  /** integrity_check, on purchase rows. */
  private[graft] val integrityFailed: Column =
    col("product_k").isNull || col("product_k") < 0 ||
      col("product_k") > 99 || col("value") <= 0

  /** The reference's pass rate (percent of rows passing) and its
    * PASS/FAIL line at 99 %. */
  private[graft] def passRate(total: Column, failed: Column): Column =
    (lit(1.0) - failed.cast("double") / greatest(total, lit(1L)).cast("double")) * lit(100)

  private[graft] def passStatus(rate: Column): Column =
    when(rate >= 99.0, "PASS").otherwise("FAIL")

  /** `pass_rate` and `status` over (total_records, failed_records). */
  private[graft] def rated(df: DataFrame): DataFrame =
    df.withColumn("pass_rate", passRate(col("total_records"), col("failed_records")))
      .withColumn("status", passStatus(col("pass_rate")))

  private def result(checkName: String, checkType: String,
                     total: Column, failed: Column): Seq[Column] = Seq(
    lit(checkName).as("check_name"),
    lit(checkType).as("check_type"),
    total.as("total_records"),
    failed.as("failed_records"),
    passRate(total, failed).as("pass_rate"),
    passStatus(passRate(total, failed)).as("status"))

  private def sqlResult(checkName: String, checkType: String,
                        totalExpr: String, failedExpr: String, from: String): String =
    s"""SELECT '$checkName' AS check_name, '$checkType' AS check_type,
       |  $totalExpr AS total_records, $failedExpr AS failed_records,
       |  (1.0 - CAST($failedExpr AS DOUBLE) / CAST(GREATEST($totalExpr, 1) AS DOUBLE)) * 100 AS pass_rate,
       |  CASE WHEN (1.0 - CAST($failedExpr AS DOUBLE) / CAST(GREATEST($totalExpr, 1) AS DOUBLE)) * 100 >= 99.0
       |       THEN 'PASS' ELSE 'FAIL' END AS status
       |FROM $from""".stripMargin

  /** 1. Required-field NULL check (validate_quality.py:86-118). */
  def nullCheck(spark: SparkSession, dir: String): DataFrame =
    enriched(spark, dir).aggAll(result("null_check", "null_check",
        count(lit(1)),
        count(when(nullFailed, 1))))

  val nullCheckSql: String = sqlResult("null_check", "null_check",
    "COUNT(*)",
    "COUNT(CASE WHEN event_id IS NULL OR ts IS NULL OR user_id IS NULL OR event_type IS NULL OR value IS NULL OR props IS NULL THEN 1 END)",
    "events")

  /** 2. event_id duplicate check (validate_quality.py:120-135). */
  def duplicateCheck(spark: SparkSession, dir: String): DataFrame =
    enriched(spark, dir).aggAll(result("duplicate_check", "duplicate_check",
        count(lit(1)),
        count(lit(1)) - countDistinct(col("event_id"))))

  val duplicateCheckSql: String = sqlResult("duplicate_check", "duplicate_check",
    "COUNT(*)", "COUNT(*) - COUNT(DISTINCT event_id)", "events")

  /** 3. Value-range / enum validity (validate_quality.py:137-186). */
  def rangeCheck(spark: SparkSession, dir: String): DataFrame =
    enriched(spark, dir).aggAll(result("range_check", "range_check",
        count(lit(1)),
        count(when(rangeFailed, 1))))

  val rangeCheckSql: String = sqlResult("range_check", "range_check",
    "COUNT(*)",
    "COUNT(CASE WHEN value < 0 OR value > 1000000 OR event_type NOT IN ('view','click','purchase','signup','error') THEN 1 END)",
    "events")

  /** 4. Funnel-sequence check: a purchase within a user-day must be
    * preceded by a view or click (validate_quality.py:188-228 groups by
    * session; sessions here are user-days, cf. SURVEY.md §3). */
  def sequenceCheck(spark: SparkSession, dir: String): DataFrame =
    sequenceCheckFrom(enriched(spark, dir))

  def sequenceCheckFrom(e: DataFrame): DataFrame =
    e
      .groupBy(col("user_id"), col("event_date"))
      .agg(
        min(when(col("event_type") === "purchase", col("event_epoch"))).as("first_purchase"),
        min(when(col("event_type").isin("view", "click"), col("event_epoch"))).as("first_touch"))
      .aggAll(result("sequence_check", "sequence_check",
          count(lit(1)),
          count(when(col("first_purchase").isNotNull &&
                     (col("first_touch").isNull || col("first_touch") > col("first_purchase")), 1))))

  val sequenceCheckSql: String = sqlResult("sequence_check", "sequence_check",
    "COUNT(*)",
    "COUNT(CASE WHEN first_purchase IS NOT NULL AND (first_touch IS NULL OR first_touch > first_purchase) THEN 1 END)",
    """(
      |  SELECT user_id, CAST(ts AS DATE) AS d,
      |    MIN(CASE WHEN event_type = 'purchase' THEN CAST(FLOOR(EPOCH(ts)) AS BIGINT) END) AS first_purchase,
      |    MIN(CASE WHEN event_type IN ('view','click') THEN CAST(FLOOR(EPOCH(ts)) AS BIGINT) END) AS first_touch
      |  FROM events GROUP BY user_id, CAST(ts AS DATE)
      |) t""".stripMargin)

  /** 5. Timestamp validity: year ∈ [2020, 2030] (validate_quality.py:230-252). */
  def timestampCheck(spark: SparkSession, dir: String): DataFrame =
    enriched(spark, dir).aggAll(result("timestamp_check", "range_check",
        count(lit(1)),
        count(when(tsFailed(), 1))))

  val timestampCheckSql: String = sqlResult("timestamp_check", "range_check",
    "COUNT(*)",
    "COUNT(CASE WHEN ts IS NULL OR YEAR(ts) < 2020 OR YEAR(ts) > 2030 THEN 1 END)",
    "events")

  /** 6. Order integrity: purchases must carry a valid product id in
    * props and a positive amount (validate_quality.py:254-285 checks
    * total_amount against the JSONB item list). */
  def integrityCheck(spark: SparkSession, dir: String): DataFrame =
    enriched(spark, dir)
      .filter(col("event_type") === "purchase")
      .aggAll(result("integrity_check", "integrity_check",
          count(lit(1)),
          count(when(integrityFailed, 1))))

  val integrityCheckSql: String = sqlResult("integrity_check", "integrity_check",
    "COUNT(*)",
    "COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) IS NULL OR CAST(json_extract_string(props, '$.k') AS INT) < 0 OR CAST(json_extract_string(props, '$.k') AS INT) > 99 OR value <= 0 THEN 1 END)",
    "(SELECT * FROM events WHERE event_type = 'purchase') t")

  /** 7. Consistency: at most one signup per user
    * (validate_quality.py:287-340 checks per-session platform
    * stability; the analogous per-entity invariant here). */
  def consistencyCheck(spark: SparkSession, dir: String): DataFrame =
    consistencyCheckFrom(enriched(spark, dir))

  def consistencyCheckFrom(e: DataFrame): DataFrame =
    e
      .groupBy(col("user_id"))
      .agg(count(when(col("event_type") === "signup", 1)).as("signups"))
      .aggAll(result("consistency_check", "consistency_check",
          count(lit(1)),
          count(when(col("signups") > 1, 1))))

  val consistencyCheckSql: String = sqlResult("consistency_check", "consistency_check",
    "COUNT(*)",
    "COUNT(CASE WHEN signups > 1 THEN 1 END)",
    """(
      |  SELECT user_id, COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signups
      |  FROM events GROUP BY user_id
      |) t""".stripMargin)

  val FreshnessStaleSeconds = 7200L

  /** 8 (graft extension, not in the reference's 7-check summary —
    * dq_summary stays byte-parity with the reference suite):
    * ingestion freshness. A day whose LAST event lands more than
    * `FreshnessStaleSeconds` before day end means the feed stopped
    * early / the backfill is partial — the staleness signal a
    * scheduler's sensor would poll for. One scan to |days| rows, then
    * the standard check shape over the day grain (a day is the unit
    * that passes or fails, like sequence/consistency use user-days).
    * Epoch arithmetic is integer and UTC-pinned on both engines. */
  def freshnessCheck(spark: SparkSession, dir: String): DataFrame =
    freshnessCheckFrom(enriched(spark, dir))

  def freshnessCheckFrom(e: DataFrame): DataFrame =
    e.filter(col("ts").isNotNull)
      .groupBy(col("event_date"))
      .agg(max(col("event_epoch")).as("last_epoch"))
      .withColumn("lag_seconds",
        unix_timestamp(date_add(col("event_date"), 1)) - col("last_epoch"))
      .aggAll(result("freshness_check", "freshness_check",
          count(lit(1)),
          count(when(col("lag_seconds") > FreshnessStaleSeconds, 1))))

  val freshnessCheckSql: String = sqlResult("freshness_check", "freshness_check",
    "COUNT(*)",
    s"COUNT(CASE WHEN lag_seconds > $FreshnessStaleSeconds THEN 1 END)",
    """(
      |  SELECT d, CAST(FLOOR(EPOCH(CAST(d AS TIMESTAMP))) AS BIGINT) + 86400 - last_epoch AS lag_seconds
      |  FROM (
      |    SELECT CAST(ts AS DATE) AS d, MAX(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) AS last_epoch
      |    FROM events WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)
      |  ) g
      |) t""".stripMargin)

  /** Schema-drift census over the semi-structured props column: per
    * day, which JSON keys appear and in how many events — the table a
    * pipeline owner diffs day-over-day to catch producers adding,
    * renaming, or dropping fields (the silent mart-breaker structured
    * schemas catch at write time but JSON never does). One scan,
    * explode of the (tiny) per-event key list, one map-side-combined
    * aggregate to |days|×|keys| rows. */
  def schemaDrift(spark: SparkSession, dir: String): DataFrame =
    enriched(spark, dir)
      .filter(col("ts").isNotNull && col("props").isNotNull)
      .select(col("event_date"), explode(json_object_keys(col("props"))).as("prop_key"))
      .groupBy(col("event_date"), col("prop_key"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("event_date", "prop_key")

  val schemaDriftSql: String =
    """SELECT event_date, prop_key, COUNT(*) AS n_events
      |FROM (
      |  SELECT CAST(ts AS DATE) AS event_date,
      |    unnest(json_keys(props)) AS prop_key
      |  FROM events WHERE ts IS NOT NULL AND props IS NOT NULL
      |)
      |GROUP BY 1, 2 ORDER BY event_date, prop_key""".stripMargin

  /** Day-over-day value-DISTRIBUTION drift — the check that catches a
    * producer silently changing units or truncating amounts while row
    * counts stay normal (volume anomaly sees nothing): per day, the
    * L1 distance between today's and yesterday's value histogram over
    * FIXED power-of-two buckets (comparable across days, unlike
    * quantile buckets). L1 ∈ [0, 2]; 0 = identical shape, 2 =
    * disjoint support.
    *
    * Determinism at the oracle: the naive Σ|share_t − share_y| sums
    * DOUBLES in aggregation order. Instead each term is the INTEGER
    * |c_t·N_y − c_y·N_t| (exact, order-free bigint sum) and the
    * single division by N_t·N_y happens once at the end — the same
    * exact-integer trick dq_anomaly uses for its z-scores. The
    * |days|×16 dense grid is a tiny intentional cross join (the
    * dq_anomaly zero-fill pattern); everything upstream is one
    * map-side-combined scan. */
  def valueDrift(spark: SparkSession, dir: String): DataFrame =
    valueDriftFrom(enriched(spark, dir))

  /** Fixed bucket id: 0 for value < 1, then ⌊log2⌋+1 capped at 15 —
    * expressed as comparison chains (no engine log2). */
  private[graft] def bucketOf(v: Column): Column =
    (1 to 14).foldLeft(when(v < 1, 0)) { (acc, b) =>
      acc.when(v < math.pow(2, b), b)
    }.otherwise(15)

  private def sqlBucketOf(v: String): String = {
    val cases = (1 to 14).map(b => s"WHEN $v < ${math.pow(2, b).toLong} THEN $b").mkString(" ")
    s"(CASE WHEN $v < 1 THEN 0 $cases ELSE 15 END)"
  }

  private[graft] def valueDriftFrom(e: DataFrame): DataFrame =
    valueDriftFromCounts(e
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(col("event_date"), bucketOf(col("value")).as("bucket"))
      .agg(count(lit(1)).as("c")))

  /** The drift rescore over ANY (event_date, bucket, c) count frame —
    * shared by the batch query above and the streaming-log path
    * (`valueDriftFromLog`), so the two can't diverge. */
  private[graft] def valueDriftFromCounts(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = counts.select(col("event_date")).distinct()
    val buckets = counts.sparkSession.range(0, 16).select(col("id").cast("int").as("bucket"))
    val dense = days.crossJoin(buckets)
      .join(counts, Seq("event_date", "bucket"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val wDay = Window.partitionBy("event_date")
    val wBucket = Window.partitionBy("bucket").orderBy("event_date")
    // count×count products overflow Long at ~3e9 events/day (exactly
    // the scale this mart targets) — widen to decimal BEFORE the
    // multiply, the same guard dq_anomaly's exact z-scores use; the
    // oracle widens to HUGEINT. Both stay exact integers; the single
    // final division converts to double identically on both engines.
    def dec(c: Column) = c.cast("decimal(38,0)")
    dense
      .withColumn("n", sum(col("c")).over(wDay))
      .withColumn("c_prev", lag(col("c"), 1).over(wBucket))
      .withColumn("n_prev", lag(col("n"), 1).over(wBucket))
      .filter(col("c_prev").isNotNull)
      .groupBy(col("event_date"))
      .agg(
        max(col("n")).as("n_events"),
        sum(abs(dec(col("c")) * dec(col("n_prev")) - dec(col("c_prev")) * dec(col("n"))))
          .as("num"),
        max(dec(col("n")) * dec(col("n_prev"))).as("den"))
      .select(col("event_date"), col("n_events"),
        (col("num").cast("double") / col("den").cast("double")).as("l1_drift"))
      .orderBy("event_date")
  }

  val valueDriftSql: String = {
    val b = sqlBucketOf("value")
    s"""WITH counts AS (
       |  SELECT CAST(ts AS DATE) AS d, $b AS bucket, COUNT(*) AS c
       |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
       |  GROUP BY 1, 2
       |), dense AS (
       |  SELECT days.d, bk.bucket, COALESCE(counts.c, 0) AS c
       |  FROM (SELECT DISTINCT d FROM counts) days
       |  CROSS JOIN (SELECT unnest(range(0, 16)) AS bucket) bk
       |  LEFT JOIN counts ON counts.d = days.d AND counts.bucket = bk.bucket
       |), withn AS (
       |  SELECT d, bucket, c, SUM(c) OVER (PARTITION BY d) AS n FROM dense
       |), lagged AS (
       |  SELECT d, bucket, c, n,
       |    LAG(c) OVER (PARTITION BY bucket ORDER BY d) AS c_prev,
       |    LAG(n) OVER (PARTITION BY bucket ORDER BY d) AS n_prev
       |  FROM withn
       |)
       |SELECT d AS event_date, CAST(MAX(n) AS BIGINT) AS n_events,
       |  CAST(SUM(ABS(CAST(c AS HUGEINT) * CAST(n_prev AS HUGEINT)
       |      - CAST(c_prev AS HUGEINT) * CAST(n AS HUGEINT))) AS DOUBLE)
       |    / CAST(MAX(CAST(n AS HUGEINT) * CAST(n_prev AS HUGEINT)) AS DOUBLE) AS l1_drift
       |FROM lagged WHERE c_prev IS NOT NULL
       |GROUP BY d ORDER BY event_date""".stripMargin
  }

  /** CROSS-TABLE reconciliation — the relational-warehouse DQ check
    * the reference's event-only suite never runs: do the `orders` and
    * `lineitem` tables agree? Three invariants in the standard check
    * shape (same columns/formula as the 7-check suite, so they slot
    * into the same check log / trend / alert machinery):
    *
    *   - orphan_lineitem_check: lineitems whose order key has no
    *     `orders` row (referential integrity, child → parent);
    *   - order_coverage_check: orders with zero lineitems (a priced
    *     order with no detail rows);
    *   - amount_reconcile_check: orders whose header total deviates
    *     from the exact decimal sum of their lineitems'
    *     extended·(1−disc)·(1+tax) by more than one cent.
    *
    * Scale shape: ONE aggregation of lineitem to order grain (the only
    * fact-sized shuffle, map-side combined), ONE full-outer join with
    * orders on the shared key, then a single 6-aggregate pass whose
    * result explodes into the three check rows via `stack` — neither
    * base table is scanned twice. Amounts go through per-row
    * decimal(12,2) casts and exact decimal sums (the q1 determinism
    * pattern), so the one-cent comparison is bit-stable on both
    * engines. */
  def ordersReconcile(spark: SparkSession, dir: String): DataFrame =
    ordersReconcileFrom(graft.Tables.orders(spark, dir), graft.Tables.lineitem(spark, dir))

  private[graft] def ordersReconcileFrom(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val comp = lineitem
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))).cast("decimal(12,2)")).as("computed_total"))
    val joined = orders
      .select(col("o_orderkey"), col("o_totalprice").cast("decimal(12,2)").as("header_total"))
      .join(comp, col("o_orderkey") === col("l_orderkey"), "full_outer")
    val a = joined.agg(
      sum(coalesce(col("n_items"), lit(0L))).cast("long").as("li_total"),
      sum(when(col("o_orderkey").isNull, col("n_items")).otherwise(lit(0L)))
        .cast("long").as("li_orphans"),
      count(col("o_orderkey")).as("orders_total"),
      count(when(col("o_orderkey").isNotNull && col("l_orderkey").isNull, 1))
        .as("childless"),
      count(when(col("o_orderkey").isNotNull && col("l_orderkey").isNotNull, 1))
        .as("matched"),
      count(when(col("o_orderkey").isNotNull && col("l_orderkey").isNotNull &&
        abs(col("header_total") - col("computed_total")) > lit(0.01), 1))
        .as("mismatched"))
    a.selectExpr(
      """stack(3,
        |  'orphan_lineitem_check',  li_total,     li_orphans,
        |  'order_coverage_check',   orders_total, childless,
        |  'amount_reconcile_check', matched,      mismatched
        |) AS (check_name, total_records, failed_records)""".stripMargin)
      .select(
        col("check_name"), lit("integrity_check").as("check_type"),
        col("total_records"), col("failed_records"))
      .transform(rated)
      .orderBy("check_name")
  }

  val ordersReconcileSql: String =
    """WITH comp AS (
      |  SELECT l_orderkey, COUNT(*) AS n_items,
      |    SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(12,2))) AS computed_total
      |  FROM lineitem GROUP BY 1
      |), joined AS (
      |  SELECT o.o_orderkey, CAST(o.o_totalprice AS DECIMAL(12,2)) AS header_total,
      |    c.l_orderkey, c.n_items, c.computed_total
      |  FROM orders o FULL OUTER JOIN comp c ON o.o_orderkey = c.l_orderkey
      |), a AS (
      |  SELECT
      |    CAST(SUM(COALESCE(n_items, 0)) AS BIGINT) AS li_total,
      |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN n_items ELSE 0 END) AS BIGINT) AS li_orphans,
      |    COUNT(o_orderkey) AS orders_total,
      |    COUNT(CASE WHEN o_orderkey IS NOT NULL AND l_orderkey IS NULL THEN 1 END) AS childless,
      |    COUNT(CASE WHEN o_orderkey IS NOT NULL AND l_orderkey IS NOT NULL THEN 1 END) AS matched,
      |    COUNT(CASE WHEN o_orderkey IS NOT NULL AND l_orderkey IS NOT NULL
      |               AND ABS(header_total - computed_total) > 0.01 THEN 1 END) AS mismatched
      |  FROM joined
      |), rows3 AS (
      |  SELECT 'orphan_lineitem_check' AS check_name, li_total AS total_records, li_orphans AS failed_records FROM a
      |  UNION ALL
      |  SELECT 'order_coverage_check', orders_total, childless FROM a
      |  UNION ALL
      |  SELECT 'amount_reconcile_check', matched, mismatched FROM a
      |)
      |SELECT check_name, 'integrity_check' AS check_type, total_records, failed_records,
      |  (1.0 - CAST(failed_records AS DOUBLE) / CAST(GREATEST(total_records, 1) AS DOUBLE)) * 100 AS pass_rate,
      |  CASE WHEN (1.0 - CAST(failed_records AS DOUBLE) / CAST(GREATEST(total_records, 1) AS DOUBLE)) * 100 >= 99.0
      |       THEN 'PASS' ELSE 'FAIL' END AS status
      |FROM rows3
      |ORDER BY check_name""".stripMargin

  /** Corpus ALIGNMENT check — the documents↔embeddings sibling of
    * `ordersReconcile`, validating the invariant every embedding-based
    * operator here relies on (ann_*, semdedup, corpus_topic_mix): the
    * embedding table is row-aligned to the document table. Three rows
    * in the standard check shape:
    *
    *   - embedding_coverage_check: documents with no embedding row
    *     (they silently drop out of every vector-side operator);
    *   - orphan_embedding_check: embeddings with no document (stale
    *     vectors from a deleted/re-chunked doc);
    *   - dim_uniformity_check: embeddings whose dimensionality differs
    *     from the corpus' dominant dim (cosine against a mismatched
    *     dim is null — a poisoned index cell). Dominant = largest
    *     count, ties to the smaller dim; null/empty vectors count as
    *     dim −1 (never dominant on a healthy corpus).
    *
    * Scale shape: one full-outer join on the id (the only fact-sized
    * shuffle), a 4-aggregate pass stacked into two rows, and the dim
    * census — a ≤|distinct dims| frame whose dominant-dim window is
    * the repo's standard tiny-aggregate unpartitioned window. Neither
    * table is scanned twice: the dim census reuses the embeddings
    * projection of the join input. */
  def corpusCoverage(spark: SparkSession, dir: String): DataFrame =
    corpusCoverageFrom(graft.Tables.documents(spark, dir),
      graft.Tables.embeddings(spark, dir))

  private[graft] def corpusCoverageFrom(docs: DataFrame, emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs.select(col("doc_id"))
    // two consumers (the join and the dim census) — localCheckpoint so
    // the embeddings scan runs once; the returned frame is lazy, so a
    // persist here could never be unpersisted (substringDup rationale)
    val e = emb.select(col("vec_id"), coalesce(size(col("embedding")), lit(-1)).as("dim"))
      .localCheckpoint()
    val joined = d.join(e, col("doc_id") === col("vec_id"), "full_outer")
    val cov = joined.agg(
        count(col("doc_id")).as("docs_total"),
        count(when(col("doc_id").isNotNull && col("vec_id").isNull, 1)).as("docs_missing"),
        count(col("vec_id")).as("emb_total"),
        count(when(col("vec_id").isNotNull && col("doc_id").isNull, 1)).as("emb_orphans"))
      .selectExpr(
        """stack(2,
          |  'embedding_coverage_check', docs_total, docs_missing,
          |  'orphan_embedding_check',   emb_total,  emb_orphans
          |) AS (check_name, total_records, failed_records)""".stripMargin)
    val dims = e.groupBy(col("dim")).agg(count(lit(1)).as("cnt"))
    val wDom = Window.orderBy(desc("cnt"), asc("dim"))
    val dimRow = dims
      .withColumn("rn", row_number().over(wDom))
      // empty embeddings: SUM over zero rows is NULL, which would give
      // the row a NULL pass_rate that falls into the FAIL branch —
      // coalesce to the 0/0 → PASS shape the other checks get from the
      // greatest(total, 1) guard (same coalesce in the oracle SQL)
      .agg(coalesce(sum(col("cnt")), lit(0L)).cast("long").as("total_records"),
        coalesce(sum(when(col("rn") > 1, col("cnt")).otherwise(lit(0L))), lit(0L))
          .cast("long").as("failed_records"))
      .select(lit("dim_uniformity_check").as("check_name"),
        col("total_records"), col("failed_records"))
    cov.unionByName(dimRow)
      .select(
        col("check_name"), lit("integrity_check").as("check_type"),
        col("total_records"), col("failed_records"))
      .transform(rated)
      .orderBy("check_name")
  }

  val corpusCoverageSql: String =
    """WITH e AS (
      |  SELECT vec_id, COALESCE(len(embedding), -1) AS dim FROM embeddings
      |), joined AS (
      |  SELECT d.doc_id, e.vec_id
      |  FROM documents d FULL OUTER JOIN e ON d.doc_id = e.vec_id
      |), cov AS (
      |  SELECT
      |    COUNT(doc_id) AS docs_total,
      |    COUNT(CASE WHEN doc_id IS NOT NULL AND vec_id IS NULL THEN 1 END) AS docs_missing,
      |    COUNT(vec_id) AS emb_total,
      |    COUNT(CASE WHEN vec_id IS NOT NULL AND doc_id IS NULL THEN 1 END) AS emb_orphans
      |  FROM joined
      |), dims AS (
      |  SELECT dim, COUNT(*) AS cnt FROM e GROUP BY 1
      |), dom AS (
      |  SELECT dim, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, dim ASC) AS rn FROM dims
      |), rows3 AS (
      |  SELECT 'embedding_coverage_check' AS check_name,
      |    docs_total AS total_records, docs_missing AS failed_records FROM cov
      |  UNION ALL
      |  SELECT 'orphan_embedding_check', emb_total, emb_orphans FROM cov
      |  UNION ALL
      |  SELECT 'dim_uniformity_check',
      |    CAST(COALESCE(SUM(cnt), 0) AS BIGINT),
      |    CAST(COALESCE(SUM(CASE WHEN rn > 1 THEN cnt ELSE 0 END), 0) AS BIGINT)
      |  FROM dom
      |)
      |SELECT check_name, 'integrity_check' AS check_type, total_records, failed_records,
      |  (1.0 - CAST(failed_records AS DOUBLE) / CAST(GREATEST(total_records, 1) AS DOUBLE)) * 100 AS pass_rate,
      |  CASE WHEN (1.0 - CAST(failed_records AS DOUBLE) / CAST(GREATEST(total_records, 1) AS DOUBLE)) * 100 >= 99.0
      |       THEN 'PASS' ELSE 'FAIL' END AS status
      |FROM rows3
      |ORDER BY check_name""".stripMargin

  /** Pass-rate trend for ALL 7 checks over days (reference:
    * scripts/quality_dashboard.py trends every check across the
    * check-log days). Each check is evaluated per event_date — a
    * "daily run" of the suite — with its own denominator (rows for the
    * row-grain checks, purchases for integrity, user-days for
    * sequence/consistency). ONE scan regardless of check count — see
    * `perDateChecks` — then one rollup per check. Determinism: min
    * over per-day doubles is order-independent; the overall rate is
    * one exact division of long sums — no double summation anywhere.
    *
    * Note the consistency/sequence day-scope semantics: a user with
    * one signup on each of two days passes every DAILY consistency
    * check while failing the corpus-wide `consistencyCheck` — inherent
    * to trending a per-entity invariant at day grain, and exactly what
    * a per-run check log records. */
  def dailyTrend(spark: SparkSession, dir: String): DataFrame =
    dailyTrendFrom(enriched(spark, dir))

  private[graft] def dailyTrendFrom(e: DataFrame): DataFrame =
    perDateChecks(e)
      .groupBy(col("check_name"))
      .agg(
        count(lit(1)).as("days"),
        sum(col("total_records")).as("total_records"),
        sum(col("failed_records")).as("failed_records"),
        passRate(sum(col("total_records")), sum(col("failed_records")))
          .as("overall_pass_rate"),
        min(col("pass_rate")).as("min_daily_pass_rate"))
      .orderBy("check_name")

  /** Per-(event_date, check) results for ALL 7 checks in ONE events
    * scan — the day-grain frame behind `dailyTrend` and the
    * pipeline's per-date check log: ROLLUP(event_date, user_id)
    * yields the user-day grain (gid=0 — sequence/consistency inputs)
    * AND the per-date row grain (gid=1 — totals and row-grain failure
    * counts, including the distinct-id dup check) in a single
    * aggregate; a per-date second stage merges both grains (a
    * two-aggregate + join formulation would scan events twice —
    * fan-out cannot share the scan, branch pruning defeats
    * ReuseExchange). */
  private[graft] def perDateChecks(e: DataFrame): DataFrame = {
    val grouped = e.rollup(col("event_date"), col("user_id"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("total"),
        count(when(nullFailed, 1)).as("null_failed"),
        (count(lit(1)) - countDistinct(col("event_id"))).as("dup_failed"),
        count(when(rangeFailed, 1)).as("range_failed"),
        count(when(tsFailed(), 1)).as("ts_failed"),
        count(when(col("event_type") === "purchase", 1)).as("purchase_total"),
        count(when(col("event_type") === "purchase" && integrityFailed, 1))
          .as("integrity_failed"),
        count(when(col("event_type") === "signup", 1)).as("signups"),
        min(when(col("event_type") === "purchase", col("event_epoch"))).as("first_purchase"),
        min(when(col("event_type").isin("view", "click"), col("event_epoch"))).as("first_touch"))
    def dateLevel(c: org.apache.spark.sql.Column) = max(when(col("gid") === 1, c))
    grouped
      .filter(col("gid").isin(0, 1)) // drop the grand-total row
      .groupBy(col("event_date"))
      .agg(
        dateLevel(col("total")).as("total"),
        dateLevel(col("null_failed")).as("null_failed"),
        dateLevel(col("dup_failed")).as("dup_failed"),
        dateLevel(col("range_failed")).as("range_failed"),
        dateLevel(col("ts_failed")).as("ts_failed"),
        dateLevel(col("purchase_total")).as("purchase_total"),
        dateLevel(col("integrity_failed")).as("integrity_failed"),
        count(when(col("gid") === 0, 1)).as("ud_total"),
        count(when(col("gid") === 0 && col("first_purchase").isNotNull &&
                   (col("first_touch").isNull || col("first_touch") > col("first_purchase")), 1))
          .as("seq_failed"),
        count(when(col("gid") === 0 && col("signups") > 1, 1)).as("cons_failed"))
      .select(col("event_date"), expr(
        """stack(7,
          |  'null_check', 'null_check', total, null_failed,
          |  'duplicate_check', 'duplicate_check', total, dup_failed,
          |  'range_check', 'range_check', total, range_failed,
          |  'timestamp_check', 'range_check', total, ts_failed,
          |  'integrity_check', 'integrity_check', purchase_total, integrity_failed,
          |  'sequence_check', 'sequence_check', ud_total, seq_failed,
          |  'consistency_check', 'consistency_check', ud_total, cons_failed
          |) as (check_name, check_type, total_records, failed_records)""".stripMargin))
      .transform(rated)
  }

  val dailyTrendSql: String =
    """WITH row_daily AS (
      |  SELECT CAST(ts AS DATE) AS event_date, COUNT(*) AS total,
      |    COUNT(CASE WHEN event_id IS NULL OR ts IS NULL OR user_id IS NULL OR event_type IS NULL OR value IS NULL OR props IS NULL THEN 1 END) AS null_failed,
      |    COUNT(*) - COUNT(DISTINCT event_id) AS dup_failed,
      |    COUNT(CASE WHEN value < 0 OR value > 1000000 OR event_type NOT IN ('view','click','purchase','signup','error') THEN 1 END) AS range_failed,
      |    COUNT(CASE WHEN ts IS NULL OR YEAR(ts) < 2020 OR YEAR(ts) > 2030 THEN 1 END) AS ts_failed,
      |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_total,
      |    COUNT(CASE WHEN event_type = 'purchase' AND (CAST(json_extract_string(props, '$.k') AS INT) IS NULL OR CAST(json_extract_string(props, '$.k') AS INT) < 0 OR CAST(json_extract_string(props, '$.k') AS INT) > 99 OR value <= 0) THEN 1 END) AS integrity_failed
      |  FROM events GROUP BY 1
      |), ud AS (
      |  SELECT user_id, CAST(ts AS DATE) AS event_date,
      |    COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signups,
      |    MIN(CASE WHEN event_type = 'purchase' THEN CAST(FLOOR(EPOCH(ts)) AS BIGINT) END) AS first_purchase,
      |    MIN(CASE WHEN event_type IN ('view','click') THEN CAST(FLOOR(EPOCH(ts)) AS BIGINT) END) AS first_touch
      |  FROM events GROUP BY 1, 2
      |), ud_daily AS (
      |  SELECT event_date, COUNT(*) AS ud_total,
      |    COUNT(CASE WHEN first_purchase IS NOT NULL AND (first_touch IS NULL OR first_touch > first_purchase) THEN 1 END) AS seq_failed,
      |    COUNT(CASE WHEN signups > 1 THEN 1 END) AS cons_failed
      |  FROM ud GROUP BY 1
      |), unp AS (
      |  SELECT event_date, 'null_check' AS check_name, total AS day_total, null_failed AS failed FROM row_daily
      |  UNION ALL SELECT event_date, 'duplicate_check', total, dup_failed FROM row_daily
      |  UNION ALL SELECT event_date, 'range_check', total, range_failed FROM row_daily
      |  UNION ALL SELECT event_date, 'timestamp_check', total, ts_failed FROM row_daily
      |  UNION ALL SELECT event_date, 'integrity_check', purchase_total, integrity_failed FROM row_daily
      |  UNION ALL SELECT event_date, 'sequence_check', ud_total, seq_failed FROM ud_daily
      |  UNION ALL SELECT event_date, 'consistency_check', ud_total, cons_failed FROM ud_daily
      |)
      |SELECT check_name, COUNT(*) AS days,
      |  CAST(SUM(day_total) AS BIGINT) AS total_records, CAST(SUM(failed) AS BIGINT) AS failed_records,
      |  (1.0 - CAST(SUM(failed) AS DOUBLE) / CAST(GREATEST(SUM(day_total), 1) AS DOUBLE)) * 100 AS overall_pass_rate,
      |  MIN((1.0 - CAST(failed AS DOUBLE) / CAST(GREATEST(day_total, 1) AS DOUBLE)) * 100) AS min_daily_pass_rate
      |FROM unp GROUP BY check_name ORDER BY check_name""".stripMargin

  /** All 7 checks in one result set (validate_quality.run_all_checks).
    *
    * TWO scans, not seven: every row-grain check (null, duplicate,
    * range, timestamp, integrity) folds into ONE aggregate over
    * events, and BOTH grouped checks share one (user_id, event_date)
    * aggregate — sequence reads it directly, consistency re-aggregates
    * it per user (per-user signups = the sum of per-user-day signups),
    * so Catalyst's ReuseExchange computes the shared user-day shuffle
    * once. At 100 TB the scan is the cost, so the quality suite must
    * not multiply it by the check count. The single-check operators
    * above keep their per-check shape for the driver contract; the
    * oracle recomputes each check independently — results are
    * identical. */
  def summary(spark: SparkSession, dir: String): DataFrame =
    summaryFrom(enriched(spark, dir))

  def summaryFrom(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{expr => sqlExpr}
    val row = e.agg(
      count(lit(1)).as("total"),
      count(when(nullFailed, 1)).as("null_failed"),
      (count(lit(1)) - countDistinct(col("event_id"))).as("dup_failed"),
      count(when(rangeFailed, 1)).as("range_failed"),
      count(when(tsFailed(), 1)).as("ts_failed"),
      count(when(col("event_type") === "purchase", 1)).as("purchase_total"),
      count(when(col("event_type") === "purchase" && integrityFailed, 1))
        .as("integrity_failed"))
    val rowChecks = row.select(sqlExpr(
      """stack(5,
        |  'null_check', 'null_check', total, null_failed,
        |  'duplicate_check', 'duplicate_check', total, dup_failed,
        |  'range_check', 'range_check', total, range_failed,
        |  'timestamp_check', 'range_check', total, ts_failed,
        |  'integrity_check', 'integrity_check', purchase_total, integrity_failed
        |) as (check_name, check_type, total_records, failed_records)""".stripMargin))
    // ROLLUP(user_id, event_date) computes the user-day grain (gid=0,
    // feeds sequence) AND the per-user subtotals (gid=1, feeds
    // consistency: per-user signups = sum of per-user-day signups) in
    // one aggregate; both checks' counters then collapse in one final
    // single-row aggregate — a single linear plan, so nothing is
    // recomputed via DataFrame fan-out (two branches would re-plan the
    // scan each, as branch-specific column pruning defeats
    // ReuseExchange).
    val grouped = e.rollup(col("user_id"), col("event_date"))
      .agg(
        grouping_id().as("gid"),
        count(when(col("event_type") === "signup", 1)).as("signups"),
        min(when(col("event_type") === "purchase", col("event_epoch"))).as("first_purchase"),
        min(when(col("event_type").isin("view", "click"), col("event_epoch"))).as("first_touch"))
    val groupedChecks = grouped.agg(
        count(when(col("gid") === 0, 1)).as("ud_total"),
        count(when(col("gid") === 0 && col("first_purchase").isNotNull &&
                   (col("first_touch").isNull || col("first_touch") > col("first_purchase")), 1))
          .as("seq_failed"),
        count(when(col("gid") === 1, 1)).as("user_total"),
        count(when(col("gid") === 1 && col("signups") > 1, 1)).as("cons_failed"))
      .select(sqlExpr(
        """stack(2,
          |  'consistency_check', 'consistency_check', user_total, cons_failed,
          |  'sequence_check', 'sequence_check', ud_total, seq_failed
          |) as (check_name, check_type, total_records, failed_records)""".stripMargin))
    rated(rowChecks)
      .unionByName(rated(groupedChecks))
      .orderBy("check_name")
  }

  /** The check log row shape the reference persists per run
    * (quality_check_log: every run's 7 check results keyed by the run
    * date — scripts/quality_dashboard.py:52-73 reads it back for
    * trending). */
  def checkLog(summary: DataFrame, runDate: String): DataFrame =
    summary.withColumn("run_date", lit(runDate).cast("date"))

  /** Persist one run's check results under its run_date partition —
    * idempotent via dynamic partition overwrite (re-running a date
    * replaces that date's log rows only). */
  def writeCheckLog(summary: DataFrame, logDir: String, runDate: String): Unit =
    graft.sources.MartSink.writePartitioned(checkLog(summary, runDate), logDir, Seq("run_date"))

  /** JDBC leg of the check log — the reference keeps
    * quality_check_log in PostgreSQL (docker/init-db.sh;
    * scripts/quality_dashboard.py:51 `load_from_db`) and the DAG's
    * load task upserts per run. Same per-date idempotency as the
    * parquet log: the run_date predicate delete + insert ride
    * MartSink.writeJdbc's staged atomic swap, so re-running a date
    * replaces exactly that date's 7 rows and readers never see a
    * partial log. */
  def writeCheckLogJdbc(summary: DataFrame, url: String, table: String,
                        runDate: String): Unit = {
    require(runDate.matches("""\d{4}-\d{2}-\d{2}"""),
      s"runDate must be ISO yyyy-MM-dd, got $runDate")
    graft.sources.MartSink.writeJdbc(checkLog(summary, runDate), url, table,
      deletePredicate = Some(s""""run_date" = '$runDate'"""))
  }

  /** Trend the DB-backed check log (the dashboard's `load_from_db`
    * path) — same aggregation as the parquet-log trend. */
  def trendFromJdbc(spark: SparkSession, url: String, table: String): DataFrame =
    trendFrom(spark.read.jdbc(url, table, new java.util.Properties()))

  /** Trend per check across persisted runs — the log-backed variant of
    * `dailyTrend` (reads quality_check_log instead of recomputing from
    * raw events, exactly how the reference dashboard trends). The log
    * is tiny (7 rows/run), so this is driver-light work no matter the
    * corpus size behind it. */
  def trendFromLog(spark: SparkSession, logDir: String): DataFrame =
    trendFrom(spark.read.parquet(logDir))

  private def trendFrom(log: DataFrame): DataFrame =
    log
      .withColumn("day_pass_rate", passRate(col("total_records"), col("failed_records")))
      .groupBy(col("check_name"))
      .agg(
        count(lit(1)).as("days"),
        sum(col("total_records")).as("total_records"),
        sum(col("failed_records")).as("failed_records"),
        passRate(sum(col("total_records")), sum(col("failed_records")))
          .as("overall_pass_rate"),
        min(col("day_pass_rate")).as("min_daily_pass_rate"))
      .orderBy("check_name")

  val summarySql: String =
    Seq(nullCheckSql, duplicateCheckSql, rangeCheckSql, sequenceCheckSql,
        timestampCheckSql, integrityCheckSql, consistencyCheckSql)
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) u ORDER BY check_name")

  /** Daily-volume anomaly detection: per (event_type, day) event
    * counts z-scored against the trailing window of up to 7 prior
    * days (the reference dashboard's day-over-day trend, hardened
    * into an alertable signal; cf. scripts/quality_dashboard.py's
    * per-day counts).
    *
    * Determinism contract: mean and variance are derived from EXACT
    * integer window sums (count, Σn, Σn²) — never from a streaming
    * stddev aggregate, whose accumulation order differs between
    * engines — so the z-score is one fixed IEEE expression over exact
    * operands, bit-identical with the oracle. Days with fewer than 3
    * trailing observations or zero variance emit a NULL z-score.
    *
    * Scale: the daily-count frame is days × event-types rows (tiny)
    * after one map-side-combined shuffle of the raw scan; the window
    * runs over that tiny frame. */
  def volumeAnomaly(spark: SparkSession, dir: String, zCut: Double = 3.0): DataFrame =
    anomalyScores(
      denseFill(
        graft.Tables.events(spark, dir)
          .filter(col("ts").isNotNull)
          .groupBy(col("ts").cast("date").as("event_date"), col("event_type"))
          .agg(count(lit(1)).as("n_events")),
        bucketCol = "event_date", step = "1 day"),
      bucketCol = "event_date", zCut = zCut)

  /** Zero-fills the (bucket × event_type) grid between the observed
    * min and max bucket: a bucket with NO rows is the highest-value
    * anomaly there is (a total outage), and without the fill it would
    * produce no row, no score, and no alert — while the trailing
    * ROWS window would silently span arbitrary calendar time across
    * the gaps. The grid is buckets × types (tiny); the cross join is
    * intentional. */
  private def denseFill(counts: DataFrame, bucketCol: String, step: String): DataFrame = {
    val buckets = counts
      .agg(min(col(bucketCol)).as("b0"), max(col(bucketCol)).as("b1"))
      .select(explode(expr(s"sequence(b0, b1, interval $step)")).as(bucketCol))
    buckets.crossJoin(counts.select("event_type").distinct())
      .join(counts, Seq(bucketCol, "event_type"), "left")
      .na.fill(0L, Seq("n_events"))
  }

  /** The z-scoring core over a DENSE (bucket, event_type, n_events)
    * frame — shared by the batch query (daily buckets from raw
    * events), the log-backed variant below (hourly windows appended by
    * the streaming sink), and anything else that can produce counts.
    * Squares go through DECIMAL: a long n×n silently wraps past
    * ~3.04e9 events per bucket, and a double square loses integer
    * exactness past 2^26.5 — decimal keeps the window sums exact (and
    * engine-identical) at any realistic count. */
  private[graft] def anomalyScores(counts: DataFrame, bucketCol: String,
                                   zCut: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy(bucketCol).rowsBetween(-7, -1)
    val nDec = col("n_events").cast("decimal(18,0)")
    counts
      .withColumn("n_trail", count(lit(1)).over(w))
      .withColumn("sum_t", sum(col("n_events")).over(w))
      .withColumn("sumsq_t", sum(nDec * nDec).over(w))
      .withColumn("trail_mean", col("sum_t").cast("double") / col("n_trail").cast("double"))
      .withColumn("trail_var",
        (col("sumsq_t").cast("double") -
          col("sum_t").cast("double") * col("sum_t").cast("double") / col("n_trail").cast("double")) /
          (col("n_trail") - lit(1)).cast("double"))
      .withColumn("z_score",
        when(col("n_trail") >= 3 && col("trail_var") > 0,
          (col("n_events").cast("double") - col("trail_mean")) / sqrt(col("trail_var"))))
      // zero trailing variance = a perfectly stable baseline: ANY
      // deviation from it is anomalous even though z is undefined
      .withColumn("is_anomaly",
        when(col("trail_var") > 0, abs(col("z_score")) > zCut)
          .otherwise(col("n_events").cast("double") =!= col("trail_mean")))
      .filter(col("n_trail") >= 3)
      .select(bucketCol, "event_type", "n_events", "trail_mean", "z_score", "is_anomaly")
      .orderBy(bucketCol, "event_type")
  }

  /** Anomaly scores over a PERSISTED volume log (the streaming sink's
    * output — hourly windows instead of days). A window is finalized
    * exactly once per checkpoint lineage, but a restart with a LOST
    * checkpoint replays the source and re-appends the same finalized
    * windows under new batch_ids — so the per-(window, type) combiner
    * is MAX, not SUM: re-emissions carry the same count and collapse
    * idempotently, where a sum would double-count and fire false
    * spikes. The log is tiny (windows × types) regardless of the
    * event volume behind it. */
  /** Value-distribution drift over the STREAM-built bucket log (see
    * streaming.EventStream.valueBucketCounts/windowLogSink): the
    * stream appends watermark-finalized per-window (bucket, count)
    * rows; this rolls windows up to the day grain (max per window key
    * absorbs any duplicate batch replay, like the volume path) and
    * runs the SAME exact-integer L1 rescore as the batch query — the
    * continuous unit-bug detector beside volumeAnomalyFromLog's
    * traffic-spike detector. */
  def valueDriftFromLog(spark: SparkSession, logDir: String): DataFrame =
    valueDriftFromCounts(
      spark.read.parquet(logDir)
        .groupBy(col("window_start"), col("bucket"))
        .agg(max(col("n_events")).as("wc"))
        .groupBy(to_date(col("window_start")).as("event_date"), col("bucket"))
        .agg(sum(col("wc")).as("c")))

  def volumeAnomalyFromLog(spark: SparkSession, logDir: String, zCut: Double = 3.0,
                           windowLen: String = "1 hour"): DataFrame =
    anomalyScores(
      denseFill(
        spark.read.parquet(logDir)
          .groupBy(col("window_start"), col("event_type"))
          .agg(max(col("n_events")).as("n_events")),
        bucketCol = "window_start", step = windowLen),
      bucketCol = "window_start", zCut = zCut)

  val volumeAnomalySql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS event_date, event_type, COUNT(*) AS n_events
      |  FROM events WHERE ts IS NOT NULL
      |  GROUP BY CAST(ts AS DATE), event_type
      |), dense AS (
      |  SELECT d.event_date, t.event_type, COALESCE(daily.n_events, 0) AS n_events
      |  FROM (SELECT unnest(generate_series(MIN(event_date), MAX(event_date), INTERVAL 1 DAY))::DATE AS event_date FROM daily) d
      |  CROSS JOIN (SELECT DISTINCT event_type FROM daily) t
      |  LEFT JOIN daily ON d.event_date = daily.event_date AND t.event_type = daily.event_type
      |), windowed AS (
      |  SELECT event_date, event_type, n_events,
      |    COUNT(*)            OVER tw AS n_trail,
      |    SUM(n_events)       OVER tw AS sum_t,
      |    SUM(CAST(n_events AS DECIMAL(18,0)) * CAST(n_events AS DECIMAL(18,0))) OVER tw AS sumsq_t
      |  FROM dense
      |  WINDOW tw AS (PARTITION BY event_type ORDER BY event_date ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
      |), scored AS (
      |  SELECT event_date, event_type, n_events, n_trail,
      |    CAST(sum_t AS DOUBLE) / CAST(n_trail AS DOUBLE) AS trail_mean,
      |    (CAST(sumsq_t AS DOUBLE) - CAST(sum_t AS DOUBLE) * CAST(sum_t AS DOUBLE) / CAST(n_trail AS DOUBLE))
      |      / CAST(n_trail - 1 AS DOUBLE) AS trail_var
      |  FROM windowed
      |)
      |SELECT event_date, event_type, n_events, trail_mean,
      |  CASE WHEN n_trail >= 3 AND trail_var > 0
      |       THEN (CAST(n_events AS DOUBLE) - trail_mean) / SQRT(trail_var) END AS z_score,
      |  CASE WHEN trail_var > 0
      |       THEN ABS((CAST(n_events AS DOUBLE) - trail_mean) / SQRT(trail_var)) > 3.0
      |       ELSE CAST(n_events AS DOUBLE) <> trail_mean END AS is_anomaly
      |FROM scored
      |WHERE n_trail >= 3
      |ORDER BY event_date, event_type""".stripMargin

  /** Daily value-distribution histogram on dq_value_drift's FIXED
    * power-of-two buckets — the MERGEABLE percentile partial: one
    * (date, bucket, count) row set per day, and any day range's
    * percentile bounds come from summing partials (histogram merge =
    * integer addition — associative, commutative, exactly mergeable,
    * the property GK/KLL sketches buy with far more machinery). Write
    * this mart daily and `value_percentiles_merged` serves any window
    * without ever rescanning raw events. One fact-sized day×16 rollup
    * (map-side combined); same bucket function as the drift mart so
    * the two surfaces can't disagree about shape. */
  def valueHistogramDaily(spark: SparkSession, dir: String): DataFrame =
    valueHistogramDailyFrom(enriched(spark, dir))

  private[graft] def valueHistogramDailyFrom(e: DataFrame): DataFrame =
    e.filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(col("event_date"), bucketOf(col("value")).as("bucket"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("event_date", "bucket")

  val valueHistogramDailySql: String = {
    val b = sqlBucketOf("value")
    s"""SELECT CAST(ts AS DATE) AS event_date, CAST($b AS INT) AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_events
       |FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
       |GROUP BY 1, 2
       |ORDER BY event_date, bucket""".stripMargin
  }

  /** Percentile SERVING from the daily histogram partials — the
    * consumption side of `value_histogram_daily`: merge the partials
    * (a 16-row bucket sum), walk the cumulative curve, and report
    * each requested percentile's bucket with its [lo, hi) value
    * bounds and exact target rank. Deterministic INTEGER arithmetic
    * end to end (target rank = ⌈q·N⌉ via integer division; bounds
    * are exact powers of two), so unlike GK this serving path is
    * full-SQL-oracle checkable — the trade is bounded RELATIVE error
    * (a factor-2 bucket) instead of rank error. Everything after the
    * partial merge is ≤16-row algebra; the percentile probe is an
    * intended tiny non-equi join (16 × |pcts|). */
  def valuePercentilesMerged(spark: SparkSession, dir: String): DataFrame =
    valuePercentilesMergedFrom(valueHistogramDailyFrom(enriched(spark, dir)))

  private[graft] def valuePercentilesMergedFrom(hist: DataFrame,
      pcts: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = hist.sparkSession
    import spark.implicits._
    val byBucket = hist.groupBy(col("bucket")).agg(sum(col("n_events")).as("c"))
    val wc = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // n_total rides a global window over the ≤16-bucket frame — the
    // 1-row agg + crossJoin re-derived the whole histogram subtree a
    // second time.
    val wAllBuckets = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = byBucket.withColumn("cum", sum(col("c")).over(wc))
      .withColumn("n_total", sum(col("c")).over(wAllBuckets))
    val target = expr("(n_total * pct + 99) DIV 100")
    cum
      .join(broadcast(pcts.toDF("pct")), col("cum") >= target)
      .groupBy(col("pct"))
      .agg(min(col("bucket")).as("bucket"),
        min(target).as("target_rank"),
        min(col("n_total")).as("n_total"))
      .select(col("pct"), col("target_rank"), col("n_total"), col("bucket"),
        when(col("bucket") === 0, lit(0.0))
          .otherwise(pow(lit(2.0), col("bucket") - 1)).as("bound_lo"),
        when(col("bucket") === 15, lit(null).cast("double"))
          .otherwise(pow(lit(2.0), col("bucket"))).as("bound_hi"))
      .orderBy("pct")
  }

  val valuePercentilesMergedSql: String = {
    val b = sqlBucketOf("value")
    s"""WITH hist AS (
       |  SELECT CAST(ts AS DATE) AS event_date, $b AS bucket, COUNT(*) AS n_events
       |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
       |  GROUP BY 1, 2
       |), byb AS (
       |  SELECT bucket, CAST(SUM(n_events) AS BIGINT) AS c FROM hist GROUP BY bucket
       |), cum AS (
       |  SELECT bucket, CAST(SUM(c) OVER (ORDER BY bucket) AS BIGINT) AS cum FROM byb
       |), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM byb),
       |q(pct) AS (VALUES (50), (90), (99)),
       |hit AS (
       |  SELECT q.pct, (tot.n_total * q.pct + 99) // 100 AS target_rank,
       |    tot.n_total, cum.bucket
       |  FROM cum CROSS JOIN tot
       |  JOIN q ON cum.cum >= (tot.n_total * q.pct + 99) // 100
       |)
       |SELECT pct, CAST(MIN(target_rank) AS BIGINT) AS target_rank,
       |  CAST(MIN(n_total) AS BIGINT) AS n_total,
       |  CAST(MIN(bucket) AS INT) AS bucket,
       |  CASE WHEN MIN(bucket) = 0 THEN 0.0
       |       ELSE power(2, MIN(bucket) - 1) END AS bound_lo,
       |  CASE WHEN MIN(bucket) = 15 THEN NULL
       |       ELSE power(2, MIN(bucket)) END AS bound_hi
       |FROM hit GROUP BY pct ORDER BY pct""".stripMargin
  }

  /** The value-histogram pattern generalized to fulfillment latency —
    * per order MONTH, order→ship day gaps on the same fixed
    * power-of-two buckets ([[bucketOf]], bucket = index): the
    * mergeable partial that gives the SLA mart (`shipping_latency`)
    * a rescan-free any-window percentile form. Negative gaps (lines
    * "shipping" before their order — a data fault, present in the
    * random-dated testdata) are EXCLUDED here by design: they are
    * `dq_orders_reconcile` / sequence-check territory, and folding
    * them into an SLA histogram would poison the latency curve the
    * partial exists to serve. One fact join + one month×16 rollup. */
  def shippingLatencyHistogram(spark: SparkSession, dir: String): DataFrame =
    shippingLatencyHistogramFrom(graft.Tables.orders(spark, dir),
      graft.Tables.lineitem(spark, dir))

  private[graft] def shippingLatencyHistogramFrom(orders: DataFrame,
      lineitem: DataFrame): DataFrame =
    lineitem
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("gap_days", datediff(col("l_shipdate"), col("o_orderdate")))
      .filter(col("gap_days") >= 0)
      .groupBy(trunc(col("o_orderdate"), "month").as("order_month"),
        bucketOf(col("gap_days")).as("bucket"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("order_month", "bucket")

  val shippingLatencyHistogramSql: String = {
    val b = sqlBucketOf("date_diff('day', o_orderdate, l_shipdate)")
    s"""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
       |  CAST($b AS INT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_events
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE date_diff('day', o_orderdate, l_shipdate) >= 0
       |GROUP BY 1, 2
       |ORDER BY order_month, bucket""".stripMargin
  }

  /** Latency percentiles served from the monthly partials via the
    * SHARED serving core (`valuePercentilesMergedFrom` — bounds read
    * in DAYS here): "p99 order→ship latency over any month range"
    * without rescanning lineitem. */
  def shippingLatencyPercentiles(spark: SparkSession, dir: String): DataFrame =
    valuePercentilesMergedFrom(
      shippingLatencyHistogram(spark, dir))

  val shippingLatencyPercentilesSql: String = {
    val b = sqlBucketOf("date_diff('day', o_orderdate, l_shipdate)")
    s"""WITH hist AS (
       |  SELECT $b AS bucket, COUNT(*) AS n_events
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE date_diff('day', o_orderdate, l_shipdate) >= 0
       |  GROUP BY 1
       |), byb AS (
       |  SELECT bucket, CAST(SUM(n_events) AS BIGINT) AS c FROM hist GROUP BY bucket
       |), cum AS (
       |  SELECT bucket, CAST(SUM(c) OVER (ORDER BY bucket) AS BIGINT) AS cum FROM byb
       |), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM byb),
       |q(pct) AS (VALUES (50), (90), (99)),
       |hit AS (
       |  SELECT q.pct, (tot.n_total * q.pct + 99) // 100 AS target_rank,
       |    tot.n_total, cum.bucket
       |  FROM cum CROSS JOIN tot
       |  JOIN q ON cum.cum >= (tot.n_total * q.pct + 99) // 100
       |)
       |SELECT pct, CAST(MIN(target_rank) AS BIGINT) AS target_rank,
       |  CAST(MIN(n_total) AS BIGINT) AS n_total,
       |  CAST(MIN(bucket) AS INT) AS bucket,
       |  CASE WHEN MIN(bucket) = 0 THEN 0.0
       |       ELSE power(2, MIN(bucket) - 1) END AS bound_lo,
       |  CASE WHEN MIN(bucket) = 15 THEN NULL
       |       ELSE power(2, MIN(bucket)) END AS bound_hi
       |FROM hit GROUP BY pct ORDER BY pct""".stripMargin
  }

  /** Percentile serving straight from the STREAMING value-bucket log
    * (`EventStream.valueBucketCounts` + `windowLogSink`): the same
    * replay-dedup (max per (window_start, bucket) — an idempotent
    * re-emit can only repeat a window, never split it) and daily
    * rollup as `valueDriftFromLog`, feeding the shared serving core —
    * so the LIVE pipeline keeps the percentile partials current and
    * this query answers "p99 value over any window" without EVER
    * rescanning raw events, batch or stream. */
  def valuePercentilesFromLog(spark: SparkSession, logDir: String,
      pcts: Seq[Int] = Seq(50, 90, 99)): DataFrame =
    valuePercentilesMergedFrom(
      spark.read.parquet(logDir)
        .groupBy(col("window_start"), col("bucket"))
        .agg(max(col("n_events")).as("wc"))
        .groupBy(to_date(col("window_start")).as("event_date"), col("bucket"))
        .agg(sum(col("wc")).as("n_events")), pcts)

  /** Shuffle-key skew census on the fact table's dominant join/group
    * key (user_id) — the report you read BEFORE choosing a salting
    * factor or AQE skew threshold (Skew.saltedJoin's planning input):
    * the top-k heaviest keys with their share of all rows, cumulative
    * concentration, and hot-key-to-mean ratio. A bot or null-ish
    * sentinel user shows up here as a 100× ratio long before it
    * shows up as a straggler task.
    *
    * Scale shape: one key-grain count (map-side combined — the frame
    * after it is key-dimension, not fact-dimension), a TakeOrdered
    * top-k (per-partition heaps, never a full sort of the key
    * dimension), ONE-ROW broadcast totals (scalar-subquery pattern),
    * and rank/cum windows single-partition over the ≤k post-limit
    * rows BY CONSTRUCTION. Cumulative share stays an exact bigint
    * running sum until ONE final division; ratio_to_avg is the
    * product-before-division rational (the word_collocations rule).
    */
  def keySkew(spark: SparkSession, dir: String): DataFrame =
    keySkewFrom(enriched(spark, dir), topK = 20)

  def keySkewFrom(e: DataFrame, keyCol: String = "user_id", topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = e.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).as("key_value"))
      .agg(count(lit(1)).as("n_rows"))
    val totals = counts.agg(count(lit(1)).as("n_keys"), sum(col("n_rows")).as("total_rows"))
    val top = counts.orderBy(desc("n_rows"), asc("key_value")).limit(topK)
    val w = Window.orderBy(desc("n_rows"), asc("key_value"))
    top.crossJoin(broadcast(totals))
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_rows", sum(col("n_rows")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("rank"), col("key_value"), col("n_rows"),
        (col("n_rows").cast("double") / col("total_rows").cast("double") * 100)
          .as("share_pct"),
        (col("cum_rows").cast("double") / col("total_rows").cast("double") * 100)
          .as("cum_share_pct"),
        (col("n_rows").cast("double") * col("n_keys").cast("double")
          / col("total_rows").cast("double")).as("ratio_to_avg"),
        col("n_keys"), col("total_rows"))
      .orderBy("rank")
  }

  val keySkewSql: String =
    """WITH counts AS (
      |  SELECT user_id AS key_value, CAST(COUNT(*) AS BIGINT) AS n_rows
      |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
      |), totals AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
      |    CAST(SUM(n_rows) AS BIGINT) AS total_rows
      |  FROM counts
      |), top AS (
      |  SELECT key_value, n_rows FROM counts
      |  ORDER BY n_rows DESC, key_value LIMIT 20
      |), ranked AS (
      |  SELECT key_value, n_rows,
      |    CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, key_value) AS INT) AS rank,
      |    SUM(n_rows) OVER (ORDER BY n_rows DESC, key_value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rows
      |  FROM top
      |)
      |SELECT rank, key_value, n_rows,
      |  CAST(n_rows AS DOUBLE) / CAST(total_rows AS DOUBLE) * 100 AS share_pct,
      |  CAST(cum_rows AS DOUBLE) / CAST(total_rows AS DOUBLE) * 100 AS cum_share_pct,
      |  CAST(n_rows AS DOUBLE) * CAST(n_keys AS DOUBLE)
      |    / CAST(total_rows AS DOUBLE) AS ratio_to_avg,
      |  n_keys, total_rows
      |FROM ranked, totals
      |ORDER BY rank""".stripMargin

  /** Per-column profile of the events table — the Deequ-class
    * data-profiling primitive (row count, null count/share, EXACT
    * distinct count/ratio per column) that every onboarding,
    * schema-review, and constraint-suggestion flow starts from;
    * `dq_null_check` asserts the null policy, this MEASURES the
    * un-asserted columns so drift (a props column collapsing to one
    * JSON shape, user_id cardinality jumping) is visible before any
    * check exists for it.
    *
    * Scale shape: one aggregation PER COLUMN over a column-pruned
    * scan, unioned — deliberately NOT one fused multi-countDistinct
    * pass, which Catalyst plans as an Expand (row-multiplying the
    * fact table ×columns — the shape the plan lint forbids on
    * fixed-state paths); each per-column pass reads exactly one
    * parquet column and its distinct is a two-stage hash aggregate.
    * An HLL variant (approx_count_distinct per column, ONE scan, no
    * Expand) is the wide-table alternative, but not oracle-exact.
    * The per-column passes stay because they are exact AND
    * Expand-free at every width profiled here (6 events columns, 11
    * lineitem columns); a one-scan exact form has not been measured
    * against them. ts profiles at MICROSECOND grain in both engines
    * (the oracle casts TIMESTAMP_NS to TIMESTAMP, matching
    * Tables.events' nanos→micros read). */
  def columnProfile(spark: SparkSession, dir: String): DataFrame =
    columnProfileFrom(graft.Tables.events(spark, dir))

  def columnProfileFrom(e: DataFrame): DataFrame =
    profileColumns(e, EventsProfile.map(_._1).filter(e.columns.contains))
      .orderBy("column_name")

  /** The same profile over EVERY column of any frame — the
    * documents/orders surfaces and injected-frame profiling. */
  def profileAllFrom(df: DataFrame): DataFrame =
    profileColumns(df, df.columns.toSeq).orderBy("column_name")

  /** The largest categorical domain an `isin` suggestion carries; the
    * oracle mirrors read the same bound. */
  private val MaxSet = 20

  /** A profile's null_share or distinct_ratio moving by more than this
    * is drift, in [[profileDrift]] and [[profileDriftFromLog]] alike. */
  private val MaxShareDelta = 0.05

  /** The events table's rule lists: the profiled columns, each with
    * its oracle SQL expression, the `isin` column and the `range`
    * column. The other tables derive theirs from the schema. */
  private val EventsProfile = Seq("event_id" -> "event_id",
    "ts" -> "CAST(ts AS TIMESTAMP)", "user_id" -> "user_id",
    "event_type" -> "event_type", "value" -> "value", "props" -> "props")
  private val EventsIsin = Seq("event_type")
  private val EventsRange = Seq("value")

  /** The oracle's column lists for the per-table profiles and
    * suggestions (each column profiles as itself). */
  private val DocumentsProfile =
    Seq("doc_id", "text", "lang", "source", "n_chars").map(c => c -> c)
  private val OrdersProfile = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority").map(c => c -> c)
  private val LineitemProfile = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate").map(c => c -> c)

  /** One profile row per column, unordered. */
  private def profileColumns(e: DataFrame, cols: Seq[String]): DataFrame =
    cols.map { c =>
      e.select(col(c))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
          countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_null"),
          col("n_distinct"),
          (col("n_null").cast("double") / col("n_rows").cast("double"))
            .as("null_share"),
          (col("n_distinct").cast("double") / col("n_rows").cast("double"))
            .as("distinct_ratio"))
    }.reduce(_ unionByName _)

  /** Documents-table profile (every column) — the corpus-side
    * onboarding census beside `dq_corpus_coverage`'s cross-table
    * reconcile; a text column's distinct_ratio IS the exact-dup rate
    * read from the other end. */
  def columnProfileDocuments(spark: SparkSession, dir: String): DataFrame =
    profileAllFrom(graft.Tables.documents(spark, dir))

  /** Orders-table profile (every column) — the relational-side
    * sibling; o_custkey's distinct_ratio is orders-per-customer
    * inverted, o_orderstatus cardinality is the domain check's
    * premise. */
  def columnProfileOrders(spark: SparkSession, dir: String): DataFrame =
    profileAllFrom(graft.Tables.orders(spark, dir))

  /** Lineitem-table profile (every column) — the fact-side sibling
    * completing the per-table family: l_linenumber's tiny domain and
    * the [0,1] bounded discount/tax columns make this the table where
    * range and cardinality premises live. */
  def columnProfileLineitem(spark: SparkSession, dir: String): DataFrame =
    profileAllFrom(graft.Tables.lineitem(spark, dir))

  /** Profile drift between two profile frames (yesterday vs today,
    * or table vs table after a migration) — `dq_schema_drift`'s
    * sibling at the STATISTICS grain: the schema can be identical
    * while null_share jumps or a categorical domain collapses. Full
    * outer join on column_name so added/removed columns surface as
    * drift rows too; deltas are plain double subtractions of the
    * profiles' own ratios. */
  def profileDrift(before: DataFrame, after: DataFrame): DataFrame = {
    val b = before.select(col("column_name"), col("n_rows").as("rows_before"),
      col("null_share").as("null_before"), col("distinct_ratio").as("dr_before"))
    val a = after.select(col("column_name"), col("n_rows").as("rows_after"),
      col("null_share").as("null_after"), col("distinct_ratio").as("dr_after"))
    b.join(a, Seq("column_name"), "full_outer")
      .select(col("column_name"), col("rows_before"), col("rows_after"),
        col("null_before"), col("null_after"),
        (col("null_after") - col("null_before")).as("null_share_delta"),
        col("dr_before"), col("dr_after"),
        (col("dr_after") - col("dr_before")).as("distinct_ratio_delta"),
        (col("rows_before").isNull || col("rows_after").isNull ||
          abs(col("null_after") - col("null_before")) > MaxShareDelta ||
          abs(col("dr_after") - col("dr_before")) > MaxShareDelta)
          .as("drift_flag"))
      .orderBy("column_name")
  }

  /** Batch rescore of the streaming profile log
    * (`EventStream.profileLogSink`): each batch's profile diffed
    * against the PREVIOUS batch's via a lag window per column — the
    * live "which arriving batch moved the stats" readout, same delta
    * columns and flag rule as the two-frame [[profileDrift]]. The
    * first batch has no predecessor and never flags. The window
    * partitions on column_name over the dimension-sized log
    * (|columns| × |batches| rows) — nothing fact-sized. */
  def profileDriftFromLog(spark: SparkSession, logDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("column_name")).orderBy(col("batch_id"))
    spark.read.parquet(logDir)
      // the batch_id partition value reads back type-inferred (int) —
      // pin it to long for a stable consumer schema
      .select(col("batch_id").cast("long").as("batch_id"),
        col("column_name"), col("n_rows"),
        col("null_share"), col("distinct_ratio"))
      .withColumn("prev_null", lag(col("null_share"), 1).over(w))
      .withColumn("prev_dr", lag(col("distinct_ratio"), 1).over(w))
      .select(col("batch_id"), col("column_name"), col("n_rows"),
        col("null_share"), col("distinct_ratio"),
        (col("null_share") - col("prev_null")).as("null_share_delta"),
        (col("distinct_ratio") - col("prev_dr")).as("distinct_ratio_delta"),
        coalesce(
          abs(col("null_share") - col("prev_null")) > MaxShareDelta ||
            abs(col("distinct_ratio") - col("prev_dr")) > MaxShareDelta,
          lit(false)).as("drift_flag"))
      .orderBy("batch_id", "column_name")
  }

  private def profileColumnSql(table: String, name: String, ex: String) =
    s"""SELECT '$name' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(CASE WHEN $ex IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       |  CAST(COUNT(DISTINCT $ex) AS BIGINT) AS n_distinct,
       |  CAST(SUM(CASE WHEN $ex IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS null_share,
       |  CAST(COUNT(DISTINCT $ex) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS distinct_ratio
       |FROM $table""".stripMargin

  private def profileTableSql(table: String, cols: Seq[(String, String)]): String =
    cols.map { case (n, ex) => profileColumnSql(table, n, ex) }
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY column_name")

  val columnProfileSql: String = profileTableSql("events", EventsProfile)

  val columnProfileDocumentsSql: String = profileTableSql("documents", DocumentsProfile)

  val columnProfileOrdersSql: String = profileTableSql("orders", OrdersProfile)

  val columnProfileLineitemSql: String = profileTableSql("lineitem", LineitemProfile)

  /** Constraint suggestion over the column profile — the Deequ
    * suggestion loop, and the repo's tuning-closure pattern once more
    * (gap histogram → GapSeconds, recall curve → nProbe, skew census
    * → salt factor; here: measured statistics → the check configs a
    * team SHOULD be running). Rules, each full-SQL-mirrored:
    * zero observed nulls → `not_null`; zero nulls AND distinct ==
    * rows → `unique`; a categorical (event_type) whose domain fits
    * `MaxSet` → `isin` with the observed sorted value set; the
    * numeric value column → `range` with observed [min, max], and no
    * range at all while every value is null (a [null, null] bound
    * checks nothing, and would hide the arrival of values from
    * [[contractDrift]]). `value_set` is comma-joined, so a domain
    * containing the `,` delimiter is UNSUGGESTABLE under this
    * encoding and the isin suggestion is dropped for that column
    * (like an exploded domain) — never emitted with a corrupted
    * allowed-set that would false-fail rows of the very table it was
    * built from.
    *
    * Scale shape: one profile pass per column plus the isin and
    * range aggregates; the isin value set collects over a DISTINCT
    * frame capped at MaxSet+1 rows BY CONSTRUCTION (the limit runs
    * before the collect, so a category column that exploded can
    * never materialize more than MaxSet+1 values — and the ≤MaxSet
    * filter then drops the suggestion entirely, which is the right
    * answer for an exploded domain). Suggestions are data-derived
    * floors, not proofs — the check runner enforcing them is what
    * turns observation into contract. */
  def suggestedChecks(spark: SparkSession, dir: String): DataFrame =
    suggestedChecksFrom(graft.Tables.events(spark, dir))

  def suggestedChecksFrom(e: DataFrame): DataFrame = {
    def present(cols: Seq[String]) = cols.filter(e.columns.contains)
    suggestFrom(e, present(EventsProfile.map(_._1)), present(EventsIsin),
      present(EventsRange))
  }

  /** The suggestion loop GENERALIZED to any frame — the relational/
    * corpus-side Deequ loop (`profileAllFrom` already profiles
    * documents/orders/lineitem; this turns those profiles into
    * runnable check configs for `runChecks`). Rules are type-driven:
    * every column is profiled for `not_null`/`unique`; any STRING
    * column whose domain fits `MaxSet` → `isin` (a text column's
    * exploded domain is dropped by the post-limit filter — the right
    * answer, and the absence of `unique` on it is itself the
    * duplicate-rate signal); any NUMERIC column → `range`. The events
    * table passes fixed lists to the same builder instead. */
  def suggestedChecksAllFrom(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{NumericType, StringType}
    val fields = df.schema.fields.toSeq
    suggestFrom(df, df.columns.toSeq,
      fields.filter(_.dataType == StringType).map(_.name),
      fields.filter(_.dataType.isInstanceOf[NumericType]).map(_.name))
  }

  /** The one suggestion builder: `not_null`/`unique` for the `profiled`
    * columns, `isin` for the `isinCols`, `range` for the `rangeCols`. */
  private def suggestFrom(df: DataFrame, profiled: Seq[String],
      isinCols: Seq[String], rangeCols: Seq[String]): DataFrame = {
    val noBounds = Seq(
      lit(null).cast("double").as("lo"), lit(null).cast("double").as("hi"))
    val noSet = lit(null).cast("string").as("value_set")
    // both checks read ONE profile frame, so each column is profiled
    // once: the projection emits a row per check that holds
    val complete = col("n_null") === 0
    val profiledChecks = profileColumns(df, profiled)
      .select(col("column_name"), explode(array_compact(array(
        when(complete, lit("not_null")),
        when(complete && col("n_distinct") === col("n_rows"), lit("unique")))))
        .as("check_type"))
      .select(Seq(col("column_name"), col("check_type")) ++ noBounds :+ noSet: _*)
    val isin = isinCols.map { c =>
      df.filter(col(c).isNotNull).select(col(c)).distinct().limit(MaxSet + 1)
        .agg(count(lit(1)).as("n"),
          max(when(col(c).contains(","), 1).otherwise(0)).as("has_delim"),
          concat_ws(",", sort_array(collect_list(col(c)))).as("vs"))
        .filter(col("n") > 0 && col("n") <= MaxSet && col("has_delim") === 0)
        .select(Seq(lit(c).as("column_name"), lit("isin").as("check_type")) ++
          noBounds :+ col("vs").as("value_set"): _*)
    }
    // every range column's [min, max] comes from ONE fused aggregate
    // (min/max fuse with no Expand, unlike countDistinct), unpivoted
    // via stack; an all-null column's NULL lo drops its row
    val range = if (rangeCols.isEmpty) Nil else {
      val aggs = rangeCols.flatMap(c => Seq(
        min(col(c)).cast("double").as(s"lo_$c"),
        max(col(c)).cast("double").as(s"hi_$c")))
      val stacked = rangeCols.map(c => s"'$c', `lo_$c`, `hi_$c`").mkString(", ")
      Seq(df.agg(aggs.head, aggs.tail: _*)
        .selectExpr(s"stack(${rangeCols.size}, $stacked) AS (column_name, lo, hi)")
        .filter(col("lo").isNotNull)
        .select(Seq(col("column_name"), lit("range").as("check_type"),
          col("lo"), col("hi")) :+ noSet: _*))
    }
    (profiledChecks +: (isin ++ range)).reduce(_ unionByName _)
      .orderBy("column_name", "check_type")
  }

  def suggestedChecksDocuments(spark: SparkSession, dir: String): DataFrame =
    suggestedChecksAllFrom(graft.Tables.documents(spark, dir))

  def suggestedChecksOrders(spark: SparkSession, dir: String): DataFrame =
    suggestedChecksAllFrom(graft.Tables.orders(spark, dir))

  def suggestedChecksLineitem(spark: SparkSession, dir: String): DataFrame =
    suggestedChecksAllFrom(graft.Tables.lineitem(spark, dir))

  /** Oracle mirror of the suggestion builder over one relation (a
    * table, or the date-filtered subquery of the contract-drift pinned
    * side); `profiled` pairs each column with its SQL expression. */
  private def suggestedSql(rel: String, profiled: Seq[(String, String)],
      isinCols: Seq[String], rangeCols: Seq[String]): String = {
    val prof = profiled.map { case (n, ex) => profileColumnSql(rel, n, ex) }
      .mkString("\nUNION ALL\n")
    val isin = isinCols.map(c =>
      s"""  SELECT '$c' AS column_name, 'isin' AS check_type,
         |    CAST(NULL AS DOUBLE) AS lo, CAST(NULL AS DOUBLE) AS hi,
         |    array_to_string(array_agg(x ORDER BY x), ',') AS value_set
         |  FROM (SELECT DISTINCT $c AS x FROM $rel WHERE $c IS NOT NULL)
         |  HAVING COUNT(*) BETWEEN 1 AND $MaxSet
         |     AND COUNT(*) FILTER (WHERE contains(x, ',')) = 0""".stripMargin)
    val range = rangeCols.map(c =>
      s"""  SELECT '$c' AS column_name, 'range' AS check_type,
         |    CAST(MIN($c) AS DOUBLE) AS lo, CAST(MAX($c) AS DOUBLE) AS hi,
         |    CAST(NULL AS VARCHAR) AS value_set
         |  FROM $rel HAVING MIN($c) IS NOT NULL""".stripMargin)
    val heads = Seq(
      s"""  SELECT column_name, 'not_null' AS check_type,
         |    CAST(NULL AS DOUBLE) AS lo, CAST(NULL AS DOUBLE) AS hi,
         |    CAST(NULL AS VARCHAR) AS value_set
         |  FROM prof WHERE n_null = 0""".stripMargin,
      s"""  SELECT column_name, 'unique' AS check_type,
         |    CAST(NULL AS DOUBLE) AS lo, CAST(NULL AS DOUBLE) AS hi,
         |    CAST(NULL AS VARCHAR) AS value_set
         |  FROM prof WHERE n_null = 0 AND n_distinct = n_rows""".stripMargin)
    s"""WITH prof AS (
       |$prof
       |)
       |SELECT * FROM (
       |${(heads ++ isin ++ range).mkString("\n  UNION ALL\n")}
       |) ORDER BY column_name, check_type""".stripMargin
  }

  val suggestedChecksSql: String =
    suggestedSql("events", EventsProfile, EventsIsin, EventsRange)

  val suggestedChecksDocumentsSql: String = suggestedSql("documents",
    DocumentsProfile, isinCols = Seq("text", "lang", "source"),
    rangeCols = Seq("doc_id", "n_chars"))

  val suggestedChecksOrdersSql: String = suggestedSql("orders", OrdersProfile,
    isinCols = Seq("o_orderstatus", "o_orderpriority"),
    rangeCols = Seq("o_orderkey", "o_custkey", "o_totalprice"))

  val suggestedChecksLineitemSql: String = suggestedSql("lineitem",
    LineitemProfile, isinCols = Seq("l_returnflag", "l_linestatus"),
    rangeCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  /** A row's violation of one not_null / range / isin suggestion on
    * column `c` — the one rule [[runChecks]] counts and
    * [[contractFlags]] flags. */
  private def violation(c: Column, check: org.apache.spark.sql.Row): Column =
    check.getAs[String]("check_type") match {
      case "not_null" => c.isNull
      case "range" =>
        c < lit(check.getAs[Double]("lo")) || c > lit(check.getAs[Double]("hi"))
      case "isin" =>
        c.isNotNull && !c.isin(check.getAs[String]("value_set").split(",").toSeq: _*)
      case other =>
        throw new IllegalArgumentException(s"unknown check_type: $other")
    }

  /** Execute a suggestion frame's constraints against any target
    * frame — the EXECUTION closure of `dq_suggested_checks` (suggest
    * on yesterday's healthy table, RUN on today's arrival: a
    * suggestion is only useful once something enforces it; running
    * suggestions against their own source table is all-pass by
    * construction, so the value is cross-date/cross-table).
    *
    * Shape: the suggestion frame is ≤ 4·|columns| rows BY
    * CONSTRUCTION (at most not_null, unique, isin and range per
    * column), so collecting it is dimension-sized; per COLUMN the
    * executor runs one column-pruned aggregation computing every
    * violation count for that column's checks in a single pass (one countDistinct per pass at most —
    * never the fused multi-distinct Expand the profile lint forbids),
    * then stacks the ≤4 counts to check rows. A column the target
    * frame lacks fails structurally (NULL violations, pass = false) —
    * schema drift is a violation, not a skip. */
  def runChecks(target: DataFrame, suggestions: DataFrame): DataFrame = {
    val spark = target.sparkSession
    import scala.jdk.CollectionConverters._
    val sugg = suggestions
      .select(col("column_name"), col("check_type"), col("lo"), col("hi"),
        col("value_set"))
      .collect()
    requireBoundedRanges(sugg.toSeq, "(suggestion frame)")
    val byCol = sugg.groupBy(_.getAs[String]("column_name")).toSeq.sortBy(_._1)
    val resultSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("column_name",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("check_type",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("n_violations",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("pass",
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    val frames = byCol.map { case (c, checks) =>
      if (!target.columns.contains(c))
        // structural failure: the suggested column vanished
        spark.createDataFrame(
          checks.toSeq.map(r => org.apache.spark.sql.Row(
            c, r.getAs[String]("check_type"), null, null, false)).asJava,
          resultSchema)
      else {
        val aggs = checks.toSeq.map { r =>
          val kind = r.getAs[String]("check_type")
          (if (kind == "unique")
            count(when(col(c).isNotNull, 1)) - countDistinct(col(c))
          else count(when(violation(col(c), r), 1))).as(s"v_$kind")
        }
        val stack = checks.toSeq.map(r =>
          s"'${r.getAs[String]("check_type")}', v_${r.getAs[String]("check_type")}")
          .mkString(", ")
        target.select(col(c))
          .agg(count(lit(1)).as("n_rows"), aggs: _*)
          .select(col("n_rows"), expr(
            s"stack(${checks.length}, $stack) as (check_type, n_violations)"))
          .select(lit(c).as("column_name"), col("check_type"), col("n_rows"),
            col("n_violations"), (col("n_violations") === 0).as("pass"))
      }
    }
    frames.reduce(_ unionByName _).orderBy("column_name", "check_type")
  }

  /** [[runChecks]] results in the check-suite SUMMARY row shape
    * (check_name, check_type, total_records, failed_records,
    * pass_rate, status) — so suggested-check runs flow into the
    * EXISTING persistence/reporting machinery unchanged:
    * `writeCheckLog`/`writeCheckLogJdbc` persist them,
    * `trendFromLog` trends them, and the dashboards/alert payloads
    * render them beside the seven hand-written checks. The loop is
    * closed end-to-end: profile → suggest → execute → log → trend.
    * A structural failure (suggested column missing) renders as
    * total 0 / failed 1 → 0% pass / FAIL, which no violation-free
    * run can produce. */
  def runChecksSummary(target: DataFrame, suggestions: DataFrame): DataFrame = {
    val total = coalesce(col("n_rows"), lit(0L))
    val failed = coalesce(col("n_violations"), lit(1L))
    val rate = passRate(total, failed)
    runChecks(target, suggestions).select(
      concat(lit("suggested_"), col("column_name"), lit("_"),
        col("check_type")).as("check_name"),
      lit("suggested").as("check_type"),
      total.as("total_records"),
      failed.as("failed_records"),
      rate.as("pass_rate"),
      passStatus(rate).as("status"))
  }

  /** Persist a suggestion frame as the CHECK-CONTRACT artifact — the
    * missing half of "suggest on yesterday's healthy table, run on
    * today's arrival": the suggestions have to OUTLIVE the run that
    * derived them to gate anything. Dimension-sized (≤ a few rows per
    * column), written as one parquet file and stamped with the
    * manifest pattern every other shipped artifact uses (BPE vocab,
    * IVF index, DSIR model) — a half-replaced or hand-edited contract
    * refuses to load instead of silently gating with someone else's
    * bounds. `builtFrom` records the source table/run for the audit
    * trail. */
  def writeSuggestions(suggestions: DataFrame, path: String,
                       builtFrom: String = ""): Unit = {
    val frame = suggestions
      .select(col("column_name"), col("check_type"), col("lo"), col("hi"),
        col("value_set"))
    val fp = suggestionsFp(frame.collect())
    frame.coalesce(1).write.mode("overwrite").parquet(path)
    graft.sources.ArtifactManifest.write(path,
      graft.sources.ArtifactManifest.Stamp("dq_suggestions", fp, builtFrom))
  }

  /** Load + verify a persisted suggestion contract (strict on a
    * present manifest, like every loader in the artifact family). A
    * `range` row with a null bound does not enforce that side (a
    * comparison with NULL never flags a row), so such a contract
    * refuses to load. */
  def loadSuggestions(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
      .select(col("column_name"), col("check_type"), col("lo"), col("hi"),
        col("value_set"))
    val rows = df.collect()
    graft.sources.ArtifactManifest.verifyContent(path, "dq_suggestions",
      suggestionsFp(rows))
    requireBoundedRanges(rows.toSeq, path)
    df
  }

  /** Refuse a contract with a `range` row whose bound is null: a
    * comparison with NULL never flags a row, so that side (or both)
    * enforces nothing. [[loadSuggestions]], [[runChecks]] and
    * [[contractFlags]] all check through here; `source` names the
    * contract (its path, or a hand-built frame). */
  private def requireBoundedRanges(suggestions: Seq[org.apache.spark.sql.Row],
                                   source: String): Unit =
    suggestions.find(r => r.getAs[String]("check_type") == "range" &&
        (r.isNullAt(r.fieldIndex("lo")) || r.isNullAt(r.fieldIndex("hi"))))
      .foreach { r =>
        throw new IllegalStateException(
          s"suggestion contract $source: the range check on ${r.getAs[String]("column_name")} " +
            "has a null bound and cannot enforce anything — re-pin the contract from a " +
            "healthy run (writeSuggestions)")
      }

  private def suggestionsFp(suggestions: Array[org.apache.spark.sql.Row]): String = {
    val canonical = suggestions
      .map { r =>
        def d(i: Int) = if (r.isNullAt(i)) "null" else r.getDouble(i).toString
        Seq(r.getString(0), r.getString(1), d(2), d(3),
          if (r.isNullAt(4)) "null" else r.getString(4)).mkString("|")
      }
      .sorted.mkString("\n")
    graft.sources.ArtifactManifest.fp(canonical)
  }

  /** The gate itself: run a PERSISTED suggestion contract against an
    * arriving frame, in the check-suite summary shape — one call from
    * artifact to PASS/FAIL rows that flow into the existing check-log
    * / trend / alert machinery. */
  def suggestionGate(target: DataFrame, suggestionsPath: String): DataFrame =
    runChecksSummary(target, loadSuggestions(target.sparkSession, suggestionsPath))

  /** The contract as ROW-LOCAL flag expressions — the streaming
    * mirror of [[suggestionGate]]: not_null / range / isin verdicts
    * are pure per-row predicates, so the SAME persisted artifact that
    * fails the nightly gate can flag a live stream with zero state
    * (the armCol discipline: one definition, two surfaces). `unique`
    * is deliberately NOT evaluated here — uniqueness is a cross-row
    * property needing keyed state or the batch pass; it stays the
    * nightly gate's job, and this returns the list of checks it
    * SKIPPED so callers can't mistake partial coverage for full.
    *
    * Returns (frame + `contract_violations` array<string> +
    * `contract_ok` boolean, skipped check names). A suggested column
    * the frame lacks fails every row structurally (schema drift is a
    * violation, not a skip — matching `runChecks`). */
  def contractFlags(frame: DataFrame, suggestions: DataFrame)
      : (DataFrame, Seq[String]) = {
    val sugg = suggestions
      .select(col("column_name"), col("check_type"), col("lo"), col("hi"),
        col("value_set")).collect().toSeq
    requireBoundedRanges(sugg, "(suggestion frame)")
    val (rowLocal, skipped) = sugg.partition(
      _.getAs[String]("check_type") != "unique")
    val flags: Seq[org.apache.spark.sql.Column] = rowLocal.map { r =>
      val c = r.getAs[String]("column_name")
      val kind = r.getAs[String]("check_type")
      val name = lit(s"${c}_$kind")
      if (!frame.columns.contains(c)) name // structural: every row fails
      else when(violation(col(c), r), name)
    }
    val out = frame
      .withColumn("contract_violations",
        if (flags.isEmpty) array().cast("array<string>")
        else array_compact(array(flags: _*)))
      .withColumn("contract_ok", size(col("contract_violations")) === 0)
    (out, skipped.map(r => s"${r.getAs[String]("column_name")}_unique"))
  }

  /** [[contractFlags]] from the persisted artifact (verified load). */
  def contractFlagsFrom(frame: DataFrame, suggestionsPath: String)
      : (DataFrame, Seq[String]) =
    contractFlags(frame, loadSuggestions(frame.sparkSession, suggestionsPath))

  /** Contract drift — [[profileDrift]]'s sibling at the CONTRACT
    * grain: diff a PINNED suggestion contract against a freshly
    * re-suggested one from a later healthy run. A bound that keeps
    * widening run over run is a data-quality trend nobody sees from
    * the gate alone (the gate only fires once the pinned bound
    * BREAKS); this surfaces the approach BEFORE any check fails.
    * The gate keeps enforcing the pinned contract — drift is a
    * report, promotion ([[promoteSuggestions]]) is the explicit act.
    *
    * Per (column_name, check_type): `added`/`removed` for suggestions
    * that appear/vanish (nulls arrived → not_null gone; domain
    * exploded → isin gone; a dup landed → unique gone); range rows
    * classify `widened` (any bound moved outward) / `narrowed` /
    * `shifted` (both); isin rows `domain_grew` / `domain_shrank` /
    * `domain_changed` with the exact value diffs (sorted,
    * comma-joined — sound because the suggesters drop comma-bearing
    * domains). Dimension-sized on both sides; one full-outer join. */
  def contractDrift(pinned: DataFrame, refreshed: DataFrame): DataFrame = {
    val p = pinned.select(col("column_name"), col("check_type"),
      col("lo").as("lo_pinned"), col("hi").as("hi_pinned"),
      col("value_set").as("set_pinned"), lit(true).as("in_pinned"))
    val f = refreshed.select(col("column_name"), col("check_type"),
      col("lo").as("lo_fresh"), col("hi").as("hi_fresh"),
      col("value_set").as("set_fresh"), lit(true).as("in_fresh"))
    val setAdded = nullif(array_join(array_except(
      split(col("set_fresh"), ","), split(col("set_pinned"), ",")), ","), lit(""))
    val setRemoved = nullif(array_join(array_except(
      split(col("set_pinned"), ","), split(col("set_fresh"), ",")), ","), lit(""))
    val out = col("lo_fresh") < col("lo_pinned") || col("hi_fresh") > col("hi_pinned")
    val in_ = col("lo_fresh") > col("lo_pinned") || col("hi_fresh") < col("hi_pinned")
    p.join(f, Seq("column_name", "check_type"), "full_outer")
      .withColumn("set_added", setAdded)
      .withColumn("set_removed", setRemoved)
      .select(col("column_name"), col("check_type"),
        when(coalesce(col("in_pinned"), lit(false)) === false, "added")
          .when(coalesce(col("in_fresh"), lit(false)) === false, "removed")
          .when(col("check_type") === "range",
            when(out && in_, "shifted").when(out, "widened")
              .when(in_, "narrowed").otherwise("unchanged"))
          .when(col("check_type") === "isin",
            when(col("set_added").isNotNull && col("set_removed").isNotNull,
              "domain_changed")
              .when(col("set_added").isNotNull, "domain_grew")
              .when(col("set_removed").isNotNull, "domain_shrank")
              .otherwise("unchanged"))
          .otherwise("unchanged").as("change"),
        col("lo_pinned"), col("hi_pinned"), col("lo_fresh"), col("hi_fresh"),
        col("set_added"), col("set_removed"))
      .withColumn("drift", col("change") =!= "unchanged")
      .orderBy("column_name", "check_type")
  }

  /** The registry form: pinned = suggestions on events STRICTLY BEFORE
    * the corpus max date, fresh = on the full frame — "what did the
    * last day's arrival change about the data-derived contract".
    * The max date rides a one-row broadcast (the scalar-subquery
    * pattern). Full SQL: min/max/count/distinct rules + integer CASE
    * classification, engine-identical. */
  def contractDriftEvents(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.events(spark, dir)
    val maxDay = e.agg(max(col("ts").cast("date")).as("maxd"))
    val pinnedEvents = e.crossJoin(broadcast(maxDay))
      .filter(col("ts").cast("date") < col("maxd")).drop("maxd")
    contractDrift(suggestedChecksFrom(pinnedEvents), suggestedChecksFrom(e))
  }

  val contractDriftSql: String = {
    val pinnedRel = "(SELECT * FROM events WHERE CAST(ts AS DATE) < " +
      "(SELECT MAX(CAST(ts AS DATE)) FROM events))"
    s"""WITH pinned AS (
       |${suggestedSql(pinnedRel, EventsProfile, EventsIsin, EventsRange)}
       |), fresh AS (
       |$suggestedChecksSql
       |), p AS (
       |  SELECT column_name, check_type, lo AS lo_pinned, hi AS hi_pinned,
       |    value_set AS set_pinned, TRUE AS in_pinned FROM pinned
       |), f AS (
       |  SELECT column_name, check_type, lo AS lo_fresh, hi AS hi_fresh,
       |    value_set AS set_fresh, TRUE AS in_fresh FROM fresh
       |), j AS (
       |  SELECT COALESCE(p.column_name, f.column_name) AS column_name,
       |    COALESCE(p.check_type, f.check_type) AS check_type,
       |    lo_pinned, hi_pinned, set_pinned, lo_fresh, hi_fresh, set_fresh,
       |    COALESCE(in_pinned, FALSE) AS in_pinned,
       |    COALESCE(in_fresh, FALSE) AS in_fresh
       |  FROM p FULL OUTER JOIN f
       |    ON p.column_name = f.column_name AND p.check_type = f.check_type
       |), d AS (
       |  SELECT *,
       |    NULLIF(array_to_string(list_filter(string_split(set_fresh, ','),
       |      x -> NOT list_contains(string_split(set_pinned, ','), x)), ','), '')
       |      AS set_added,
       |    NULLIF(array_to_string(list_filter(string_split(set_pinned, ','),
       |      x -> NOT list_contains(string_split(set_fresh, ','), x)), ','), '')
       |      AS set_removed
       |  FROM j
       |)
       |SELECT column_name, check_type, change,
       |  lo_pinned, hi_pinned, lo_fresh, hi_fresh, set_added, set_removed,
       |  change <> 'unchanged' AS drift
       |FROM (
       |  SELECT *,
       |    CASE
       |      WHEN NOT in_pinned THEN 'added'
       |      WHEN NOT in_fresh THEN 'removed'
       |      WHEN check_type = 'range' THEN
       |        CASE
       |          WHEN (lo_fresh < lo_pinned OR hi_fresh > hi_pinned)
       |           AND (lo_fresh > lo_pinned OR hi_fresh < hi_pinned) THEN 'shifted'
       |          WHEN lo_fresh < lo_pinned OR hi_fresh > hi_pinned THEN 'widened'
       |          WHEN lo_fresh > lo_pinned OR hi_fresh < hi_pinned THEN 'narrowed'
       |          ELSE 'unchanged' END
       |      WHEN check_type = 'isin' THEN
       |        CASE
       |          WHEN set_added IS NOT NULL AND set_removed IS NOT NULL
       |            THEN 'domain_changed'
       |          WHEN set_added IS NOT NULL THEN 'domain_grew'
       |          WHEN set_removed IS NOT NULL THEN 'domain_shrank'
       |          ELSE 'unchanged' END
       |      ELSE 'unchanged' END AS change
       |  FROM d
       |)
       |ORDER BY column_name, check_type""".stripMargin
  }

  /** Promote a refreshed contract to the pinned artifact — the
    * EXPLICIT act that moves the gate to new bounds (drift alone
    * never does). The new stamp's builtFrom records the lineage:
    * the prior contract's fingerprint plus the caller's source tag,
    * so a promoted contract answers "refreshed from what, built on
    * what" without a side channel. */
  def promoteSuggestions(fresh: DataFrame, path: String,
                         builtFrom: String = ""): Unit = {
    val prior = graft.sources.ArtifactManifest.read(path)
      .map(s => s"refreshed-from:${s.contentFp}").getOrElse("initial")
    writeSuggestions(fresh, path,
      builtFrom = if (builtFrom.isEmpty) prior else s"$prior;$builtFrom")
  }

  /** Persist one contract-drift diff (the FULL [[contractDrift]]
    * frame, unchanged rows included — velocity needs each run's
    * bounds, not just the runs that moved) to its run log —
    * `Dedup.calibrationLogAppend`'s twin on the §2B side: per-run
    * rows land under a `run_id` partition via the dynamic-overwrite
    * mart writer, so a rerun of the same run_id replaces its own
    * partition idempotently. (column, check) grain: the log grows
    * with runs × contract dimension, never data size. Same run_id
    * contract as the calibration log: ids must sort lexicographically
    * in chronological order (ISO dates, zero-padded counters). */
  def driftLogAppend(drift: DataFrame, logDir: String, runId: String): Unit =
    graft.sources.MartSink.writePartitioned(
      drift.withColumn("run_id", lit(runId)), logDir, Seq("run_id"))

  /** Drift VELOCITY over the run log — what neither a one-off
    * `dq_contract_drift` nor the promotion streak can see: per
    * (column, check, run), the change label, the fresh bounds, their
    * deltas vs the SAME check's previous run (null on the first run,
    * never 0 — a real 0 means "measured, unchanged"), and
    * `widen_streak` — how many CONSECUTIVE runs ending at this one
    * re-widened the bound (or re-grew the domain). A bound that
    * widens a little every run for a month reads `widen_streak = 30`
    * here while each daily drift report only ever said "widened";
    * that approach-trend is the §2B gap this log closes. Tiny frame:
    * |runs| × contract dimension. "Previous" = the lexicographically
    * preceding run_id — see the contract on [[driftLogAppend]]. */
  def driftTrendFromLog(spark: SparkSession, logDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("column_name", "check_type").orderBy("run_id")
    val widening = col("change")
      .isin("widened", "shifted", "domain_grew", "domain_changed")
    val log = spark.read.parquet(logDir)
    RunLog.requireChronological(log)
    log
      .select(col("run_id").cast("string").as("run_id"),
        col("column_name"), col("check_type"), col("change"),
        col("lo_fresh"), col("hi_fresh"))
      .withColumn("d_lo", col("lo_fresh") - lag(col("lo_fresh"), 1).over(w))
      .withColumn("d_hi", col("hi_fresh") - lag(col("hi_fresh"), 1).over(w))
      // gaps-and-islands: every non-widening run opens a new group, so
      // widening runs count their distance from the last reset
      .withColumn("grp",
        sum(when(widening, 0).otherwise(1)).over(w))
      .withColumn("widen_streak",
        sum(when(widening, 1L).otherwise(0L)).over(
          Window.partitionBy(col("column_name"), col("check_type"), col("grp"))
            .orderBy("run_id")))
      .drop("grp")
      .orderBy("run_id", "column_name", "check_type")
  }

  /** The daily report's velocity extract: (column, check, latest
    * change label, streak) for the LATEST run in the log, keeping
    * only streaks ≥ `minStreak` — one line per check that has now
    * drifted several healthy runs in a row. The change label is the
    * latest run's (a streak may mix widened/shifted/domain_grew
    * runs; the label says what happened TODAY, the streak says for
    * how long). Missing, empty, or schema-less log → Nil (the report
    * omits the section) — an ops-precreated empty directory must not
    * crash the daily report, and a non-local log URI that
    * `java.io.File` can't see must still be readable, so the guard
    * is the parquet read itself, not a filesystem stat. */
  def widenStreaksLatest(spark: SparkSession, logDir: String,
      minStreak: Long = 2L): Seq[(String, String, String, Long)] = {
    val trend =
      try driftTrendFromLog(spark, logDir)
      catch {
        // missing path or unreadable/empty dir (no parquet footers to
        // infer a schema from); a run_id contract violation is a real
        // error and propagates
        case _: org.apache.spark.sql.AnalysisException => return Nil
      }
    val latest = trend.agg(max(col("run_id"))).collect().head
    if (latest.isNullAt(0)) Nil
    else trend
      .filter(col("run_id") === latest.getString(0) &&
        col("widen_streak") >= minStreak)
      .select(col("column_name"), col("check_type"), col("change"),
        col("widen_streak"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
  }

  /** Persisted healthy-drift streak for Pipeline's OPT-IN
    * auto-promotion policy: how many CONSECUTIVE healthy runs have
    * observed contract drift against the currently pinned artifact.
    * Stored as an underscore-prefixed sidecar inside the contract dir
    * (invisible to the parquet reader, the `_SUCCESS` convention) and
    * keyed to the pinned content fingerprint it was counted AGAINST —
    * if the artifact changes under the streak (a manual promotion, a
    * rebuild), the count is void and reads as 0 rather than crediting
    * evidence gathered against a different contract. */
  final case class PromotionStreak(streak: Int, againstFp: String)

  private val PromotionStreakFile = "_graft_promotion_streak.json"

  def readPromotionStreak(path: String): Option[PromotionStreak] = {
    val f = new java.io.File(path, PromotionStreakFile)
    if (!f.exists()) None
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val json = try src.mkString finally src.close()
      val field = """"([a-z_]+)"\s*:\s*"([^"]*)"""".r
      val m = field.findAllMatchIn(json).map(mm => mm.group(1) -> mm.group(2)).toMap
      for (s <- m.get("streak"); fp <- m.get("against_fp");
           n <- s.toIntOption)
        yield PromotionStreak(n, fp)
    }
  }

  def writePromotionStreak(path: String, s: PromotionStreak): Unit = {
    val f = new java.io.File(path, PromotionStreakFile)
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.print(s"""{"streak": "${s.streak}", "against_fp": "${s.againstFp}"}""")
    finally w.close()
  }

  /** Event-id gap census — the data-COMPLETENESS check
    * `dq_duplicate_check` mirrors from the other side: duplicates say
    * rows arrived twice, id gaps say rows never arrived at all (a
    * dropped producer batch, a failed partition load). Ids bucket by
    * `event_id div bucket`; within each bucket the expected count is
    * its own observed span (max−min+1), so the check needs NO global
    * contract about the id range and one groupBy is the only
    * fact-sized exchange — never a global sort or a lag over the full
    * id sequence (the naive gap scan that single-partitions at 100
    * TB). Gaps spanning whole missing buckets are invisible by
    * construction (no rows → no bucket) — that's the documented
    * boundary; cross-bucket coverage is the reconcile checks' row
    *-count job. Distinct-counted so duplicate ids can't mask a gap.
    * TakeOrdered top-k (missing desc, bucket asc): per-partition
    * heaps, deterministic total order, ≤k driver rows. */
  def idGaps(spark: SparkSession, dir: String, bucket: Long = 10000L,
             topK: Int = 100): DataFrame =
    idGapsFrom(graft.Tables.events(spark, dir), bucket, topK)

  def idGapsFrom(e: DataFrame, bucket: Long = 10000L, topK: Int = 100): DataFrame =
    e.filter(col("event_id").isNotNull)
      .groupBy(expr(s"event_id div $bucket").as("bucket"))
      .agg(
        min(col("event_id")).as("first_id"),
        max(col("event_id")).as("last_id"),
        countDistinct(col("event_id")).as("n_present"))
      .withColumn("n_missing",
        col("last_id") - col("first_id") + lit(1L) - col("n_present"))
      .filter(col("n_missing") > 0)
      .orderBy(desc("n_missing"), asc("bucket"))
      .limit(topK)

  val idGapsSql: String =
    """SELECT event_id // 10000 AS bucket,
      |  MIN(event_id) AS first_id, MAX(event_id) AS last_id,
      |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_present,
      |  MAX(event_id) - MIN(event_id) + 1 - COUNT(DISTINCT event_id) AS n_missing
      |FROM events WHERE event_id IS NOT NULL
      |GROUP BY 1
      |HAVING MAX(event_id) - MIN(event_id) + 1 - COUNT(DISTINCT event_id) > 0
      |ORDER BY n_missing DESC, bucket LIMIT 100""".stripMargin

  /** Benford's-law first-digit shares, hard-coded as the exact double
    * literals log10(1+1/d) — LITERALS (not runtime log10 calls) so the
    * oracle sees bit-identical constants (the repo's libm rule). */
  val BenfordExpected: Seq[(Int, Double)] = Seq(
    1 -> 0.3010299956639812, 2 -> 0.17609125905568124, 3 -> 0.12493873660829992,
    4 -> 0.09691001300805642, 5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
    7 -> 0.05799194697768673, 8 -> 0.05115252244738129, 9 -> 0.04575749056067514)

  /** First-digit (Benford) conformance census over positive event
    * values — the unit-bug / synthetic-data / fraud smell beside
    * `dq_value_drift`'s day-over-day histogram: organic multi-scale
    * amounts lean toward log-uniform leading digits, so a sudden
    * flattening (injected uniform values, a fixed-price bug, scripted
    * traffic) moves this census even when the value RANGE stays legal.
    * Reported per digit: observed vs expected share and the absolute
    * gap — the judgment threshold is the consumer's (Benford is a
    * smell, not a law, for bounded retail prices; dq_anomaly-style
    * z-gating belongs downstream of a baseline, not hard-coded here).
    *
    * Scale/oracle shape: first digit of the CENTS integer via a fixed
    * descending power-of-ten comparison ladder (integer DIV — no
    * log10, no string rendering, so Spark and DuckDB agree bit-for-
    * bit), one map-combined shuffle to the ≤9-row digit dimension, a
    * 1-row broadcast total, exact integers until the final IEEE
    * divisions of literals. Oracle-green. */
  def dqBenford(spark: SparkSession, dir: String): DataFrame =
    dqBenfordFrom(enriched(spark, dir))

  /** First significant digit of the `cents` column — the shared
    * ladder (batch census AND the streaming digitCounts monitor, one
    * definition so the surfaces cannot drift). */
  private[graft] def firstDigitCol: Column = {
    val powers = (0 to 17).map(i => BigInt(10).pow(i).toLong)
    powers.foldLeft(lit(0L)) { (acc, p) =>
      when(col("cents") >= p, expr(s"cents DIV ${p}L")).otherwise(acc)
    }.cast("int")
  }

  /** Positive-value cents projection feeding the digit ladder. */
  private[graft] def centsOf(e: DataFrame): DataFrame = e
    .filter(col("value").isNotNull && col("value") > 0)
    .select(round(col("value") * lit(100)).cast("bigint").as("cents"))
    .filter(col("cents") > 0)

  private[graft] def dqBenfordFrom(e: DataFrame): DataFrame =
    benfordCensusFromCounts(
      centsOf(e)
        .select(firstDigitCol.as("digit"))
        .groupBy(col("digit"))
        .agg(count(lit(1)).as("n_values")))

  /** Conformance readout over an already-aggregated (digit, n_values)
    * frame — shared by the batch census and the streaming-log rescore
    * (`benfordFromLog`), so live and nightly Benford tables are the
    * same arithmetic on different inputs. */
  private[graft] def benfordCensusFromCounts(counts: DataFrame): DataFrame = {
    val expected = BenfordExpected.foldLeft(lit(0.0)) { case (acc, (d, x)) =>
      when(col("digit") === d, lit(x)).otherwise(acc)
    }
    // a window total over the ≤9-digit census — the
    // 1-row agg + crossJoin re-derived the value-scan subtree twice.
    val wAllDigits = org.apache.spark.sql.expressions.Window.partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    counts
      .withColumn("total_values", sum(col("n_values")).over(wAllDigits))
      .select(col("digit"), col("n_values"),
        (col("n_values").cast("double") / col("total_values").cast("double"))
          .as("observed_share"),
        expected.as("expected_share"))
      .withColumn("abs_dev", abs(col("observed_share") - col("expected_share")))
      .orderBy("digit")
  }

  /** Benford rescore over the streaming digit log
    * (`EventStream.digitCounts` + `windowLogSink`): replay-safe window
    * dedup (max per (window, digit) — an at-least-once re-append of
    * the same finalized window cannot double-count), then the SAME
    * census core as the batch `dq_benford`. The third live drift
    * detector beside volume z-scores and value-bucket L1: a mid-day
    * flattening of leading digits (fixed-price bug, scripted traffic)
    * moves this table hours before the nightly census. */
  def benfordFromLog(spark: SparkSession, logDir: String): DataFrame =
    benfordCensusFromCounts(
      spark.read.parquet(logDir)
        .groupBy(col("window_start"), col("digit"))
        .agg(max(col("n_values")).as("n_values"))
        .groupBy(col("digit"))
        .agg(sum(col("n_values")).as("n_values")))

  val dqBenfordSql: String = {
    val powers = (0 until 18).map(i => BigInt(10).pow(i).toString)
    val ladder = powers.reverse.map(p => s"WHEN cents >= $p THEN cents // $p")
      .mkString(" ")
    val expected = BenfordExpected.map { case (d, x) => s"WHEN $d THEN $x" }
      .mkString(" ")
    s"""WITH c AS (
       |  SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents
       |  FROM events WHERE value IS NOT NULL AND value > 0
       |), d AS (
       |  SELECT CAST((CASE $ladder ELSE 0 END) AS INT) AS digit
       |  FROM c WHERE cents > 0
       |), g AS (
       |  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_values FROM d GROUP BY digit
       |)
       |SELECT digit, n_values,
       |  CAST(n_values AS DOUBLE) /
       |    CAST((SELECT SUM(n_values) FROM g) AS DOUBLE) AS observed_share,
       |  CAST((CASE digit $expected ELSE 0.0 END) AS DOUBLE) AS expected_share,
       |  ABS(CAST(n_values AS DOUBLE) /
       |    CAST((SELECT SUM(n_values) FROM g) AS DOUBLE) -
       |    CAST((CASE digit $expected ELSE 0.0 END) AS DOUBLE)) AS abs_dev
       |FROM g ORDER BY digit""".stripMargin
  }
}
