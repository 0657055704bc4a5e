package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The reference's mart layer re-expressed as single-pass Spark
  * aggregations over the `events` table.
  *
  * Reference: /root/reference/sql/marts/mart_user_daily.sql,
  * mart_funnel_daily.sql, mart_product_daily.sql, mart_orders.sql and
  * /root/reference/scripts/spark_batch_processor.py:127-265.
  *
  * Testdata mapping (SURVEY.md §3): event_type ∈ {view, click, purchase,
  * signup, error}; `value` plays order amount; `props` ('{"k": N}') plays
  * the JSONB extra_data (product id); `user_id % 3` plays the platform
  * dimension ("segment").
  *
  * Scale notes: each mart is ONE shuffle (groupBy on its grain) with
  * map-side partial aggregation; at 100 TB the events table would be
  * date-partitioned and the `event_date` filter would prune partitions —
  * the grouping keys here (user/day, day/segment, product/day) are
  * exactly the reference's mart grains, so DELETE+INSERT idempotent
  * backfills translate to `.write.partitionBy("event_date")` overwrite
  * of the touched partitions (dynamic partition overwrite).
  */
object EventMarts {

  private def dsum(c: Column) = sum(c.cast("decimal(12,2)")).cast("double")

  /** Events with derived columns shared by every mart. */
  def enriched(spark: SparkSession, dir: String): DataFrame =
    enrich(Tables.events(spark, dir))

  /** The same derivations over any raw events frame (generated
    * batches, streams collected to batch, injected test corpora). */
  def enrich(raw: DataFrame): DataFrame =
    raw
      .withColumn("event_date", col("ts").cast("date"))
      .withColumn("event_epoch", unix_timestamp(col("ts")))
      .withColumn("segment", (col("user_id") % 3).cast("int"))
      .withColumn("product_k",
        get_json_object(col("props"), "$.k").cast("int"))

  /** Per user/day behavioral summary.
    * Reference: sql/marts/mart_user_daily.sql (session_count is covered
    * by Sessionize — the testdata has no session_id column). */
  def martUserDaily(spark: SparkSession, dir: String): DataFrame =
    martUserDailyFrom(enriched(spark, dir))

  def martUserDailyFrom(e: DataFrame): DataFrame =
    e
      .groupBy(col("user_id"), col("event_date"))
      .agg(
        count(lit(1)).as("event_count"),
        count(when(col("event_type") === "view", 1)).as("view_count"),
        count(when(col("event_type") === "click", 1)).as("click_count"),
        count(when(col("event_type") === "purchase", 1)).as("purchase_count"),
        count(when(col("event_type") === "signup", 1)).as("signup_count"),
        count(when(col("event_type") === "error", 1)).as("error_count"),
        coalesce(dsum(when(col("event_type") === "purchase", col("value"))), lit(0.0))
          .as("total_purchase_amount"),
        min(col("event_epoch")).as("first_event_epoch"),
        max(col("event_epoch")).as("last_event_epoch"),
        (max(col("event_epoch")) - min(col("event_epoch"))).as("active_seconds"))
      .orderBy("user_id", "event_date")

  val martUserDailySql: String =
    """SELECT user_id, CAST(ts AS DATE) AS event_date,
      |  COUNT(*) AS event_count,
      |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view_count,
      |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click_count,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_count,
      |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup_count,
      |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error_count,
      |  COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE), 0.0) AS total_purchase_amount,
      |  MIN(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) AS first_event_epoch,
      |  MAX(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) AS last_event_epoch,
      |  MAX(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) - MIN(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) AS active_seconds
      |FROM events
      |GROUP BY user_id, CAST(ts AS DATE)
      |ORDER BY user_id, event_date""".stripMargin

  /** Per day/segment conversion funnel (view → click → purchase).
    * Reference: sql/marts/mart_funnel_daily.sql and
    * spark_batch_processor.compute_funnel_conversion. */
  def martFunnelDaily(spark: SparkSession, dir: String): DataFrame =
    martFunnelDailyFrom(enriched(spark, dir))

  def martFunnelDailyFrom(e: DataFrame): DataFrame = {
    // Distinct (date, segment, type, user) pre-aggregate instead of 4
    // countDistincts: the multi-distinct form plans an Expand that
    // multiplies every pre-shuffle row ×5; here the shuffle carries the
    // (already map-side-combined) distinct set once, and each step is a
    // plain conditional count — retentionCurve's own trick. The
    // distinct keeps ALL event types so a (date, segment) group whose
    // only events are non-funnel types still surfaces with zeros, and
    // the null-user guard matches countDistinct's null handling
    // exactly.
    def ustep(t: String) =
      count(when(col("event_type") === t && col("user_id").isNotNull, 1))
    def rate(a: Column, b: Column) =
      a.cast("double") / nullif(b, lit(0)).cast("double") * lit(100)
    e
      .select(col("event_date"), col("segment"), col("event_type"), col("user_id"))
      .distinct()
      .groupBy(col("event_date"), col("segment"))
      .agg(
        ustep("view").as("step1_viewers"),
        ustep("click").as("step2_clickers"),
        ustep("purchase").as("step3_purchasers"),
        ustep("signup").as("signup_users"))
      .withColumn("view_to_click_rate", rate(col("step2_clickers"), col("step1_viewers")))
      .withColumn("click_to_purchase_rate", rate(col("step3_purchasers"), col("step2_clickers")))
      .withColumn("overall_conversion_rate", rate(col("step3_purchasers"), col("step1_viewers")))
      .orderBy("event_date", "segment")
  }

  val martFunnelDailySql: String =
    """SELECT event_date, segment, step1_viewers, step2_clickers, step3_purchasers, signup_users,
      |  CAST(step2_clickers AS DOUBLE) / CAST(NULLIF(step1_viewers, 0) AS DOUBLE) * 100 AS view_to_click_rate,
      |  CAST(step3_purchasers AS DOUBLE) / CAST(NULLIF(step2_clickers, 0) AS DOUBLE) * 100 AS click_to_purchase_rate,
      |  CAST(step3_purchasers AS DOUBLE) / CAST(NULLIF(step1_viewers, 0) AS DOUBLE) * 100 AS overall_conversion_rate
      |FROM (
      |  SELECT event_date, segment,
      |    COUNT(CASE WHEN event_type = 'view' AND user_id IS NOT NULL THEN 1 END) AS step1_viewers,
      |    COUNT(CASE WHEN event_type = 'click' AND user_id IS NOT NULL THEN 1 END) AS step2_clickers,
      |    COUNT(CASE WHEN event_type = 'purchase' AND user_id IS NOT NULL THEN 1 END) AS step3_purchasers,
      |    COUNT(CASE WHEN event_type = 'signup' AND user_id IS NOT NULL THEN 1 END) AS signup_users
      |  FROM (SELECT DISTINCT CAST(ts AS DATE) AS event_date, CAST(user_id % 3 AS INT) AS segment,
      |          event_type, user_id FROM events) du
      |  GROUP BY event_date, segment
      |) t ORDER BY event_date, segment""".stripMargin

  /** Per product/day behavior, product id parsed once from the JSON
    * props column (reference unnests JSONB extra_data —
    * sql/marts/mart_product_daily.sql). */
  def martProductDaily(spark: SparkSession, dir: String): DataFrame =
    martProductDailyFrom(enriched(spark, dir))

  def martProductDailyFrom(enr: DataFrame): DataFrame = {
    // Per (product, day, user) pre-aggregate, then plain sums +
    // conditional user counts: the two-countDistinct form plans an
    // Expand that triples every pre-shuffle row; here the shuffle
    // carries one (map-side-combined) row per product/day/user and the
    // distinct-user steps become plain conditional counts —
    // martFunnelDailyFrom's trick at the product grain. Revenue stays
    // decimal through both levels so the sum-of-sums is exact.
    val perUser = enr
      .filter(col("product_k").isNotNull)
      .groupBy(col("product_k"), col("event_date"), col("user_id"))
      .agg(
        count(when(col("event_type") === "click", 1)).as("u_clicks"),
        count(when(col("event_type") === "view", 1)).as("u_views"),
        count(when(col("event_type") === "purchase", 1)).as("u_purchases"),
        sum(when(col("event_type") === "purchase", col("value")).cast("decimal(12,2)"))
          .as("u_revenue"))
    perUser
      .groupBy(col("product_k"), col("event_date"))
      .agg(
        sum(col("u_clicks")).as("click_count"),
        sum(col("u_views")).as("view_count"),
        sum(col("u_purchases")).as("purchase_count"),
        coalesce(sum(col("u_revenue")).cast("double"), lit(0.0)).as("revenue"),
        count(when(col("u_clicks") > 0 && col("user_id").isNotNull, 1)).as("unique_clickers"),
        count(when(col("u_purchases") > 0 && col("user_id").isNotNull, 1)).as("unique_buyers"))
      .withColumn("conversion_rate",
        col("unique_buyers").cast("double") / nullif(col("unique_clickers"), lit(0)).cast("double") * lit(100))
      .orderBy("product_k", "event_date")
  }

  val martProductDailySql: String =
    """SELECT product_k, event_date, click_count, view_count, purchase_count, revenue,
      |  unique_clickers, unique_buyers,
      |  CAST(unique_buyers AS DOUBLE) / CAST(NULLIF(unique_clickers, 0) AS DOUBLE) * 100 AS conversion_rate
      |FROM (
      |  SELECT CAST(json_extract_string(props, '$.k') AS INT) AS product_k, CAST(ts AS DATE) AS event_date,
      |    COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click_count,
      |    COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view_count,
      |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_count,
      |    COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE), 0.0) AS revenue,
      |    COUNT(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS unique_clickers,
      |    COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS unique_buyers
      |  FROM events
      |  WHERE json_extract_string(props, '$.k') IS NOT NULL
      |  GROUP BY 1, 2
      |) t ORDER BY product_k, event_date""".stripMargin

  /** Order-grain detail (reference: sql/marts/mart_orders.sql —
    * purchase events with JSON field extraction + derived categorical). */
  def martOrders(spark: SparkSession, dir: String): DataFrame =
    martOrdersFrom(enriched(spark, dir))

  def martOrdersFrom(e: DataFrame): DataFrame =
    e
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("order_id"),
        col("user_id"),
        col("event_date").as("order_date"),
        col("event_epoch").as("order_epoch"),
        col("value").as("total_amount"),
        col("product_k"),
        when(col("value") < 50, "low").when(col("value") < 200, "mid").otherwise("high")
          .as("amount_bucket"))
      .orderBy("order_id")

  val martOrdersSql: String =
    """SELECT event_id AS order_id, user_id, CAST(ts AS DATE) AS order_date,
      |  CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS order_epoch,
      |  value AS total_amount,
      |  CAST(json_extract_string(props, '$.k') AS INT) AS product_k,
      |  CASE WHEN value < 50 THEN 'low' WHEN value < 200 THEN 'mid' ELSE 'high' END AS amount_bucket
      |FROM events WHERE event_type = 'purchase'
      |ORDER BY order_id""".stripMargin

  /** Overall funnel conversion (corpus-wide, one row).
    * Reference: spark_batch_processor.compute_funnel_conversion —
    * distinct users per step + step-to-step rates. Built on the
    * distinct (type, user) pre-aggregate (no multi-countDistinct
    * Expand — see martFunnelDailyFrom). */
  def funnelConversion(spark: SparkSession, dir: String): DataFrame = {
    def ustep(t: String) =
      count(when(col("event_type") === t && col("user_id").isNotNull, 1))
    def rate(a: Column, b: Column) =
      a.cast("double") / nullif(b, lit(0)).cast("double") * lit(100)
    Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"))
      .distinct()
      .agg(
        ustep("view").as("viewers"),
        ustep("click").as("clickers"),
        ustep("purchase").as("purchasers"))
      .withColumn("view_to_click_rate", rate(col("clickers"), col("viewers")))
      .withColumn("click_to_purchase_rate", rate(col("purchasers"), col("clickers")))
      .withColumn("overall_conversion_rate", rate(col("purchasers"), col("viewers")))
  }

  val funnelConversionSql: String =
    """SELECT viewers, clickers, purchasers,
      |  CAST(clickers AS DOUBLE) / CAST(NULLIF(viewers, 0) AS DOUBLE) * 100 AS view_to_click_rate,
      |  CAST(purchasers AS DOUBLE) / CAST(NULLIF(clickers, 0) AS DOUBLE) * 100 AS click_to_purchase_rate,
      |  CAST(purchasers AS DOUBLE) / CAST(NULLIF(viewers, 0) AS DOUBLE) * 100 AS overall_conversion_rate
      |FROM (
      |  SELECT
      |    COUNT(CASE WHEN event_type = 'view' AND user_id IS NOT NULL THEN 1 END) AS viewers,
      |    COUNT(CASE WHEN event_type = 'click' AND user_id IS NOT NULL THEN 1 END) AS clickers,
      |    COUNT(CASE WHEN event_type = 'purchase' AND user_id IS NOT NULL THEN 1 END) AS purchasers
      |  FROM (SELECT DISTINCT event_type, user_id FROM events) du
      |) t""".stripMargin

  /** Hourly traffic distribution.
    * Reference: spark_batch_processor.compute_hourly_traffic. */
  def hourlyTraffic(spark: SparkSession, dir: String): DataFrame =
    hourlyTrafficFrom(enriched(spark, dir))

  def hourlyTrafficFrom(e: DataFrame): DataFrame =
    e
      .groupBy(col("event_date"), hour(col("ts")).cast("int").as("event_hour"))
      .agg(
        count(lit(1)).as("event_count"),
        countDistinct(col("user_id")).as("unique_users"),
        count(when(col("event_type") === "purchase", 1)).as("purchase_count"),
        coalesce(dsum(when(col("event_type") === "purchase", col("value"))), lit(0.0)).as("revenue"))
      .orderBy("event_date", "event_hour")

  val hourlyTrafficSql: String =
    """SELECT CAST(ts AS DATE) AS event_date, CAST(HOUR(ts) AS INT) AS event_hour,
      |  COUNT(*) AS event_count,
      |  COUNT(DISTINCT user_id) AS unique_users,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_count,
      |  COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE), 0.0) AS revenue
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY event_date, event_hour""".stripMargin

  /** Product conversion top-N by revenue (deterministic product_k
    * tiebreak). Reference: spark_batch_processor.compute_product_conversion. */
  def productTopN(spark: SparkSession, dir: String, topN: Int = 20): DataFrame =
    productTopNFrom(enriched(spark, dir), topN)

  def productTopNFrom(e: DataFrame, topN: Int = 20): DataFrame =
    // Aggregates events directly at the product grain (its oracle is
    // single-level): one shuffle, no per-day intermediate. The previous
    // form re-aggregated martProductDailyFrom — Catalyst pruned the
    // unused countDistincts but still paid two shuffles.
    e.filter(col("product_k").isNotNull)
      .groupBy(col("product_k"))
      .agg(
        count(when(col("event_type") === "click", 1)).as("clicks"),
        count(when(col("event_type") === "purchase", 1)).as("purchases"),
        coalesce(dsum(when(col("event_type") === "purchase", col("value"))), lit(0.0)).as("revenue"))
      .orderBy(desc("revenue"), asc("product_k"))
      .limit(topN)

  /** Per-product repeat-purchase rate — replenishment products vs
    * one-shot buys (the merchandising split `purchase_intervals`'
    * user-grain cadence and `product_top_n`'s volume ranking both
    * miss): per product, distinct purchasers, the share who bought it
    * ≥ 2 times, and purchases per purchaser.
    *
    * Scale shape: the de-Expand form — a (product, user) purchase
    * pre-aggregate (one map-combined exchange; no countDistinct
    * Expand), then a plain product rollup; exact longs until the two
    * final IEEE divisions. Ties in the rate ordering break on
    * product_k so the presentation order is deterministic in both
    * engines. */
  def productRepeatRate(spark: SparkSession, dir: String): DataFrame =
    productRepeatRateFrom(enriched(spark, dir))

  def productRepeatRateFrom(e: DataFrame): DataFrame =
    e.filter(col("product_k").isNotNull && col("event_type") === "purchase")
      .groupBy(col("product_k"), col("user_id"))
      .agg(count(lit(1)).as("user_purchases"))
      .groupBy(col("product_k"))
      .agg(
        count(lit(1)).as("n_purchasers"),
        sum(when(col("user_purchases") >= 2, 1L).otherwise(0L)).as("repeat_purchasers"),
        sum(col("user_purchases")).cast("bigint").as("n_purchases"))
      .select(col("product_k"), col("n_purchasers"), col("repeat_purchasers"),
        col("n_purchases"),
        (col("repeat_purchasers").cast("double") / col("n_purchasers").cast("double"))
          .as("repeat_rate"),
        (col("n_purchases").cast("double") / col("n_purchasers").cast("double"))
          .as("purchases_per_purchaser"))
      .orderBy(desc("repeat_rate"), asc("product_k"))

  val productRepeatRateSql: String =
    """WITH pu AS (
      |  SELECT CAST(json_extract_string(props, '$.k') AS INT) AS product_k,
      |    user_id, COUNT(*) AS user_purchases
      |  FROM events
      |  WHERE json_extract_string(props, '$.k') IS NOT NULL
      |    AND event_type = 'purchase'
      |  GROUP BY 1, 2
      |)
      |SELECT product_k,
      |  COUNT(*) AS n_purchasers,
      |  CAST(SUM(CASE WHEN user_purchases >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS repeat_purchasers,
      |  CAST(SUM(user_purchases) AS BIGINT) AS n_purchases,
      |  CAST(SUM(CASE WHEN user_purchases >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS repeat_rate,
      |  CAST(SUM(user_purchases) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |    AS purchases_per_purchaser
      |FROM pu
      |GROUP BY product_k
      |ORDER BY repeat_rate DESC, product_k ASC""".stripMargin

  /** productTopN over the STREAM-built product-count log (see
    * streaming.EventStream.productCounts/windowLogSink): the stream
    * appends finalized (window, product, event_type) partial counts +
    * decimal value sums; this rollup re-ranks from that compact log —
    * |windows|×|products| rows, never raw events — and matches the
    * batch mart exactly on finalized windows (counts are additive,
    * revenue stays decimal end-to-end). The continuous-top-products
    * path: stream maintains the log, dashboards re-rank on demand. */
  def productTopNFromLog(log: DataFrame, topN: Int = 20): DataFrame =
    log
      // a replayed micro-batch appends the same finalized window under
      // a second batch_id — max per (window, product, type) key absorbs
      // the duplicate exactly like the volume/value-drift log paths
      // (counts are identical across replays, so max == the true value)
      .groupBy(col("window_start"), col("product_k"), col("event_type"))
      .agg(max(col("n_events")).as("n_events"), max(col("value_dec")).as("value_dec"))
      .groupBy(col("product_k"))
      .agg(
        coalesce(sum(when(col("event_type") === "click", col("n_events"))), lit(0L))
          .as("clicks"),
        coalesce(sum(when(col("event_type") === "purchase", col("n_events"))), lit(0L))
          .as("purchases"),
        coalesce(sum(when(col("event_type") === "purchase", col("value_dec")))
          .cast("double"), lit(0.0)).as("revenue"))
      .orderBy(desc("revenue"), asc("product_k"))
      .limit(topN)

  val productTopNSql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS product_k,
      |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS clicks,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
      |  COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE), 0.0) AS revenue
      |FROM events
      |WHERE json_extract_string(props, '$.k') IS NOT NULL
      |GROUP BY 1
      |ORDER BY revenue DESC, product_k ASC
      |LIMIT 20""".stripMargin

  /** Period-over-period product rank movers — which products climbed
    * or fell (the merchandising question `product_top_n`'s static
    * snapshot can't answer). The corpus splits at its epoch midpoint
    * (the ab_cuped 1-row-broadcast trick — deterministic halves, no
    * period parameter to drift between engines) into period a / b;
    * the top movers pool is the 100 products largest by COMBINED
    * count, ranked within each period.
    *
    * Scale shape: ONE product-grain conditional rollup (map-side
    * combined), then TakeOrdered top-100 (never a full
    * product-dimension sort), then row_number windows over the ≤100-row
    * pool BY CONSTRUCTION — the dq_key_skew discipline. Ranks are
    * within-pool (documented), ties broken by product_k so both
    * engines rank identically; pct_change is the one IEEE division,
    * NULL-guarded for products absent from period a. */
  def productRankShift(spark: SparkSession, dir: String, topK: Int = 100): DataFrame =
    productRankShiftFrom(enriched(spark, dir), topK)

  def productRankShiftFrom(e: DataFrame, topK: Int = 100): DataFrame = {
    val f = e.filter(col("product_k").isNotNull && col("ts").isNotNull)
    val bounds = f.agg(min(col("event_epoch")).as("e0"),
      max(col("event_epoch")).as("e1"))
    val pool = f.crossJoin(broadcast(bounds))
      .withColumn("mid", expr("(e0 + e1) div 2"))
      .groupBy(col("product_k"))
      .agg(
        sum(when(col("event_epoch") <= col("mid"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("event_epoch") > col("mid"), 1L).otherwise(0L)).as("n_b"))
      .orderBy((col("n_a") + col("n_b")).desc, col("product_k").asc)
      .limit(topK)
    val wa = org.apache.spark.sql.expressions.Window
      .orderBy(desc("n_a"), asc("product_k"))
    val wb = org.apache.spark.sql.expressions.Window
      .orderBy(desc("n_b"), asc("product_k"))
    pool
      .withColumn("rank_a", row_number().over(wa))
      .withColumn("rank_b", row_number().over(wb))
      .select(col("product_k"), col("n_a"), col("n_b"),
        col("rank_a"), col("rank_b"),
        (col("rank_a") - col("rank_b")).as("rank_delta"),
        when(col("n_a") > 0,
          (col("n_b") - col("n_a")).cast("double") / col("n_a").cast("double"))
          .as("pct_change"))
      .orderBy("rank_b", "product_k")
  }

  val productRankShiftSql: String =
    """WITH f AS (
      |  SELECT CAST(json_extract_string(props, '$.k') AS INT) AS product_k,
      |    CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS e
      |  FROM events
      |  WHERE json_extract_string(props, '$.k') IS NOT NULL AND ts IS NOT NULL
      |), b AS (
      |  SELECT (MIN(e) + MAX(e)) // 2 AS mid FROM f
      |), pool AS (
      |  SELECT product_k,
      |    CAST(SUM(CASE WHEN e <= b.mid THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN e > b.mid THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM f, b GROUP BY product_k
      |  ORDER BY n_a + n_b DESC, product_k ASC
      |  LIMIT 100
      |), ranked AS (
      |  SELECT *,
      |    CAST(ROW_NUMBER() OVER (ORDER BY n_a DESC, product_k ASC) AS INT) AS rank_a,
      |    CAST(ROW_NUMBER() OVER (ORDER BY n_b DESC, product_k ASC) AS INT) AS rank_b
      |  FROM pool
      |)
      |SELECT product_k, n_a, n_b, rank_a, rank_b,
      |  rank_a - rank_b AS rank_delta,
      |  CASE WHEN n_a > 0 THEN
      |    CAST(n_b - n_a AS DOUBLE) / CAST(n_a AS DOUBLE) END AS pct_change
      |FROM ranked ORDER BY rank_b, product_k""".stripMargin

  /** Daily-report user summary (reference: llm_daily_report.py:225-255,
    * aggregate over the user mart). */
  def reportUserSummary(spark: SparkSession, dir: String): DataFrame =
    reportUserSummaryFrom(enriched(spark, dir))

  def reportUserSummaryFrom(e: DataFrame): DataFrame =
    martUserDailyFrom(e)
      .agg(
        countDistinct(col("user_id")).as("active_users"),
        sum(col("event_count")).as("total_events"),
        sum(col("view_count")).as("total_views"),
        sum(col("click_count")).as("total_clicks"),
        sum(col("purchase_count")).as("total_purchases"),
        sum(col("total_purchase_amount").cast("decimal(14,2)")).cast("double").as("total_revenue"),
        count(when(col("purchase_count") > 0, 1)).as("purchasing_user_days"))

  val reportUserSummarySql: String =
    """SELECT COUNT(DISTINCT user_id) AS active_users,
      |  CAST(SUM(event_count) AS BIGINT) AS total_events, CAST(SUM(view_count) AS BIGINT) AS total_views,
      |  CAST(SUM(click_count) AS BIGINT) AS total_clicks, CAST(SUM(purchase_count) AS BIGINT) AS total_purchases,
      |  CAST(SUM(CAST(total_purchase_amount AS DECIMAL(14,2))) AS DOUBLE) AS total_revenue,
      |  COUNT(CASE WHEN purchase_count > 0 THEN 1 END) AS purchasing_user_days
      |FROM (
      |  SELECT user_id, CAST(ts AS DATE) AS d,
      |    COUNT(*) AS event_count,
      |    COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view_count,
      |    COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click_count,
      |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_count,
      |    COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE), 0.0) AS total_purchase_amount
      |  FROM events GROUP BY user_id, CAST(ts AS DATE)
      |) t""".stripMargin

  /** Payment-method distribution (reference: llm_daily_report.py:339-358;
    * method derived deterministically from the JSON product id). */
  def reportPaymentDist(spark: SparkSession, dir: String): DataFrame =
    reportPaymentDistFrom(enriched(spark, dir))

  def reportPaymentDistFrom(e: DataFrame): DataFrame = {
    val methods = array(lit("credit_card"), lit("bank_transfer"), lit("kakao_pay"), lit("naver_pay"), lit("toss_pay"))
    e
      .filter(col("event_type") === "purchase" && col("product_k").isNotNull)
      .withColumn("payment_method", element_at(methods, (col("product_k") % 5) + 1))
      .groupBy(col("payment_method"))
      .agg(
        count(lit(1)).as("order_count"),
        dsum(col("value")).as("total_amount"))
      .orderBy(desc("total_amount"), asc("payment_method"))
  }

  val reportPaymentDistSql: String =
    """SELECT (['credit_card','bank_transfer','kakao_pay','naver_pay','toss_pay'])[CAST(json_extract_string(props, '$.k') AS INT) % 5 + 1] AS payment_method,
      |  COUNT(*) AS order_count,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_amount
      |FROM events
      |WHERE event_type = 'purchase' AND json_extract_string(props, '$.k') IS NOT NULL
      |GROUP BY 1
      |ORDER BY total_amount DESC, payment_method ASC""".stripMargin

  /** Daily-report order-mart summary (reference: llm_daily_report.py
    * "주문 마트 요약" — order count, revenue, avg/max order value,
    * unique buyers). avg is one exact-decimal division (deterministic
    * vs the oracle); max over doubles is order-independent. */
  def reportOrderSummary(spark: SparkSession, dir: String): DataFrame =
    reportOrderSummaryFrom(enriched(spark, dir))

  def reportOrderSummaryFrom(e: DataFrame): DataFrame =
    martOrdersFrom(e)
      .agg(
        count(lit(1)).as("order_count"),
        dsum(col("total_amount")).as("total_revenue"),
        (dsum(col("total_amount")) / count(lit(1))).as("avg_order_value"),
        max(col("total_amount")).as("max_order_amount"),
        countDistinct(col("user_id")).as("unique_buyers"))

  val reportOrderSummarySql: String =
    """SELECT COUNT(*) AS order_count,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_revenue,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_order_value,
      |  MAX(value) AS max_order_amount,
      |  COUNT(DISTINCT user_id) AS unique_buyers
      |FROM events WHERE event_type = 'purchase'""".stripMargin

  /** D1 retention cohort: users grouped by first-seen day; retained =
    * came back the next day. ONE events scan: distinct user-days, the
    * per-user cohort via a window on the user key, then ONE cohort
    * rollup — over the DISTINCT (user, day) set each user contributes
    * exactly one day_offset=0 row (their cohort day) and at most one
    * day_offset=1 row, so cohort_size and retained_d1 are plain
    * conditional counts (the retention_curve form): no per-user
    * intermediate aggregate, one fewer aggregation level. The
    * join-based formulation scanned events twice; the two-level
    * aggregate paid a user-grain flag pass this rollup doesn't need. */
  def retentionDaily(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
    enriched(spark, dir).select("user_id", "event_date").distinct()
      .withColumn("cohort_date", min("event_date").over(w))
      .withColumn("day_offset", datediff(col("event_date"), col("cohort_date")))
      .groupBy(col("cohort_date"))
      .agg(
        count(when(col("day_offset") === 0, 1)).as("cohort_size"),
        count(when(col("day_offset") === 1, 1)).as("retained_d1"))
      .withColumn("retention_rate",
        col("retained_d1").cast("double") / nullif(col("cohort_size"), lit(0)).cast("double") * lit(100))
      .orderBy("cohort_date")
  }

  val retentionDailySql: String =
    """WITH first_day AS (
      |  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date FROM events GROUP BY user_id
      |), activity AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS event_date FROM events
      |)
      |SELECT cohort_date,
      |  COUNT(f.user_id) AS cohort_size,
      |  COUNT(a.user_id) AS retained_d1,
      |  CAST(COUNT(a.user_id) AS DOUBLE) / CAST(NULLIF(COUNT(f.user_id), 0) AS DOUBLE) * 100 AS retention_rate
      |FROM first_day f LEFT JOIN activity a
      |  ON a.user_id = f.user_id AND a.event_date = f.cohort_date + INTERVAL 1 DAY
      |GROUP BY cohort_date
      |ORDER BY cohort_date""".stripMargin

  /** Daily new-vs-returning decomposition (day-grain acquisition
    * mart): each active day's users split by whether it is their
    * first-ever day. Complements retention_daily, which is COHORT
    * grain (first-day → came-back); this is ACTIVITY grain (who made
    * up today's traffic).
    *
    * Scale shape: same as retention_daily — the (user, day) distinct
    * collapses event volume to at most users×days rows before
    * anything else; the per-user first-day window and the day rollup
    * then move only that reduced set. first-day is a min over a
    * user's distinct days (bounded by the calendar), never over raw
    * events. */
  def newVsReturning(spark: SparkSession, dir: String): DataFrame =
    newVsReturningFrom(enriched(spark, dir))

  def newVsReturningFrom(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
    e.select("user_id", "event_date").distinct()
      .withColumn("first_date", min("event_date").over(w))
      .groupBy(col("event_date"))
      .agg(
        count(lit(1)).as("active_users"),
        sum(when(col("event_date") === col("first_date"), 1).otherwise(0)).cast("bigint")
          .as("new_users"))
      .withColumn("returning_users", (col("active_users") - col("new_users")).cast("bigint"))
      .withColumn("new_user_share",
        col("new_users").cast("double") / col("active_users").cast("double") * lit(100))
      .orderBy("event_date")
  }

  val newVsReturningSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS event_date FROM events
      |), fd AS (
      |  SELECT user_id, event_date,
      |    MIN(event_date) OVER (PARTITION BY user_id) AS first_date
      |  FROM ud
      |)
      |SELECT event_date,
      |  COUNT(*) AS active_users,
      |  CAST(SUM(CASE WHEN event_date = first_date THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
      |  CAST(COUNT(*) - SUM(CASE WHEN event_date = first_date THEN 1 ELSE 0 END) AS BIGINT)
      |    AS returning_users,
      |  CAST(SUM(CASE WHEN event_date = first_date THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) * 100 AS new_user_share
      |FROM fd
      |GROUP BY event_date
      |ORDER BY event_date""".stripMargin

  /** Rolling DAU/WAU/MAU per day (trailing 1/7/28-day distinct actives,
    * window inclusive of the day itself) plus the DAU/MAU stickiness
    * ratio — the growth-analytics companion to new_vs_returning. Days
    * earlier than 27 days after first data carry partial windows, the
    * standard convention for rolling actives.
    *
    * Scale shape: event volume first collapses to the distinct
    * (user, day) frame, so the ×28 offset explode multiplies at most
    * users×days rows — bounded by the calendar, never by raw events.
    * min(offset) at the (user, target-day) grain then makes each of
    * DAU/WAU/MAU a plain conditional count at the day grain: one
    * distinct shuffle + two bounded-frame shuffles, no countDistinct
    * Expand, no per-user range window. Targets beyond a user's
    * activity are pruned by a broadcast semi-join against the observed
    * day list before the first wide aggregate moves. */
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame =
    rollingActiveUsersFrom(enriched(spark, dir))

  def rollingActiveUsersFrom(e: DataFrame): DataFrame = {
    // the distinct (user, day) frame feeds BOTH the offset explode and
    // the observed-day list; without a cut Spark replans the events
    // scan + distinct shuffle for each consumer (branch-specific
    // pruning defeats ReuseExchange — the dedup_substring finding).
    // localCheckpoint materializes user-days once: tiny next to the
    // events scan it saves at any scale.
    val ud = e.select("user_id", "event_date").distinct().localCheckpoint()
    val days = ud.select(col("event_date").as("d")).distinct()
    ud
      .select(col("user_id"), col("event_date"),
        explode(sequence(lit(0), lit(27))).as("off"))
      .select(col("user_id"), date_add(col("event_date"), col("off")).as("d"), col("off"))
      .join(broadcast(days), "d")
      .groupBy(col("user_id"), col("d"))
      .agg(min(col("off")).as("min_off"))
      .groupBy(col("d").as("event_date"))
      .agg(
        count(when(col("min_off") === 0, 1)).as("dau"),
        count(when(col("min_off") < 7, 1)).as("wau"),
        count(lit(1)).as("mau"))
      .withColumn("dau_mau_ratio",
        col("dau").cast("double") / col("mau").cast("double") * lit(100))
      .orderBy("event_date")
  }

  val rollingActiveUsersSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS event_date FROM events
      |), days AS (
      |  SELECT DISTINCT event_date AS d FROM ud
      |), reach AS (
      |  SELECT ud.user_id, ud.event_date + o.off AS d, MIN(o.off) AS min_off
      |  FROM ud
      |  CROSS JOIN (SELECT CAST(unnest(generate_series(0, 27)) AS INTEGER) AS off) o
      |  JOIN days ON days.d = ud.event_date + o.off
      |  GROUP BY 1, 2
      |)
      |SELECT d AS event_date,
      |  COUNT(CASE WHEN min_off = 0 THEN 1 END) AS dau,
      |  COUNT(CASE WHEN min_off < 7 THEN 1 END) AS wau,
      |  COUNT(*) AS mau,
      |  CAST(COUNT(CASE WHEN min_off = 0 THEN 1 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) * 100 AS dau_mau_ratio
      |FROM reach
      |GROUP BY d
      |ORDER BY d""".stripMargin

  /** Exact value percentiles per event type — the sort-based aggregate
    * family (no other query exercises it): p50/p90/p99 plus min/max.
    * Spark's `percentile` and DuckDB's `quantile_cont` both compute
    * the exact interpolated quantile, so the oracle matches without
    * approximation. At scale exact percentiles shuffle each group's
    * values to one reducer — correct for bounded group counts like
    * event types; unbounded-cardinality groups should switch to
    * approx_percentile (t-digest) and accept rows-only checking. */
  def valuePercentiles(spark: SparkSession, dir: String): DataFrame =
    enriched(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        expr("percentile(value, 0.99)").as("p99"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy("event_type")

  val valuePercentilesSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  quantile_cont(value, 0.5) AS p50,
      |  quantile_cont(value, 0.9) AS p90,
      |  quantile_cont(value, 0.99) AS p99,
      |  MIN(value) AS min_value, MAX(value) AS max_value
      |FROM events WHERE value IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Per-user consecutive-day activity streaks — the gaps-and-islands
    * pattern (the one classic relational shape the mart family didn't
    * yet exercise): over distinct user-days, island id = date − per-user
    * row_number (constant within a consecutive run, strictly monotone
    * across gaps), then two same-key rollups. Engagement teams read
    * this as "how long do habits last"; the same shape computes
    * sensor-uptime runs and inventory stockout spans.
    *
    * Plan: one distinct shuffle, one user-partitioned window, and the
    * island + user aggregates both reuse the user hash partitioning
    * (no further exchange). Longest-streak tie-break is the LATEST
    * streak end, via a lexicographic struct max — deterministic with
    * no extra pass. */
  def userStreaks(spark: SparkSession, dir: String): DataFrame =
    userStreaksFrom(enriched(spark, dir))

  def userStreaksFrom(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("event_date")
    e
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select("user_id", "event_date").distinct()
      .withColumn("island", date_sub(col("event_date"), row_number().over(w)))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"), max(col("event_date")).as("send"))
      .groupBy(col("user_id"))
      .agg(
        sum(col("len")).as("active_days"),
        count(lit(1)).as("n_streaks"),
        max(struct(col("len"), col("send"))).as("best"))
      .select(col("user_id"), col("active_days"), col("n_streaks"),
        col("best.len").as("longest_streak"),
        col("best.send").as("longest_streak_end"))
      .orderBy("user_id")
  }

  val userStreaksSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |), isl AS (
      |  SELECT user_id, d,
      |    d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS island
      |  FROM ud
      |), s AS (
      |  SELECT user_id, island, COUNT(*) AS len, MAX(d) AS send
      |  FROM isl GROUP BY user_id, island
      |), agg AS (
      |  SELECT user_id, CAST(SUM(len) AS BIGINT) AS active_days, COUNT(*) AS n_streaks,
      |    MAX(len) AS longest_streak
      |  FROM s GROUP BY user_id
      |)
      |SELECT agg.user_id AS user_id, agg.active_days, agg.n_streaks,
      |  agg.longest_streak, MAX(s.send) AS longest_streak_end
      |FROM agg JOIN s ON s.user_id = agg.user_id AND s.len = agg.longest_streak
      |GROUP BY agg.user_id, agg.active_days, agg.n_streaks, agg.longest_streak
      |ORDER BY agg.user_id""".stripMargin

  /** Sketch-based variants of the exact distinct/percentile marts —
    * the 100 TB forms. `percentile()` materializes every value per
    * group through the shuffle and `countDistinct` shuffles the full
    * (day, user) universe; the sketches below carry fixed-size state
    * through map-side partial aggregation instead (HyperLogLog++ for
    * distincts, Greenwald-Khanna for quantiles — Spark's built-in
    * approx aggregates), so shuffle volume is groups × sketch size no
    * matter the row count. Rows-only at the gate (DuckDB's approx
    * algorithms differ); the ScalaTest spec pins each sketch against
    * its exact sibling with the documented error bounds. */
  def approxDistinctUsers(spark: SparkSession, dir: String, rsd: Double = 0.02): DataFrame =
    enriched(spark, dir)
      .groupBy(col("event_date"))
      .agg(
        approx_count_distinct(col("user_id"), rsd).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .withColumn("rel_error",
        abs(col("approx_users") - col("exact_users")).cast("double") /
          col("exact_users").cast("double"))
      .orderBy("event_date")

  /** Day-over-day returning users from MERGEABLE per-day HLL sketch
    * partials (Datasketches `hll_sketch_agg`) — the set-algebra step
    * `approx_count_distinct` cannot express: once the per-day sketch
    * table exists, |A ∩ B| for ANY day pair comes from
    * inclusion–exclusion over sketch unions without touching raw
    * events again. At 100 TB this is the retention plan: one
    * events-scan shuffle builds ~365 sketch rows (each a few KB);
    * every subsequent day-pair/window/cohort combination is a join
    * over that tiny table. The estimate's rsd at lgConfigK=12 is
    * ~1.6% (spec bounds the realized error vs the exact
    * intersection). Rows-only at the gate: DuckDB's HLL differs. */
  def approxRetentionHll(spark: SparkSession, dir: String, lgConfigK: Int = 12,
                         offsets: Seq[Int] = Seq(1)): DataFrame = {
    require(offsets.nonEmpty, "approxRetentionHll needs at least one day offset")
    val offs = offsets.distinct
    val sketches = enriched(spark, dir)
      .groupBy(col("event_date"))
      .agg(hll_sketch_agg(col("user_id"), lit(lgConfigK)).as("sk"))
      // the sketch table is tiny (one row per day) but feeds 2 joins
      // per offset — cut the lineage so the events scan runs once,
      // not 2·|offsets| times. localCheckpoint (not persist): the
      // returned frame is lazy, so a persist could never be
      // unpersisted by anyone and would leak a cache entry per call;
      // checkpoint RDDs are ContextCleaner-collected when the plan is
      // garbage.
      .localCheckpoint()
    val a = sketches.select(col("event_date").as("day"), col("sk").as("sk_a"))
    val b = sketches.select(col("event_date").as("later_day"), col("sk").as("sk_b"))
    val estA = round(hll_sketch_estimate(col("sk_a")))
    val estB = round(hll_sketch_estimate(col("sk_b")))
    val estU = round(hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
    offs.map { off =>
      a.join(b, date_add(col("day"), off) === col("later_day"))
        .select(
          col("day"),
          lit(off).as("day_offset"),
          estA.cast("bigint").as("est_active"),
          estB.cast("bigint").as("est_later_active"),
          // three independently-rounded ~1.6%-rsd estimates: on
          // disjoint day pairs the union estimate can exceed the sum
          // by a few counts — clamp so the query never reports
          // negative users
          greatest(lit(0L), (estA + estB - estU).cast("bigint")).as("est_returning"))
    }.reduce(_.unionByName(_))
      .orderBy("day", "day_offset")
  }

  /** Rolling DAU/WAU/MAU from MERGEABLE per-day HLL sketches — the
    * 100 TB form of `rollingActiveUsers`: the exact query's distinct
    * (user, day) frame is user-scale; this one collapses each day to
    * ONE fixed-size sketch (a few KB at lgK=12), and every trailing
    * window is a sketch union over at most 28 rows. The ×28 offset
    * explode here multiplies the |days|-row SKETCH table, never
    * anything user- or event-scale — the same partial-mergeability
    * argument as approx_retention_hll, pointed at sliding windows.
    * Estimates carry the sketch's ~1.6% rsd (lgK=12); the spec bounds
    * realized error against the exact rolling mart. */
  def rollingActiveHll(spark: SparkSession, dir: String, lgConfigK: Int = 12): DataFrame =
    rollingActiveHllFrom(
      enriched(spark, dir)
        .groupBy(col("event_date"))
        .agg(hll_sketch_agg(col("user_id"), lit(lgConfigK)).as("sk")))

  /** Core over ANY (event_date, sk) sketch table — the same day
    * sketches can come from the batch aggregate above or from a
    * STREAM that maintains them incrementally
    * (`streaming.EventStream.dailyUserSketch`): HLL registers are a
    * deterministic function of the input SET, so batch-built and
    * stream-built sketches window to identical estimates. This split
    * is the point of mergeability — the expensive corpus pass happens
    * wherever the data already flows; the trailing-window set algebra
    * stays a ≤28-row union. */
  def rollingActiveHllFrom(daySketches: DataFrame): DataFrame = {
    // one row per day; feeds the offset explode AND the observed-day
    // pruning join — cut the lineage so the upstream runs once
    val sketches = daySketches.localCheckpoint()
    val days = sketches.select(col("event_date").as("d"))
    sketches
      .select(col("event_date"), col("sk"), explode(sequence(lit(0), lit(27))).as("off"))
      .select(date_add(col("event_date"), col("off")).as("d"), col("sk"), col("off"))
      .join(broadcast(days), "d")
      .groupBy(col("d"))
      .agg(
        round(hll_sketch_estimate(hll_union_agg(when(col("off") === 0, col("sk")))))
          .cast("bigint").as("dau_est"),
        round(hll_sketch_estimate(hll_union_agg(when(col("off") < 7, col("sk")))))
          .cast("bigint").as("wau_est"),
        round(hll_sketch_estimate(hll_union_agg(col("sk"))))
          .cast("bigint").as("mau_est"))
      .withColumnRenamed("d", "event_date")
      .orderBy("event_date")
  }

  /** Count-min-sketch point-frequency mart — the fourth sketch next
    * to HLL (distincts), Greenwald-Khanna (quantiles) and Misra-Gries
    * (top-k): CMS answers "how often did THIS key occur" from
    * fixed-size state with a one-sided guarantee (never under, over
    * by ≤ ε·N with probability ≥ confidence). One map-side-combined
    * aggregation builds the d×w counter grid no matter the row count;
    * the probed keys are scored on the driver against the collected
    * sketch (the sketch IS the query-servable index — the whole point
    * is that the 100 TB table is not touched again per lookup).
    * Rows-only: the spec pins both sides of the CMS guarantee against
    * exact counts. */
  def productFreqCms(spark: SparkSession, dir: String, eps: Double = 0.001,
                     confidence: Double = 0.99,
                     probeKeys: Seq[Int] = (0 until 10)): DataFrame = {
    val bytes = enriched(spark, dir)
      .filter(col("product_k").isNotNull)
      .select(count_min_sketch(col("product_k"), lit(eps), lit(confidence), lit(42)).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    import spark.implicits._
    // N here is the non-null-product row count (the sketch is built on
    // the filtered stream), so the column says so — "total_events"
    // would misread as the unfiltered event count
    probeKeys.map(k => (k, cms.estimateCount(k), cms.totalCount()))
      .toDF("product_k", "est_count", "total_product_events")
  }

  /** Heavy-hitter products via the custom Misra-Gries aggregate
    * (graft.functions.FreqItemsSketch): at most k counters per partial
    * aggregate, merged associatively — the fixed-state alternative to
    * `product_top_n`'s full groupBy when the product universe is too
    * large to shuffle. Counts are lower bounds within N/(k+1) of
    * exact; every product with true share > 1/(k+1) is guaranteed
    * present (spec-pinned against the exact counts). */
  def productHeavyHitters(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    enriched(spark, dir)
      .filter(col("product_k").isNotNull)
      .agg(call_function("freq_items_sketch",
        col("product_k").cast("string"), lit(k)).as("sketch"))
      .select(explode(col("sketch")).as("hh"))
      .select(col("hh.item").as("product_k"), col("hh.est_count"))
  }

  def valuePercentilesApprox(spark: SparkSession, dir: String, accuracy: Int = 10000): DataFrame =
    enriched(spark, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        expr(s"approx_percentile(value, 0.5, $accuracy)").as("p50"),
        expr(s"approx_percentile(value, 0.9, $accuracy)").as("p90"),
        expr(s"approx_percentile(value, 0.99, $accuracy)").as("p99"))
      .orderBy("event_type")

  /** Multi-horizon retention curve (D1/D3/D7) per signup cohort — the
    * generalization of `retentionDaily`. Over the DISTINCT (user, day)
    * activity set each user has at most ONE row per day offset, so
    * every horizon is a plain conditional count (no per-horizon
    * countDistinct → no Expand blow-up): cohort membership is the
    * offset-0 row. Plan: one distinct shuffle, one window on user, one
    * cohort aggregate. */
  def retentionCurve(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
    def retained(h: Int) = count(when(col("day_offset") === h, 1))
    enriched(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select("user_id", "event_date").distinct()
      .withColumn("cohort_date", min("event_date").over(w))
      .withColumn("day_offset", datediff(col("event_date"), col("cohort_date")))
      .groupBy(col("cohort_date"))
      .agg(
        count(when(col("day_offset") === 0, 1)).as("cohort_size"),
        retained(1).as("d1_retained"),
        retained(3).as("d3_retained"),
        retained(7).as("d7_retained"))
      .withColumn("d1_rate",
        col("d1_retained").cast("double") / col("cohort_size").cast("double"))
      .withColumn("d3_rate",
        col("d3_retained").cast("double") / col("cohort_size").cast("double"))
      .withColumn("d7_rate",
        col("d7_retained").cast("double") / col("cohort_size").cast("double"))
      .orderBy("cohort_date")
  }

  val retentionCurveSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS event_date
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |), f AS (
      |  SELECT user_id, MIN(event_date) AS cohort_date FROM ud GROUP BY user_id
      |), j AS (
      |  SELECT ud.user_id, f.cohort_date,
      |    date_diff('day', f.cohort_date, ud.event_date) AS day_offset
      |  FROM ud JOIN f ON ud.user_id = f.user_id
      |)
      |SELECT cohort_date,
      |  COUNT(CASE WHEN day_offset = 0 THEN 1 END) AS cohort_size,
      |  COUNT(CASE WHEN day_offset = 1 THEN 1 END) AS d1_retained,
      |  COUNT(CASE WHEN day_offset = 3 THEN 1 END) AS d3_retained,
      |  COUNT(CASE WHEN day_offset = 7 THEN 1 END) AS d7_retained,
      |  CAST(COUNT(CASE WHEN day_offset = 1 THEN 1 END) AS DOUBLE) / CAST(COUNT(CASE WHEN day_offset = 0 THEN 1 END) AS DOUBLE) AS d1_rate,
      |  CAST(COUNT(CASE WHEN day_offset = 3 THEN 1 END) AS DOUBLE) / CAST(COUNT(CASE WHEN day_offset = 0 THEN 1 END) AS DOUBLE) AS d3_rate,
      |  CAST(COUNT(CASE WHEN day_offset = 7 THEN 1 END) AS DOUBLE) / CAST(COUNT(CASE WHEN day_offset = 0 THEN 1 END) AS DOUBLE) AS d7_rate
      |FROM j GROUP BY cohort_date ORDER BY cohort_date""".stripMargin
}
