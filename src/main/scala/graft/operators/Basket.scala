package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Market-basket affinity: which product pairs land in the same order,
  * with support (share of orders containing both) and lift (observed
  * co-occurrence vs independence). The retail cross-sell staple the
  * reference's product mart stops short of.
  *
  * Scale shape: all-pairs work exists ONLY inside an order — the
  * self-join is co-located on l_orderkey (both sides are the SAME
  * deduped projection, so the exchange is planned once and reused) and
  * an order holds at most a handful of distinct parts, so the blow-up
  * is C(|order|,2), bounded per group like the LSH bucket pair
  * enumeration. Everything after is aggregated-frame algebra: pair
  * counts (|distinct pairs| rows), per-part order counts (|parts|
  * rows), one scalar total joined via a 1-row broadcast cross join.
  * The `p1 < p2` ordering halves the pairs and makes each undirected
  * pair a single canonical row. Final top-N is TakeOrdered (no global
  * sort materialization); ties at the cut break deterministically on
  * (part1, part2).
  *
  * Measured dead end (do not retry): rewriting this as one
  * collect_set-to-order-grain shuffle + a narrow nested-transform pair
  * explode was 3.2x SLOWER at the 10x corpus (36.9 s vs 11.5 s,
  * same-session A/B) — the O(k^2) array-of-struct allocation per order
  * runs interpreted, while the "three-shuffle" self-join stays inside
  * whole-stage codegen and reuses one exchange for both sides. Shuffle
  * count is not the cost model here; codegen coverage is. */
object Basket {

  def basketPairs(spark: SparkSession, dir: String, topN: Int = 100): DataFrame =
    basketPairsFrom(Tables.lineitem(spark, dir), topN)

  def basketPairsFrom(lineitem: DataFrame, topN: Int = 100): DataFrame = {
    val li = lineitem
      .select(col("l_orderkey"), col("l_partkey"))
      .distinct() // the same part twice in one order is one basket membership
    val pairs = li.as("a")
      .join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("part1"), col("b.l_partkey").as("part2"))
      .agg(count(lit(1)).as("pair_orders"))
    val partOrders = li.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("part_orders"))
    val total = li.agg(countDistinct(col("l_orderkey")).as("n_orders"))
    pairs
      .join(broadcast(total))
      .join(partOrders.withColumnRenamed("l_partkey", "pk1")
        .withColumnRenamed("part_orders", "orders1"), col("part1") === col("pk1"))
      .join(partOrders.withColumnRenamed("l_partkey", "pk2")
        .withColumnRenamed("part_orders", "orders2"), col("part2") === col("pk2"))
      .select(col("part1"), col("part2"), col("pair_orders"),
        (col("pair_orders").cast("double") / col("n_orders").cast("double")).as("support"),
        ((col("pair_orders").cast("double") * col("n_orders").cast("double"))
          / (col("orders1").cast("double") * col("orders2").cast("double"))).as("lift"))
      .orderBy(desc("pair_orders"), asc("part1"), asc("part2"))
      .limit(topN)
  }

  /** Item-to-item co-view affinity — the events-side sibling of
    * basketPairs: products viewed by the same user on the same day,
    * ranked by co-view frequency with a Jaccard affinity (the
    * "customers who viewed X also viewed Y" recommender staple).
    *
    * Scale shape: the pair blow-up is bounded TWICE. First, event
    * volume collapses to the distinct (user, day, product) frame.
    * Second — unlike orders, where basket size is naturally small — a
    * crawler or bot can "view" thousands of products in a day, so
    * user-days outside [2, maxProductsPerDay] distinct products are
    * dropped before pair enumeration (the LSH maxBucket guard's
    * moral twin; singletons can't pair, oversized baskets are noise
    * that would dominate the O(k²) work and poison affinity anyway).
    * The self-join is co-located on (user, day) — one exchange,
    * planned once for both sides (see the basketPairs header for why
    * this beats a collect_set+explode rewrite). Product-day counts
    * are computed over the SAME gated frame so the Jaccard
    * denominator is consistent with the pair counts. */
  def coviewPairs(spark: SparkSession, dir: String, topN: Int = 100,
      maxProductsPerDay: Int = 50): DataFrame =
    coviewPairsFrom(EventMarts.enriched(spark, dir), topN, maxProductsPerDay)

  /** The gated co-view BASKET frame — distinct (user, day, product)
    * view rows restricted to user-days with [2, maxProductsPerDay]
    * distinct products — shared by `coviewPairsFrom` AND
    * `Graph.coviewEdgesFrom` (triangle census) so the two co-view
    * surfaces cannot disagree about which baskets exist. The distinct
    * view frame feeds the eligibility gate AND (through the gate
    * join) every downstream consumer — branch-specific pruning would
    * each replan the events scan, so one localCheckpoint = one events
    * scan total (the dedup_substring / rolling_active_users pattern). */
  private[graft] def coviewBasketFrom(e: DataFrame,
      maxProductsPerDay: Int): DataFrame = {
    val up = e.filter(col("event_type") === "view" && col("product_k").isNotNull)
      .select(col("user_id"), col("event_date"), col("product_k"))
      .distinct()
      .localCheckpoint()
    val eligible = up.groupBy(col("user_id"), col("event_date"))
      .agg(count(lit(1)).as("n_products"))
      .filter(col("n_products").between(2, maxProductsPerDay))
      .select("user_id", "event_date")
    up.join(eligible, Seq("user_id", "event_date"))
  }

  def coviewPairsFrom(e: DataFrame, topN: Int = 100,
      maxProductsPerDay: Int = 50): DataFrame = {
    val basket = coviewBasketFrom(e, maxProductsPerDay)
    val pairs = basket.as("a")
      .join(basket.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_date") === col("b.event_date") &&
          col("a.product_k") < col("b.product_k"))
      .groupBy(col("a.product_k").as("product1"), col("b.product_k").as("product2"))
      .agg(count(lit(1)).as("coview_days"))
    val prodDays = basket.groupBy(col("product_k"))
      .agg(count(lit(1)).as("prod_days"))
    pairs
      .join(prodDays.withColumnRenamed("product_k", "pk1")
        .withColumnRenamed("prod_days", "days1"), col("product1") === col("pk1"))
      .join(prodDays.withColumnRenamed("product_k", "pk2")
        .withColumnRenamed("prod_days", "days2"), col("product2") === col("pk2"))
      .select(col("product1"), col("product2"), col("coview_days"),
        (col("coview_days").cast("double")
          / (col("days1") + col("days2") - col("coview_days")).cast("double")).as("jaccard"))
      .orderBy(desc("coview_days"), asc("product1"), asc("product2"))
      .limit(topN)
  }

  val coviewPairsSql: String =
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
      |), pairs AS (
      |  SELECT a.product_k AS product1, b.product_k AS product2, COUNT(*) AS coview_days
      |  FROM basket a JOIN basket b
      |    ON a.user_id = b.user_id AND a.event_date = b.event_date
      |   AND a.product_k < b.product_k
      |  GROUP BY 1, 2
      |), pd AS (
      |  SELECT product_k, COUNT(*) AS prod_days FROM basket GROUP BY 1
      |)
      |SELECT product1, product2, coview_days,
      |  CAST(coview_days AS DOUBLE)
      |    / CAST(d1.prod_days + d2.prod_days - coview_days AS DOUBLE) AS jaccard
      |FROM pairs
      |JOIN pd d1 ON product1 = d1.product_k
      |JOIN pd d2 ON product2 = d2.product_k
      |ORDER BY coview_days DESC, product1, product2
      |LIMIT 100""".stripMargin

  /** Cohort-LTV revenue triangle: customers grouped by FIRST-order
    * month, revenue and active-customer counts laid out by months
    * since acquisition — the table every retention-revenue model and
    * payback-period analysis starts from.
    *
    * Scale shape: one custkey exchange for the first-order window
    * (unordered running min — no sort), then the per-(cohort, offset,
    * customer) pre-aggregate BEFORE the cell rollup, so the distinct
    * customer count is a plain `count(*)` — the de-Expand trick the
    * funnel marts use; a mixed countDistinct+sum here would Expand ×2
    * every order row through the shuffle. Month arithmetic is pure
    * integers (year·12+month), timezone-free; money sums as
    * decimal(18,2) and casts back to double so partial-aggregation
    * order can't move a bit. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame =
    cohortLtvFrom(Tables.orders(spark, dir))

  def cohortLtvFrom(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val midx = year(col("o_orderdate")) * lit(12) + month(col("o_orderdate")) - lit(1)
    val base = orders.filter(col("o_orderdate").isNotNull)
      .select(col("o_custkey"), midx.as("midx"), col("o_totalprice"))
      .withColumn("cohort_idx", min(col("midx")).over(Window.partitionBy("o_custkey")))
    base
      .groupBy(col("cohort_idx"),
        (col("midx") - col("cohort_idx")).cast("long").as("months_since"),
        col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      .groupBy(col("cohort_idx"), col("months_since"))
      .agg(count(lit(1)).as("active_customers"),
        sum(col("rev")).cast("double").as("revenue"))
      .select(
        make_date((col("cohort_idx") / lit(12)).cast("int"),
          (col("cohort_idx") % lit(12) + lit(1)).cast("int"), lit(1)).as("cohort_month"),
        col("months_since"), col("active_customers"), col("revenue"))
      .orderBy("cohort_month", "months_since")
  }

  /** RFM segmentation: customers scored 1–5 on Recency (days since
    * last order, lower = better), Frequency (order count) and Monetary
    * (lifetime spend) against the customer base's own 20/40/60/80th
    * percentiles, rolled up to the 125-cell segment grid with customer
    * counts and revenue — the CRM targeting mart.
    *
    * Scale shape: one custkey shuffle to the customer grain; the
    * percentile thresholds and the reference date are 1-row aggregates
    * broadcast back (the q11/q22 scalar pattern). Exact `percentile`
    * buffers the customer-grain values — `rfmSegmentsApprox` below is
    * the registered 100 TB form, same plan with fixed-state threshold
    * sketches. Money stays decimal until the final
    * cast; scores are integer comparisons against shared-formula
    * interpolated thresholds (Spark `percentile` ≡ DuckDB
    * `quantile_cont`, the value_percentiles-proven equivalence). */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame =
    rfmSegmentsFrom(Tables.orders(spark, dir))

  /** The 100 TB form: the three quintile thresholds are SINGLE-group
    * aggregates over every customer — exact `percentile` funnels the
    * whole customer grain to one reducer's buffer, while
    * `approx_percentile` (Greenwald-Khanna, accuracy 1e-4) reduces
    * fixed-size sketches. Rows-only at the gate; the spec bounds each
    * threshold by the exact values at q ± 0.01 and checks the grid's
    * totals are preserved. The exact form stays registered as the
    * oracle anchor. */
  def rfmSegmentsApprox(spark: SparkSession, dir: String): DataFrame =
    rfmSegmentsFrom(Tables.orders(spark, dir), approx = true)

  /** Customer grain: recency/frequency/monetary per customer. */
  private[graft] def rfmUsers(orders: DataFrame): DataFrame = {
    val o = orders.filter(col("o_orderdate").isNotNull)
    val refDate = o.agg(max(col("o_orderdate")).as("ref_date"))
    o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("monetary_dec"))
      .join(broadcast(refDate))
      .withColumn("recency_days", datediff(col("ref_date"), col("last_order")))
  }

  /** 1-row quintile thresholds (rq/fq/mq arrays) over the customer
    * grain — group-buffering exact sort or fixed-state GK sketch. */
  private[graft] def rfmThresholds(users: DataFrame, approx: Boolean): DataFrame = {
    val qs = "array(0.2D, 0.4D, 0.6D, 0.8D)"
    def pct(v: String, name: String) =
      Pct.col(s"cast($v as double)", qs, approx, castDouble = false).as(name)
    users.agg(pct("recency_days", "rq"), pct("frequency", "fq"),
      pct("monetary_dec", "mq"))
  }

  /** Per-customer RFM scores relative to the GIVEN order frame's own
    * quintiles (period-relative scoring — the helper both the static
    * grid and the transition matrix build on). */
  private[graft] def rfmScoredFrom(orders: DataFrame, approx: Boolean = false): DataFrame = {
    // the customer rollup is deliberately NOT checkpointed for the
    // thresholds leg and the score join to share: measured slower at
    // sf0.1, 10× and 100× (1.21/1.49, 1.80/2.29, 5.76/8.85 s) — the
    // eager materialization serializes what the duplicated legs run
    // as parallel jobs
    val users = rfmUsers(orders)
    val th = rfmThresholds(users, approx)
    def above(v: Column, q: String): Column =
      (1 to 4).map(i => when(v > element_at(col(q), i), 1).otherwise(0))
        .reduce(_ + _)
    users.join(broadcast(th))
      .select(col("o_custkey"), col("monetary_dec"),
        (lit(5) - above(col("recency_days").cast("double"), "rq")).cast("int").as("r_score"),
        (lit(1) + above(col("frequency").cast("double"), "fq")).cast("int").as("f_score"),
        (lit(1) + above(col("monetary_dec").cast("double"), "mq")).cast("int").as("m_score"))
  }

  def rfmSegmentsFrom(orders: DataFrame, approx: Boolean = false): DataFrame =
    rfmScoredFrom(orders, approx)
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("customers"),
        sum(col("monetary_dec")).cast("double").as("segment_revenue"))
      .orderBy("r_score", "f_score", "m_score")

  /** Value tier from the three scores — coarse enough that the
    * transition matrix stays readable (3×3 + the new/churned arms,
    * not 125×125). Shared between the Scala path and the oracle by
    * construction: pure integer comparisons. */
  private def tierCol: Column =
    when(col("r_score") + col("f_score") + col("m_score") >= 12, "high")
      .when(col("r_score") + col("f_score") + col("m_score") >= 8, "mid")
      .otherwise("low")

  /** RFM segment MIGRATION matrix — the dynamics the static
    * `rfm_segments` grid cannot show: split the order history at the
    * midpoint of its date range, score each half against its OWN
    * quintiles (RFM is period-relative by definition — re-using the
    * first half's thresholds would conflate segment drift with
    * corpus growth), and cross-tabulate each customer's value tier
    * across the halves. Customers absent from a half take the `new` /
    * `churned` arms, so the matrix row/column sums conserve the
    * customer census of each half — the spec-pinned invariant.
    *
    * Plan shape: two instantiations of the shared scoring core (each
    * one customer-grain shuffle + 1-row broadcast thresholds), one
    * customer-grain full-outer join, a ≤(4×4)-row rollup and a 1-row
    * broadcast total. Oracle-green: scores are integer comparisons
    * against exact `percentile` thresholds (the rfm_segments
    * machinery), the cutoff is integer date arithmetic, and the one
    * division at the end is IEEE-exact on longs. */
  def rfmTransitions(spark: SparkSession, dir: String): DataFrame =
    rfmTransitionsFrom(Tables.orders(spark, dir))

  def rfmTransitionsFrom(orders: DataFrame): DataFrame = {
    val o = orders.filter(col("o_orderdate").isNotNull)
    val bounds = o.agg(min(col("o_orderdate")).as("d0"), max(col("o_orderdate")).as("d1"))
      .select(expr("date_add(d0, CAST(datediff(d1, d0) DIV 2 AS INT))").as("cutoff"))
    val withCutoff = o.join(broadcast(bounds))
    val early = rfmScoredFrom(withCutoff.filter(col("o_orderdate") <= col("cutoff")))
      .select(col("o_custkey"), tierCol.as("from_tier"))
    val late = rfmScoredFrom(withCutoff.filter(col("o_orderdate") > col("cutoff")))
      .select(col("o_custkey"), tierCol.as("to_tier"))
    val matrix = early.join(late, Seq("o_custkey"), "full_outer")
      .select(coalesce(col("from_tier"), lit("new")).as("from_tier"),
        coalesce(col("to_tier"), lit("churned")).as("to_tier"))
      .groupBy(col("from_tier"), col("to_tier"))
      .agg(count(lit(1)).as("customers"))
    // r15 (guide §2.4): the grand total is a window sum over the
    // ≤(4×4)-row matrix, not a 1-row agg cross-joined back — the agg
    // leg re-derived the ENTIRE upstream (both scored halves, 16
    // orders scans → 32 in the final plan; no ReusedExchange fired).
    // Window vs agg on exact longs: identical values, oracle-green.
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    matrix
      .withColumn("total_customers", sum(col("customers")).over(wAll))
      .select(col("from_tier"), col("to_tier"), col("customers"),
        (col("customers").cast("double") / col("total_customers").cast("double"))
          .as("share"))
      .orderBy("from_tier", "to_tier")
  }

  val rfmTransitionsSql: String = {
    def above(v: String, q: String) = (1 to 4)
      .map(i => s"(CASE WHEN CAST($v AS DOUBLE) > $q[$i] THEN 1 ELSE 0 END)")
      .mkString(" + ")
    def half(src: String) =
      s"""u$src AS (
         |  SELECT o_custkey,
         |    DATE_DIFF('day', CAST(MAX(o_orderdate) AS DATE),
         |      (SELECT CAST(MAX(o_orderdate) AS DATE) FROM $src)) AS recency_days,
         |    COUNT(*) AS frequency,
         |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary_dec
         |  FROM $src GROUP BY o_custkey
         |), t$src AS (
         |  SELECT quantile_cont(CAST(recency_days AS DOUBLE), [0.2, 0.4, 0.6, 0.8]) AS rq,
         |         quantile_cont(CAST(frequency AS DOUBLE), [0.2, 0.4, 0.6, 0.8]) AS fq,
         |         quantile_cont(CAST(monetary_dec AS DOUBLE), [0.2, 0.4, 0.6, 0.8]) AS mq
         |  FROM u$src
         |), tier$src AS (
         |  SELECT o_custkey,
         |    CASE WHEN (5 - (${above("recency_days", "rq")}))
         |            + (1 + (${above("frequency", "fq")}))
         |            + (1 + (${above("monetary_dec", "mq")})) >= 12 THEN 'high'
         |         WHEN (5 - (${above("recency_days", "rq")}))
         |            + (1 + (${above("frequency", "fq")}))
         |            + (1 + (${above("monetary_dec", "mq")})) >= 8 THEN 'mid'
         |         ELSE 'low' END AS tier
         |  FROM u$src, t$src
         |)""".stripMargin
    s"""WITH o0 AS (
       |  SELECT * FROM orders WHERE o_orderdate IS NOT NULL
       |), cut AS (
       |  SELECT MIN(CAST(o_orderdate AS DATE)) +
       |    CAST(DATE_DIFF('day', MIN(CAST(o_orderdate AS DATE)),
       |      MAX(CAST(o_orderdate AS DATE))) // 2 AS INT) AS cutoff
       |  FROM o0
       |), oe AS (
       |  SELECT o0.* FROM o0, cut WHERE CAST(o_orderdate AS DATE) <= cutoff
       |), ol AS (
       |  SELECT o0.* FROM o0, cut WHERE CAST(o_orderdate AS DATE) > cutoff
       |), ${half("oe")},
       |${half("ol")},
       |m AS (
       |  SELECT COALESCE(tieroe.tier, 'new') AS from_tier,
       |    COALESCE(tierol.tier, 'churned') AS to_tier,
       |    CAST(COUNT(*) AS BIGINT) AS customers
       |  FROM tieroe FULL OUTER JOIN tierol USING (o_custkey)
       |  GROUP BY 1, 2
       |)
       |SELECT from_tier, to_tier, customers,
       |  CAST(customers AS DOUBLE) /
       |    CAST((SELECT SUM(customers) FROM m) AS DOUBLE) AS share
       |FROM m ORDER BY from_tier, to_tier""".stripMargin
  }

  val rfmSegmentsSql: String =
    """WITH o AS (
      |  SELECT * FROM orders WHERE o_orderdate IS NOT NULL
      |), u AS (
      |  SELECT o_custkey,
      |    DATE_DIFF('day', CAST(MAX(o_orderdate) AS DATE),
      |      (SELECT CAST(MAX(o_orderdate) AS DATE) FROM o)) AS recency_days,
      |    COUNT(*) AS frequency,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary_dec
      |  FROM o GROUP BY o_custkey
      |), t AS (
      |  SELECT quantile_cont(CAST(recency_days AS DOUBLE), [0.2, 0.4, 0.6, 0.8]) AS rq,
      |         quantile_cont(CAST(frequency AS DOUBLE), [0.2, 0.4, 0.6, 0.8]) AS fq,
      |         quantile_cont(CAST(monetary_dec AS DOUBLE), [0.2, 0.4, 0.6, 0.8]) AS mq
      |  FROM u
      |), scored AS (
      |  SELECT o_custkey, monetary_dec,
      |    CAST(5 - ((CASE WHEN CAST(recency_days AS DOUBLE) > rq[1] THEN 1 ELSE 0 END)
      |            + (CASE WHEN CAST(recency_days AS DOUBLE) > rq[2] THEN 1 ELSE 0 END)
      |            + (CASE WHEN CAST(recency_days AS DOUBLE) > rq[3] THEN 1 ELSE 0 END)
      |            + (CASE WHEN CAST(recency_days AS DOUBLE) > rq[4] THEN 1 ELSE 0 END)) AS INT) AS r_score,
      |    CAST(1 + ((CASE WHEN CAST(frequency AS DOUBLE) > fq[1] THEN 1 ELSE 0 END)
      |            + (CASE WHEN CAST(frequency AS DOUBLE) > fq[2] THEN 1 ELSE 0 END)
      |            + (CASE WHEN CAST(frequency AS DOUBLE) > fq[3] THEN 1 ELSE 0 END)
      |            + (CASE WHEN CAST(frequency AS DOUBLE) > fq[4] THEN 1 ELSE 0 END)) AS INT) AS f_score,
      |    CAST(1 + ((CASE WHEN CAST(monetary_dec AS DOUBLE) > mq[1] THEN 1 ELSE 0 END)
      |            + (CASE WHEN CAST(monetary_dec AS DOUBLE) > mq[2] THEN 1 ELSE 0 END)
      |            + (CASE WHEN CAST(monetary_dec AS DOUBLE) > mq[3] THEN 1 ELSE 0 END)
      |            + (CASE WHEN CAST(monetary_dec AS DOUBLE) > mq[4] THEN 1 ELSE 0 END)) AS INT) AS m_score
      |  FROM u, t
      |)
      |SELECT r_score, f_score, m_score, COUNT(*) AS customers,
      |  CAST(SUM(monetary_dec) AS DOUBLE) AS segment_revenue
      |FROM scored
      |GROUP BY r_score, f_score, m_score
      |ORDER BY r_score, f_score, m_score""".stripMargin

  val cohortLtvSql: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |    EXTRACT(YEAR FROM o_orderdate) * 12 + EXTRACT(MONTH FROM o_orderdate) - 1 AS midx,
      |    o_totalprice
      |  FROM orders WHERE o_orderdate IS NOT NULL
      |), c AS (
      |  SELECT *, MIN(midx) OVER (PARTITION BY o_custkey) AS cohort_idx FROM o
      |), per_cust AS (
      |  SELECT cohort_idx, midx - cohort_idx AS months_since, o_custkey,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM c GROUP BY 1, 2, 3
      |)
      |SELECT make_date(CAST(cohort_idx // 12 AS INT), CAST(cohort_idx % 12 + 1 AS INT), 1) AS cohort_month,
      |  CAST(months_since AS BIGINT) AS months_since,
      |  COUNT(*) AS active_customers,
      |  CAST(SUM(rev) AS DOUBLE) AS revenue
      |FROM per_cust
      |GROUP BY cohort_idx, months_since
      |ORDER BY cohort_month, months_since""".stripMargin

  val basketPairsSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |), pc AS (
      |  SELECT l_partkey, COUNT(*) AS part_orders FROM li GROUP BY l_partkey
      |), tot AS (
      |  SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li
      |), pairs AS (
      |  SELECT a.l_partkey AS part1, b.l_partkey AS part2, COUNT(*) AS pair_orders
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2
      |)
      |SELECT part1, part2, pair_orders,
      |  CAST(pair_orders AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support,
      |  (CAST(pair_orders AS DOUBLE) * CAST(n_orders AS DOUBLE))
      |    / (CAST(p1.part_orders AS DOUBLE) * CAST(p2.part_orders AS DOUBLE)) AS lift
      |FROM pairs
      |CROSS JOIN tot
      |JOIN pc p1 ON part1 = p1.l_partkey
      |JOIN pc p2 ON part2 = p2.l_partkey
      |ORDER BY pair_orders DESC, part1 ASC, part2 ASC
      |LIMIT 100""".stripMargin

  /** Association rules from the order-basket pair frame: directed
    * confidence over the undirected co-occurrence — P(consequent |
    * antecedent) = pair_orders / antecedent_orders, emitted BOTH ways
    * per pair (confidence is asymmetric; lift is shared). The
    * actionable form of basket_pairs ("of orders with A, x% also
    * carry B" is what a recommender threshold reads), with a minimum
    * pair-support floor so one-off coincidences never rank.
    *
    * Scale shape: identical to basket_pairs up to the pair frame
    * (co-located in-order self-join, one exchange both sides), then
    * pure aggregated-frame algebra — the symmetrize union doubles
    * only |pairs| rows; ranking is TakeOrdered. Confidence/lift are
    * single IEEE divisions of exact ints. */
  def basketRules(spark: SparkSession, dir: String, topN: Int = 100,
      minPairOrders: Int = 3): DataFrame =
    basketRulesFrom(Tables.lineitem(spark, dir), topN, minPairOrders)

  def basketRulesFrom(lineitem: DataFrame, topN: Int = 100,
      minPairOrders: Int = 3): DataFrame = {
    val li = lineitem
      .select(col("l_orderkey"), col("l_partkey"))
      .distinct()
      .localCheckpoint() // one scan feeds both self-join sides + counts
    val pairs = li.as("a")
      .join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
      .agg(count(lit(1)).as("pair_orders"))
      .filter(col("pair_orders") >= minPairOrders)
    val partOrders = li.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("part_orders"))
    val total = li.agg(countDistinct(col("l_orderkey")).as("n_orders"))
    val directed = pairs
      .select(col("p1").as("antecedent"), col("p2").as("consequent"), col("pair_orders"))
      .unionByName(pairs
        .select(col("p2").as("antecedent"), col("p1").as("consequent"), col("pair_orders")))
    directed
      .join(broadcast(total))
      .join(partOrders.withColumnRenamed("l_partkey", "ak")
        .withColumnRenamed("part_orders", "antecedent_orders"),
        col("antecedent") === col("ak"))
      .join(partOrders.withColumnRenamed("l_partkey", "ck")
        .withColumnRenamed("part_orders", "consequent_orders"),
        col("consequent") === col("ck"))
      .select(col("antecedent"), col("consequent"), col("pair_orders"),
        col("antecedent_orders"), col("consequent_orders"),
        (col("pair_orders").cast("double") / col("antecedent_orders").cast("double"))
          .as("confidence"),
        ((col("pair_orders").cast("double") * col("n_orders").cast("double"))
          / (col("antecedent_orders").cast("double") * col("consequent_orders").cast("double")))
          .as("lift"))
      .orderBy(desc("confidence"), desc("pair_orders"), asc("antecedent"), asc("consequent"))
      .limit(topN)
  }

  val basketRulesSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |), pairs AS (
      |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS pair_orders
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= 3
      |), po AS (
      |  SELECT l_partkey, COUNT(*) AS part_orders FROM li GROUP BY 1
      |), tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
      |directed AS (
      |  SELECT p1 AS antecedent, p2 AS consequent, pair_orders FROM pairs
      |  UNION ALL
      |  SELECT p2 AS antecedent, p1 AS consequent, pair_orders FROM pairs
      |)
      |SELECT antecedent, consequent, pair_orders,
      |  a.part_orders AS antecedent_orders, c.part_orders AS consequent_orders,
      |  CAST(pair_orders AS DOUBLE) / CAST(a.part_orders AS DOUBLE) AS confidence,
      |  CAST(pair_orders AS DOUBLE) * CAST(n_orders AS DOUBLE)
      |    / (CAST(a.part_orders AS DOUBLE) * CAST(c.part_orders AS DOUBLE)) AS lift
      |FROM directed
      |JOIN po a ON antecedent = a.l_partkey
      |JOIN po c ON consequent = c.l_partkey
      |CROSS JOIN tot
      |ORDER BY confidence DESC, pair_orders DESC, antecedent ASC, consequent ASC
      |LIMIT 100""".stripMargin

  /** Item-to-item collaborative filtering: for every product, its
    * top-k nearest neighbors by COSINE over the binary user-purchase
    * matrix (cooc/√(c_i·c_j)) — the "customers who bought X also
    * bought Y" scorer proper, normalizing away item popularity where
    * coviewPairs' Jaccard penalizes it and basketPairs' lift measures
    * departure from independence. Purchase-based (all-time user-item
    * matrix), not view-day based.
    *
    * Scale shape: identical bounds to coviewPairs — the distinct
    * (user, product) matrix collapses event volume first; users
    * outside [2, maxItemsPerUser] distinct purchased products are
    * gated out before the pair self-join (singletons can't pair,
    * whale/bot accounts would dominate the O(k²) in-user work); the
    * self-join is co-located on user_id with one exchange planned for
    * both sides. Item counts come from the SAME gated frame so the
    * cosine denominator is consistent. The per-item top-k ranks the
    * SYMMETRIZED pair frame (each undirected pair contributes to both
    * endpoints' lists) — aggregated grain, 2×|pairs| rows, one
    * product-keyed window. cooc·√-arithmetic is exact-int → single
    * IEEE ops, so the oracle hashes exactly. */
  def itemCfNeighbors(spark: SparkSession, dir: String, k: Int = 5,
      maxItemsPerUser: Int = 50): DataFrame =
    itemCfNeighborsFrom(EventMarts.enriched(spark, dir), k, maxItemsPerUser)

  def itemCfNeighborsFrom(e: DataFrame, k: Int = 5,
      maxItemsPerUser: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ui = e.filter(col("event_type") === "purchase" && col("product_k").isNotNull)
      .select(col("user_id"), col("product_k"))
      .distinct()
      .localCheckpoint() // one events scan feeds gate, both join sides, counts
    val eligible = ui.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_items"))
      .filter(col("n_items").between(2, maxItemsPerUser))
      .select("user_id")
    val basket = ui.join(eligible, Seq("user_id"))
    val pairs = basket.as("a")
      .join(basket.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.product_k") < col("b.product_k"))
      .groupBy(col("a.product_k").as("p1"), col("b.product_k").as("p2"))
      .agg(count(lit(1)).as("cooc_users"))
    val itemUsers = basket.groupBy(col("product_k"))
      .agg(count(lit(1)).as("item_users"))
    // symmetrize so each endpoint ranks its own neighbor list
    val sym = pairs.select(col("p1").as("product_k"), col("p2").as("neighbor_k"), col("cooc_users"))
      .unionByName(pairs.select(col("p2").as("product_k"), col("p1").as("neighbor_k"), col("cooc_users")))
    val w = Window.partitionBy("product_k").orderBy(desc("cosine"), asc("neighbor_k"))
    sym
      .join(itemUsers.withColumnRenamed("product_k", "pk").withColumnRenamed("item_users", "users_a"),
        col("product_k") === col("pk"))
      .join(itemUsers.withColumnRenamed("product_k", "nk").withColumnRenamed("item_users", "users_b"),
        col("neighbor_k") === col("nk"))
      .withColumn("cosine",
        col("cooc_users").cast("double") /
          sqrt((col("users_a") * col("users_b")).cast("double")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("product_k"), col("neighbor_k"), col("cooc_users"),
        col("users_a"), col("users_b"), col("cosine"), col("rank"))
      .orderBy("product_k", "rank")
  }

  val itemCfNeighborsSql: String =
    """WITH ui AS (
      |  SELECT DISTINCT user_id, CAST(json_extract_string(props, '$.k') AS INT) AS product_k
      |  FROM events
      |  WHERE event_type = 'purchase' AND json_extract_string(props, '$.k') IS NOT NULL
      |), eligible AS (
      |  SELECT user_id FROM ui GROUP BY user_id HAVING COUNT(*) BETWEEN 2 AND 50
      |), basket AS (
      |  SELECT ui.* FROM ui JOIN eligible USING (user_id)
      |), pairs AS (
      |  SELECT a.product_k AS p1, b.product_k AS p2, COUNT(*) AS cooc_users
      |  FROM basket a JOIN basket b
      |    ON a.user_id = b.user_id AND a.product_k < b.product_k
      |  GROUP BY 1, 2
      |), iu AS (
      |  SELECT product_k, COUNT(*) AS item_users FROM basket GROUP BY 1
      |), sym AS (
      |  SELECT p1 AS product_k, p2 AS neighbor_k, cooc_users FROM pairs
      |  UNION ALL
      |  SELECT p2 AS product_k, p1 AS neighbor_k, cooc_users FROM pairs
      |)
      |SELECT product_k, neighbor_k, cooc_users, users_a, users_b, cosine,
      |  CAST(rank AS INT) AS rank
      |FROM (
      |  SELECT sym.product_k, sym.neighbor_k, sym.cooc_users,
      |    a.item_users AS users_a, b.item_users AS users_b,
      |    CAST(sym.cooc_users AS DOUBLE)
      |      / sqrt(CAST(a.item_users * b.item_users AS DOUBLE)) AS cosine,
      |    ROW_NUMBER() OVER (PARTITION BY sym.product_k
      |      ORDER BY CAST(sym.cooc_users AS DOUBLE)
      |        / sqrt(CAST(a.item_users * b.item_users AS DOUBLE)) DESC,
      |        sym.neighbor_k ASC) AS rank
      |  FROM sym
      |  JOIN iu a ON sym.product_k = a.product_k
      |  JOIN iu b ON sym.neighbor_k = b.product_k
      |) q WHERE rank <= 5
      |ORDER BY product_k, rank""".stripMargin
}
