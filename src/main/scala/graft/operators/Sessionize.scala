package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.operators.EventMarts.enriched

/** Gap-based sessionization + session sequence analysis.
  *
  * Reference: spark_batch_processor.compute_session_sequences
  * (/root/reference/scripts/spark_batch_processor.py:266-324) — the
  * testdata has no session_id, so sessions are derived with the classic
  * lag + cumulative-sum pattern: a new session starts after a
  * `GapSeconds` silence per user.
  *
  * Two sessionize forms feed every session query: the plain
  * [[sessionized]] (one user_id exchange) and the segmented
  * [[sessionizedBucketed]] (no per-user window; safe for a hot user).
  * Both emit the same (user_id, session_idx) numbering plus `bucket`.
  * Each query has ONE consumer over either base; its `_bucketed` entry
  * point is that consumer over the segmented base. That is sound
  * because Spark plans the consumers' aggregates (count / min / max /
  * collect_list, and countDistinct's dedup on (user_id, session_idx,
  * event_id)) as partial aggregates below the session-grain exchange
  * of the segmented base, and adds no exchange over the plain base.
  * Pairs (transitions / markov / surprise) and funnel keep two
  * consumers: their plain consumer is a window over a whole session.
  *
  * Sequences are HARD-CAPPED at `MaxSeqEvents` events: the
  * `collect_list` aggregates `when(rank <= cap, …)` so the aggregation
  * BUFFER is bounded, not just the output row — a bot user with a
  * multi-million-event "session" costs `MaxSeqEvents` structs of state
  * per bucket, with the tail surfaced as `overflow_events`.
  */
object Sessionize {

  val GapSeconds = 1800

  /** Max events rendered into `event_sequence`; the rest are counted in
    * `overflow_events`. Bounds both the aggregation state and the
    * output row width against pathological single-user sessions. */
  val MaxSeqEvents = 100

  /** Bucket width of the segmented sessionize and of the `bucket`
    * column both forms emit: one day. Wider buckets mean fewer boundary
    * merges, narrower ones more spread for a hot user. */
  val BucketSeconds = 86400L
  // the segmented form orders present buckets only: an empty bucket
  // between two events must imply a gap > GapSeconds
  require(BucketSeconds > GapSeconds, "BucketSeconds must exceed GapSeconds")

  /** Hot-key ratio (top user's rows over the mean) at which
    * [[sessionSequencesAuto]] and the backfill census take the segmented
    * base. Higher than a join's 4: the segmented path costs an extra
    * key-dimension window and a co-partitioned join, worth paying only
    * for a real bot or sentinel, not mild behavioral imbalance. */
  val ArmThreshold = 16.0

  /** The columns the session queries carry through sessionize. */
  private val SessionCols = Seq("user_id", "event_id", "event_type", "event_epoch")

  private def bucketCol = floor(col("event_epoch") / BucketSeconds).as("bucket")

  /** `e` gap-numbered into `idx` along `w` (ordered by (event_epoch,
    * event_id)): a row opens a session when its previous row in `w` is
    * absent or more than GapSeconds earlier. */
  private def gapNumbered(e: DataFrame, w: WindowSpec, idx: String): DataFrame =
    e.withColumn("prev_epoch", lag("event_epoch", 1).over(w))
      .withColumn("is_new",
        when(col("prev_epoch").isNull || col("event_epoch") - col("prev_epoch") > GapSeconds, 1)
          .otherwise(0))
      .withColumn(idx,
        sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /** Plain sessionize: `cols` (which must include user_id, event_id and
    * event_epoch) + bucket + session_idx. One hash partitioning on
    * user_id; every downstream window or groupBy keyed on (user_id,
    * session_idx[, bucket]) is satisfied by the subset rule and adds
    * only a partition-local sort. `bucket` is derived after the
    * exchange, so it is never shuffled. */
  private[graft] def sessionized(e: DataFrame, cols: Seq[String] = SessionCols): DataFrame =
    gapNumbered(e.select(cols.map(col): _*),
        Window.partitionBy("user_id").orderBy("event_epoch", "event_id"), "session_idx")
      .select(cols.map(col) :+ bucketCol :+ col("session_idx"): _*)

  /** Segmented sessionize — the same rows and (user_id, session_idx)
    * assignment as [[sessionized]], computed without ever funneling one
    * user's full history through one task. The plain path's window
    * partitions by user_id, so a bot/sentinel user with 10^8 events is
    * a straggler task no salt can fix (salting a WINDOW would break
    * the lag semantics; `Skew.saltedJoin` only treats joins):
    *
    *  1. sessionize LOCALLY within (user, bucket) — the hot user's
    *     years of traffic now spread over #buckets tasks;
    *  2. per (user, bucket) boundary frame (first/last epoch, local
    *     session count) — KEY-dimension, ≤ active user-days rows; a
    *     lag over it decides which bucket-initial sessions MERGE into
    *     the previous bucket's last session (real epoch gap ≤
    *     GapSeconds — empty buckets in between imply a gap > bucket >
    *     gap threshold, so ordering by present buckets is sound);
    *  3. global idx = base(b) + local_idx − merge(b), where base is
    *     the running sum of post-merge session counts of earlier
    *     buckets — joined back on (user, bucket), co-partitioned with
    *     step 1's exchange (subset rule: no new shuffle on the fact).
    *
    * Exactness: merge uses the same `> GapSeconds` strictness as
    * `is_new`, ties break on (epoch, event_id) in both paths, and the
    * numbering telescopes to the plain cumsum — pinned by the
    * planted-bot equivalence spec. */
  private[graft] def sessionizedBucketed(e: DataFrame,
      cols: Seq[String] = SessionCols): DataFrame = {
    val local = gapNumbered(e.select(cols.map(col) :+ bucketCol: _*),
      Window.partitionBy("user_id", "bucket").orderBy("event_epoch", "event_id"), "local_idx")
    // boundary resolution on the tiny (user, bucket) frame
    val wUser = Window.partitionBy("user_id").orderBy("bucket")
    val resolved = local.groupBy("user_id", "bucket")
      .agg(min("event_epoch").as("first_epoch"),
        max("event_epoch").as("last_epoch"),
        max("local_idx").as("n_local"))
      .withColumn("prev_last", lag("last_epoch", 1).over(wUser))
      .withColumn("merge",
        when(col("prev_last").isNotNull &&
          col("first_epoch") - col("prev_last") <= GapSeconds, 1L).otherwise(0L))
      .withColumn("base_idx",
        coalesce(sum(col("n_local") - col("merge"))
          .over(wUser.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("user_id", "bucket", "base_idx", "merge")
    local.join(resolved, Seq("user_id", "bucket"))
      .withColumn("session_idx", col("base_idx") + col("local_idx") - col("merge"))
      .select(cols.map(col) :+ col("bucket") :+ col("session_idx"): _*)
  }

  // ---- dir-grain session memo ----
  // Two shared intermediates rebuild per call at dir grain: the
  // session-sequences frame (feeds session_sequences AND
  // session_patterns' rollup) and the per-session stats frame (feeds
  // session_daily, session_concurrency, error_impact). Both are
  // deterministic (window tiebreaks on (epoch, event_id), exact
  // longs), so one session builds each ONCE, localCheckpointed.
  // `*From` forms stay uncached.
  private[graft] val sessionMemo = new graft.Caches.Memo[DataFrame](8, Seq(_))

  private def sessionFrame(spark: SparkSession, dir: String, kind: String)
      (build: => DataFrame): DataFrame =
    sessionMemo(graft.Caches.dirKey(spark,
      kind +: dir +: graft.Tables.events(spark, dir).inputFiles.sorted)) {
      build.localCheckpoint()
    }

  private[graft] def sessionStats(spark: SparkSession, dir: String): DataFrame =
    sessionFrame(spark, dir, "stats")(sessionStatsFrom(enriched(spark, dir)))

  /** One row per (user, session): ordered event sequence + stats. */
  def sessionSequences(spark: SparkSession, dir: String): DataFrame =
    sessionFrame(spark, dir, "sequences")(
      sessionSequencesFrom(enriched(spark, dir)))

  /** `sessionSequences` over the segmented base — same consumer, same
    * oracle SQL. */
  def sessionSequencesBucketed(spark: SparkSession, dir: String): DataFrame =
    sessionSequencesBucketedFrom(enriched(spark, dir))

  def sessionSequencesFrom(e: DataFrame): DataFrame = sequencesOf(sessionized(e))

  def sessionSequencesBucketedFrom(e: DataFrame): DataFrame =
    sequencesOf(sessionizedBucketed(e))

  /** The census-armed choice between the two: census user_id with
    * `Skew.measure` (bounded — one map-combined count + a
    * TakeOrdered(1), memoized per frame) and take the segmented base
    * only past [[ArmThreshold]]. `preplanned` skips the census with a
    * plan the caller measured (the backfill-scope carry). Returns the
    * plan so callers log what armed. */
  def sessionSequencesAuto(e: DataFrame,
      preplanned: Option[Skew.SkewPlan] = None): (DataFrame, Skew.SkewPlan) = {
    val plan = preplanned.getOrElse(Skew.measure(e, "user_id", ArmThreshold))
    (if (plan.armed) sessionSequencesBucketedFrom(e) else sessionSequencesFrom(e), plan)
  }

  /** One row per (user, session): the first `MaxSeqEvents` event types
    * in (epoch, event_id) order + stats. The rank runs within (user,
    * session, bucket), a clustering either base already provides, and
    * each bucket contributes its first `MaxSeqEvents` structs; sorting
    * the collected structs and slicing recovers the session's global
    * prefix exactly (an event in the session's first 100 is in its
    * bucket's first 100). On the segmented base the collect_list
    * combines map-side, so a years-long bot session costs ~100 structs
    * per day, not its raw event count. */
  private def sequencesOf(s: DataFrame): DataFrame = {
    val wRank = Window.partitionBy("user_id", "session_idx", "bucket")
      .orderBy("event_epoch", "event_id")
    s.withColumn("r", row_number().over(wRank))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        array_join(
          transform(
            slice(array_sort(collect_list(when(col("r") <= MaxSeqEvents,
              struct(col("event_epoch"), col("event_id"), col("event_type"))))),
              1, MaxSeqEvents),
            x => x.getField("event_type")),
          " -> ").as("event_sequence"),
        count(lit(1)).as("event_count"),
        min(col("event_epoch")).as("session_start_epoch"),
        max(col("event_epoch")).as("session_end_epoch"),
        (max(col("event_epoch")) - min(col("event_epoch"))).as("duration_seconds"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("has_purchase"),
        greatest(count(lit(1)) - lit(MaxSeqEvents), lit(0L)).as("overflow_events"))
      .orderBy("user_id", "session_idx")
  }

  val sessionSequencesSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS event_epoch,
      |    CASE WHEN LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w IS NULL
      |           OR CAST(FLOOR(EPOCH(ts)) AS BIGINT) - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w > 1800
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT), event_id)
      |), sessioned AS (
      |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY event_epoch, event_id
      |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |  FROM flagged
      |), ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_idx
      |                               ORDER BY event_epoch, event_id) AS seq_rank
      |  FROM sessioned
      |)
      |SELECT user_id, session_idx,
      |  STRING_AGG(event_type, ' -> ' ORDER BY event_epoch, event_id)
      |    FILTER (WHERE seq_rank <= 100) AS event_sequence,
      |  COUNT(*) AS event_count,
      |  MIN(event_epoch) AS session_start_epoch,
      |  MAX(event_epoch) AS session_end_epoch,
      |  MAX(event_epoch) - MIN(event_epoch) AS duration_seconds,
      |  MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase,
      |  GREATEST(COUNT(*) - 100, 0) AS overflow_events
      |FROM ranked
      |GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  /** Entry/exit census: where sessions START and where they END, by
    * (first event_type, last event_type) — the landing/exit-page view
    * of the session corpus, with per-cell session count, mean length
    * and purchase rate. An (entry='view', exit='error') cell with a
    * high count is the classic funnel-breakage signature that
    * `error_impact` (session grain) doesn't localize to an entry
    * point. */
  def sessionEntryExit(spark: SparkSession, dir: String): DataFrame =
    sessionEntryExitFrom(enriched(spark, dir))

  def sessionEntryExitFrom(e: DataFrame): DataFrame = entryExitOf(sessionized(e))

  /** session_entry_exit over the segmented base — same consumer, same
    * oracle. */
  def sessionEntryExitBucketed(spark: SparkSession, dir: String): DataFrame =
    sessionEntryExitBucketedFrom(enriched(spark, dir))

  def sessionEntryExitBucketedFrom(e: DataFrame): DataFrame =
    entryExitOf(sessionizedBucketed(e))

  /** The per-session entry/exit picks are ALGEBRAIC min/max over
    * (epoch, event_id, type) structs ((epoch, id) is unique per user,
    * so struct ordering is total and tie-free) — no row_number window
    * over a session, so they combine map-side over either base. The
    * census is a map-combined rollup to ≤ |event_types|² rows. */
  private def entryExitOf(s: DataFrame): DataFrame = {
    val ev = struct(col("event_epoch"), col("event_id"), col("event_type"))
    s.groupBy(col("user_id"), col("session_idx"))
      .agg(min(ev).as("fe"), max(ev).as("le"),
        count(lit(1)).as("n_events"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("has_p"))
      .groupBy(col("fe.event_type").as("entry_type"), col("le.event_type").as("exit_type"))
      .agg(
        count(lit(1)).as("n_sessions"),
        avg(col("n_events").cast("double")).as("avg_events"),
        (sum(col("has_p")).cast("double") / count(lit(1)).cast("double"))
          .as("purchase_rate"))
      .orderBy("entry_type", "exit_type")
  }

  /** Same session CTE as `sessionSequencesSql`; entry/exit picked by
    * symmetric row_numbers so ties break identically to the Scala
    * path ((epoch, event_id) is unique per user). */
  val sessionEntryExitSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS event_epoch,
      |    CASE WHEN LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w IS NULL
      |           OR CAST(FLOOR(EPOCH(ts)) AS BIGINT) - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w > 1800
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT), event_id)
      |), sessioned AS (
      |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY event_epoch, event_id
      |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |  FROM flagged
      |), ranked AS (
      |  SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, session_idx
      |                       ORDER BY event_epoch, event_id) AS rn_a,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, session_idx
      |                       ORDER BY event_epoch DESC, event_id DESC) AS rn_d
      |  FROM sessioned
      |), sessions AS (
      |  SELECT user_id, session_idx,
      |    MAX(CASE WHEN rn_a = 1 THEN event_type END) AS entry_type,
      |    MAX(CASE WHEN rn_d = 1 THEN event_type END) AS exit_type,
      |    COUNT(*) AS n_events,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_p
      |  FROM ranked GROUP BY user_id, session_idx
      |)
      |SELECT entry_type, exit_type, CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |  AVG(CAST(n_events AS DOUBLE)) AS avg_events,
      |  CAST(SUM(has_p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS purchase_rate
      |FROM sessions GROUP BY entry_type, exit_type
      |ORDER BY entry_type, exit_type""".stripMargin

  /** Frequency/duration/conversion per behavioral pattern.
    * Reference: spark_batch_processor.py:313-322 (pattern_summary). */
  def sessionPatterns(spark: SparkSession, dir: String): DataFrame =
    patternsRollup(sessionSequences(spark, dir))

  /** session_patterns over the segmented base's session rows — same
    * oracle. */
  def sessionPatternsBucketed(spark: SparkSession, dir: String): DataFrame =
    sessionPatternsBucketedFrom(enriched(spark, dir))

  def sessionPatternsFrom(e: DataFrame): DataFrame =
    patternsRollup(sessionSequencesFrom(e))

  def sessionPatternsBucketedFrom(e: DataFrame): DataFrame =
    patternsRollup(sessionSequencesBucketedFrom(e))

  private def patternsRollup(sessions: DataFrame): DataFrame =
    sessions
      .groupBy(col("event_sequence"))
      .agg(
        count(lit(1)).as("session_count"),
        (sum(col("duration_seconds")).cast("double") / count(lit(1))).as("avg_duration_sec"),
        (sum(col("has_purchase")).cast("double") / count(lit(1)) * lit(100)).as("purchase_rate"))
      .orderBy(desc("session_count"), asc("event_sequence"))

  val sessionPatternsSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS event_epoch,
      |    CASE WHEN LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w IS NULL
      |           OR CAST(FLOOR(EPOCH(ts)) AS BIGINT) - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w > 1800
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT), event_id)
      |), sessioned AS (
      |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY event_epoch, event_id
      |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM flagged
      |), ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_idx
      |                               ORDER BY event_epoch, event_id) AS seq_rank
      |  FROM sessioned
      |), sessions AS (
      |  SELECT user_id, session_idx,
      |    STRING_AGG(event_type, ' -> ' ORDER BY event_epoch, event_id)
      |      FILTER (WHERE seq_rank <= 100) AS event_sequence,
      |    MAX(event_epoch) - MIN(event_epoch) AS duration_seconds,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
      |  FROM ranked GROUP BY user_id, session_idx
      |)
      |SELECT event_sequence,
      |  COUNT(*) AS session_count,
      |  CAST(SUM(duration_seconds) AS DOUBLE) / COUNT(*) AS avg_duration_sec,
      |  CAST(SUM(has_purchase) AS DOUBLE) / COUNT(*) * 100 AS purchase_rate
      |FROM sessions
      |GROUP BY event_sequence
      |ORDER BY session_count DESC, event_sequence ASC""".stripMargin

  /** Shared oracle CTE prefix: gap-sessionized event rows (the SQL
    * mirror of `sessionized`). */
  private val sessionizedSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS event_epoch,
      |    CASE WHEN LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w IS NULL
      |           OR CAST(FLOOR(EPOCH(ts)) AS BIGINT) - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w > 1800
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT), event_id)
      |), sessioned AS (
      |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY event_epoch, event_id
      |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM flagged
      |)""".stripMargin

  /** Within-session event-type transition matrix (first-order Markov):
    * how traffic flows step-to-step — `view -> click` vs `view ->
    * error` — with per-origin transition rates. The micro-structure
    * complement to the day-grain step funnel (funnel_conversion).
    *
    * Scale shape: consecutive pairs come from ONE `lead` window whose
    * (user_id, session_idx) clustering the sessionize exchange already
    * satisfies (local sort only); the pair rollup shuffles only
    * (from_type, to_type) partial counts — at most |types|² groups
    * regardless of event volume — and the rate window runs over that
    * tiny aggregated frame. */
  def sessionTransitions(spark: SparkSession, dir: String): DataFrame =
    sessionTransitionsFrom(enriched(spark, dir))

  /** Within-session consecutive (from_type, to_type) pairs at
    * (user_id, session_idx) grain — the shared input of
    * session_transitions / markov_next_event / session_surprise. Pairs
    * keep two forms: this `lead` is a window over a whole session, so
    * over the segmented base it would move a hot session's raw rows to
    * one task. */
  private[graft] def sessionPairsFrom(e: DataFrame): DataFrame = {
    val wSess = Window.partitionBy("user_id", "session_idx")
      .orderBy("event_epoch", "event_id")
    sessionized(e)
      .withColumn("to_type", lead("event_type", 1).over(wSess))
      .filter(col("to_type").isNotNull)
      .select(col("user_id"), col("session_idx"),
        col("event_type").as("from_type"), col("to_type"))
  }

  /** Hot-key-safe twin of [[sessionPairsFrom]] — the SAME pair multiset
    * without a per-user (or per-session) window anywhere:
    *
    *  - WITHIN each (user, bucket): a `lead` scoped to (user, bucket,
    *    session) — satisfied by the bucketed base's (user, bucket)
    *    exchange, local sort only, partition height bounded by the
    *    bucket, not the user history;
    *  - ACROSS buckets: per (user, bucket) first/last event rows (an
    *    algebraic min/max of (epoch, event_id)-ordered structs), lagged
    *    on the KEY-dimension (user, bucket) frame — the pair
    *    (last of b, first of b') is consecutive by construction (b' is
    *    the next present bucket) and belongs in the output iff both
    *    ends carry the same global session_idx.
    *
    * A session that never crosses a bucket boundary contributes only
    * local pairs; one that does contributes exactly one boundary pair
    * per crossing — the union telescopes to the plain path's pair list
    * (pinned by the torture-set spec and the shared oracle hashes). */
  private[graft] def sessionPairsBucketedFrom(e: DataFrame): DataFrame = {
    val s = sessionizedBucketed(e)
    val wLoc = Window.partitionBy("user_id", "bucket", "session_idx")
      .orderBy("event_epoch", "event_id")
    val local = s
      .withColumn("to_type", lead("event_type", 1).over(wLoc))
      .filter(col("to_type").isNotNull)
      .select(col("user_id"), col("session_idx"),
        col("event_type").as("from_type"), col("to_type"))
    val ev = struct(col("event_epoch"), col("event_id"),
      col("event_type"), col("session_idx"))
    val bounds = s.groupBy(col("user_id"), col("bucket"))
      .agg(min(ev).as("first_ev"), max(ev).as("last_ev"))
    val wU = Window.partitionBy("user_id").orderBy("bucket")
    val boundary = bounds
      .withColumn("prev_last", lag("last_ev", 1).over(wU))
      .filter(col("prev_last").isNotNull &&
        col("prev_last.session_idx") === col("first_ev.session_idx"))
      .select(col("user_id"), col("first_ev.session_idx").as("session_idx"),
        col("prev_last.event_type").as("from_type"),
        col("first_ev.event_type").as("to_type"))
    local.unionByName(boundary)
  }

  def sessionTransitionsFrom(e: DataFrame): DataFrame =
    transitionsRollup(sessionPairsFrom(e))

  /** session_transitions over the segmented pairs — same oracle. */
  def sessionTransitionsBucketed(spark: SparkSession, dir: String): DataFrame =
    sessionTransitionsBucketedFrom(enriched(spark, dir))

  def sessionTransitionsBucketedFrom(e: DataFrame): DataFrame =
    transitionsRollup(sessionPairsBucketedFrom(e))

  private def transitionsRollup(pairs: DataFrame): DataFrame =
    pairs
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("transition_count"))
      .withColumn("transition_rate",
        col("transition_count").cast("double")
          / sum(col("transition_count")).over(Window.partitionBy("from_type")).cast("double")
          * lit(100))
      .orderBy("from_type", "to_type")

  val sessionTransitionsSql: String = sessionizedSql +
    """, pairs AS (
      |  SELECT event_type AS from_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id, session_idx
      |                           ORDER BY event_epoch, event_id) AS to_type
      |  FROM sessioned
      |)
      |SELECT from_type, to_type, COUNT(*) AS transition_count,
      |  CAST(COUNT(*) AS DOUBLE)
      |    / CAST(SUM(COUNT(*)) OVER (PARTITION BY from_type) AS DOUBLE) * 100 AS transition_rate
      |FROM pairs WHERE to_type IS NOT NULL
      |GROUP BY from_type, to_type
      |ORDER BY from_type, to_type""".stripMargin

  /** Daily session-grain mart (the GA-style headline table): sessions
    * per day, average depth and duration, bounce rate (single-event
    * sessions) and session conversion rate. Day grain is the SESSION
    * START day (a session straddling midnight counts once, on the day
    * it began). Distinct from mart_user_daily (user grain) and
    * funnel_conversion (step grain, day-windowed).
    *
    * Scale shape: the per-session rollup rides the sessionize
    * exchange (groupBy (user_id, session_idx) is subset-satisfied —
    * no second shuffle of event rows); only per-session stat rows
    * reach the final day rollup. The day is derived with pure integer
    * epoch arithmetic (epoch // 86400), timezone-free on both the
    * Spark and oracle sides. */
  def sessionDaily(spark: SparkSession, dir: String): DataFrame =
    sessionDailyRollup(sessionStats(spark, dir))

  /** Per-session stat frame shared by session_daily / error_impact /
    * session_concurrency: (user_id, session_idx, event_count,
    * session_start_epoch, session_end_epoch, has_purchase, has_error).
    * One groupBy (user_id, session_idx): over the plain base it rides
    * the sessionize exchange (subset rule); over the segmented base its
    * count/min/max combine map-side below the session-grain exchange,
    * so a bot's 10^8-event session crosses the wire as partial rows.
    * Unused columns are pruned by Catalyst per consumer. */
  private[graft] def sessionStatsFrom(e: DataFrame): DataFrame = statsOf(sessionized(e))

  private def statsOf(s: DataFrame): DataFrame =
    s.groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("event_count"),
        min(col("event_epoch")).as("session_start_epoch"),
        max(col("event_epoch")).as("session_end_epoch"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("has_purchase"),
        max(when(col("event_type") === "error", 1).otherwise(0)).as("has_error"))

  def sessionDailyFrom(e: DataFrame): DataFrame =
    sessionDailyRollup(sessionStatsFrom(e))

  /** session_daily over the segmented base — same oracle SQL; the
    * equivalence is hash-checked by the gate, not claimed. */
  def sessionDailyBucketed(spark: SparkSession, dir: String): DataFrame =
    sessionDailyBucketedFrom(enriched(spark, dir))

  def sessionDailyBucketedFrom(e: DataFrame): DataFrame =
    sessionDailyRollup(statsOf(sessionizedBucketed(e)))

  private def sessionDailyRollup(sessions: DataFrame): DataFrame = {
    sessions
      .withColumn("duration_seconds",
        col("session_end_epoch") - col("session_start_epoch"))
      .groupBy(date_add(lit("1970-01-01").cast("date"),
        (col("session_start_epoch") / lit(86400)).cast("int")).as("session_date"))
      .agg(
        count(lit(1)).as("sessions"),
        (sum(col("event_count")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_events_per_session"),
        (sum(col("duration_seconds")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_duration_sec"),
        (sum(when(col("event_count") === 1, 1).otherwise(0)).cast("double")
          / count(lit(1)).cast("double") * lit(100)).as("bounce_rate"),
        (sum(col("has_purchase")).cast("double") / count(lit(1)).cast("double") * lit(100))
          .as("conversion_rate"))
      .orderBy("session_date")
  }

  /** Peak concurrent sessions per day — the capacity-planning curve
    * ("how many sessions were live at once"). A session is active on
    * the inclusive epoch range [first event, last event]; concurrency
    * is evaluated after each boundary event with starts ordered before
    * ends at the same epoch (a session ending at t and one starting at
    * t overlap at t). Days with no session boundary carry concurrency
    * silently and emit no row.
    *
    * Scale shape — a DISTRIBUTED sweep-line, not a global window:
    * the classic running `sum(±1) over (order by epoch)` would move
    * every boundary row to one partition. Instead boundary deltas get
    * prefix sums WITHIN hour buckets (partition-parallel across
    * buckets), buckets collapse to one (net, peak) row each, and the
    * only unpartitioned window runs over that |hours| aggregate frame
    * — the same two-level decomposition a prefix-scan uses. Per-day
    * peak is max(bucket carry + bucket-local peak) vs the day's own
    * carry-in (a day whose first boundary is an END peaked before it).
    */
  def sessionConcurrency(spark: SparkSession, dir: String): DataFrame =
    concurrencyRollup(sessionStats(spark, dir))

  def sessionConcurrencyFrom(e: DataFrame): DataFrame =
    concurrencyRollup(sessionStatsFrom(e))

  /** session_concurrency over the segmented base — same oracle SQL.
    * The sweep-line itself is key-dimension (session boundary rows,
    * hour-bucketed prefix sums). */
  def sessionConcurrencyBucketed(spark: SparkSession, dir: String): DataFrame =
    sessionConcurrencyBucketedFrom(enriched(spark, dir))

  def sessionConcurrencyBucketedFrom(e: DataFrame): DataFrame =
    concurrencyRollup(statsOf(sessionizedBucketed(e)))

  private def concurrencyRollup(stats: DataFrame): DataFrame = {
    val sessions = stats.select(
      col("session_start_epoch").as("start_epoch"),
      col("session_end_epoch").as("end_epoch"))
    val deltas = sessions.select(col("start_epoch").as("epoch"), lit(1).as("delta"))
      .unionAll(sessions.select(col("end_epoch").as("epoch"), lit(-1).as("delta")))
      .withColumn("hour_bucket", floor(col("epoch") / lit(3600)))
    // prefix sums are bucket-local: parallel across hour buckets; the
    // +1-before-−1 tie order makes equal-epoch overlap inclusive, and
    // reordering equal (epoch, delta) rows permutes prefix values
    // without changing their multiset, so max is deterministic
    val wBucket = Window.partitionBy("hour_bucket")
      .orderBy(col("epoch").asc, col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perBucket = deltas
      .withColumn("run_local", sum(col("delta")).over(wBucket))
      .groupBy(col("hour_bucket"))
      .agg(sum(col("delta")).as("net"),
        max(col("run_local")).as("peak_local"),
        sum(when(col("delta") === 1, 1).otherwise(0)).as("starts"),
        sum(when(col("delta") === -1, 1).otherwise(0)).as("ends"))
    // the ONLY unpartitioned window — over the |hour buckets| frame
    val wCarry = Window.orderBy("hour_bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val buckets = perBucket
      .withColumn("carry", coalesce(sum(col("net")).over(wCarry), lit(0L)))
      .withColumn("peak", col("carry") + col("peak_local"))
    buckets
      .groupBy(date_add(lit("1970-01-01").cast("date"),
        floor(col("hour_bucket") / lit(24)).cast("int")).as("session_date"))
      .agg(
        greatest(max(col("peak")), min_by(col("carry"), col("hour_bucket")))
          .as("peak_concurrent_sessions"),
        sum(col("starts")).as("sessions_started"),
        sum(col("ends")).as("sessions_ended"))
      .orderBy("session_date")
  }

  val sessionConcurrencySql: String = sessionizedSql +
    """, sessions AS (
      |  SELECT user_id, session_idx,
      |    MIN(event_epoch) AS start_epoch, MAX(event_epoch) AS end_epoch
      |  FROM sessioned GROUP BY user_id, session_idx
      |), deltas AS (
      |  SELECT start_epoch AS epoch, 1 AS delta FROM sessions
      |  UNION ALL
      |  SELECT end_epoch AS epoch, -1 AS delta FROM sessions
      |), run AS (
      |  SELECT epoch, delta,
      |    SUM(delta) OVER (ORDER BY epoch ASC, delta DESC
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
      |  FROM deltas
      |), daily AS (
      |  SELECT CAST(epoch // 86400 AS BIGINT) AS day_idx,
      |    MAX(running) AS in_day_peak, SUM(delta) AS net,
      |    SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS sessions_started,
      |    SUM(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS sessions_ended
      |  FROM run GROUP BY 1
      |)
      |SELECT DATE '1970-01-01' + CAST(day_idx AS INT) AS session_date,
      |  CAST(GREATEST(in_day_peak,
      |    COALESCE(SUM(net) OVER (ORDER BY day_idx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) AS BIGINT) AS peak_concurrent_sessions,
      |  CAST(sessions_started AS BIGINT) AS sessions_started,
      |  CAST(sessions_ended AS BIGINT) AS sessions_ended
      |FROM daily
      |ORDER BY session_date""".stripMargin

  /** Funnel at TRUE session grain — the reference computes its funnel
    * per day over raw events (mart_funnel_daily); this is the same
    * view→click→purchase progression measured where it actually
    * happens, inside one session, with ORDER enforced: a click counts
    * only at-or-after the session's first view, a purchase only
    * at-or-after that click (epoch comparisons only — same-second
    * progression counts on both engines identically, no event-id tie
    * ambiguity). Distinct from funnel_window (1-day user-grain window)
    * and funnel_conversion (day-grain step counts, orderless).
    *
    * Scale shape: three chained conditional-min windows over the ONE
    * (user_id, session_idx) clustering the sessionize exchange already
    * provides (each consumes the previous one's column — same
    * partition spec, the sort is reused, zero extra exchanges); the
    * session rollup rides the same exchange; the day rollup sees only
    * session rows. The funnel keeps two forms: these windows span a
    * whole session, so over the segmented base they would move a hot
    * session's raw rows to one task. */
  def sessionFunnel(spark: SparkSession, dir: String): DataFrame =
    sessionFunnelFrom(enriched(spark, dir))

  def sessionFunnelFrom(e: DataFrame): DataFrame = {
    val wS = Window.partitionBy("user_id", "session_idx")
    val staged = sessionized(e)
      .withColumn("first_view",
        min(when(col("event_type") === "view", col("event_epoch"))).over(wS))
      .withColumn("first_click",
        min(when(col("event_type") === "click" && col("first_view").isNotNull &&
          col("event_epoch") >= col("first_view"), col("event_epoch"))).over(wS))
      .withColumn("first_purchase",
        min(when(col("event_type") === "purchase" && col("first_click").isNotNull &&
          col("event_epoch") >= col("first_click"), col("event_epoch"))).over(wS))
    val sessions = staged
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("event_epoch")).as("start_epoch"),
        max(when(col("first_view").isNotNull, 1).otherwise(0)).as("w_view"),
        max(when(col("first_click").isNotNull, 1).otherwise(0)).as("w_click"),
        max(when(col("first_purchase").isNotNull, 1).otherwise(0)).as("w_purchase"))
    funnelDayRollup(sessions)
  }

  /** session_funnel over the segmented base — same oracle. The
    * chained conditional mins (first view V → first click ≥ V → first
    * purchase ≥ that click) resolve in three grains, none of which
    * funnels a hot session's events into one task:
    *
    *  1. per-(user, session, bucket) windows (bounded by the bucket,
    *     satisfied by the bucketed exchange) compute the LOCAL
    *     candidates: min view `mv`, min click (any / ≥ mv), min
    *     purchase (any / ≥ each click candidate);
    *  2. the KEY-dimension (user, session, bucket) partial frame
    *     resolves the session-global chain with windows over ≤
    *     session-span-buckets rows. The bucket arithmetic makes local
    *     candidates exact: the session's first view V lands in bucket
    *     floor(V/bs) whose local mv IS V; every event in a LATER
    *     bucket has epoch ≥ bucket·bs > V, so its min-any is its
    *     ≥-V min; earlier buckets hold only epochs < V. The same
    *     argument chains to clicks→purchases, with floor(C/bs) ==
    *     floor(V/bs) deciding which local purchase candidate applies;
    *  3. the day rollup sees session rows only.
    *
    * Flags (not epochs) reach the output, matching the plain path. */
  def sessionFunnelBucketed(spark: SparkSession, dir: String): DataFrame =
    sessionFunnelBucketedFrom(enriched(spark, dir))

  def sessionFunnelBucketedFrom(e: DataFrame): DataFrame = {
    val wB = Window.partitionBy("user_id", "session_idx", "bucket")
    val staged = sessionizedBucketed(e)
      .withColumn("l_mv",
        min(when(col("event_type") === "view", col("event_epoch"))).over(wB))
      .withColumn("l_mc_any",
        min(when(col("event_type") === "click", col("event_epoch"))).over(wB))
      .withColumn("l_mc_ge",
        min(when(col("event_type") === "click" && col("l_mv").isNotNull &&
          col("event_epoch") >= col("l_mv"), col("event_epoch"))).over(wB))
      .withColumn("l_mp_any",
        min(when(col("event_type") === "purchase", col("event_epoch"))).over(wB))
      .withColumn("l_mp_ge_c",
        min(when(col("event_type") === "purchase" && col("l_mc_ge").isNotNull &&
          col("event_epoch") >= col("l_mc_ge"), col("event_epoch"))).over(wB))
      .withColumn("l_mp_ge_a",
        min(when(col("event_type") === "purchase" && col("l_mc_any").isNotNull &&
          col("event_epoch") >= col("l_mc_any"), col("event_epoch"))).over(wB))
    val partials = staged
      .groupBy(col("user_id"), col("session_idx"), col("bucket"))
      .agg(min(col("event_epoch")).as("b_start"),
        min(col("l_mv")).as("mv"),
        min(col("l_mc_any")).as("mc_any"), min(col("l_mc_ge")).as("mc_ge"),
        min(col("l_mp_any")).as("mp_any"),
        min(col("l_mp_ge_c")).as("mp_ge_c"), min(col("l_mp_ge_a")).as("mp_ge_a"))
    val wS = Window.partitionBy("user_id", "session_idx")
    val bs = lit(BucketSeconds)
    val resolved = partials
      .withColumn("v", min(col("mv")).over(wS))
      .withColumn("cand_c",
        when(col("v").isNull, lit(null).cast("bigint"))
          .when(col("bucket") === floor(col("v") / bs), col("mc_ge"))
          .when(col("bucket") > floor(col("v") / bs), col("mc_any")))
      .withColumn("c", min(col("cand_c")).over(wS))
      .withColumn("cand_p",
        when(col("c").isNull, lit(null).cast("bigint"))
          .when(col("bucket") === floor(col("c") / bs),
            when(floor(col("c") / bs) === floor(col("v") / bs),
              col("mp_ge_c")).otherwise(col("mp_ge_a")))
          .when(col("bucket") > floor(col("c") / bs), col("mp_any")))
      .withColumn("p", min(col("cand_p")).over(wS))
    val sessions = resolved
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("b_start")).as("start_epoch"),
        max(when(col("v").isNotNull, 1).otherwise(0)).as("w_view"),
        max(when(col("c").isNotNull, 1).otherwise(0)).as("w_click"),
        max(when(col("p").isNotNull, 1).otherwise(0)).as("w_purchase"))
    funnelDayRollup(sessions)
  }

  private def funnelDayRollup(sessions: DataFrame): DataFrame = {
    sessions
      .groupBy(date_add(lit("1970-01-01").cast("date"),
        (col("start_epoch") / lit(86400)).cast("int")).as("session_date"))
      .agg(
        count(lit(1)).as("sessions"),
        sum(col("w_view")).cast("long").as("with_view"),
        sum(col("w_click")).cast("long").as("with_click"),
        sum(col("w_purchase")).cast("long").as("with_purchase"))
      .withColumn("view_to_click_pct",
        when(col("with_view") > 0,
          col("with_click").cast("double") / col("with_view").cast("double") * lit(100))
          .otherwise(lit(0.0)))
      .withColumn("click_to_purchase_pct",
        when(col("with_click") > 0,
          col("with_purchase").cast("double") / col("with_click").cast("double") * lit(100))
          .otherwise(lit(0.0)))
      .withColumn("conversion_pct",
        col("with_purchase").cast("double") / col("sessions").cast("double") * lit(100))
      .orderBy("session_date")
  }

  val sessionFunnelSql: String = sessionizedSql +
    """, fv AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'view' THEN event_epoch END)
      |    OVER (PARTITION BY user_id, session_idx) AS first_view
      |  FROM sessioned
      |), fc AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'click' AND first_view IS NOT NULL
      |                      AND event_epoch >= first_view THEN event_epoch END)
      |    OVER (PARTITION BY user_id, session_idx) AS first_click
      |  FROM fv
      |), fp AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND first_click IS NOT NULL
      |                      AND event_epoch >= first_click THEN event_epoch END)
      |    OVER (PARTITION BY user_id, session_idx) AS first_purchase
      |  FROM fc
      |), sess AS (
      |  SELECT user_id, session_idx, MIN(event_epoch) AS start_epoch,
      |    MAX(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END) AS w_view,
      |    MAX(CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END) AS w_click,
      |    MAX(CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END) AS w_purchase
      |  FROM fp GROUP BY user_id, session_idx
      |)
      |SELECT DATE '1970-01-01' + CAST(start_epoch // 86400 AS INT) AS session_date,
      |  COUNT(*) AS sessions,
      |  CAST(SUM(w_view) AS BIGINT) AS with_view,
      |  CAST(SUM(w_click) AS BIGINT) AS with_click,
      |  CAST(SUM(w_purchase) AS BIGINT) AS with_purchase,
      |  CASE WHEN SUM(w_view) > 0
      |       THEN CAST(SUM(w_click) AS DOUBLE) / CAST(SUM(w_view) AS DOUBLE) * 100
      |       ELSE 0.0 END AS view_to_click_pct,
      |  CASE WHEN SUM(w_click) > 0
      |       THEN CAST(SUM(w_purchase) AS DOUBLE) / CAST(SUM(w_click) AS DOUBLE) * 100
      |       ELSE 0.0 END AS click_to_purchase_pct,
      |  CAST(SUM(w_purchase) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 100 AS conversion_pct
      |FROM sess
      |GROUP BY 1
      |ORDER BY session_date""".stripMargin

  /** Session-grain QUALITY GATE — the quarantine row the reference's
    * WARN path implies but never materializes (validate_quality.py
    * counts failures and logs a WARN; the failing rows still flow into
    * the marts). Here the session is the quarantine unit: one failing
    * event poisons its whole session, because a session containing a
    * corrupt row is untrustworthy as a behavioral unit (its funnel,
    * duration and conversion stats are all suspect), while the user's
    * OTHER sessions remain fine — quarantining at event grain would
    * leave poisoned session stats behind, at user grain would discard
    * good data.
    *
    * Event-level flags mirror the check suite exactly (range_check,
    * timestamp_check, integrity_check); rows failing null_check are
    * quarantined before sessionization (a row without identity/time
    * cannot join a session). Session-level flags: duplicate event_id
    * inside the session (duplicate_check at the grain where replays
    * actually land — a replayed event reappears next to its original)
    * and the funnel-sequence invariant (purchase preceded by a
    * view/click IN THE SAME SESSION — sharper than the user-day form).
    *
    * Scale shape: flags are narrow per-event projections computed
    * BEFORE the sessionize exchange; over the plain base the
    * per-session rollup, countDistinct included, rides the one user_id
    * hash partitioning (subset rule — zero extra exchanges); the single
    * countDistinct plans as a two-level fixed-state aggregate, not an
    * Expand; the day rollup sees only session rows. */
  def sessionQualityGate(spark: SparkSession, dir: String): DataFrame =
    sessionQualityGateFrom(enriched(spark, dir))

  /** Event-level check-flag expressions — ONE definition shared by the
    * batch gate and the streaming gate (SessionGateStream), so the two
    * surfaces cannot drift. Each expects the enriched column set
    * (ts, value, event_type, product_k) and reads the corresponding
    * Quality row rule. */
  private[graft] def typedRowFilter: org.apache.spark.sql.Column = !Quality.nullFailed
  private[graft] def fRange: org.apache.spark.sql.Column = Quality.rangeFailed.cast("int")
  private[graft] def fTs: org.apache.spark.sql.Column = Quality.tsFailed(typed = true).cast("int")
  private[graft] def fIntegrity: org.apache.spark.sql.Column =
    (col("event_type") === "purchase" && Quality.integrityFailed).cast("int")

  /** The typed (null-free) rows: `cols` + the per-event check flags. */
  private def typedFlagged(e: DataFrame, cols: Seq[String]): DataFrame =
    e.filter(typedRowFilter)
      .select(cols.map(col) :+ fRange.as("f_range") :+ fTs.as("f_ts") :+
        fIntegrity.as("f_integrity"): _*)

  private val FlagCols = Seq("f_range", "f_ts", "f_integrity")

  /** Typed rows with their check flags, plain-sessionized. */
  private def typedSessionized(e: DataFrame, cols: Seq[String]): DataFrame =
    sessionized(typedFlagged(e, cols), cols ++ FlagCols)

  /** Session verdict rows: one row per session with per-reason flags
    * and the overall `quarantined` bit. */
  private[graft] def gatedSessions(e: DataFrame): DataFrame =
    verdictsOf(typedSessionized(e, SessionCols))

  private def verdictsOf(s: DataFrame): DataFrame =
    s.groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("event_count"),
        countDistinct(col("event_id")).as("distinct_ids"),
        min(col("event_epoch")).as("session_start_epoch"),
        max(col("f_range")).as("q_range"),
        max(col("f_ts")).as("q_ts"),
        max(col("f_integrity")).as("q_integrity"),
        min(when(col("event_type") === "purchase", col("event_epoch"))).as("first_purchase"),
        min(when(col("event_type").isin("view", "click"), col("event_epoch"))).as("first_touch"))
      .withColumn("q_dup", (col("event_count") > col("distinct_ids")).cast("int"))
      .withColumn("q_seq",
        (col("first_purchase").isNotNull &&
          (col("first_touch").isNull || col("first_touch") > col("first_purchase"))).cast("int"))
      .withColumn("quarantined",
        greatest(col("q_range"), col("q_ts"), col("q_integrity"), col("q_dup"), col("q_seq")))

  def sessionQualityGateFrom(e: DataFrame): DataFrame =
    gateDayRollup(gatedSessions(e))

  /** session_quality_gate over the segmented base — same consumer,
    * same oracle, one scan. Over this base the countDistinct plans as
    * a dedup exchange on (user_id, session_idx, event_id), which
    * spreads a hot session over its distinct ids, then a per-session
    * count that combines map-side. */
  def sessionQualityGateBucketed(spark: SparkSession, dir: String): DataFrame =
    sessionQualityGateBucketedFrom(enriched(spark, dir))

  def sessionQualityGateBucketedFrom(e: DataFrame): DataFrame =
    gateDayRollup(verdictsOf(
      sessionizedBucketed(typedFlagged(e, SessionCols), SessionCols ++ FlagCols)))

  /** Day rollup over session verdict rows — shared by the batch gate
    * query and the streaming verdict log's rescore
    * (SessionGateStream.gateDailyFromLog), so the two surfaces
    * aggregate identically. Expects (session_start_epoch, event_count,
    * q_range, q_ts, q_integrity, q_dup, q_seq, quarantined) with the
    * flags as 0/1 ints. */
  private[graft] def gateDayRollup(sessions: DataFrame): DataFrame =
    sessions
      .groupBy(date_add(lit("1970-01-01").cast("date"),
        (col("session_start_epoch") / lit(86400)).cast("int")).as("session_date"))
      .agg(
        count(lit(1)).as("sessions_total"),
        sum(col("quarantined")).cast("long").as("sessions_quarantined"),
        sum(col("event_count")).cast("long").as("events_total"),
        sum(col("event_count") * col("quarantined")).cast("long").as("events_quarantined"),
        sum(col("q_range")).cast("long").as("q_range_sessions"),
        sum(col("q_ts")).cast("long").as("q_ts_sessions"),
        sum(col("q_integrity")).cast("long").as("q_integrity_sessions"),
        sum(col("q_dup")).cast("long").as("q_dup_sessions"),
        sum(col("q_seq")).cast("long").as("q_seq_sessions"))
      .orderBy("session_date")

  val sessionQualityGateSql: String =
    """WITH typed AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS event_epoch,
      |    CASE WHEN value < 0 OR value > 1000000
      |           OR event_type NOT IN ('view','click','purchase','signup','error')
      |         THEN 1 ELSE 0 END AS f_range,
      |    CASE WHEN YEAR(ts) < 2020 OR YEAR(ts) > 2030 THEN 1 ELSE 0 END AS f_ts,
      |    CASE WHEN event_type = 'purchase'
      |           AND (CAST(json_extract_string(props, '$.k') AS INT) IS NULL
      |                OR CAST(json_extract_string(props, '$.k') AS INT) < 0
      |                OR CAST(json_extract_string(props, '$.k') AS INT) > 99
      |                OR value <= 0)
      |         THEN 1 ELSE 0 END AS f_integrity
      |  FROM events
      |  WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
      |    AND event_type IS NOT NULL AND value IS NOT NULL AND props IS NOT NULL
      |), flagged AS (
      |  SELECT *, CASE WHEN LAG(event_epoch) OVER w IS NULL
      |                   OR event_epoch - LAG(event_epoch) OVER w > 1800
      |                 THEN 1 ELSE 0 END AS is_new
      |  FROM typed
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_epoch, event_id)
      |), sessioned AS (
      |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY event_epoch, event_id
      |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM flagged
      |), sessions AS (
      |  SELECT user_id, session_idx,
      |    COUNT(*) AS event_count,
      |    COUNT(DISTINCT event_id) AS distinct_ids,
      |    MIN(event_epoch) AS session_start_epoch,
      |    MAX(f_range) AS q_range, MAX(f_ts) AS q_ts, MAX(f_integrity) AS q_integrity,
      |    MIN(CASE WHEN event_type = 'purchase' THEN event_epoch END) AS first_purchase,
      |    MIN(CASE WHEN event_type IN ('view','click') THEN event_epoch END) AS first_touch
      |  FROM sessioned GROUP BY user_id, session_idx
      |), judged AS (
      |  SELECT *,
      |    CASE WHEN event_count > distinct_ids THEN 1 ELSE 0 END AS q_dup,
      |    CASE WHEN first_purchase IS NOT NULL
      |           AND (first_touch IS NULL OR first_touch > first_purchase)
      |         THEN 1 ELSE 0 END AS q_seq
      |  FROM sessions
      |), verdicts AS (
      |  SELECT *, GREATEST(q_range, q_ts, q_integrity, q_dup, q_seq) AS quarantined
      |  FROM judged
      |)
      |SELECT DATE '1970-01-01' + CAST(session_start_epoch // 86400 AS INT) AS session_date,
      |  COUNT(*) AS sessions_total,
      |  CAST(SUM(quarantined) AS BIGINT) AS sessions_quarantined,
      |  CAST(SUM(event_count) AS BIGINT) AS events_total,
      |  CAST(SUM(event_count * quarantined) AS BIGINT) AS events_quarantined,
      |  CAST(SUM(q_range) AS BIGINT) AS q_range_sessions,
      |  CAST(SUM(q_ts) AS BIGINT) AS q_ts_sessions,
      |  CAST(SUM(q_integrity) AS BIGINT) AS q_integrity_sessions,
      |  CAST(SUM(q_dup) AS BIGINT) AS q_dup_sessions,
      |  CAST(SUM(q_seq) AS BIGINT) AS q_seq_sessions
      |FROM verdicts
      |GROUP BY 1
      |ORDER BY session_date""".stripMargin

  /** The gate as a FILTER: the enriched event rows belonging to clean
    * (non-quarantined) sessions — what downstream marts should consume
    * when the pipeline runs in quarantine mode. Same flag semantics as
    * `session_quality_gate`, expressed as window aggregates over the
    * session partition so the verdict joins back to event rows for
    * free (zero joins, zero extra exchanges: every window below is
    * subset-satisfied by the one user_id hash partitioning). */
  def cleanEvents(e: DataFrame): DataFrame = {
    val wS = Window.partitionBy("user_id", "session_idx")
    val wDup = Window.partitionBy("user_id", "session_idx", "event_id")
    val cols = e.columns.toSeq
    typedSessionized(e, cols)
      .withColumn("f_dup", (count(lit(1)).over(wDup) > 1).cast("int"))
      .withColumn("q_range", max(col("f_range")).over(wS))
      .withColumn("q_ts", max(col("f_ts")).over(wS))
      .withColumn("q_integrity", max(col("f_integrity")).over(wS))
      .withColumn("q_dup", max(col("f_dup")).over(wS))
      .withColumn("first_purchase",
        min(when(col("event_type") === "purchase", col("event_epoch"))).over(wS))
      .withColumn("first_touch",
        min(when(col("event_type").isin("view", "click"), col("event_epoch"))).over(wS))
      .withColumn("q_seq",
        (col("first_purchase").isNotNull &&
          (col("first_touch").isNull || col("first_touch") > col("first_purchase"))).cast("int"))
      .filter(greatest(col("q_range"), col("q_ts"), col("q_integrity"),
        col("q_dup"), col("q_seq")) === 0)
      .select(cols.map(col): _*)
  }

  val sessionDailySql: String = sessionizedSql +
    """, sessions AS (
      |  SELECT user_id, session_idx, COUNT(*) AS event_count,
      |    MIN(event_epoch) AS session_start_epoch,
      |    MAX(event_epoch) - MIN(event_epoch) AS duration_seconds,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
      |  FROM sessioned GROUP BY user_id, session_idx
      |)
      |SELECT DATE '1970-01-01' + CAST(session_start_epoch // 86400 AS INT) AS session_date,
      |  COUNT(*) AS sessions,
      |  CAST(SUM(event_count) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_events_per_session,
      |  CAST(SUM(duration_seconds) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_duration_sec,
      |  CAST(SUM(CASE WHEN event_count = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) * 100 AS bounce_rate,
      |  CAST(SUM(has_purchase) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 100 AS conversion_rate
      |FROM sessions
      |GROUP BY 1
      |ORDER BY session_date""".stripMargin

  /** Error impact at session grain — what an `error` event costs in
    * conversion: per session-start day, how many sessions hit at
    * least one error, and the purchase-conversion rate of errored vs
    * clean sessions side by side (the gap is the revenue case for
    * fixing reliability — the question the reference's error_count
    * column in mart_user_daily gestures at but never answers).
    *
    * Scale shape: the per-session flag rollup is subset-satisfied by
    * the one sessionize exchange (groupBy (user_id, session_idx) on
    * the user_id partitioning); only per-session flag rows reach the
    * tiny day rollup. Conversion rates are NULL when a day has no
    * sessions on that side (0/0), via the same CASE shape in both
    * engines. Day = epoch // 86400, timezone-free. */
  def errorImpact(spark: SparkSession, dir: String): DataFrame =
    errorImpactRollup(sessionStats(spark, dir))

  def errorImpactFrom(e: DataFrame): DataFrame =
    errorImpactRollup(sessionStatsFrom(e))

  /** error_impact over the segmented base — same oracle SQL. */
  def errorImpactBucketed(spark: SparkSession, dir: String): DataFrame =
    errorImpactBucketedFrom(enriched(spark, dir))

  def errorImpactBucketedFrom(e: DataFrame): DataFrame =
    errorImpactRollup(statsOf(sessionizedBucketed(e)))

  private def errorImpactRollup(stats: DataFrame): DataFrame = {
    val sessions = stats.select(
      col("session_start_epoch").as("start_epoch"),
      col("has_error"), col("has_purchase"))
    def convOf(flagVal: Int): org.apache.spark.sql.Column = {
      val n = sum(when(col("has_error") === flagVal, 1).otherwise(0))
      val c = sum(when(col("has_error") === flagVal && col("has_purchase") === 1, 1)
        .otherwise(0))
      when(n > 0, c.cast("double") / n.cast("double") * lit(100))
    }
    sessions
      .groupBy(date_add(lit("1970-01-01").cast("date"),
        (col("start_epoch") / lit(86400)).cast("int")).as("session_date"))
      .agg(
        count(lit(1)).as("sessions_total"),
        sum(col("has_error")).as("sessions_with_error"),
        (sum(col("has_error")).cast("double") / count(lit(1)).cast("double") * lit(100))
          .as("error_session_rate"),
        convOf(1).as("conv_with_error"),
        convOf(0).as("conv_without_error"))
      .orderBy("session_date")
  }

  val errorImpactSql: String = sessionizedSql +
    """, sessions AS (
      |  SELECT user_id, session_idx, MIN(event_epoch) AS start_epoch,
      |    MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS has_error,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
      |  FROM sessioned GROUP BY user_id, session_idx
      |)
      |SELECT DATE '1970-01-01' + CAST(start_epoch // 86400 AS INT) AS session_date,
      |  COUNT(*) AS sessions_total,
      |  CAST(SUM(has_error) AS BIGINT) AS sessions_with_error,
      |  CAST(SUM(has_error) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 100 AS error_session_rate,
      |  CASE WHEN SUM(CASE WHEN has_error = 1 THEN 1 ELSE 0 END) > 0 THEN
      |    CAST(SUM(CASE WHEN has_error = 1 AND has_purchase = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |      / CAST(SUM(CASE WHEN has_error = 1 THEN 1 ELSE 0 END) AS DOUBLE) * 100
      |  END AS conv_with_error,
      |  CASE WHEN SUM(CASE WHEN has_error = 0 THEN 1 ELSE 0 END) > 0 THEN
      |    CAST(SUM(CASE WHEN has_error = 0 AND has_purchase = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |      / CAST(SUM(CASE WHEN has_error = 0 THEN 1 ELSE 0 END) AS DOUBLE) * 100
      |  END AS conv_without_error
      |FROM sessions
      |GROUP BY 1
      |ORDER BY session_date""".stripMargin

  /** First-order Markov next-event evaluation — does the transition
    * matrix actually predict? For every within-session transition,
    * the model predicts the modal next type for its origin (ties
    * break alphabetically); accuracy per origin is the share of real
    * transitions that hit the mode. This is the eval closure of
    * session_transitions: the rate matrix says what usually follows,
    * this says how often "usually" is right.
    *
    * Scale shape: same one-exchange lead window as
    * session_transitions; everything after the |types|²-row pair
    * rollup (argmax window + the accuracy join) runs on the tiny
    * aggregate frame. */
  def markovNextEvent(spark: SparkSession, dir: String): DataFrame =
    markovNextEventFrom(enriched(spark, dir))

  def markovNextEventFrom(e: DataFrame): DataFrame =
    markovRollup(sessionPairsFrom(e))

  /** markov_next_event over the segmented pairs — same oracle. */
  def markovNextEventBucketed(spark: SparkSession, dir: String): DataFrame =
    markovNextEventBucketedFrom(enriched(spark, dir))

  def markovNextEventBucketedFrom(e: DataFrame): DataFrame =
    markovRollup(sessionPairsBucketedFrom(e))

  private def markovRollup(pairFrame: DataFrame): DataFrame = {
    val pairs = pairFrame
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("pair_count"))
    // the modal row and the per-origin total both come from ONE window
    // pass over the ≤|types|²-row aggregate — an argmax-filter +
    // groupBy + self-JOIN would re-derive the whole pair subtree (and
    // the sessionized fact scan under it) twice. Both windows share
    // the from_type partitioning, so one exchange.
    val wArgmax = Window.partitionBy("from_type")
      .orderBy(desc("pair_count"), asc("to_type"))
    val wFrom = Window.partitionBy("from_type")
    pairs
      .withColumn("rk", row_number().over(wArgmax))
      .withColumn("transitions", sum(col("pair_count")).over(wFrom))
      .filter(col("rk") === 1)
      .select(col("from_type"), col("to_type").as("predicted_to"),
        col("transitions"),
        col("pair_count").as("correct_transitions"),
        (col("pair_count").cast("double") / col("transitions").cast("double")
          * lit(100)).as("accuracy_pct"))
      .orderBy("from_type")
  }

  /** Session ANOMALY scoring against the corpus' own transition LM —
    * the events-side sibling of `text_perplexity` and the eval closure
    * of `markov_next_event` (which reports the LM's modal accuracy;
    * this SCORES each session under the full distribution): every
    * session with ≥1 transition gets bits/transition =
    * mean −log2 P(to|from), P the corpus transition probabilities, and
    * the topN most surprising sessions surface — scripted/bot flows
    * take rare arcs (error→purchase, purchase→purchase chains) that
    * organic browsing almost never walks, so they rank first even when
    * every individual event passes the row-grain quality gate.
    *
    * Plan: the sessionized pair frame materializes ONCE
    * (localCheckpoint) and feeds both the LM rollup (≤|types|² rows —
    * broadcast-joined back, never a fact-side shuffle) and the
    * per-session aggregation; the final surface is a TakeOrdered
    * topN, not a global sort. Self-scoring needs no smoothing: every
    * observed pair has corpus count ≥ 1 by construction. Full SQL:
    * the per-arc −log2 P quantizes to a 1e-5-bit integer at LM grain
    * before the exact per-session BIGINT rollup
    * (TextAnalysis.textEntropy's Scaladoc has the measurement); spec
    * pins a driver-exact recompute and the
    * rare-arc-ranks-first property. */
  def sessionSurprise(spark: SparkSession, dir: String, topN: Int = 100): DataFrame =
    sessionSurpriseFrom(enriched(spark, dir), topN)

  def sessionSurpriseFrom(e: DataFrame, topN: Int = 100): DataFrame =
    surpriseRollup(sessionPairsFrom(e), topN)

  /** session_surprise over the segmented pairs — full SQL like the
    * plain form (same oracle: the spec pins bit-equality of
    * the two paths' outputs, and the quantized-integer arc bits make
    * that equality exact by construction). The per-session score
    * aggregation is algebraic (count + sum of integer bits), so it
    * map-combines — the bot session's transitions reach the
    * session-grain reducer as partial sums. */
  def sessionSurpriseBucketed(spark: SparkSession, dir: String): DataFrame =
    sessionSurpriseBucketedFrom(enriched(spark, dir))

  def sessionSurpriseBucketedFrom(e: DataFrame, topN: Int = 100): DataFrame =
    surpriseRollup(sessionPairsBucketedFrom(e), topN)

  private def surpriseRollup(pairFrame: DataFrame, topN: Int = 100): DataFrame = {
    val pairs = pairFrame.localCheckpoint()
    // determinism model (TextAnalysis.textEntropy's Scaladoc has the
    // measurement): the per-arc −log2 P quantizes to a
    // 1e-5-bit integer at LM grain (≤|types|² values), so the
    // per-session rollup sums exact BIGINTs — shuffle-order
    // independent AND exactly reproducible by the DuckDB oracle.
    val lm = pairs
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("pair_count"))
      .withColumn("from_total",
        sum(col("pair_count")).over(Window.partitionBy("from_type")))
      .select(col("from_type"), col("to_type"), expr(
        "CAST(ROUND(-LOG2(CAST(pair_count AS DOUBLE) / CAST(from_total AS DOUBLE)) * 100000.0D) AS BIGINT)")
        .as("bits_q"))
    pairs
      .join(broadcast(lm), Seq("from_type", "to_type"))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_transitions"),
        sum(col("bits_q")).as("sq"))
      .withColumn("bits_per_transition",
        col("sq").cast("double") / col("n_transitions").cast("double")
          / lit(100000.0))
      .drop("sq")
      .orderBy(desc("bits_per_transition"), asc("user_id"), asc("session_idx"))
      .limit(topN)
  }

  val markovNextEventSql: String = sessionizedSql +
    """, pairs AS (
      |  SELECT from_type, to_type, COUNT(*) AS pair_count
      |  FROM (
      |    SELECT event_type AS from_type,
      |      LEAD(event_type) OVER (PARTITION BY user_id, session_idx
      |                             ORDER BY event_epoch, event_id) AS to_type
      |    FROM sessioned
      |  ) t WHERE to_type IS NOT NULL
      |  GROUP BY from_type, to_type
      |), modal AS (
      |  SELECT from_type, to_type AS predicted_to, pair_count AS correct_transitions
      |  FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY from_type
      |                                 ORDER BY pair_count DESC, to_type ASC) AS rk
      |    FROM pairs
      |  ) r WHERE rk = 1
      |)
      |SELECT p.from_type, m.predicted_to, CAST(SUM(p.pair_count) AS BIGINT) AS transitions,
      |  m.correct_transitions,
      |  CAST(m.correct_transitions AS DOUBLE) / CAST(SUM(p.pair_count) AS DOUBLE) * 100
      |    AS accuracy_pct
      |FROM pairs p JOIN modal m USING (from_type)
      |GROUP BY p.from_type, m.predicted_to, m.correct_transitions
      |ORDER BY from_type""".stripMargin

  /** DuckDB oracle for [[sessionSurprise]] (and, by the spec-pinned
    * bit-equality of the two paths, [[sessionSurpriseBucketed]]) —
    * the same sessionized pair base as markov_next_event, the same
    * quantized-integer arc bits as the Spark side, the same
    * deterministic (bits DESC, user, session) top-100 cut. */
  val sessionSurpriseSql: String = sessionizedSql +
    """, trs AS (
      |  SELECT * FROM (
      |    SELECT user_id, session_idx, event_type AS from_type,
      |      LEAD(event_type) OVER (PARTITION BY user_id, session_idx
      |                             ORDER BY event_epoch, event_id) AS to_type
      |    FROM sessioned
      |  ) t WHERE to_type IS NOT NULL
      |), lm AS (
      |  SELECT from_type, to_type,
      |    CAST(ROUND(-log2(CAST(pair_count AS DOUBLE) / CAST(from_total AS DOUBLE)) * 100000.0) AS BIGINT) AS bits_q
      |  FROM (
      |    SELECT from_type, to_type, COUNT(*) AS pair_count,
      |      SUM(COUNT(*)) OVER (PARTITION BY from_type) AS from_total
      |    FROM trs GROUP BY from_type, to_type
      |  ) c
      |), agg AS (
      |  SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |    CAST(COUNT(*) AS BIGINT) AS n_transitions,
      |    CAST(SUM(bits_q) AS BIGINT) AS sq
      |  FROM trs JOIN lm USING (from_type, to_type)
      |  GROUP BY user_id, session_idx
      |)
      |SELECT user_id, session_idx, n_transitions,
      |  CAST(sq AS DOUBLE) / CAST(n_transitions AS DOUBLE) / 100000.0 AS bits_per_transition
      |FROM agg
      |ORDER BY bits_per_transition DESC, user_id ASC, session_idx ASC
      |LIMIT 100""".stripMargin

  /** Inter-event gap histogram — the tuning table for [[GapSeconds]]
    * itself (the closure pattern again: dq_key_skew decides the salt
    * factor, ann_recall_curve the nProbe, THIS the session gap): all
    * consecutive same-user gaps bucketed into power-of-two MINUTES.
    * Real clickstreams are bimodal — in-session seconds-to-minutes
    * mass, a valley, then hours-to-days return gaps — and the right
    * cut sits in the valley; cum_share_pct at the 16-min bucket (its
    * row covers gaps in [16, 32) min, so the cum reads "gaps under 32
    * minutes") approximates the share the 30-min rule keeps
    * in-session — the 32 row's cum would overstate it by the whole
    * [32, 64)-minute mass. A
    * unimodal histogram here means gap sessionization is the wrong
    * model for the traffic, which is also worth knowing.
    *
    * Scale shape: the SAME one user_id exchange as `sessionized` (the
    * lag window), a ≤12-row rollup, 1-row broadcast total, cum window
    * over the tiny frame. Integer seconds compare against integer
    * thresholds — no division ambiguity to drift cross-engine. */
  def sessionGapHistogram(spark: SparkSession, dir: String): DataFrame =
    sessionGapHistogramFrom(enriched(spark, dir))

  def sessionGapHistogramFrom(e: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_epoch", "event_id")
    val gaps = e.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_epoch"))
      .withColumn("prev_epoch", lag("event_epoch", 1).over(w))
      .filter(col("prev_epoch").isNotNull)
      .withColumn("gap_s", col("event_epoch") - col("prev_epoch"))
    val bucket = Seq(1024, 512, 256, 128, 64, 32, 16, 8, 4, 2, 1)
      .foldLeft(when(lit(false), 0)) { (acc, m) =>
        acc.when(col("gap_s") >= m * 60L, m)
      }
      .otherwise(0)
      .cast("int")
    val hist = gaps.select(bucket.as("gap_bucket_min"))
      .groupBy("gap_bucket_min").agg(count(lit(1)).as("n_gaps"))
    val wc = Window.orderBy("gap_bucket_min")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // window total over the ≤11-bucket histogram — a 1-row agg +
    // crossJoin would re-derive the gap subtree twice.
    val wAllBuckets = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .withColumn("total_gaps", sum(col("n_gaps")).over(wAllBuckets))
      .withColumn("cum", sum(col("n_gaps")).over(wc))
      .select(col("gap_bucket_min"), col("n_gaps"),
        (col("n_gaps").cast("double") / col("total_gaps").cast("double") * 100)
          .as("share_pct"),
        (col("cum").cast("double") / col("total_gaps").cast("double") * 100)
          .as("cum_share_pct"))
      .orderBy("gap_bucket_min")
  }

  val sessionGapHistogramSql: String = {
    val cases = Seq(1024, 512, 256, 128, 64, 32, 16, 8, 4, 2, 1)
      .map(m => s"WHEN gap_s >= ${m * 60L} THEN $m").mkString(" ")
    s"""WITH g AS (
       |  SELECT user_id,
       |    CAST(FLOOR(EPOCH(ts)) AS BIGINT)
       |      - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER (
       |          PARTITION BY user_id
       |          ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT), event_id) AS gap_s
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
       |), h AS (
       |  SELECT CAST(CASE $cases ELSE 0 END AS INT) AS gap_bucket_min,
       |    CAST(COUNT(*) AS BIGINT) AS n_gaps
       |  FROM g WHERE gap_s IS NOT NULL
       |  GROUP BY 1
       |), tot AS (SELECT CAST(SUM(n_gaps) AS BIGINT) AS total_gaps FROM h)
       |SELECT gap_bucket_min, n_gaps,
       |  CAST(n_gaps AS DOUBLE) / CAST(total_gaps AS DOUBLE) * 100 AS share_pct,
       |  CAST(CAST(SUM(n_gaps) OVER (ORDER BY gap_bucket_min
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE)
       |    / CAST(total_gaps AS DOUBLE) * 100 AS cum_share_pct
       |FROM h CROSS JOIN tot
       |ORDER BY gap_bucket_min""".stripMargin
  }
}
