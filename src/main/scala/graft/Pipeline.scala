package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{EventMarts, Quality, Sessionize}
import graft.sources.MartSink

/** The reference DAG re-expressed as a composable batch driver
  * (reference: dags/event_pipeline_dag.py — generate → validate →
  * branch(PASS/FAIL) → load → 4 marts in parallel → report; daily
  * execution-date grain via scripts/spark_batch_processor.py:87-104
  * `load_events(dates)`).
  *
  * Orchestration differences are deliberate and Spark-native:
  *   - "parallel mart tasks" are six concurrent driver-side chains
  *     over ONE persisted events projection (the reference likewise
  *     runs its marts off one loaded table): the fact table is scanned
  *     once per run, not once per mart — at 100 TB the scan IS the
  *     cost. Each chain materializes its mart once (localCheckpoint)
  *     and feeds that to both sinks, the parquet write and the JDBC
  *     merge, so no mart plan is built twice.
  *   - the PASS/FAIL branch is a driver-side decision over the tiny
  *     7-row quality summary — the only collect()s in the library are
  *     these few-row gate/report reads, by design.
  *   - idempotency: marts are written with dynamic partition
  *     overwrite (MartSink), the Spark analogue of the reference's
  *     DELETE+INSERT per date; a date-scoped run prunes its input up
  *     front and rewrites only the touched partitions.
  *   - alerting/reporting are pure driver-side formatters
  *     (graft.Reporting) over the collected gate rows — payload
  *     shapes match the reference, transport is the caller's concern.
  */
object Pipeline {

  final case class Result(
      passed: Boolean,
      failedChecks: Seq[String],
      martsWritten: Seq[String],
      runDate: Option[String] = None,
      alertPayload: Option[String] = None,
      martMerges: Map[String, MartSink.MergeStats] = Map.empty,
      sessionSkew: Option[operators.Skew.SkewPlan] = None,
      // (column, check_type, change) rows where a healthy run's
      // re-suggested contract drifted from the pinned one — the
      // pre-failure trend surface; empty when the gate failed, no
      // contract is wired, or nothing moved
      contractDrift: Seq[(String, String, String)] = Nil,
      // content fingerprint of the NEWLY pinned contract when the
      // opt-in auto-promotion policy fired this run (None otherwise:
      // policy off, gate failed, no drift, or streak below N)
      contractPromoted: Option[String] = None)

  /** The session_date partition column (= session start date), so
    * per-date reruns replace only their own session partitions, like
    * every other mart. */
  private def withSessionDate(sessions: DataFrame): DataFrame =
    sessions.withColumn("session_date",
      to_date(timestamp_seconds(col("session_start_epoch"))))

  /** The five non-session marts — no census, fully lazy. */
  private def martsPlain(e: DataFrame): Map[String, DataFrame] = Map(
    "mart_user_daily"    -> EventMarts.martUserDailyFrom(e),
    "mart_funnel_daily"  -> EventMarts.martFunnelDailyFrom(e),
    "mart_product_daily" -> EventMarts.martProductDailyFrom(e),
    "mart_orders"        -> EventMarts.martOrdersFrom(e),
    "hourly_traffic"     -> EventMarts.hourlyTrafficFrom(e))

  /** Partition spec per mart (the backfill grain). */
  private val partitioned = Map(
    "mart_user_daily"    -> Seq("event_date"),
    "mart_funnel_daily"  -> Seq("event_date"),
    "mart_product_daily" -> Seq("event_date"),
    "mart_orders"        -> Seq("order_date"),
    "session_sequences"  -> Seq("session_date"),
    "hourly_traffic"     -> Seq("event_date"))

  /** Logical key per mart — what the incremental JDBC MERGE upserts
    * on (the warehouse table's natural primary key). session_sequences
    * MUST carry session_date in its key: session_idx is a per-user
    * running index over the run's widened frame, so different
    * execution dates legitimately assign the same (user_id,
    * session_idx) to different sessions — only (user, idx, date) is
    * stable under the per-date schedule, and it keeps every mart's
    * scope (the date column) key-determined, which the scoped
    * mergeJdbc DELETEs require. */
  private val martKeys = Map(
    "mart_user_daily"    -> Seq("user_id", "event_date"),
    "mart_funnel_daily"  -> Seq("event_date", "segment"),
    "mart_product_daily" -> Seq("product_k", "event_date"),
    "mart_orders"        -> Seq("order_id"),
    "session_sequences"  -> Seq("user_id", "session_idx", "session_date"),
    "hourly_traffic"     -> Seq("event_date", "event_hour"))

  /** One mart's chain: materialize the mart once, write its
    * partitions, merge it into the warehouse when `martJdbc` is set,
    * then free the materialized blocks whatever happened. Both sinks
    * read the checkpoint, so the mart plan runs once, not once per
    * sink job. The merge is incremental: only the delta crosses the
    * wire, and vanished-key deletes stay inside the run's date scope
    * (the dates are java.sql.Date-validated by `run`, so the predicate
    * literals are safe ISO strings). */
  private def martChain(name: String, df: DataFrame, outDir: String,
      dates: Seq[String], martJdbc: Option[String]): Option[MartSink.MergeStats] = {
    val mart = df.localCheckpoint()
    try {
      MartSink.writePartitioned(mart, s"$outDir/$name", partitioned(name))
      martJdbc.map { url =>
        val scope = Option.when(dates.nonEmpty)(
          dates.sorted.map(d => s"DATE('$d')")
            .mkString("\"" + partitioned(name).head + "\" IN (", ", ", ")"))
        MartSink.mergeJdbc(mart, url, name, martKeys(name),
          scopePredicate = scope, deleteVanished = true)
      }
    } finally Caches.unpersistCheckpointed(mart)
  }

  /** validate → gate → build. Returns what was written and why (or
    * why not), plus the quality-alert payload when the gate failed.
    *
    * @param dates execution dates (ISO yyyy-MM-dd) to process — the
    *   reference's per-execution-date batch. Empty = whole input. The
    *   filter lands directly above the scan, so a date-partitioned
    *   fact table prunes to the touched partitions, and dynamic
    *   overwrite rewrites only those mart partitions on rerun.
    *   Sessionization additionally reads a ONE-DAY LOOKBACK AND
    *   LOOK-AHEAD per scoped date (pruned the same way): the lookback
    *   keeps a rerun of date d from re-fragmenting the tail of a
    *   session that started on d-1; the look-ahead keeps a rerun of d
    *   from TRUNCATING a session that starts on d and crosses into
    *   d+1 (without it the rerun would overwrite the correct full
    *   session row with a clipped one). Only the scoped dates' session
    *   partitions are written — lookback/look-ahead-date sessions are
    *   recomputed for chaining but never overwrite their own
    *   partitions (their own neighbors aren't loaded). Sessions
    *   spanning 2+ midnights remain a documented edge: their middle/
    *   tail days conservatively write nothing and the start-day row
    *   carries at most one midnight of tail.
    * @param checkLogDir when set, the run's check results are logged
    *   PER EVENT DATE in scope — 7 rows per date under its run_date
    *   partition (the reference's quality_check_log), idempotently
    *   via dynamic overwrite. A multi-date or full run logs each
    *   date's own totals (the whole-scope gate summary would corrupt
    *   per-day trend semantics if logged under one date).
    * @param failFast mirrors the reference's branch: true stops before
    *   building marts, false is the WARN path (build anyway, surface
    *   failures in the result).
    * @param martJdbc when set, every built mart is ALSO loaded into
    *   the warehouse at this JDBC url via `MartSink.mergeJdbc` — the
    *   incremental leg of the reference's load task: only new/changed
    *   rows cross the wire (an unchanged rerun ships zero rows), with
    *   vanished keys deleted inside the run's date scope (or
    *   table-wide on a full refresh). Per-mart MergeStats are
    *   returned in `Result.martMerges`.
    * @param quarantine the third branch the reference's WARN path
    *   implies but never materializes: instead of building marts on
    *   everything (failFast=false) or nothing (failFast=true), build
    *   them on the CLEAN SESSIONS only — `Sessionize.cleanEvents`
    *   drops rows failing null_check and whole sessions containing
    *   any range/timestamp/integrity/duplicate/sequence violation.
    *   The gate summary (and check log) still reports over the RAW
    *   frame — quarantining is downstream of measurement, so the
    *   trend/alert surface keeps seeing the defects.
    * @param suggestionsPath when set, the persisted suggestion
    *   CONTRACT at this path (`Quality.writeSuggestions` — bounds and
    *   domains observed on a known-healthy run) is executed against
    *   the run's events alongside the seven hand-written checks: its
    *   summary rows union into the gate (same shape), so a
    *   contract violation fails the gate, rides the alert payload and
    *   trips failFast exactly like a built-in check. The data-derived
    *   contract becomes part of the daily gate, not a side report.
    * @param driftLogDir when set (and a contract is wired), every
    *   healthy run appends its FULL contract diff to the drift run
    *   log under the run date (idempotent per date) —
    *   `Quality.driftTrendFromLog` then reads drift VELOCITY off the
    *   log and `widenStreaksLatest` feeds the daily report's
    *   velocity section. No contract or a failed gate logs nothing
    *   (a sick run's re-suggest would poison the trend).
    * @param versionLogDir with `versionArtifacts` (logical name →
    *   stamped artifact dir), every COMPLETED run snapshots the
    *   artifacts' manifests into the version log under the run date
    *   (idempotent per date, same run_id/no-derivable-date-skip
    *   contract as the drift log) — `VersionLog.versionTrendFromLog`
    *   then answers which artifact changed between which runs. A
    *   failFast-stopped run logs nothing: its artifacts may be
    *   half-refreshed, and a later rerun of the same date replaces
    *   the partition anyway. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          failFast: Boolean = true, dates: Seq[String] = Nil,
          checkLogDir: Option[String] = None,
          checkLogJdbc: Option[(String, String)] = None,
          quarantine: Boolean = false,
          martJdbc: Option[String] = None,
          suggestionsPath: Option[String] = None,
          autoPromoteAfter: Option[Int] = None,
          driftLogDir: Option[String] = None,
          versionLogDir: Option[String] = None,
          versionArtifacts: Seq[(String, String)] = Nil): Result = {
    autoPromoteAfter.foreach(n => require(n >= 1,
      s"autoPromoteAfter must be >= 1, got $n"))
    val base = EventMarts.enriched(spark, sfDir)
    val runDates = dates.map(java.sql.Date.valueOf)
    // persist scope = run dates ± one day (sessionize lookback and
    // look-ahead); gate and non-session marts consume the run-date
    // slice of it
    val neighbors = dates.flatMap { d =>
      val ld = java.sql.Date.valueOf(d).toLocalDate
      Seq(ld.minusDays(1).toString, ld.plusDays(1).toString)
    }
    val scopeDates = (dates ++ neighbors).distinct.map(java.sql.Date.valueOf)
    val widened =
      if (dates.isEmpty) base
      else base.filter(col("event_date").isin(scopeDates: _*))
    // one events scan feeds the gate and every mart
    val w = widened.persist(StorageLevel.MEMORY_AND_DISK)
    val e = if (dates.isEmpty) w else w.filter(col("event_date").isin(runDates: _*))
    try {
      val summaryDf = suggestionsPath.foldLeft(Quality.summaryFrom(e)) {
        (acc, path) => acc.unionByName(Quality.suggestionGate(e, path))
      }
      val summary = summaryDf.collect().toSeq
      val checks = Reporting.checkResults(summary)
      val failed = checks.filter(_.status == "FAIL").map(_.checkName)
      val runDate = dates.sorted.lastOption.orElse {
        val r = e.agg(max(col("event_date"))).collect().head
        if (r.isNullAt(0)) None else Some(r.getDate(0).toString)
      }
      // the auto-refresh half of the contract loop: on a HEALTHY run
      // (gate green), re-suggest from this run's events and DIFF
      // against the pinned contract — a bound drifting toward the
      // contract edge surfaces here run after run, BEFORE the day it
      // breaks and fails the gate. The gate above enforced the PINNED
      // artifact regardless; promotion stays an explicit
      // `Quality.promoteSuggestions` call. Dimension-sized collect
      // (≤ a few rows per column), drift rows only.
      val (contractDrift, contractPromoted):
          (Seq[(String, String, String)], Option[String]) =
        if (failed.nonEmpty || suggestionsPath.isEmpty) (Nil, None)
        else {
          val path = suggestionsPath.get
          // Refresh from the SAME scope the pinned contract was built
          // from — full history up to this run's date — never the
          // run-date slice: a one-day slice almost always has a
          // narrower observed range and a smaller domain, so diffing
          // it against a full-history contract would report spurious
          // narrowed/domain_shrank rows on every healthy dated run
          // and bury the widening trend this feature exists to
          // surface. Cost per HEALTHY run: the pin's own suggestion
          // build over history up to the run date — one exact profile
          // pass per events column (each column profiled once), one
          // capped isin distinct and one fused range aggregate. It
          // grows with the history, not with the day.
          val refreshScope =
            if (dates.isEmpty) e
            else base.filter(col("event_date") <=
              lit(java.sql.Date.valueOf(dates.max)))
          // the refreshed profile feeds the drift diff AND (policy
          // firing) the promotion write — pin it so the two surfaces
          // cannot see different profiles of the same run
          val refreshed = Quality.suggestedChecksFrom(refreshScope)
            .localCheckpoint()
          // ONE execution of the dimension-sized diff feeds both the
          // velocity log (FULL rows — the trend needs each run's
          // bounds even when unchanged) and the result's drift rows
          val diff = Quality.contractDrift(
            Quality.loadSuggestions(spark, path), refreshed)
          val diffRows = diff.collect().toSeq
          // no derivable run date (empty corpus, no --dates) → skip
          // the append rather than stamp a sentinel: "unknown" sorts
          // after every ISO date, so one such partition would
          // permanently win max(run_id) in widenStreaksLatest and
          // freeze the velocity section on it (mirrors the
          // check-log's null-date handling)
          for (ld <- driftLogDir; rd <- runDate) {
            import scala.jdk.CollectionConverters._
            Quality.driftLogAppend(
              spark.createDataFrame(diffRows.asJava, diff.schema), ld, rd)
          }
          val drift = diffRows.filter(_.getAs[Boolean]("drift"))
            .map(r => (r.getAs[String]("column_name"),
              r.getAs[String]("check_type"), r.getAs[String]("change")))
          // OPT-IN auto-promotion: the gate always enforced the PINNED
          // artifact above; only after `autoPromoteAfter` CONSECUTIVE
          // healthy runs observe drift against the same pinned
          // fingerprint does the refreshed profile replace it (with
          // `refreshed-from:<fp>` lineage + the policy tag). A failed
          // gate never reaches this branch — a sick run can never
          // promote — and a healthy drift-free run resets the streak
          // (the contract matches reality; stale evidence expires).
          val promoted = autoPromoteAfter.flatMap { n =>
            val pinnedFp = graft.sources.ArtifactManifest.read(path)
              .map(_.contentFp).getOrElse("")
            if (drift.isEmpty) {
              Quality.writePromotionStreak(path,
                Quality.PromotionStreak(0, pinnedFp))
              None
            } else {
              val streak = Quality.readPromotionStreak(path)
                .filter(_.againstFp == pinnedFp)
                .map(_.streak).getOrElse(0) + 1
              if (streak >= n) {
                Quality.promoteSuggestions(refreshed, path,
                  builtFrom = s"auto-promote:healthy-drift-streak=$streak")
                val newFp = graft.sources.ArtifactManifest.read(path)
                  .map(_.contentFp).getOrElse("")
                Quality.writePromotionStreak(path,
                  Quality.PromotionStreak(0, newFp))
                Some(newFp)
              } else {
                Quality.writePromotionStreak(path,
                  Quality.PromotionStreak(streak, pinnedFp))
                None
              }
            }
          }
          (drift, promoted)
        }
      // rows with a null ts have no run date to log under (they would
      // land in a __HIVE_DEFAULT_PARTITION__ that trendFromLog counts
      // as an extra "day"); they stay visible through the corpus-wide
      // null/timestamp checks in the gate summary above. The per-date
      // aggregate is materialized once and feeds both logs and the
      // date scope of the DB leg.
      if (checkLogDir.nonEmpty || checkLogJdbc.nonEmpty) {
        val logFrame = Quality.perDateChecks(e)
          .filter(col("event_date").isNotNull)
          .withColumnRenamed("event_date", "run_date")
          .localCheckpoint()
        try {
          checkLogDir.foreach { dir =>
            MartSink.writePartitioned(logFrame, dir, Seq("run_date"))
          }
          checkLogJdbc.foreach { case (url, table) =>
            // the DB leg of the log (the reference's quality_check_log
            // in PostgreSQL): one staged-atomic upsert scoped to the
            // run's dates — rerun-idempotent exactly like the parquet
            // partition overwrite above
            val ds = logFrame.select("run_date").distinct()
              .collect().map(_.getDate(0).toString).sorted
            if (ds.nonEmpty)
              MartSink.writeJdbc(logFrame, url, table,
                deletePredicate =
                  Some(ds.map(d => s"'$d'").mkString("\"run_date\" IN (", ", ", ")")))
          }
        } finally Caches.unpersistCheckpointed(logFrame)
      }
      val alert = Option.when(failed.nonEmpty)(
        Reporting.qualityAlertPayload(runDate.getOrElse("unknown"), checks))
      if (failed.nonEmpty && failFast)
        Result(passed = false, failed, Nil, runDate, alert)
      else {
        // session_sequences sessionizes over the widened (±1 day)
        // frame so cross-midnight chains assemble in BOTH directions,
        // then keeps only the scoped dates' partitions for the write
        // (see run() scaladoc)
        // quarantine mode gates the mart input at session grain; the
        // date-scoped session mart gates the widened frame the same
        // way so cross-midnight chains assemble before the verdict
        val martBase = if (quarantine) Sessionize.cleanEvents(e) else e
        val sessionBase = if (quarantine) Sessionize.cleanEvents(w) else w
        // the session mart is ALWAYS built from sessionBase (the ±1-day
        // widened frame on dated runs, = martBase on full runs), so the
        // census runs on — and the reported plan describes — the frame
        // the mart is actually written from; dated runs no longer pay a
        // martBase census only to discard its session frame.
        val (sessions, skewPlan) = Sessionize.sessionSequencesAuto(sessionBase)
        val sessionMart =
          if (dates.isEmpty) withSessionDate(sessions)
          else withSessionDate(sessions)
            .filter(col("session_date").isin(runDates: _*))
        val marts = (martsPlain(martBase) + ("session_sequences" -> sessionMart)).toSeq
        val merges = Concurrently.all(marts.map { case (name, df) =>
          () => name -> martChain(name, df, outDir, dates, martJdbc)
        }).collect { case (name, Some(stats)) => name -> stats }.toMap
        // cross-run artifact versioning: a COMPLETED run
        // snapshots the registered stamped-artifact manifests under
        // this run's id; no derivable date → skip, mirroring the
        // drift log ("unknown" would permanently win max(run_id))
        for (vd <- versionLogDir; rd <- runDate; if versionArtifacts.nonEmpty)
          sources.VersionLog.snapshotAndAppend(spark, versionArtifacts, vd, rd)
        Result(passed = failed.isEmpty, failed, marts.map(_._1), runDate, alert,
          martMerges = merges, sessionSkew = Some(skewPlan),
          contractDrift = contractDrift, contractPromoted = contractPromoted)
      }
    } finally {
      w.unpersist()
      ()
    }
  }

  /** The daily business report for one date, assembled from the five
    * mart extracts (reference: llm_daily_report's extract+format
    * path; graft.Reporting renders the deterministic fallback
    * template). All five aggregates are tiny and independent, so they
    * are collected concurrently; `e` should be the shared persisted
    * projection when called inside a run. */
  def dailyReportText(e: DataFrame, executionDate: String,
                      driftLogDir: Option[String] = None): String = {
    val day = e.filter(col("event_date") === java.sql.Date.valueOf(executionDate))
    val Seq(users, funnel, top, orders, payments) = Concurrently.all(Seq(
        EventMarts.reportUserSummaryFrom(day), EventMarts.martFunnelDailyFrom(day),
        EventMarts.productTopNFrom(day, 10), EventMarts.reportOrderSummaryFrom(day),
        EventMarts.reportPaymentDistFrom(day))
      .map(df => () => df.collect().toSeq))
    Reporting.dailyReport(
      executionDate,
      userSummary = users.headOption,
      funnel = funnel,
      topProducts = top,
      orderSummary = orders.headOption,
      payments = payments,
      // velocity section: streaks from the persisted drift log (the
      // run() side writes it under driftLogDir) — absent/empty log
      // keeps byte-parity with a report that never wired one. The
      // guard lives in widenStreaksLatest itself (parquet read, not
      // java.io.File), so an ops-precreated empty dir returns Nil
      // and a non-local log URI still renders the section
      driftStreaks = driftLogDir
        .map(d => operators.Quality.widenStreaksLatest(e.sparkSession, d))
        .getOrElse(Nil))
  }

  /** Assemble dashboard rows from a persisted quality_check_log plus
    * the corpus' per-day traffic (events/purchases/revenue) — the data
    * the reference dashboard loads per daily report. Both inputs are
    * tiny aggregates (7 rows/day and one row/day); the only
    * distributed work is the single per-day traffic aggregate over
    * `e`. */
  def dashboardDays(spark: SparkSession, checkLogDir: String,
                    e: DataFrame): Seq[Reporting.DashboardDay] =
    dashboardDaysFrom(spark.read.parquet(checkLogDir), e)

  /** Same assembly over the DB-backed log (the reference dashboard's
    * `load_from_db` path, quality_dashboard.py:51). */
  def dashboardDaysJdbc(spark: SparkSession, url: String, table: String,
                        e: DataFrame): Seq[Reporting.DashboardDay] =
    dashboardDaysFrom(spark.read.jdbc(url, table, new java.util.Properties()), e)

  private def dashboardDaysFrom(log: DataFrame,
                                e: DataFrame): Seq[Reporting.DashboardDay] = {
    val byDate = log.collect()
      .groupBy(_.getAs[java.sql.Date]("run_date").toString)
    // prune the traffic aggregate to the dashboard's dates — the log's
    // date set is known driver-side, so don't scan/shuffle the corpus'
    // other days just to discard them
    val logDates = byDate.keySet.toSeq.map(java.sql.Date.valueOf)
    val traffic = e.filter(col("event_date").isin(logDates: _*))
      .groupBy(col("event_date"))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
        coalesce(sum(when(col("event_type") === "purchase", col("value"))
          .cast("decimal(12,2)")), lit(0).cast("decimal(12,2)"))
          .cast("double").as("revenue"))
      .collect()
      .filter(!_.isNullAt(0))
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    byDate.toSeq.sortBy(_._1).map { case (date, rows) =>
      val (ev, pur, rev) = traffic.getOrElse(date, (0L, 0L, 0.0))
      Reporting.DashboardDay(date, Reporting.checkResults(rows.toSeq), ev, pur, rev)
    }
  }

  /** The terminal quality dashboard for a run's check log. */
  def qualityDashboardText(spark: SparkSession, checkLogDir: String, e: DataFrame): String =
    Reporting.qualityDashboard(dashboardDays(spark, checkLogDir, e))

  /** The HTML quality dashboard for a run's check log. */
  def qualityDashboardHtml(spark: SparkSession, checkLogDir: String, e: DataFrame): String =
    Reporting.qualityDashboardHtml(dashboardDays(spark, checkLogDir, e))

  /** One-call experiment readout over a corpus dir: the three A/B
    * surfaces (`ab_srm_check` gate, `ab_test_summary` raw readout,
    * `ab_cuped` variance-reduced readout) rendered in reading order.
    * Three tiny extracts — each query reduces to ≤2 driver rows; the
    * shared `armCol` guarantees all three describe the SAME split. */
  def experimentReportText(spark: SparkSession, dir: String,
                           asOf: String, experiment: String = "exp1"): String =
    experimentReadout(spark, dir, experiment)(Reporting.experimentReport(asOf, _, _, _, _))

  /** The Block Kit form of the same readout. */
  def experimentReportPayload(spark: SparkSession, dir: String,
                              asOf: String, experiment: String = "exp1"): String =
    experimentReadout(spark, dir, experiment)(Reporting.experimentReportPayload(asOf, _, _, _, _))

  /** The readout's four collects (srm, summary, cuped, sequential),
    * handed to one renderer. */
  private def experimentReadout(spark: SparkSession, dir: String, experiment: String)(
      render: (Option[Row], Seq[Row], Seq[Row], Seq[Row]) => String): String = {
    val e = EventMarts.enriched(spark, dir)
    render(operators.UserAnalytics.abSrmCheckFrom(e, experiment).collect().headOption,
      operators.UserAnalytics.abTestSummaryFrom(e, experiment).collect().toSeq,
      operators.UserAnalytics.abCupedFrom(e, experiment).collect().toSeq,
      operators.UserAnalytics.abSequentialFrom(e, experiment).collect().toSeq)
  }

  /** Gate-verdict dashboard days from the streaming verdict log
    * (`SessionGateStream.gateLogSink`'s output): the shared day
    * rollup runs distributed, and only the one-row-per-day census is
    * collected — the same tiny-extract shape as `dashboardDays`. */
  def gateDashboardDays(spark: SparkSession, gateLogDir: String): Seq[Reporting.GateDay] =
    gateDashboardDaysFrom(streaming.SessionGateStream.gateDailyFromLog(spark, gateLogDir))

  /** Same assembly over any frame in the `session_quality_gate` /
    * `gateDayRollup` schema — the batch gate query renders through
    * the identical path, so batch runs and the streaming verdict log
    * produce byte-identical dashboards on the same sessions. */
  def gateDashboardDaysFrom(daily: DataFrame): Seq[Reporting.GateDay] =
    Reporting.gateDays(daily.collect().toIndexedSeq)

  /** Terminal quarantine dashboard over the streaming verdict log. */
  def gateDashboardText(spark: SparkSession, gateLogDir: String): String =
    Reporting.gateDashboard(gateDashboardDays(spark, gateLogDir))

  /** HTML quarantine dashboard over the streaming verdict log. */
  def gateDashboardHtml(spark: SparkSession, gateLogDir: String): String =
    Reporting.gateDashboardHtml(gateDashboardDays(spark, gateLogDir))

  // ---- right-to-be-forgotten (the operational GDPR pass) ----

  /** The marts that carry user-keyed rows, with the partition column
    * the erasure locate/rewrite prunes on. The other three marts
    * (funnel/product/hourly) are aggregates with no per-user rows —
    * erasure reports them as skipped rather than silently ignoring
    * them, so the manifest documents the full surface audited. */
  private val userKeyedMarts = Seq(
    "mart_user_daily"   -> "event_date",
    "mart_orders"       -> "order_date",
    "session_sequences" -> "session_date")

  private val aggregateMarts =
    Seq("mart_funnel_daily", "mart_product_daily", "hourly_traffic")

  /** What one erasure call touched — the audit record a deletion
    * request needs. */
  final case class EraseManifest(
      userIds: Seq[Long],
      martStats: Map[String, MartSink.EraseStats],
      jdbcDeleted: Map[String, Long],
      skipped: Seq[String])

  /** Erase `userIds` from every built mart in one call — the
    * partition-pruned parquet pass (`MartSink.eraseKeys`) over each
    * user-keyed mart present under `outDir`, plus the warehouse leg
    * (`eraseKeysJdbc`) for each of those tables that exists at
    * `martJdbc`. Aggregate marts (no user-keyed rows) and absent
    * directories/tables land in `skipped`, so the manifest states
    * what was erased, what was checked-and-empty, and what was out of
    * scope. Erasing already-erased users is a no-op (stats zero). */
  def erase(spark: SparkSession, outDir: String, userIds: Seq[Long],
      martJdbc: Option[String] = None): EraseManifest = {
    val (present, absent) = userKeyedMarts.partition { case (m, _) =>
      new java.io.File(s"$outDir/$m").exists() }
    val stats = present.map { case (m, partCol) =>
      m -> MartSink.eraseKeys(spark, s"$outDir/$m", "user_id", userIds, partCol)
    }.toMap
    val jdbc = martJdbc match {
      case None => Map.empty[String, Long]
      case Some(url) =>
        val conn = java.sql.DriverManager.getConnection(url)
        val tables =
          try userKeyedMarts.map(_._1).filter(MartSink.tableExists(conn, _))
          finally conn.close()
        tables.map(t => t -> MartSink.eraseKeysJdbc(url, t, "user_id", userIds)).toMap
    }
    val jdbcAbsent = martJdbc.toSeq.flatMap(_ =>
      userKeyedMarts.map(_._1).filterNot(jdbc.contains).map(t => s"jdbc:$t (absent)"))
    EraseManifest(userIds, stats, jdbc,
      aggregateMarts.map(m => s"$m (aggregate, no user rows)") ++
        absent.map { case (m, _) => s"$m (not built)" } ++ jdbcAbsent)
  }

  /** Erase users from the user-keyed STREAMING artifacts — the gate
    * verdict log and the routed clean/review event dirs — which live
    * at caller-chosen paths OUTSIDE the mart tree, so [[erase]]
    * cannot see them (the one erasure surface the mart pass misses:
    * every other streaming log is aggregate-grain by construction —
    * window×bucket / window×product counts carry no user key).
    * Each is (date, batch_id)-partitioned; the same census →
    * rewrite-partial / drop-emptied core applies
    * (`MartSink.eraseKeysPartitioned`). Absent dirs are reported
    * skipped, the manifest discipline of the mart pass. */
  def eraseStreamLogs(spark: SparkSession,
      logs: Seq[(String, Seq[String])], userIds: Seq[Long])
    : (Map[String, MartSink.EraseStats], Seq[String]) = {
    val (present, absent) = logs.partition { case (d, _) =>
      new java.io.File(d).exists() }
    (present.map { case (d, pcs) =>
      d -> MartSink.eraseKeysPartitioned(spark, d, "user_id", userIds, pcs)
    }.toMap,
      absent.map { case (d, _) => s"$d (absent)" })
  }

  /** The standard partition layouts of the user-keyed streaming
    * artifacts, for [[eraseStreamLogs]] callers. */
  val GateLogPartitions: Seq[String] = Seq("session_date", "batch_id")
  val RoutedEventPartitions: Seq[String] = Seq("event_date", "batch_id")

  // ---- backfill planner — the deterministic core of the reference
  // DAG's catchup + sensor behavior (dags/event_pipeline_dag.py:
  // schedule_interval/catchup decide WHICH dates run; this decides it
  // from observed data state instead of wall-clock bookkeeping)

  /** Which execution dates need (re)building, and why. `stale` is the
    * actionable list: dates never recorded in the build manifest plus
    * dates whose event content changed since their last build
    * (late-arriving data). `vanished` names manifest dates whose
    * events have since disappeared entirely (e.g. a GDPR purge of the
    * raw feed) — reported, not replayed: a scoped rerun with zero
    * input writes no partitions, so clearing those marts is a
    * deliberate separate action, not an implicit side effect. */
  final case class BackfillPlan(neverBuilt: Seq[String], changed: Seq[String],
                                vanished: Seq[String]) {
    def stale: Seq[String] = (neverBuilt ++ changed).sorted
  }

  /** Per-date content state of the events feed: row count + an
    * order-independent fingerprint (bit_xor of a full-row hash — XOR
    * is commutative/associative, so the fingerprint is independent of
    * partition layout and scan order; an even number of IDENTICAL
    * late rows would cancel in the xor but still move n_events, which
    * is why the (count, fingerprint) PAIR is the comparison unit).
    * One map-combined aggregation; output is date-dimension. */
  private[graft] def datesState(e: DataFrame): DataFrame =
    e.filter(col("event_date").isNotNull)
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n_events"),
        expr("bit_xor(xxhash64(event_id, ts, user_id, event_type, value, props))")
          .as("fingerprint"))

  private def readManifest(spark: SparkSession, manifestDir: String): DataFrame = {
    import spark.implicits._
    if (new java.io.File(manifestDir).exists())
      spark.read.parquet(manifestDir)
        .select(col("event_date").cast("date"), col("n_events"), col("fingerprint"))
    else Seq.empty[(java.sql.Date, Long, Long)]
      .toDF("event_date", "n_events", "fingerprint")
  }

  /** Compare the feed's current per-date state against the build
    * manifest. Both sides are date-dimension frames; the full-outer
    * join is tiny. */
  def planBackfill(spark: SparkSession, sfDir: String,
                   manifestDir: String): BackfillPlan = {
    val current = datesState(EventMarts.enriched(spark, sfDir))
      .withColumnRenamed("n_events", "cur_n")
      .withColumnRenamed("fingerprint", "cur_fp")
    val manifest = readManifest(spark, manifestDir)
      .withColumnRenamed("n_events", "built_n")
      .withColumnRenamed("fingerprint", "built_fp")
    val joined = current.join(manifest, Seq("event_date"), "full_outer")
      .select(col("event_date").cast("string").as("d"),
        col("cur_n"), col("cur_fp"), col("built_n"), col("built_fp"))
      .collect()
    val neverBuilt = joined.filter(r => r.isNullAt(3)).map(_.getString(0))
    val vanished = joined.filter(r => r.isNullAt(1) && !r.isNullAt(3)).map(_.getString(0))
    val changed = joined.filter(r => !r.isNullAt(1) && !r.isNullAt(3) &&
      (r.getLong(1) != r.getLong(3) || r.getLong(2) != r.getLong(4))).map(_.getString(0))
    BackfillPlan(neverBuilt.sorted.toSeq, changed.sorted.toSeq, vanished.sorted.toSeq)
  }

  /** Record the feed state the (just-completed) build consumed, for
    * the named dates — per-date dynamic partition overwrite, so
    * scoped backfills update only their own manifest rows and reruns
    * are idempotent. */
  private[graft] def recordBuildManifest(spark: SparkSession, sfDir: String,
      manifestDir: String, dates: Seq[String]): Unit = {
    val ds = dates.map(java.sql.Date.valueOf)
    val state = datesState(EventMarts.enriched(spark, sfDir))
      .filter(col("event_date").isin(ds: _*))
    MartSink.writePartitioned(state, manifestDir, Seq("event_date"))
  }

  /** Plan + replay + record: detect stale dates, drive the SAME
    * scoped [[run]] a scheduler would, and stamp the manifest with
    * the state each rebuilt date was built from. A converged feed
    * no-ops (plan.stale empty → no run). The gate still applies —
    * a failed gate (failFast) skips the manifest stamp so the dates
    * stay stale and the next backfill retries them. */
  def backfill(spark: SparkSession, sfDir: String, outDir: String,
               manifestDir: String, failFast: Boolean = true,
               quarantine: Boolean = false,
               checkLogDir: Option[String] = None,
               martJdbc: Option[String] = None,
               suggestionsPath: Option[String] = None,
               autoPromoteAfter: Option[Int] = None,
               driftLogDir: Option[String] = None): (BackfillPlan, Option[Result]) = {
    val plan = planBackfill(spark, sfDir, manifestDir)
    if (plan.stale.isEmpty) (plan, None)
    else {
      // one scoped run over every stale date: its persisted ±1-day
      // frame is the backfill's widest sessionize scope, so the run's
      // own census is the one census of the backfill
      val result = run(spark, sfDir, outDir, failFast = failFast,
        dates = plan.stale, checkLogDir = checkLogDir,
        quarantine = quarantine, martJdbc = martJdbc,
        suggestionsPath = suggestionsPath,
        autoPromoteAfter = autoPromoteAfter, driftLogDir = driftLogDir)
      if (result.martsWritten.nonEmpty)
        recordBuildManifest(spark, sfDir, manifestDir, plan.stale)
      (plan, Some(result))
    }
  }

  /** Cron entry: `runMain graft.Pipeline <dataDir> <martDir>
    * [date[,date...]] [--quarantine] [--mart-jdbc=<url>]
    * [--backfill] [--contract=<path>] [--auto-promote=<n>]
    * [--drift-log=<dir>]` — one invocation per execution date maps
    * 1:1 onto a scheduler run. `--quarantine` builds marts on clean
    * sessions only; `--mart-jdbc` adds the incremental warehouse leg
    * (per-mart MergeStats echoed for the run log); `--backfill` lets
    * the planner pick the dates (never-built + late-data) instead of
    * the positional list — Airflow catchup without Airflow.
    * `--contract` wires the persisted suggestion contract into the
    * gate; with it, drift logging defaults to
    * `<martDir>/contract_drift_log` (override with `--drift-log`,
    * the velocity-trend input) and `--auto-promote=n` turns on the
    * n-consecutive-healthy-drifts promotion policy. */
  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--"))
    val pos = args.filterNot(_.startsWith("--"))
    val sfDir = if (pos.nonEmpty) pos(0) else "/root/testdata/sf0.001"
    val outDir = if (pos.length > 1) pos(1) else "/tmp/graft_marts"
    val dates = if (pos.length > 2) pos(2).split(",").toSeq else Nil
    val quarantine = flags.contains("--quarantine")
    val martJdbc = flags.collectFirst {
      case f if f.startsWith("--mart-jdbc=") => f.stripPrefix("--mart-jdbc=")
    }
    val eraseIds = flags.collectFirst {
      case f if f.startsWith("--erase=") =>
        f.stripPrefix("--erase=").split(",").toSeq.map(_.trim.toLong)
    }
    val contract = flags.collectFirst {
      case f if f.startsWith("--contract=") => f.stripPrefix("--contract=")
    }
    val autoPromote = flags.collectFirst {
      case f if f.startsWith("--auto-promote=") =>
        f.stripPrefix("--auto-promote=").toInt
    }
    // drift velocity logging rides along whenever a contract is wired
    // (the trend is only as good as its run coverage); --drift-log
    // overrides the default location next to the other run logs
    val driftLog = flags.collectFirst {
      case f if f.startsWith("--drift-log=") => f.stripPrefix("--drift-log=")
    }.orElse(contract.map(_ => s"$outDir/contract_drift_log"))
    val spark = GraftSession.get()
    // an erasure run is its own operation: touch the built marts (and
    // the warehouse if given), print the manifest, and stop — no
    // pipeline rebuild rides along with a deletion request
    eraseIds.foreach { ids =>
      val m = erase(spark, outDir, ids, martJdbc)
      println(s"erased users=${ids.mkString(",")} " +
        "marts=" + m.martStats.toSeq.sortBy(_._1).map { case (n, s) =>
          s"$n:${s.rowsErased}" }.mkString(",") +
        (if (m.jdbcDeleted.nonEmpty)
          " jdbc=" + m.jdbcDeleted.toSeq.sortBy(_._1).map { case (n, c) =>
            s"$n:$c" }.mkString(",")
         else "") +
        " skipped=" + m.skipped.mkString(";"))
      spark.stop()
      return
    }
    // --backfill replaces the explicit date list with the planner's:
    // catch-up + late-data detection against the build manifest, then
    // the same scoped run a scheduler would issue
    if (flags.contains("--backfill")) {
      val (plan, res) = backfill(spark, sfDir, outDir,
        manifestDir = s"$outDir/build_manifest",
        failFast = !quarantine, quarantine = quarantine,
        checkLogDir = Some(s"$outDir/quality_check_log"), martJdbc = martJdbc,
        suggestionsPath = contract, autoPromoteAfter = autoPromote,
        driftLogDir = driftLog)
      println(s"backfill neverBuilt=${plan.neverBuilt.mkString(",")} " +
        s"changed=${plan.changed.mkString(",")} " +
        s"vanished=${plan.vanished.mkString(",")} " +
        res.map(r => s"passed=${r.passed} marts=${r.martsWritten.sorted.mkString(",")}")
          .getOrElse("converged (no run)"))
      spark.stop()
      return
    }
    // quarantine IS the alternative to fail-fast: the run proceeds and
    // the marts consume clean sessions instead of stopping at the gate
    val r = run(spark, sfDir, outDir, dates = dates,
      failFast = !quarantine,
      checkLogDir = Some(s"$outDir/quality_check_log"),
      quarantine = quarantine, martJdbc = martJdbc,
      suggestionsPath = contract, autoPromoteAfter = autoPromote,
      driftLogDir = driftLog)
    println(s"passed=${r.passed} runDate=${r.runDate.getOrElse("-")} " +
      s"failedChecks=${r.failedChecks.mkString(",")} " +
      s"martsWritten=${r.martsWritten.sorted.mkString(",")}" +
      (if (r.martMerges.nonEmpty)
        " martMerges=" + r.martMerges.toSeq.sortBy(_._1).map { case (n, s) =>
          s"$n:${s.upserted}/${s.total}(-${s.deleted})" }.mkString(",")
       else "") +
      (if (contract.nonEmpty) s" contractDrift=${r.contractDrift.size}" +
        r.contractPromoted.map(fp => s" promoted=${fp.take(12)}").getOrElse("")
       else ""))
    spark.stop()
  }
}
