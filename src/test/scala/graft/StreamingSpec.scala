package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming._

class StreamingSpec extends SparkSpec {
  import org.apache.spark.sql.Encoders

  private def eventsDf() = {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    mem.addData(
      (1L, at(0), 1L, "view", 1.0, "{}"),
      (2L, at(1), 1L, "click", 1.0, "{}"),
      (3L, at(2), 1L, "purchase", 42.5, "{}"),
      (4L, at(5), 2L, "view", 1.0, "{}"),
      (5L, at(65), 2L, "view", 1.0, "{}"))
    (mem, mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
  }

  test("streaming funnel counts maintain windowed aggregates on a memory stream") {
    val (_, df) = eventsDf()
    val q = EventStream.funnelCounts(df, watermark = "10 minutes")
      .writeStream.format("memory").queryName("funnel_test").outputMode("update").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("funnel_test").collect()
      assert(rows.nonEmpty)
      val totalPurchases = rows.map(_.getAs[Long]("purchases")).sum
      assert(totalPurchases == 1)
      val revenue = rows.map(_.getAs[Double]("revenue")).sum
      assert(math.abs(revenue - 42.5) < 1e-9)
    } finally q.stop()
  }

  test("streaming ab monitor assigns the batch arms statelessly and counts per window") {
    import java.security.MessageDigest
    def arm(u: Long): String = {
      val h = MessageDigest.getInstance("MD5")
        .digest(s"exp1:$u".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (h.charAt(0) >= '8') "treatment" else "control"
    }
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    // users 1..8 view in one window; evens purchase; a null user drops
    val rows = (1L to 8L).map(u => (u, at(u.toInt), u, "view", 1.0, "{}")) ++
      (2L to 8L by 2).map(u => (100L + u, at(30), u, "purchase", 9.0, "{}"))
    mem.addData(rows: _*)
    val q = EventStream.abArmCounts(
        mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("ab_arm_test").outputMode("update").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ab_arm_test").collect()
        .groupBy(_.getAs[String]("arm")).view.mapValues { rs =>
          (rs.map(_.getAs[Long]("events")).sum, rs.map(_.getAs[Long]("views")).sum,
            rs.map(_.getAs[Long]("purchases")).sum)
        }.toMap
      val expected = (1L to 8L).groupBy(arm).view.mapValues { us =>
        val p = us.count(_ % 2 == 0).toLong
        (us.size.toLong + p, us.size.toLong, p)
      }.toMap
      assert(got == expected, s"got $got expected $expected")
    } finally q.stop()
  }

  test("srm watch over arm counts: replica verdict on a split stream; one-arm outage flags") {
    import java.security.MessageDigest
    def arm(u: Long): String = {
      val h = MessageDigest.getInstance("MD5")
        .digest(s"exp1:$u".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (h.charAt(0) >= '8') "treatment" else "control"
    }
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    // healthy hash split: users 1..8, one view each in one window
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    mem.addData((1L to 8L).map(u => (u, at(u.toInt), u, "view", 1.0, "{}")): _*)
    val q = EventStream.abArmCounts(
        mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("srm_watch_ok").outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val ok = EventStream.srmFromArmCounts(spark.table("srm_watch_ok")).collect()
    assert(ok.length == 1)
    val nc = (1L to 8L).count(arm(_) == "control").toLong
    val nt = 8L - nc
    assert(ok.head.getAs[Long]("n_control") == nc)
    assert(ok.head.getAs[Long]("n_treatment") == nt)
    assert(ok.head.getAs[Boolean]("srm_flag") ==
      (100L * (nc - nt) * (nc - nt) > 384L * 8L))
    // one-arm logging outage: only control-hashing users emit → the
    // missing arm reads as ZERO through the conditional sum and the
    // tripwire must fire on the closed window
    val ctrl = (1L to 200L).filter(arm(_) == "control").take(30)
    val mem2 = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    mem2.addData(ctrl.zipWithIndex.map { case (u, i) =>
      (1000L + i, at(i % 50), u, "view", 1.0, "{}") }: _*)
    val q2 = EventStream.abArmCounts(
        mem2.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("srm_watch_broken").outputMode("update").start()
    try q2.processAllAvailable() finally q2.stop()
    val broken = EventStream.srmFromArmCounts(spark.table("srm_watch_broken")).collect()
    assert(broken.nonEmpty)
    assert(broken.forall(_.getAs[Long]("n_treatment") == 0L))
    assert(broken.head.getAs[Boolean]("srm_flag"),
      "one-arm stream must trip the per-window SRM watch")
  }

  test("changepoint watch over the hourly log equals the batch CUSUM on the same events") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    def at(day: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:30:00")
    // 5 quiet days (2 events) then 5 loud days (6 events), split
    // across two hours each; the midpoint-step bridge statistic is
    // scale-invariant at √n/2, so n = 10 days → 1.581 > 1.358 (six
    // days would sit at 1.22 and never flag regardless of shift
    // size); plus a far-future sentinel to close all windows in
    // append mode
    var id = 0L
    val rows = (1 to 10).flatMap { d =>
      val n = if (d <= 5) 2 else 6
      (1 to n).map { i => id += 1; (id, at(d, 9 + i % 2), d.toLong, "view", 1.0, "{}") }
    } :+ (9999L, java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), 9L, "view", 1.0, "{}")
    mem.addData(rows: _*)
    val q = EventStream.hourlyTraffic(
        mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        watermark = "1 hour")
      .writeStream.format("memory").queryName("cp_watch_log").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val live = EventStream.changepointFromTrafficLog(spark.table("cp_watch_log"))
      .collect()
    // the sentinel day stays open (append mode) — the watch sees days 1-10
    assert(live.length == 10)
    // batch core on the SAME closed days must agree row-for-row — the
    // shared changepointFromDaily core makes this structural
    import spark.implicits._
    val batch = operators.UserAnalytics.trafficChangepointFrom(
      operators.EventMarts.enrich(
        rows.init.toDF("event_id", "ts", "user_id", "event_type", "value", "props")))
      .collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getDate(0).toString, r.getAs[Long]("n_events"), r.getAs[Long]("cusum"),
        r.getAs[Double]("stat"), r.getAs[java.sql.Date]("split_date").toString,
        r.getAs[Boolean]("changepoint_flag"))
    assert(live.map(key).toSeq == batch.map(key).toSeq)
    // and the planted shift is actually caught at the boundary
    assert(live.forall(_.getAs[java.sql.Date]("split_date").toString == "2024-01-05"))
    assert(live.head.getAs[Boolean]("changepoint_flag"))
  }

  test("forecast watch over the hourly log equals the batch forecast on the same events") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    def at(day: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:30:00")
    // two Mondays (Jan 1/8) + surrounding days, then a far-future
    // sentinel to close every real window in append mode
    var id = 0L
    val rows = (1 to 9).flatMap { d =>
      (1 to (if (d % 7 == 1) 6 else 3)).map { i =>
        id += 1; (id, at(d, 9 + i % 3), d.toLong, "view", 1.0, "{}")
      }
    } :+ (9999L, java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), 9L, "view", 1.0, "{}")
    mem.addData(rows: _*)
    val q = EventStream.hourlyTraffic(
        mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        watermark = "1 hour")
      .writeStream.format("memory").queryName("fc_watch_log").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val live = EventStream.forecastFromTrafficLog(spark.table("fc_watch_log")).collect()
    import spark.implicits._
    val batch = operators.UserAnalytics.trafficForecastFrom(
      operators.EventMarts.enrich(
        rows.init.toDF("event_id", "ts", "user_id", "event_type", "value", "props")))
      .collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[java.sql.Date]("forecast_date").toString, r.getAs[Int]("event_hour"),
        r.getAs[Double]("baseline_mean"), r.getAs[Double]("level"),
        r.getAs[Double]("predicted_events"))
    assert(live.nonEmpty)
    assert(live.map(key).toSeq == batch.map(key).toSeq,
      s"live forecast diverges: ${live.toSeq} vs ${batch.toSeq}")
    // a duplicated finalized window (at-least-once log replay) changes
    // nothing: max-per-window absorbs identical replays
    val dup = spark.table("fc_watch_log").unionAll(spark.table("fc_watch_log"))
    assert(EventStream.forecastFromTrafficLog(dup).collect().map(key).toSeq ==
      live.map(key).toSeq)
  }

  test("stream-built day sketches feed the batch rolling-actives window algebra") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    def at(day: String) = java.sql.Timestamp.valueOf(s"$day 10:00:00")
    // day 1: users 1,2; day 2: user 2; plus a far-future sentinel that
    // pushes the watermark past both day windows so append mode emits
    mem.addData(
      (1L, at("2024-01-01"), 1L, "view", 1.0, "{}"),
      (2L, at("2024-01-01"), 2L, "view", 1.0, "{}"),
      (3L, at("2024-01-02"), 2L, "purchase", 5.0, "{}"),
      (4L, at("2024-02-01"), 9L, "view", 1.0, "{}"))
    val q = EventStream.dailyUserSketch(
        mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        watermark = "1 hour")
      .writeStream.format("memory").queryName("day_sketch_test").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val sketches = spark.table("day_sketch_test")
    assert(sketches.count() == 2) // both closed days; the sentinel day stays open
    // the stream-built sketch table drives the SAME window core as batch
    val rolled = operators.EventMarts.rollingActiveHllFrom(sketches).collect()
      .map(r => r.getAs[java.sql.Date]("event_date").toString ->
        ((r.getAs[Long]("dau_est"), r.getAs[Long]("wau_est"), r.getAs[Long]("mau_est")))).toMap
    // tiny cardinalities: HLL is exact here
    assert(rolled == Map(
      "2024-01-01" -> ((2L, 2L, 2L)),
      "2024-01-02" -> ((1L, 2L, 2L))))
  }

  test("foreachBatch JDBC epoch sink delivers exactly-once under micro-batch replay") {
    import org.apache.spark.sql.Encoders
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, Double)]
    val db = java.nio.file.Files.createTempDirectory("graft_derby_stream").resolve("livedb")
    val url = s"jdbc:derby:$db;create=true"
    val sink = graft.sources.MartSink.jdbcEpochSink(url, "mart_live")
    val mem = MemoryStream[(Long, Double)]
    mem.addData((1L, 10.0), (2L, 20.0))
    val q = mem.toDF.toDF("user_id", "amount")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val props = new java.util.Properties()
    def table() = spark.read.jdbc(url, "mart_live", props)
    assert(table().count() == 2)
    val epoch = table().select(max("_epoch")).collect().head.getLong(0)
    // simulate Spark's failure recovery: the SAME micro-batch (same
    // epoch id, same rows) is delivered to the sink again — the
    // epoch-scoped delete inside the transaction must absorb it
    import spark.implicits._
    sink(Seq((1L, 10.0), (2L, 20.0)).toDF("user_id", "amount"), epoch)
    assert(table().count() == 2, "replayed epoch must not duplicate rows")
    // a NEW epoch appends normally alongside the old one
    sink(Seq((3L, 30.0)).toDF("user_id", "amount"), epoch + 1)
    assert(table().count() == 3)
    assert(table().filter(col("_epoch") === epoch).count() == 2)
  }

  test("streaming doc ingest scrubs PII, gates quality/lang, and dedups content") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, String, String, String)]
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, String, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val good = "the and of to in the and of to in"
    val pii = "the and of to in the and of to in contact a@b.com"
    mem.addData(
      (1L, at(0), "en", "s0", good),
      (2L, at(1), "en", "s0", good),          // exact dup of doc 1 → dropped
      (3L, at(2), "en", "s1", pii),           // kept, email scrubbed
      (4L, at(3), "en", "s1", "zzzzzzzzzzzz") // low quality → dropped
    )
    val df = mem.toDF.toDF("doc_id", "ts", "lang", "source", "text")
    val q = DocStream.cleanDocs(df)
      .writeStream.format("memory").queryName("doc_clean_test").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("doc_clean_test").collect()
      assert(rows.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L))
      val scrubbed = rows.find(_.getAs[Long]("doc_id") == 3L).get.getAs[String]("clean_text")
      assert(scrubbed.endsWith("contact <EMAIL>"))
      assert(rows.forall(_.getAs[Double]("quality_score") >= 0.5))
      assert(rows.forall(_.getAs[String]("predicted_lang") == "en"))
    } finally q.stop()
  }

  test("streaming token log counts with the persisted artifact exactly as batch counting") {
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, String, String, String)]
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, String, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val texts = Seq(
      (1L, "s0", "low low lower lowest"),
      (2L, "s0", "new newer newest low"),
      (3L, "s1", "wider wide low low new"),
      (4L, "s1", " ")) // tokenizes to nothing — must still count as a doc
    mem.addData(texts.zipWithIndex.map { case ((id, s, t), i) =>
      (id, new java.sql.Timestamp(base.getTime + i * 60000L), "en", s, t)
    }: _*)
    import spark.implicits._
    val batchDocs = texts.map { case (id, s, t) => (id, s, t) }
      .toDF("doc_id", "source", "text")
    // the shared artifact: train once on the batch corpus
    val merges = TextAnalysis.trainBpeMerges(batchDocs, numMerges = 6)
    val log = java.nio.file.Files.createTempDirectory("graft_tlog").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tckpt").toString
    val q = DocStream.tokenLogSink(
      mem.toDF.toDF("doc_id", "ts", "lang", "source", "text"), merges, log, ckpt)
    try q.processAllAvailable() finally q.stop()
    def totals(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("word_count"),
          r.getAs[Long]("bpe_tokens")))).toMap
    val served = totals(DocStream.tokenBudgetFromLog(spark, log))
    // batch recompute with the SAME artifact over the same docs (left
    // join from the doc side — the sink's every-doc-counts semantics)
    val batch = totals(batchDocs.select(col("doc_id"), col("source"))
      .join(TextAnalysis.bpeTokensFrom(batchDocs, merges), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("word_count"), lit(0L))).cast("long").as("word_count"),
        sum(coalesce(col("bpe_tokens"), lit(0L))).cast("long").as("bpe_tokens")))
    assert(served == batch && served.keySet == Set("s0", "s1"),
      s"stream-counted $served != batch-counted $batch")
    // the empty doc is IN the census (s1 has 2 docs), with zero tokens
    assert(served("s1")._1 == 2L)
    // tokens compress below characters and never undershoot words
    served.values.foreach { case (_, wc, bt) => assert(bt >= wc) }
  }

  test("budget fill: plan targets joined with live arrivals, exact shares, quiet sources zero") {
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, String, String, String)]
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val texts = Seq((1L, "src0", "low low lower lowest"),
      (2L, "src0", "new newer newest low"))
    val batchDocs = texts.map { case (id, s, t) => (id, s, t) }.toDF("doc_id", "source", "text")
    val merges = TextAnalysis.trainBpeMerges(batchDocs, numMerges = 4)
    val log = java.nio.file.Files.createTempDirectory("graft_bfill").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_bfillck").toString
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, String, String)]
    mem.addData(texts.zipWithIndex.map { case ((id, s, t), i) =>
      (id, new java.sql.Timestamp(base.getTime + i * 1000L), "en", s, t) }: _*)
    val q = DocStream.tokenLogSink(
      mem.toDF.toDF("doc_id", "ts", "lang", "source", "text"), merges, log, ckpt)
    try q.processAllAvailable() finally q.stop()
    spark.catalog.refreshByPath(log)
    val fill = DocStream.budgetFillFromLog(spark, log, Sf, budgetTokens = 10000L)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    // every plan source appears; only src0 has arrivals
    val plan = TextAnalysis.corpusEpochPlan(spark, Sf, budgetTokens = 10000L)
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Double]("target_tokens")).toMap
    assert(fill.keySet == plan.keySet)
    assert(fill("src0").getAs[Long]("arrived_words") == 8L) // 2 docs × 4 words
    assert(fill("src0").getAs[Double]("fill_share") == 8.0 / plan("src0"))
    assert(fill("src0").getAs[Double]("remaining_tokens") == plan("src0") - 8.0)
    fill.filterKeys(_ != "src0").values.foreach { r =>
      assert(r.getAs[Long]("arrived_words") == 0L &&
        r.getAs[Double]("fill_share") == 0.0)
    }
  }

  test("artifact manifests: retrained vocab + stale log refuses; matching pair reads clean") {
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, String, String, String)]
    import spark.implicits._
    val docs = Seq((1L, "s0", "low low lower lowest"), (2L, "s0", "new newer newest low"))
      .toDF("doc_id", "source", "text")
    val v1 = TextAnalysis.trainBpeMerges(docs, numMerges = 4)
    val log = java.nio.file.Files.createTempDirectory("graft_mfl").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mfc").toString
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, String, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    mem.addData((1L, base, "en", "s0", "low low lower lowest"))
    val q = DocStream.tokenLogSink(
      mem.toDF.toDF("doc_id", "ts", "lang", "source", "text"), v1, log, ckpt)
    try q.processAllAvailable() finally q.stop()
    // persist v1: the MATCHING pair reads clean (and the loader's own
    // content verification passes on an honest artifact)
    val vocabDir = java.nio.file.Files.createTempDirectory("graft_mfv").toString + "/vocab"
    import org.apache.spark.sql.functions.lit
    v1.toDF().coalesce(1).write.mode("overwrite").parquet(vocabDir)
    graft.sources.ArtifactManifest.write(vocabDir,
      graft.sources.ArtifactManifest.Stamp("bpe_vocab",
        TextAnalysis.bpeVocabFp(v1), "documents:test"))
    assert(DocStream.tokenBudgetFromLog(spark, log, Some(vocabDir)).count() == 1)
    // retrain on a different corpus → different merge table → the
    // STALE log must refuse, not silently re-denominate the budget
    val docs2 = Seq((1L, "s0", "aa aa aab aab aab bba"), (2L, "s0", "ccc ccc ccd bba"))
      .toDF("doc_id", "source", "text")
    val v2 = TextAnalysis.trainBpeMerges(docs2, numMerges = 4)
    assert(TextAnalysis.bpeVocabFp(v2) != TextAnalysis.bpeVocabFp(v1))
    v2.toDF().coalesce(1).write.mode("overwrite").parquet(vocabDir)
    graft.sources.ArtifactManifest.write(vocabDir,
      graft.sources.ArtifactManifest.Stamp("bpe_vocab",
        TextAnalysis.bpeVocabFp(v2), "documents:test2"))
    val ex = intercept[IllegalStateException] {
      DocStream.tokenBudgetFromLog(spark, log, Some(vocabDir)).count()
    }
    assert(ex.getMessage.contains("retrain drift"), ex.getMessage)
    // a log MIXING two vocabularies refuses even without a vocabPath
    val row = spark.read.parquet(log).limit(1)
      .withColumn("vocab_fp", lit(TextAnalysis.bpeVocabFp(v2)))
      .withColumn("batch_id", lit(99L))
    graft.sources.MartSink.writePartitioned(row, log, Seq("batch_id"))
    val mixed = intercept[IllegalStateException] {
      DocStream.tokenBudgetFromLog(spark, log).count()
    }
    assert(mixed.getMessage.contains("not comparable units"), mixed.getMessage)
    // a CORRUPTED stamped vocab artifact fails its own load
    graft.sources.ArtifactManifest.write(vocabDir,
      graft.sources.ArtifactManifest.Stamp("bpe_vocab", "deadbeef", "x"))
    intercept[IllegalStateException] { TextAnalysis.loadBpeVocab(spark, vocabDir) }
  }

  test("index manifest: a stamped IVF-PQ artifact verifies on load and flags a metadata swap") {
    import graft.operators.Similarity
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val idx = java.nio.file.Files.createTempDirectory("graft_mfi").toString + "/index"
    Similarity.saveIvfPqIndex(spark, Sf, idx, numQueries = 5, nlist = 4, m = 4, ksub = 8)
    val stamp = graft.sources.ArtifactManifest.read(idx)
    assert(stamp.exists(_.artifact == "ivfpq_index"), s"index must be stamped: $stamp")
    // honest load verifies silently and the probe serves
    assert(Similarity.ivfpqTopKFromIndex(spark, Sf, idx, numQueries = 5, k = 3).count() > 0)
    // swap the codebooks for a different training run's → the loader
    // must flag the mix instead of probing with mismatched metadata
    val idx2 = java.nio.file.Files.createTempDirectory("graft_mfi2").toString + "/index2"
    Similarity.saveIvfPqIndex(spark, Sf, idx2, numQueries = 5, nlist = 4, m = 4, ksub = 4)
    import org.apache.hadoop.fs.Path
    val fs = new Path(idx).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(s"$idx/codebooks"), true)
    fs.rename(new Path(s"$idx2/codebooks"), new Path(s"$idx/codebooks"))
    spark.catalog.refreshByPath(idx)
    intercept[IllegalStateException] {
      Similarity.ivfpqTopKFromIndex(spark, Sf, idx, numQueries = 5, k = 3).count()
    }
  }

  test("streaming IVF-PQ encode matches the batch encoder and dedups replayed vectors") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Array[Float])]
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val books = (0 until 8).map(mi =>
      (0 until 4).map(j => j -> Array.tabulate(8)(t => (j * 8 + t) * 0.05f - 0.4f)).toSeq)
    val cents = (0 until 3).map(i =>
      i -> Array.tabulate(64)(t => if (t % 3 == i) 1.0f else 0.1f))
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val vecs = (0L until 6L).map(i =>
      (i, new java.sql.Timestamp(base.getTime + i * 60000L),
        Array.tabulate(64)(t => math.sin(i * 17 + t).toFloat)))
    val mem = MemoryStream[(Long, java.sql.Timestamp, Array[Float])]
    mem.addData(vecs :+ vecs.head: _*) // replay vec 0 → must not duplicate
    val q = EmbeddingStream.encode(
        mem.toDF.toDF("vec_id", "ts", "embedding"), books, cents)
      .writeStream.format("memory").queryName("emb_encode_test").outputMode("append").start()
    try {
      q.processAllAvailable()
      // raw row count FIRST: keying into a Map would collapse a
      // surviving duplicate row and make the size check vacuous
      assert(spark.table("emb_encode_test").count() == 6,
        "replayed vector must be deduped within the watermark")
      val got = spark.table("emb_encode_test").collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Int]("cell"), r.getSeq[Int](r.fieldIndex("codes")).toSeq))).toMap
      assert(got.size == 6)
      // batch reference: same literals through the batch encoder
      import spark.implicits._
      val batch = operators.Similarity.pqEncode(
          vecs.map(v => (v._1, v._3)).toDF("vec_id", "embedding"), books)
        .withColumn("cell", explode(operators.Similarity.nearestCellsCol(col("c_emb"), cents, 1)))
        .collect()
        .map(r => r.getAs[Long]("cand_id") ->
          ((r.getAs[Int]("cell"), r.getSeq[Int](r.fieldIndex("codes")).toSeq))).toMap
      assert(got == batch, "streaming and batch index rows must be identical")
    } finally q.stop()
  }

  test("streaming hourly traffic matches batch counts on the same events") {
    val (_, df) = eventsDf()
    val q = EventStream.hourlyTraffic(df, watermark = "10 minutes")
      .writeStream.format("memory").queryName("traffic_test").outputMode("update").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("traffic_test").collect()
      assert(rows.map(_.getAs[Long]("event_count")).sum == 5)
      // events span two distinct hours (10:xx and 11:05)
      assert(rows.length == 2)
    } finally q.stop()
  }

  test("session_window sessionization groups by gap and sums revenue") {
    val (_, df) = eventsDf()
    // append mode requires the watermark to close sessions; user 1's
    // events sit 60+ min before user 2's last event, so its session
    // finalizes once the watermark passes
    val q = EventStream.sessionStats(df, gap = "30 minutes", watermark = "10 minutes")
      .writeStream.format("memory").queryName("sesswin_test").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("sesswin_test").collect()
      val u1 = rows.filter(_.getAs[Long]("user_id") == 1L)
      assert(u1.length == 1)
      assert(u1.head.getAs[Long]("event_count") == 3)
      assert(math.abs(u1.head.getAs[Double]("session_revenue") - 42.5) < 1e-9)
    } finally q.stop()
  }

  test("streaming quality monitor counts bad rows per window") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    mem.addData(
      (1L, base, 1L, "view", 1.0, "{}"),
      (2L, base, 1L, "bogus_type", 1.0, "{}"),   // range failure
      (3L, base, 1L, "purchase", -5.0, "{}"))    // range failure (negative)
    val df = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStream.qualityCounts(df)
      .writeStream.format("memory").queryName("dqmon_test").outputMode("update").start()
    try {
      q.processAllAvailable()
      val r = spark.table("dqmon_test").collect().head
      assert(r.getAs[Long]("total") == 3)
      assert(r.getAs[Long]("range_failed") == 2)
      assert(r.getAs[Long]("null_failed") == 0)
    } finally q.stop()
  }

  test("streaming quality log sink appends finalized windows in check-log shape") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    mem.addData(
      (1L, at(0), 1L, "view", 1.0, "{}"),
      (2L, at(1), 1L, "bogus_type", 1.0, "{}"), // range failure
      (3L, at(75), 1L, "view", 1.0, "{}"))      // pushes watermark past 11:00
    val df = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val log = java.nio.file.Files.createTempDirectory("graft_slog").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sckpt").toString
    val q = EventStream.qualityLogSink(
      EventStream.qualityCounts(df, watermark = "10 minutes"), log, ckpt)
    try {
      q.processAllAvailable()
      val rows = spark.read.parquet(log).collect()
      // exactly the finalized 10:00 window, unpivoted to 3 checks
      assert(rows.length == 3, s"got ${rows.length} rows")
      val range = rows.find(_.getAs[String]("check_name") == "range_check").get
      assert(range.getAs[Long]("total_records") == 2)
      assert(range.getAs[Long]("failed_records") == 1)
      assert(range.getAs[String]("status") == "FAIL")
      // the batch trender consumes the streaming log as-is
      val trend = operators.Quality.trendFromLog(spark, log).collect()
      assert(trend.length == 3)
    } finally q.stop()
  }

  test("streaming quality log counts null props and ts like the batch per-date checks") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val window = Seq(
      (1L, at(0), 1L, "view", 1.0, "{}"),
      (2L, at(1), 1L, "view", 1.0, null: String), // null_check failure
      (3L, at(2), 2L, "bogus_type", 1.0, "{}"))  // range failure
    mem.addData(window :+ ((4L, at(75), 1L, "view", 1.0, "{}")): _*) // finalizes 10:00
    val df = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val log = java.nio.file.Files.createTempDirectory("graft_nlog").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_nckpt").toString
    val q = EventStream.qualityLogSink(
      EventStream.qualityCounts(df, watermark = "10 minutes"), log, ckpt)
    try {
      q.processAllAvailable()
      def counts(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        r.getAs[String]("check_name") ->
          (r.getAs[Long]("total_records"), r.getAs[Long]("failed_records"))).toMap
      val streamed = counts(spark.read.parquet(log).collect())
      import spark.implicits._
      val batch = counts(operators.Quality.perDateChecks(operators.EventMarts.enrich(
          window.toDF("event_id", "ts", "user_id", "event_type", "value", "props")))
        .filter(col("check_name").isin(streamed.keys.toSeq: _*)).collect())
      assert(streamed("null_check") == ((3L, 1L)), s"stream log: $streamed")
      assert(streamed == batch, s"stream $streamed vs batch $batch")
    } finally q.stop()
  }

  test("streaming volume log + batch rescore flags an injected traffic spike") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(hour: Int, idx: Int) = new java.sql.Timestamp(base.getTime + hour * 3600000L + idx * 1000L)
    // hours 0-9: 5 views each; hour 10: 50 views (the spike);
    // hour 13 sentinel pushes the watermark past hour 10
    var id = 0L
    val rows = (for (h <- 0 to 9; i <- 0 until 5) yield { id += 1; (id, at(h, i), i.toLong, "view", 1.0, "{}") }) ++
      (for (i <- 0 until 50) yield { id += 1; (id, at(10, i), i.toLong, "view", 1.0, "{}") }) :+
      { id += 1; (id, at(13, 0), 0L, "view", 1.0, "{}") }
    mem.addData(rows: _*)
    val df = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val log = java.nio.file.Files.createTempDirectory("graft_vlog").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_vckpt").toString
    val q = EventStream.windowLogSink(
      EventStream.volumeCounts(df, watermark = "1 hour"), log, ckpt)
    try {
      q.processAllAvailable()
      val scored = operators.Quality.volumeAnomalyFromLog(spark, log).collect()
      assert(scored.nonEmpty)
      val spike = scored.filter(r =>
        r.getAs[java.sql.Timestamp]("window_start").getTime == base.getTime + 10 * 3600000L)
      assert(spike.length == 1, s"spike window not scored: ${scored.mkString("\n")}")
      assert(spike.head.getAs[Boolean]("is_anomaly"),
        s"spike not flagged: z=${spike.head.getAs[Any]("z_score")}")
      assert(spike.head.getAs[Long]("n_events") == 50)
      // flat hours must not be anomalous
      assert(scored.filter(_.getAs[Long]("n_events") == 5).forall(!_.getAs[Boolean]("is_anomaly")))
    } finally q.stop()
  }

  test("stream observability: progress listener logs batches, rescore reports per-query health") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val log = java.nio.file.Files.createTempDirectory("graft_obs").toString
    val listener = StreamObservability.attach(spark, log)
    try {
      val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
      val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      mem.addData((1L, base, 1L, "view", 1.0, "{}"),
        (2L, base, 2L, "purchase", 5.0, "{}"))
      val q = EventStream.hourlyTraffic(
          mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
        .writeStream.format("memory").queryName("obs_probe").outputMode("append").start()
      try {
        q.processAllAvailable()
        mem.addData((3L, new java.sql.Timestamp(base.getTime + 60000L), 1L, "view", 1.0, "{}"))
        q.processAllAvailable()
      } finally q.stop()
      // listener events are async on the bus — poll until rows land
      val deadline = System.currentTimeMillis() + 30000
      var rows = 0L
      while (rows < 2 && System.currentTimeMillis() < deadline) {
        Thread.sleep(250)
        rows = try {
          spark.catalog.refreshByPath(log)
          spark.read.parquet(log).filter(col("query_name") === "obs_probe").count()
        } catch { case _: Throwable => 0L }
      }
      assert(rows >= 2, s"expected >=2 progress rows, got $rows")
      val health = StreamObservability.progressFromLog(spark, log)
        .filter(col("query_name") === "obs_probe").collect()
      assert(health.length == 1)
      val h = health.head
      assert(h.getAs[Long]("batches") >= 2)
      assert(h.getAs[Long]("total_rows") == 3L) // 2 + 1 input rows
      assert(h.getAs[Long]("max_trigger_ms") >= h.getAs[Double]("mean_trigger_ms").toLong)
      // the windowed aggregate holds state: the latest reading sees it
      assert(h.getAs[Long]("state_rows_latest") > 0)
      assert(h.getAs[Long]("last_batch_id") >= 1L)
    } finally StreamObservability.detach(spark, listener)
  }

  test("streaming digit log: benford rescore equals the batch census, replay double-counts nothing") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // mixed leading digits across two hours + zero/negative drops;
    // far-future sentinel finalizes the real windows
    var id = 0L
    def ev(hour: Int, v: Double) = {
      id += 1
      (id, new java.sql.Timestamp(base.getTime + hour * 3600000L + id * 1000L),
        id % 5, "purchase", v, "{}")
    }
    val rows = Seq(ev(0, 1.23), ev(0, 17.0), ev(0, 92.5), ev(1, 1.0),
      ev(1, 250.0), ev(1, 3.99), ev(1, 0.0), ev(1, -4.0)) :+ ev(30, 55.0)
    mem.addData(rows: _*)
    val df = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val log = java.nio.file.Files.createTempDirectory("graft_blog").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_bckpt").toString
    val q = EventStream.windowLogSink(
      EventStream.digitCounts(df, watermark = "1 hour"), log, ckpt)
    try q.processAllAvailable() finally q.stop()
    def census(df2: org.apache.spark.sql.DataFrame) = df2.collect()
      .map(r => r.getAs[Int]("digit") ->
        ((r.getAs[Long]("n_values"), r.getAs[Double]("observed_share"),
          r.getAs[Double]("expected_share"), r.getAs[Double]("abs_dev")))).toMap
    val fromLog = census(operators.Quality.benfordFromLog(spark, log))
    // batch census over the SAME finalized rows (sentinel's window
    // never finalizes — excluded on both sides)
    import spark.implicits._
    val batch = census(operators.Quality.dqBenfordFrom(
      operators.EventMarts.enrich(rows.init.map(t => (t._1, t._2, t._3, t._4, t._5, t._6))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))))
    assert(fromLog.nonEmpty && fromLog == batch,
      s"stream-rescored benford diverges: $fromLog vs $batch")
    assert(fromLog.keySet == Set(1, 2, 3, 9)) // 1.23,17,1.0,3.99 → 1,1,1,3; 92.5→9; 250→2
    // an at-least-once replay of the same finalized windows (fresh
    // stream+checkpoint, same data) appends rows, but the rescore's
    // window dedup keeps counts identical
    val mem2 = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    mem2.addData(rows: _*)
    val q2 = EventStream.windowLogSink(
      EventStream.digitCounts(
        mem2.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        watermark = "1 hour"),
      log, java.nio.file.Files.createTempDirectory("graft_bckpt2").toString)
    try q2.processAllAvailable() finally q2.stop()
    spark.catalog.refreshByPath(log)
    assert(census(operators.Quality.benfordFromLog(spark, log)) == batch)
  }

  test("streaming value log + batch rescore flags an injected unit shift") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(day: Int, idx: Int) = new java.sql.Timestamp(
      base.getTime + day * 86400000L + (idx % 20) * 3600000L + idx * 1000L)
    // days 0-1: values 1..4 (same shape); day 2: ×1000 (unit bug);
    // day 4 sentinel finalizes everything before it
    var id = 0L
    def day(d: Int, scale: Double) = (0 until 12).map { i =>
      id += 1; (id, at(d, i), i.toLong, "view", (i % 4 + 1) * scale, "{}")
    }
    val rows = (day(0, 1.0) ++ day(1, 1.0) ++ day(2, 1000.0)) :+
      { id += 1; (id, at(4, 0), 0L, "view", 1.0, "{}") }
    mem.addData(rows: _*)
    val df = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val log = java.nio.file.Files.createTempDirectory("graft_dlog").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dckpt").toString
    val q = EventStream.windowLogSink(
      EventStream.valueBucketCounts(df, watermark = "1 hour"), log, ckpt)
    try {
      q.processAllAvailable()
      val scored = operators.Quality.valueDriftFromLog(spark, log).collect()
        .map(r => r.getAs[java.sql.Date]("event_date").toString ->
          r.getAs[Double]("l1_drift")).toMap
      assert(scored("2024-01-02") == 0.0, s"same shape must score 0: $scored")
      assert(scored("2024-01-03") == 2.0, s"unit shift must score 2: $scored")
      // serving parity: percentiles from the STREAM-built partials
      // equal a batch histogram build over the same events
      def served(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getAs[Int]("pct") ->
          ((r.getAs[Long]("target_rank"), r.getAs[Long]("n_total"),
            r.getAs[Int]("bucket")))).toMap
      val fromLog = served(operators.Quality.valuePercentilesFromLog(spark, log))
      import spark.implicits._
      // rows.init: the sentinel's own window never finalizes, so the
      // log (correctly) excludes it — compare against the same set
      val batchHist = operators.Quality.valueHistogramDailyFrom(
        operators.EventMarts.enrich(rows.init.toDF(
          "event_id", "ts", "user_id", "event_type", "value", "props")))
      val fromBatch = served(operators.Quality.valuePercentilesMergedFrom(batchHist))
      assert(fromLog == fromBatch && fromLog.nonEmpty,
        s"stream-served $fromLog != batch-served $fromBatch")
    } finally q.stop()
  }

  test("stream-built product log re-ranks to the exact batch product_top_n") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(hour: Int, idx: Int) = new java.sql.Timestamp(base.getTime + hour * 3600000L + idx * 1000L)
    // product 1: 2 purchases (30.5 + 10.0), 1 click; product 2: 1
    // purchase (25.25), 3 clicks; product 3: clicks only → revenue 0;
    // a far-future sentinel finalizes every data window
    var id = 0L
    def ev(h: Int, i: Int, t: String, v: Double, k: Int) = {
      id += 1; (id, at(h, i), i.toLong, t, v, s"""{"k": $k}""")
    }
    val rows = Seq(
      ev(0, 1, "purchase", 30.5, 1), ev(1, 2, "purchase", 10.0, 1), ev(0, 3, "click", 1.0, 1),
      ev(0, 4, "purchase", 25.25, 2), ev(1, 5, "click", 1.0, 2), ev(1, 6, "click", 1.0, 2),
      ev(2, 7, "click", 1.0, 2), ev(2, 8, "click", 1.0, 3), ev(2, 9, "view", 1.0, 3),
      { id += 1; (id, at(30, 0), 0L, "view", 1.0, """{"k": 9}""") })
    mem.addData(rows: _*)
    val df = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val log = java.nio.file.Files.createTempDirectory("graft_plog").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pckpt").toString
    val q = EventStream.windowLogSink(
      EventStream.productCounts(df, watermark = "1 hour"), log, ckpt)
    try {
      q.processAllAvailable()
      val fromLog = operators.EventMarts.productTopNFromLog(spark.read.parquet(log))
        .collect().map(r => (r.getAs[Int]("product_k"), r.getAs[Long]("clicks"),
          r.getAs[Long]("purchases"), r.getAs[Double]("revenue"))).toSeq
      // batch mart over the same events MINUS the sentinel: the
      // sentinel's own window is still open when the stream stops, so
      // the log (correctly) doesn't carry it — the parity contract is
      // "exact on finalized windows"
      import spark.implicits._
      val batchEvents = rows.init.toSeq
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val batch = operators.EventMarts.productTopNFrom(
          operators.EventMarts.enrich(batchEvents))
        .collect().map(r => (r.getAs[Int]("product_k"), r.getAs[Long]("clicks"),
          r.getAs[Long]("purchases"), r.getAs[Double]("revenue"))).toSeq
      assert(fromLog == batch, s"log rollup $fromLog != batch $batch")
      assert(fromLog.head == ((1, 1L, 2L, 40.5)))
      // replay safety: the same finalized windows appended twice (a
      // restarted stream re-emitting under a new batch_id) must not
      // double-count — max per (window, product, type) absorbs it
      val logDf = spark.read.parquet(log)
      val replayed = operators.EventMarts.productTopNFromLog(
          logDf.unionByName(logDf))
        .collect().map(r => (r.getAs[Int]("product_k"), r.getAs[Long]("clicks"),
          r.getAs[Long]("purchases"), r.getAs[Double]("revenue"))).toSeq
      assert(replayed == fromLog, s"replayed log double-counted: $replayed")
    } finally q.stop()
  }

  test("stream-stream join attributes purchases to preceding views") {
    val (_, df) = eventsDf()
    // user 1: view @0min, purchase @2min → attributed (1 view in window)
    // user 2: views only → no row
    val q = EventStream.viewPurchaseAttribution(df)
      .writeStream.format("memory").queryName("attr_test").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("attr_test").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("user_id") == 1L)
      assert(math.abs(rows.head.getAs[Double]("amount") - 42.5) < 1e-9)
    } finally q.stop()
  }

  test("stream-static join enriches events with the broadcast product dim") {
    val (_, df) = eventsDf()
    val dim = EventStream.productDim(spark, Sf)
    val q = EventStream.enrichWithProductDim(df, dim)
      .writeStream.format("memory").queryName("enrich_test").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("enrich_test").collect()
      assert(rows.length == 5) // left join keeps every event
      // events with props {} have no product id and survive with nulls
      assert(rows.forall(r => r.isNullAt(r.fieldIndex("product_k")) ==
        r.isNullAt(r.fieldIndex("brand"))))
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    mem.addData(
      (1L, base, 1L, "view", 1.0, "{}"),
      (1L, base, 1L, "view", 1.0, "{}"), // duplicate delivery
      (2L, base, 1L, "click", 1.0, "{}"))
    val df = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStream.dedupEvents(df)
      .writeStream.format("memory").queryName("dedup_test").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() == 2)
    } finally q.stop()
  }

  test("streaming pipeline maintains funnel/traffic marts and the check log end-to-end") {
    val in = java.nio.file.Files.createTempDirectory("graft_spipe_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_spipe_out").toString
    // two hours of events plus a late tail that pushes the watermark
    // far enough to finalize both full windows
    val lines = (0 until 120).map { m =>
      val t = f"2024-01-01 ${10 + m / 60}%02d:${m % 60}%02d:00"
      val et = if (m % 7 == 0) "purchase" else "view"
      s"""{"event_id":$m,"ts":"$t","user_id":${m % 5},"event_type":"$et","value":${m % 90 + 1}.0,"props":"{}"}"""
    } ++ Seq(
      // an in-watermark DUPLICATE of event 5: dropped from the marts,
      // recorded by the violation leg
      """{"event_id":5,"ts":"2024-01-01 10:06:00","user_id":0,"event_type":"view","value":6.0,"props":"{}"}""",
      """{"event_id":999,"ts":"2024-01-01 14:00:00","user_id":1,"event_type":"view","value":1.0,"props":"{}"}""")
    val w = new java.io.PrintWriter(s"$in/events.jsonl")
    lines.foreach(w.println)
    w.close()
    val queries = StreamingPipeline.start(spark, in, out, watermark = "10 minutes")
    try {
      queries.foreach(_.processAllAvailable())
      val funnel = spark.read.parquet(s"$out/funnel_hourly")
      val traffic = spark.read.parquet(s"$out/hourly_traffic")
      val qlog = spark.read.parquet(s"$out/quality_check_log")
      // the 10:00 and 11:00 windows are watermark-finalized
      assert(traffic.count() == 2, s"traffic windows: ${traffic.count()}")
      assert(traffic.agg(sum("event_count")).collect().head.getLong(0) == 120)
      assert(funnel.agg(sum("purchases")).collect().head.getLong(0) ==
        (0 until 120).count(_ % 7 == 0))
      assert(qlog.select("check_name").distinct().count() == 3)
      // the log feeds the same trender as the batch check log
      assert(operators.Quality.trendFromLog(spark, s"$out/quality_check_log").count() == 3)
      // the violation leg RECORDED the drop the marts never saw
      val viols = spark.read.parquet(s"$out/unique_violations").collect()
      assert(viols.length == 1, s"exactly the planted duplicate: ${viols.toSeq}")
      assert(viols.head.getAs[String]("value") == "5")
      assert(viols.head.getAs[String]("horizon") == "10 minutes")
    } finally queries.foreach(_.stop())
  }

  test("one windowed-marts query lands the standalone funnel, traffic and quality rows") {
    val tmp = (p: String) => java.nio.file.Files.createTempDirectory(p).toString
    val (in, out, alone) = (tmp("graft_marts_in"), tmp("graft_marts_out"), tmp("graft_marts_alone"))
    val wm = "10 minutes"
    // two hours of events; revenue in quarters, so every sum is exact
    val lines = (0 until 90).map { m =>
      val t = f"2024-01-01 ${10 + m / 45}%02d:${m % 45}%02d:00"
      val et = Seq("view", "click", "purchase")(m % 3)
      s"""{"event_id":$m,"ts":"$t","user_id":${m % 7},"event_type":"$et","value":${m % 40}.25,"props":"{}"}"""
    } ++ Seq(
      // a null user: its funnel row has a null segment
      """{"event_id":200,"ts":"2024-01-01 10:30:00","event_type":"purchase","value":3.5,"props":"{}"}""",
      // a null props: the null check fails on it
      """{"event_id":201,"ts":"2024-01-01 11:10:00","user_id":2,"event_type":"view","value":1.0}""",
      // out of range: the range check fails on it
      """{"event_id":202,"ts":"2024-01-01 11:20:00","user_id":3,"event_type":"view","value":-5.0,"props":"{}"}""",
      // pushes the watermark past both windows
      """{"event_id":999,"ts":"2024-01-01 14:00:00","user_id":1,"event_type":"view","value":1.0,"props":"{}"}""")
    val w = new java.io.PrintWriter(s"$in/events.jsonl")
    lines.foreach(w.println)
    w.close()
    val raw = EventStream.readJsonl(spark, in)
    val standalone = Seq(
      EventStream.funnelCounts(raw, wm).writeStream.format("memory")
        .queryName("marts_alone_funnel").outputMode("append").start(),
      EventStream.hourlyTraffic(raw, wm).writeStream.format("memory")
        .queryName("marts_alone_traffic").outputMode("append").start(),
      EventStream.qualityLogSink(EventStream.qualityCounts(raw, wm),
        s"$alone/quality_check_log", s"$alone/_checkpoints/quality"))
    val queries = StreamingPipeline.start(spark, in, out, watermark = wm)
    try {
      (standalone ++ queries).foreach(_.processAllAvailable())
      // one query for the three marts beside the duplicate audit; it
      // keeps one dedup state and one window state
      assert(queries.length == 2)
      assert(queries.head.lastProgress.stateOperators.map(_.operatorName).sorted.toSeq ==
        Seq("dedupeWithinWatermark", "stateStoreSave"))
      def rows(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
        df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      def flat(table: String) = spark.table(table)
        .withColumn("window_start", col("window.start"))
        .withColumn("window_end", col("window.end"))
      val funnelCols = Seq("window_start", "window_end", "segment", "views", "clicks",
        "purchases", "purchasers_approx", "revenue")
      val funnel = rows(spark.read.parquet(s"$out/funnel_hourly"), funnelCols)
      assert(funnel.length == 7 && funnel == rows(flat("marts_alone_funnel"), funnelCols),
        funnel.mkString("\n"))
      assert(spark.read.parquet(s"$out/funnel_hourly").filter(col("segment").isNull).count() == 1)
      val trafficCols = Seq("window_start", "window_end", "event_count", "unique_users_approx")
      val traffic = rows(spark.read.parquet(s"$out/hourly_traffic"), trafficCols)
      assert(traffic.length == 2 && traffic == rows(flat("marts_alone_traffic"), trafficCols),
        traffic.mkString("\n"))
      val qlog = spark.read.parquet(s"$out/quality_check_log").drop("batch_id")
      val qlogCols = qlog.columns.toSeq
      assert(rows(qlog, qlogCols) ==
        rows(spark.read.parquet(s"$alone/quality_check_log"), qlogCols))
      assert(qlog.filter(col("failed_records") > 0).select("check_name").distinct()
        .collect().map(_.getString(0)).toSet == Set("null_check", "range_check"))
    } finally (standalone ++ queries).foreach(_.stop())
  }

  test("a per-mart checkpoint of the earlier layout refuses to start instead of double-counting") {
    val tmp = (p: String) => java.nio.file.Files.createTempDirectory(p).toString
    val in = tmp("graft_guard_in")
    def planted(name: String): String = {
      val out = tmp("graft_guard_out")
      new java.io.File(s"$out/_checkpoints/$name/offsets").mkdirs()
      out
    }
    def refused(name: String)(startOn: String => Seq[org.apache.spark.sql.streaming.StreamingQuery]) = {
      val e = intercept[IllegalStateException](startOn(planted(name)))
      assert(e.getMessage.contains(s"_checkpoints/$name") && e.getMessage.contains("fresh outDir"),
        e.getMessage)
    }
    for (name <- Seq("funnel", "traffic", "quality"))
      refused(name)(StreamingPipeline.start(spark, in, _))
    val (_, df) = eventsDf()
    for (name <- Seq("funnel_clean", "traffic_clean"))
      refused(name)(StreamingPipeline.startRoutedOn(spark, df, _))
    // a fresh outDir starts the router and one clean-marts query
    val queries = StreamingPipeline.startRoutedOn(spark, df, tmp("graft_guard_fresh"))
    try assert(queries.length == 2) finally queries.foreach(_.stop())
  }

  test("streaming sessionization closes sessions on gap and keeps order") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[SessionizeStream.Ev]
    def ev(id: Long, t: String, epoch: Long) =
      SessionizeStream.Ev(7L, id, t, epoch, new java.sql.Timestamp(epoch * 1000L))
    // user 7: 3 events tight, then a 1-hour gap event → first session closes
    mem.addData(
      ev(1L, "view", 1000L),
      ev(2L, "click", 1060L),
      ev(3L, "purchase", 1120L),
      ev(4L, "view", 99999L))
    val out = SessionizeStream.sessionize(mem.toDS())
    val q = out.writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("sess_test").collect()
      assert(rows.length == 1) // first session closed by the gap
      val r = rows.head
      assert(r.getAs[String]("event_sequence") == "view -> click -> purchase")
      assert(r.getAs[Boolean]("has_purchase"))
      assert(r.getAs[Int]("event_count") == 3)

      // push the watermark far past 99999 + gap → the open session
      // times out (event-time) and is emitted as final
      mem.addData(ev(5L, "view", 999999L))
      q.processAllAvailable()
      val rows2 = spark.table("sess_test").collect()
      assert(rows2.length == 2)
      assert(rows2.map(_.getAs[Long]("session_start_epoch")).toSet == Set(1000L, 99999L))
    } finally q.stop()
  }

  test("a late in-watermark event never rewinds a streamed session: sessionize equals the gate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // one user, one micro-batch per line: 100000 and 101000, a late
    // 100500 (inside the 30-minute watermark), then 102500 — within
    // the gap of 101000, so all four are one session; 999999 closes it
    val batches = Seq(Seq(100000L, 101000L), Seq(100500L), Seq(102500L), Seq(999999L))
    def run[E](mem: MemoryStream[E], out: org.apache.spark.sql.DataFrame, name: String,
               ev: (Long, Long) => E): Set[(Long, Long, Int)] = {
      val q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        var id = 0L
        batches.foreach { b =>
          mem.addData(b.map { t => id += 1; ev(id, t) }: _*)
          q.processAllAvailable()
        }
        spark.table(name).collect().map(r => (r.getAs[Long]("session_start_epoch"),
          r.getAs[Long]("session_end_epoch"), r.getAs[Int]("event_count"))).toSet
      } finally q.stop()
    }
    def ts(epoch: Long) = new java.sql.Timestamp(epoch * 1000L)
    val sMem = MemoryStream[SessionizeStream.Ev]
    val sessions = run(sMem, SessionizeStream.sessionize(sMem.toDS()).toDF(), "late_sess",
      (id, t) => SessionizeStream.Ev(7L, id, "view", t, ts(t)))
    val gMem = MemoryStream[SessionGateStream.GEv]
    val gated = run(gMem, SessionGateStream.gateSessions(gMem.toDS()).toDF(), "late_gate",
      (id, t) => SessionGateStream.GEv(7L, id, "view", t, ts(t), 0, 0, 0))
    assert(sessions == Set((100000L, 102500L, 4)), s"sessionize: $sessions")
    assert(sessions == gated, s"sessionize $sessions vs gate $gated")
  }

  test("streaming session gate verdicts match the batch gate on finalized sessions") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val sentinelUser = 999999L
    // anomaly-injected session-structured events: bad values (range),
    // 2035 timestamps (ts), collapsed event ids (dup) all in play;
    // null-user rows are dropped identically by both gate surfaces
    val dirty = sources.EventGenerator.withAnomalies(
        sources.EventGenerator.sessionEvents(spark, 25L, 2))
      .filter(col("user_id").isNotNull).cache()
    try {
      val batch = operators.Sessionize.gatedSessions(operators.EventMarts.enrich(dirty))
        .collect().map(r => (r.getAs[Long]("user_id"),
          r.getAs[Long]("session_start_epoch"),
          r.getAs[Long]("event_count"),
          r.getAs[Int]("q_range"), r.getAs[Int]("q_ts"), r.getAs[Int]("q_integrity"),
          r.getAs[Int]("q_dup"), r.getAs[Int]("q_seq"), r.getAs[Int]("quarantined")))
        .toSet
      val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
      mem.addData(dirty.collect().toSeq.map(r => (r.getAs[Long]("event_id"),
        r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("user_id"),
        r.getAs[String]("event_type"), r.getAs[Double]("value"),
        r.getAs[String]("props"))): _*)
      // far-future sentinel closes every real session via the
      // event-time timeout; its own (still-open) session never emits
      mem.addData((0L, java.sql.Timestamp.valueOf("2090-01-01 00:00:00"),
        sentinelUser, "view", 1.0, "{}"))
      val out = SessionGateStream.gateSessions(SessionGateStream.asGateEvents(
        mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")))
      val q = out.writeStream.format("memory").queryName("gate_stream")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val streamed = spark.table("gate_stream")
          .filter(col("user_id") =!= sentinelUser).collect()
          .map(r => (r.getAs[Long]("user_id"),
            r.getAs[Long]("session_start_epoch"),
            r.getAs[Int]("event_count").toLong,
            if (r.getAs[Boolean]("q_range")) 1 else 0,
            if (r.getAs[Boolean]("q_ts")) 1 else 0,
            if (r.getAs[Boolean]("q_integrity")) 1 else 0,
            if (r.getAs[Boolean]("q_dup")) 1 else 0,
            if (r.getAs[Boolean]("q_seq")) 1 else 0,
            if (r.getAs[Boolean]("quarantined")) 1 else 0))
          .toSet
        assert(streamed == batch,
          s"stream/batch verdict drift:\nonly-stream=${streamed -- batch}\nonly-batch=${batch -- streamed}")
        // the anomalies actually exercised the gate
        assert(streamed.exists(_._9 == 1) && streamed.exists(_._9 == 0))
      } finally q.stop()
      // verdict LOG leg: a fresh memory source (the first query's
      // commits purge the shared stream's buffer) re-fed the same
      // data writes the (session_date, batch_id)-partitioned
      // quarantine log; its rescore runs the batch gate's OWN day
      // rollup and must equal the batch query exactly (sentinel
      // session stays open -> absent from the log; it is absent from
      // the batch input too)
      val logDir = java.nio.file.Files.createTempDirectory("graft_gatelog").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_gatelog_ckpt").toString
      val mem2 = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
      mem2.addData(dirty.collect().toSeq.map(r => (r.getAs[Long]("event_id"),
        r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("user_id"),
        r.getAs[String]("event_type"), r.getAs[Double]("value"),
        r.getAs[String]("props"))): _*)
      mem2.addData((0L, java.sql.Timestamp.valueOf("2090-01-01 00:00:00"),
        sentinelUser, "view", 1.0, "{}"))
      val q2 = SessionGateStream.gateLogSink(
        SessionGateStream.gateSessions(SessionGateStream.asGateEvents(
          mem2.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))),
        logDir, ckpt)
      try {
        q2.processAllAvailable()
        val fromLog = SessionGateStream.gateDailyFromLog(spark, logDir)
          .collect().map(_.toString).sorted.toSeq
        val batchDaily = operators.Sessionize
          .sessionQualityGateFrom(operators.EventMarts.enrich(dirty))
          .collect().map(_.toString).sorted.toSeq
        assert(fromLog == batchDaily)
      } finally q2.stop()
    } finally {
      dirty.unpersist()
      ()
    }
  }

  test("streaming quarantine routing: clean side equals the batch cleanEvents filter, review gets the rest") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val sentinelUser = 999999L
    val dirty = sources.EventGenerator.withAnomalies(
        sources.EventGenerator.sessionEvents(spark, 25L, 2))
      .filter(col("user_id").isNotNull).cache()
    try {
      val enriched = operators.EventMarts.enrich(dirty)
      def keyed(df: org.apache.spark.sql.DataFrame) = df
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts"), col("value"))
        .collect().map(_.toSeq).toSeq // multiset: dup anomalies repeat rows
        .groupBy(identity).view.mapValues(_.size).toMap
      val batchClean = keyed(operators.Sessionize.cleanEvents(enriched))
      val totalTyped = enriched.filter(operators.Sessionize.typedRowFilter).count()
      val cleanDir = java.nio.file.Files.createTempDirectory("graft_route_clean").toString
      val reviewDir = java.nio.file.Files.createTempDirectory("graft_route_review").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_route_ckpt").toString
      val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
      mem.addData(dirty.collect().toSeq.map(r => (r.getAs[Long]("event_id"),
        r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("user_id"),
        r.getAs[String]("event_type"), r.getAs[Double]("value"),
        r.getAs[String]("props"))): _*)
      // far-future sentinel closes every real session (event-time
      // timeout); its own open session is routed nowhere yet
      mem.addData((0L, java.sql.Timestamp.valueOf("2090-01-01 00:00:00"),
        sentinelUser, "view", 1.0, "{}"))
      val q = SessionGateStream.routingSink(
        SessionGateStream.routeSessions(SessionGateStream.asRouteEvents(
          mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))),
        cleanDir, reviewDir, ckpt)
      try q.processAllAvailable() finally q.stop()
      val cleanRouted = spark.read.parquet(cleanDir)
      val reviewRouted = spark.read.parquet(reviewDir)
      // clean side == the batch gate's cleanEvents filter, row for row
      assert(keyed(cleanRouted) == batchClean,
        "routed clean events diverge from Sessionize.cleanEvents")
      // nothing lost, nothing duplicated: every finalized session's
      // event landed on exactly one side
      assert(cleanRouted.count() + reviewRouted.count() == totalTyped)
      // the anomalies exercised both sides
      assert(cleanRouted.count() > 0 && reviewRouted.count() > 0)
      // review rows carry the session key for the verdict-log join
      assert(reviewRouted.columns.contains("session_start_epoch"))
    } finally {
      dirty.unpersist()
      ()
    }
  }

  test("routed streaming pipeline: clean-side funnel/traffic marts equal batch clean-session marts") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val sentinelUser = 999999L
    val dirty = sources.EventGenerator.withAnomalies(
        sources.EventGenerator.sessionEvents(spark, 25L, 2))
      .filter(col("user_id").isNotNull).cache()
    try {
      val out = java.nio.file.Files.createTempDirectory("graft_routed_pipe").toString
      val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
      mem.addData(dirty.collect().toSeq.map(r => (r.getAs[Long]("event_id"),
        r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("user_id"),
        r.getAs[String]("event_type"), r.getAs[Double]("value"),
        r.getAs[String]("props"))): _*)
      // sentinel 1 closes every real session via the event-time
      // timeout; its ts is IN the valid 2020-2030 range so its own
      // session routes CLEAN — that clean 2030 row is what advances
      // the second stage's watermark (an out-of-range sentinel would
      // route to review and never reach the mart stage)
      mem.addData((0L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"),
        sentinelUser, "view", 1.0, "{}"))
      val queries = StreamingPipeline.startRoutedOn(spark,
        mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props"), out)
      try {
        queries.head.processAllAvailable() // router: real sessions land clean/review
        // sentinel 2 (same user, > gap later) closes sentinel 1's
        // session so its clean 2030 row lands in clean_events and
        // pushes the mart stage's watermark past every real window
        mem.addData((0L, java.sql.Timestamp.valueOf("2030-03-01 00:00:00"),
          sentinelUser, "view", 1.0, "{}"))
        queries.head.processAllAvailable()
        queries.tail.foreach(_.processAllAvailable())
      } finally queries.foreach(_.stop())
      // batch side: the nightly quarantine-mode marts — the SAME
      // aggregations over Sessionize.cleanEvents (sentinel excluded:
      // its session is still open on the stream side)
      val cleanBatch = operators.Sessionize.cleanEvents(operators.EventMarts.enrich(dirty))
        .filter(col("user_id") =!= sentinelUser)
      def canonF(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("ws", col("window.start")).drop("window")
        .filter(year(col("ws")) < 2029) // sentinel window never finalizes
        .select(col("ws"), col("segment"), col("views"), col("clicks"),
          col("purchases"), col("purchasers_approx"),
          // double summation order differs between micro-batch partials
          // and one batch pass — cents-rounding makes the compare exact
          round(col("revenue"), 2).as("revenue"))
        .collect().map(_.toString).sorted.toSeq
      val streamFunnel = spark.read.parquet(s"$out/funnel_hourly_clean")
        .withColumnRenamed("window_start", "ws")
        .filter(year(col("ws")) < 2029)
        .select(col("ws"), col("segment"), col("views"), col("clicks"),
          col("purchases"), col("purchasers_approx"),
          // double summation order differs between micro-batch partials
          // and one batch pass — cents-rounding makes the compare exact
          round(col("revenue"), 2).as("revenue"))
        .collect().map(_.toString).sorted.toSeq
      val batchFunnel = canonF(streaming.EventStream.funnelCountsOn(cleanBatch))
      assert(streamFunnel.nonEmpty && streamFunnel == batchFunnel,
        s"stream-built clean funnel mart diverges from the batch clean-session mart " +
          s"(${streamFunnel.size} vs ${batchFunnel.size} windows)")
      val streamTraffic = spark.read.parquet(s"$out/hourly_traffic_clean")
        .withColumnRenamed("window_start", "ws").filter(year(col("ws")) < 2029)
        .select(col("ws"), col("event_count"), col("unique_users_approx"))
        .collect().map(_.toString).sorted.toSeq
      val batchTraffic = streaming.EventStream.hourlyTrafficOn(cleanBatch)
        .withColumn("ws", col("window.start")).filter(year(col("ws")) < 2029)
        .select(col("ws"), col("event_count"), col("unique_users_approx"))
        .collect().map(_.toString).sorted.toSeq
      assert(streamTraffic.nonEmpty && streamTraffic == batchTraffic,
        "stream-built clean traffic mart diverges from the batch clean-session mart")
      // and the gate actually fired: the review side is non-empty, so
      // the parity above is parity UNDER quarantine, not vacuous
      assert(spark.read.parquet(s"$out/review_events").count() > 0)
      // the session index reads the routed output alone (zero extra
      // streaming state): every routed event accounted, each session
      // on exactly one side, both sides present
      val idx = SessionGateStream.sessionIndexFromRouted(spark,
        s"$out/clean_events", s"$out/review_events").collect()
      val keys = idx.map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("session_start_epoch")))
      assert(keys.distinct.length == keys.length, "a session landed on both sides")
      assert(idx.map(_.getAs[Long]("n_events")).sum ==
        spark.read.parquet(s"$out/clean_events").count() +
          spark.read.parquet(s"$out/review_events").count())
      assert(idx.exists(_.getAs[String]("side") == "clean") &&
        idx.exists(_.getAs[String]("side") == "review"))
      idx.foreach(r => assert(!r.getAs[java.sql.Timestamp]("first_ts")
        .after(r.getAs[java.sql.Timestamp]("last_ts"))))
    } finally {
      dirty.unpersist()
      ()
    }
  }

  test("streaming index delta sink appends encoded vectors once, replays append nothing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import operators.{IndexMaintenance, Similarity}
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.tabulate(8)(i =>
      (if (i < 4) 1f else 0f) + (rnd.nextFloat() - 0.5f) * 0.1f)
    val base = (0L until 32L).map(id => (id, vec()))
    val idx = java.nio.file.Files.createTempDirectory("graft_idx_stream").toString
    Similarity.saveIvfPqIndexFrom(base.toDF("vec_id", "embedding"), idx,
      nlist = 2, m = 4, ksub = 16, iters = 1)
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val delta = (100L until 110L).map(id => (id, t0, vec()))
    def run(data: Seq[(Long, java.sql.Timestamp, Array[Float])]): Unit = {
      val mem = MemoryStream[(Long, java.sql.Timestamp, Array[Float])]
      mem.addData(data: _*)
      val q = IndexMaintenance.deltaSink(
        mem.toDF.toDF("vec_id", "ts", "embedding"), idx,
        java.nio.file.Files.createTempDirectory("graft_idx_ckpt").toString)
      try q.processAllAvailable() finally q.stop()
    }
    run(delta)
    val codes = spark.read.parquet(s"$idx/codes")
    assert(codes.count() == 42) // 32 trained + 10 streamed
    assert(codes.select("cand_id").distinct().count() == 42)
    // an at-least-once redelivery (fresh stream, fresh checkpoint —
    // the same rows arrive again) appends NOTHING: the id anti-join
    // is the idempotency boundary
    run(delta)
    spark.catalog.refreshByPath(s"$idx/codes")
    assert(spark.read.parquet(s"$idx/codes").count() == 42)
  }

  test("routing sink replay: a re-delivered micro-batch duplicates nothing on either side") {
    import spark.implicits._
    val cleanDir = java.nio.file.Files.createTempDirectory("graft_replay_clean").toString
    val reviewDir = java.nio.file.Files.createTempDirectory("graft_replay_review").toString
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val batch = Seq(
      SessionGateStream.RoutedEvent(1L, 10L, "view", t("2024-05-01 10:00:00"), 1.0, "{}", 1000L, false),
      SessionGateStream.RoutedEvent(1L, 11L, "purchase", t("2024-05-01 10:05:00"), 9.0, """{"k":3}""", 1000L, false),
      SessionGateStream.RoutedEvent(2L, 12L, "purchase", t("2024-05-01 11:00:00"), -5.0, """{"k":3}""", 2000L, true)
    ).toDF()
    SessionGateStream.routeBatch(batch, batchId = 7L, cleanDir, reviewDir)
    assert(spark.read.parquet(cleanDir).count() == 2)
    assert(spark.read.parquet(reviewDir).count() == 1)
    // at-least-once replay of the SAME micro-batch: dynamic overwrite
    // rewrites its own (event_date, batch_id) partitions — no doubling
    SessionGateStream.routeBatch(batch, batchId = 7L, cleanDir, reviewDir)
    spark.catalog.refreshByPath(cleanDir)
    spark.catalog.refreshByPath(reviewDir)
    assert(spark.read.parquet(cleanDir).count() == 2)
    assert(spark.read.parquet(reviewDir).count() == 1)
    // a DIFFERENT batch appends (its own partitions), never clobbers
    val b2 = Seq(SessionGateStream.RoutedEvent(3L, 13L, "view",
      t("2024-05-01 12:00:00"), 1.0, "{}", 3000L, false)).toDF()
    SessionGateStream.routeBatch(b2, batchId = 8L, cleanDir, reviewDir)
    spark.catalog.refreshByPath(cleanDir)
    assert(spark.read.parquet(cleanDir).count() == 3)
    assert(spark.read.parquet(reviewDir).count() == 1)
  }

  test("trending decay: stream fold is bit-exact vs driver replication, closed-form batch parity, aged top-N") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val hl = 3600L
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    def at(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: product 1 viewed twice at 10:00, product 2 once;
    // a click and a null-product view must be ignored
    mem.addData(
      (1L, at("2024-01-01 10:00:00"), 1L, "view", 1.0, "{\"k\": 1}"),
      (2L, at("2024-01-01 10:00:00"), 2L, "view", 1.0, "{\"k\": 1}"),
      (3L, at("2024-01-01 10:00:00"), 3L, "view", 1.0, "{\"k\": 2}"),
      (4L, at("2024-01-01 10:10:00"), 1L, "click", 1.0, "{\"k\": 1}"),
      (5L, at("2024-01-01 10:20:00"), 1L, "view", 1.0, "{}"))
    val raw = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = TrendingStream.trendScores(TrendingStream.asTrendEvents(raw), halfLife = hl)
      .toDF().writeStream.format("memory").queryName("trend_test")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      // batch 2: product 1 viewed again one half-life later
      mem.addData((6L, at("2024-01-01 11:00:00"), 4L, "view", 1.0, "{\"k\": 1}"))
      q.processAllAvailable()
      val rows = spark.table("trend_test").collect()
      val last = rows.groupBy(_.getAs[Int]("product_k")).view
        .mapValues(_.maxBy(_.getAs[Long]("total_events"))).toMap
      // driver replication through the SAME shared fold, same order
      def epoch(s: String) = at(s).getTime / 1000L
      val evs1 = Seq(
        TrendingStream.TEv(1, 1L, epoch("2024-01-01 10:00:00")),
        TrendingStream.TEv(1, 2L, epoch("2024-01-01 10:00:00")))
      val s1b1 = evs1.foldLeft(TrendingStream.TState(0.0, evs1.head.epoch, 0L))(
        (s, e) => TrendingStream.fold(s, e, hl))
      val s1 = TrendingStream.fold(s1b1,
        TrendingStream.TEv(1, 6L, epoch("2024-01-01 11:00:00")), hl)
      assert(last(1).getAs[Double]("score") == s1.score) // bit-exact
      assert(last(1).getAs[Long]("total_events") == 3L)
      assert(last(2).getAs[Double]("score") == 1.0 &&
        last(2).getAs[Long]("total_events") == 1L)
      // one half-life decayed the 10:00 pair to ~0.5 each: 2·0.5+1 ≈ 2
      assert(math.abs(s1.score - 2.0) < 1e-9)
      // closed-form batch recompute at product 1's last epoch
      import spark.implicits._
      val staticE = Seq(
        (1L, "2024-01-01 10:00:00", "view", "{\"k\": 1}"),
        (2L, "2024-01-01 10:00:00", "view", "{\"k\": 1}"),
        (6L, "2024-01-01 11:00:00", "view", "{\"k\": 1}"))
        .toDF("event_id", "ts", "event_type", "props")
        .withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("user_id", lit(1L)).withColumn("value", lit(1.0))
      val closed = TrendingStream.decayedScoresBatchFrom(
          operators.EventMarts.enrich(staticE), epoch("2024-01-01 11:00:00"), hl)
        .collect().head
      assert(closed.getAs[Int]("product_k") == 1)
      assert(math.abs(closed.getAs[Double]("score") - s1.score) < 1e-9)
      // log sink + aged top-N: plant the latest rows as a one-batch log
      val logDir = java.nio.file.Files.createTempDirectory("graft_trend").toString
      graft.sources.MartSink.writePartitioned(
        spark.table("trend_test").withColumn("batch_id", lit(0L)),
        logDir, Seq("batch_id"))
      val top = TrendingStream.trendingTopNFromLog(spark, logDir,
        asOfEpoch = epoch("2024-01-01 12:00:00"), n = 10, halfLife = hl)
        .collect()
      assert(top.map(_.getAs[Int]("product_k")).toSeq == Seq(1, 2))
      // product 2's 10:00 view aged two half-lives by 12:00 → ~0.25
      assert(math.abs(top(1).getAs[Double]("score_now") - 0.25) < 1e-9)
      // product 1 aged one half-life from 11:00: ~2/2 = 1
      assert(math.abs(top(0).getAs[Double]("score_now") - 1.0) < 1e-9)
    } finally q.stop()
  }

  test("trending alert loop: top-N delta between rescores fires entered/left/moved; stable fires nothing") {
    import spark.implicits._
    val hl = 3600L
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000L
    val t1 = t0 + hl
    val logDir = java.nio.file.Files.createTempDirectory("graft_trend_alert").toString
    // batch 0 at t0: products 1,2,3 score 10/5/1; batch 1 at t1:
    // product 4 enters hot (8), product 2 collapses to 1
    graft.sources.MartSink.writePartitioned(
      Seq((1, 10.0, t0, 10L, 0L), (2, 5.0, t0, 5L, 0L), (3, 1.0, t0, 1L, 0L))
        .toDF("product_k", "score", "last_epoch", "total_events", "batch_id"),
      logDir, Seq("batch_id"))
    graft.sources.MartSink.writePartitioned(
      Seq((4, 8.0, t1, 8L, 1L), (2, 1.0, t1, 6L, 1L))
        .toDF("product_k", "score", "last_epoch", "total_events", "batch_id"),
      logDir, Seq("batch_id"))
    // prev snapshot must NOT see batch-1 rows (historical horizon)
    val prevTop = TrendingStream.trendingTopNFromLog(spark, logDir, t0, n = 2, halfLife = hl)
      .collect().map(_.getAs[Int]("product_k")).toSeq
    assert(prevTop == Seq(1, 2))
    val changes = TrendingStream.topNChanges(spark, logDir, t0, t1, n = 2, halfLife = hl)
    // cur top-2 at t1: p4 = 8.0 (#1), p1 aged one half-life = 5.0 (#2);
    // p2's latest row scores 1.0 — it LEFT from prev #2
    assert(changes.map(c => (c.product_k, c.change, c.prev_rank, c.cur_rank)) ==
      Seq((4, "entered", 0, 1), (1, "down", 1, 2), (2, "left", 2, 0)))
    assert(math.abs(changes.head.score_now - 8.0) < 1e-9)
    assert(math.abs(changes(1).score_now - 5.0) < 1e-9)
    assert(math.abs(changes(2).score_now - 1.0) < 1e-9) // departure's CURRENT aged score
    val alert = TrendingStream.trendingAlert(spark, logDir, t0, t1, n = 2, halfLife = hl)
    assert(alert.isDefined)
    val p = alert.get
    val parsed = spark.read.json(Seq(p).toDS)
    assert(!parsed.columns.contains("_corrupt_record") && parsed.columns.contains("blocks"))
    assert(p.contains("[TRENDING] top-2 changes"))
    assert(p.contains("*entered:* 1") && p.contains("*left:* 1") && p.contains("*moved:* 1"))
    assert(p.contains("product 4*: entered at #1"))
    assert(p.contains("product 1*: #1 -> #2 (down"))
    assert(p.contains("product 2*: left (was #2"))
    // identical horizons → stable → no alert to send
    assert(TrendingStream.trendingAlert(spark, logDir, t1, t1, n = 2, halfLife = hl).isEmpty)
  }

  test("stream-native trending alert sink fires only on micro-batches that change the top-N") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val raw = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    def at(s: String) = java.sql.Timestamp.valueOf(s)
    val t0 = at("2024-03-01 10:00:00")
    val base = java.nio.file.Files.createTempDirectory("graft_trend_sink")
    val alerts = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = TrendingStream.alertingLogSink(
      TrendingStream.trendScores(TrendingStream.asTrendEvents(raw), halfLife = 3600L),
      base.resolve("log").toString, base.resolve("ck").toString,
      n = 2, halfLife = 3600L)(alerts += _)
    try {
      // batch 1: p1 (2 views) and p2 (1) both ENTER the empty top-2
      mem.addData(
        (1L, t0, 1L, "view", 1.0, "{\"k\": 1}"),
        (2L, t0, 2L, "view", 1.0, "{\"k\": 1}"),
        (3L, t0, 3L, "view", 1.0, "{\"k\": 2}"))
      q.processAllAvailable()
      assert(alerts.size == 1)
      assert(alerts(0).contains("*entered:* 2") && alerts(0).contains("product 1*: entered at #1"))
      // batch 2: p2 gains 3 views → overtakes p1: both MOVE
      mem.addData(
        (4L, t0, 4L, "view", 1.0, "{\"k\": 2}"),
        (5L, t0, 5L, "view", 1.0, "{\"k\": 2}"),
        (6L, t0, 6L, "view", 1.0, "{\"k\": 2}"))
      q.processAllAvailable()
      assert(alerts.size == 2)
      assert(alerts(1).contains("*moved:* 2") && alerts(1).contains("product 2*: #2 -> #1 (up"))
      // batch 3: p1 gains 1 view (3 vs p2's 4) — order unchanged, silence
      mem.addData((7L, t0, 7L, "view", 1.0, "{\"k\": 1}"))
      q.processAllAvailable()
      assert(alerts.size == 2)
    } finally q.stop()
  }

  test("streaming profile log: per-batch profiles; drift rescore names the batch that moved") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def row(i: Long, props: String) =
      (i, new java.sql.Timestamp(base.getTime + i * 1000L), i % 10,
        s"type$i", 1.0 * i, props)
    val df = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val log = java.nio.file.Files.createTempDirectory("graft_plog").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pckpt").toString
    val q = EventStream.profileLogSink(df, log, ckpt)
    try {
      mem.addData((1L to 20L).map(i => row(i, "{}")): _*)
      q.processAllAvailable()
      // batch 1: an upstream deploy starts nulling props on half the rows
      mem.addData((21L to 40L).map(i => row(i, if (i % 2 == 0) null else "{}")): _*)
      q.processAllAvailable()
    } finally q.stop()
    spark.catalog.refreshByPath(log)
    val drift = operators.Quality.profileDriftFromLog(spark, log).collect()
    val byKey = drift.map(r =>
      (r.getAs[Long]("batch_id"), r.getAs[String]("column_name")) -> r).toMap
    // batch 0 has no predecessor: NULL deltas, nothing flags
    assert(drift.filter(_.getAs[Long]("batch_id") == 0L)
      .forall(!_.getAs[Boolean]("drift_flag")))
    assert(byKey((0L, "props")).isNullAt(
      byKey((0L, "props")).fieldIndex("null_share_delta")))
    // batch 1: props null_share 0 → 0.5 flags; untouched columns stay quiet
    assert(byKey((1L, "props")).getAs[Double]("null_share_delta") == 0.5)
    assert(byKey((1L, "props")).getAs[Boolean]("drift_flag"))
    assert(!byKey((1L, "event_id")).getAs[Boolean]("drift_flag"))
    assert(!byKey((1L, "user_id")).getAs[Boolean]("drift_flag"))
    // profiles are batch-local (arrival grain): both batches read 20 rows
    assert(drift.forall(_.getAs[Long]("n_rows") == 20L))
    assert(drift.map(_.getAs[String]("column_name")).toSet ==
      Set("event_id", "ts", "user_id", "event_type", "value", "props"))
  }

  test("revision log sink: live containment equals batch scoring; stale index refuses") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, String, String, String)]
    import spark.implicits._
    def lcgWords(seed: Long, n: Int): String = {
      var x = seed
      (1 to n).map { _ =>
        x = x * 6364136223846793005L + 1442695040888963407L
        "w" + java.lang.Long.toHexString(x >>> 40)
      }.mkString(" ")
    }
    val a = lcgWords(31L, 400)
    val corpus = Seq((1L, a), (2L, lcgWords(32L, 400))).toDF("doc_id", "text")
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ridx").toString + "/idx"
    Dedup.saveChunkIndex(spark, corpus, idxDir, builtFrom = "documents:test")
    val (idx, fp) = Dedup.loadChunkIndex(spark, idxDir)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, String, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val log = java.nio.file.Files.createTempDirectory("graft_rlog").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rckpt").toString
    val q = DocStream.revisionLogSink(
      mem.toDF.toDF("doc_id", "ts", "lang", "source", "text"), idx, fp, log, ckpt)
    try {
      // batch 0: one exact re-crawl + one fresh doc
      mem.addData((10L, base, "en", "s0", a),
        (11L, base, "en", "s0", lcgWords(33L, 400)))
      q.processAllAvailable()
      // batch 1: all fresh
      mem.addData((12L, base, "en", "s1", lcgWords(34L, 400)))
      q.processAllAvailable()
    } finally q.stop()
    spark.catalog.refreshByPath(log)
    // per-doc rows carry the SAME verdicts the batch operator computes
    val logged = spark.read.parquet(log).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(logged(10L).getAs[Double]("containment") == 1.0 &&
      logged(10L).getAs[Boolean]("is_revision"))
    assert(logged(11L).getAs[Double]("containment") == 0.0)
    assert(logged.values.forall(_.getAs[String]("index_fp") == fp))
    // the rate readout: batch 0 is half re-crawl, batch 1 clean
    val rates = DocStream.revisionRateFromLog(spark, log, Some(idxDir)).collect()
      .map(r => r.getAs[Long]("batch_id") -> r).toMap
    assert(rates(0L).getAs[Long]("n_docs") == 2L &&
      rates(0L).getAs[Long]("n_revisions") == 1L &&
      rates(0L).getAs[Double]("revision_rate") == 0.5)
    assert(rates(1L).getAs[Long]("n_revisions") == 0L)
    // re-build the index over a DIFFERENT corpus → the stale log must
    // refuse against the shipped artifact, not re-denominate the rates
    Dedup.saveChunkIndex(spark,
      Seq((9L, lcgWords(35L, 300))).toDF("doc_id", "text"), idxDir, "documents:test2")
    val ex = intercept[IllegalStateException] {
      DocStream.revisionRateFromLog(spark, log, Some(idxDir)).count()
    }
    assert(ex.getMessage.contains("retrain drift"), ex.getMessage)
    // a log mixing two index fingerprints refuses even without a path
    val row = spark.read.parquet(log).limit(1)
      .withColumn("index_fp", lit("feedfacefeedface"))
      .withColumn("batch_id", lit(99L))
    graft.sources.MartSink.writePartitioned(row, log, Seq("batch_id"))
    val mixed = intercept[IllegalStateException] {
      DocStream.revisionRateFromLog(spark, log).count()
    }
    assert(mixed.getMessage.contains("not comparable units"), mixed.getMessage)
  }

  test("norm log sink: an unnormalized deploy flags on total-variation, quiet batches don't") {
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Array[Float])]
    val mem = MemoryStream[(Long, java.sql.Timestamp, Array[Float])]
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    // one-hot unit vectors: norm is EXACTLY 1.0, so the bin is exact
    // (a float-normalized random vector sits ±ulps around 1.0 and
    // could straddle the 4.0 boundary)
    def unit(seed: Int): Array[Float] =
      Array.tabulate(8)(d => if (d == seed % 8) 1.0f else 0.0f)
    val log = java.nio.file.Files.createTempDirectory("graft_nlog").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_nckpt").toString
    val q = EmbeddingStream.normLogSink(
      mem.toDF.toDF("vec_id", "ts", "embedding"), log, ckpt)
    try {
      // batches 0+1: healthy unit vectors; batch 2: the un-L2'd deploy
      mem.addData((1L to 20L).map(i => (i, base, unit(i.toInt))): _*)
      q.processAllAvailable()
      mem.addData((21L to 40L).map(i => (i, base, unit(i.toInt))): _*)
      q.processAllAvailable()
      mem.addData((41L to 60L).map(i => (i, base, unit(i.toInt).map(_ * 50f))): _*)
      q.processAllAvailable()
    } finally q.stop()
    spark.catalog.refreshByPath(log)
    val drift = EmbeddingStream.normDriftFromLog(spark, log).collect()
      .map(r => r.getAs[Long]("batch_id") -> r).toMap
    assert(drift.keySet == Set(0L, 1L, 2L))
    // batch 0 has no predecessor: NULL distance, no flag
    assert(drift(0L).isNullAt(drift(0L).fieldIndex("tv_distance")) &&
      !drift(0L).getAs[Boolean]("drift_flag"))
    // identical-bin batches are quiet; the x50 deploy moves ALL mass
    assert(drift(1L).getAs[Double]("tv_distance") == 0.0 &&
      !drift(1L).getAs[Boolean]("drift_flag"))
    assert(drift(2L).getAs[Double]("tv_distance") == 1.0 &&
      drift(2L).getAs[Boolean]("drift_flag"))
  }

  test("ingest chain: rule gate, LR gate, dedup, and DSIR gate each drop their doc; one survivor") {
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, String, String, String)]
    import spark.implicits._
    // an LR scorer that admits everything (zero weights, intercept 3)
    // — the rule gate inside cleanDocs is what must catch low quality
    val permissive = TextAnalysis.LrScorer(
      Seq(("n_words", 0.0, 0.0, 1.0), ("avg_word_len", 0.0, 0.0, 1.0),
        ("stopword_ratio", 0.0, 0.0, 1.0), ("top_word_frac", 0.0, 0.0, 1.0),
        ("distinct_frac", 0.0, 0.0, 1.0)), intercept = 3.0)
    // texts chosen to pass the rule gate (stopword-rich, en): the
    // off-domain one shares NO words with the DSIR target, so its
    // every bucket ratio is negative
    val good = "the and of to in the and of to in"
    val offDomain = "was that this with from was that this with from was that"
    val pool = Seq((100L, "s", good), (101L, "s", offDomain)).toDF("doc_id", "source", "text")
    val target = Seq((1L, "t", good + " " + good)).toDF("doc_id", "source", "text")
    val ratio = TextAnalysis.trainDsirRatio(target, pool, numBuckets = 64)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, String, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val out = java.nio.file.Files.createTempDirectory("graft_chain_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_chain_ck").toString
    val q = DocStream.ingestChain(
      mem.toDF.toDF("doc_id", "ts", "lang", "source", "text"),
      permissive, ratio, out, ckpt)
    try {
      mem.addData(
        (10L, base, "en", "s", good),        // survives every gate
        (11L, base, "en", "s", "x"),          // rule gate: too short/low quality
        (12L, base, "en", "s", offDomain),    // DSIR gate: off-domain
        (13L, base, "en", "s", good))         // watermark dedup: same content
      q.processAllAvailable()
    } finally q.stop()
    spark.catalog.refreshByPath(out)
    val admitted = spark.read.parquet(out).collect()
    assert(admitted.map(_.getAs[Long]("doc_id")).toSet == Set(10L))
    val row = admitted.head
    // survivors carry every gate's audit column
    assert(row.getAs[Double]("quality_score") >= 0.5)
    assert(row.getAs[Double]("quality_p") >= 0.5)
    assert(row.getAs[Double]("lw_per_token") >= 0.0)
    assert(row.getAs[Long]("n_tokens") > 0L)
  }

  test("dsir ingest gate: persisted model admits target-like docs in batch-identical units") {
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, String, String, String)]
    import spark.implicits._
    val B = 64
    val tWords = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val rWords = Seq("zeta", "eta", "theta", "iota", "kappa")
    def doc(ws: Seq[String], n: Int): String = (0 until n).map(i => ws(i % ws.size)).mkString(" ")
    val target = (1L to 6L).map(i => (i, "t", doc(tWords, 30))).toDF("doc_id", "source", "text")
    val pool = Seq((101L, "a", doc(tWords, 24)), (103L, "b", doc(rWords, 24)))
      .toDF("doc_id", "source", "text")
    val ratio = TextAnalysis.trainDsirRatio(target, pool, numBuckets = B)
    // artifact round-trip: stamped save/load reproduces the table
    val dir = java.nio.file.Files.createTempDirectory("graft_dsir").toString + "/model"
    TextAnalysis.saveDsirModel(spark, ratio, dir, builtFrom = "documents:test")
    val (loaded, fp) = TextAnalysis.loadDsirModel(spark, dir)
    assert(loaded.toSeq == ratio.toSeq && fp == TextAnalysis.dsirRatioFp(ratio))
    graft.sources.ArtifactManifest.write(dir,
      graft.sources.ArtifactManifest.Stamp("dsir_model", "deadbeef", "x"))
    intercept[IllegalStateException] { TextAnalysis.loadDsirModel(spark, dir) }
    // the stream gate admits the target-like doc, drops the off-domain
    // one, and scores in BATCH-identical units (same fold definition)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, String, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    mem.addData((101L, base, "en", "a", doc(tWords, 24)),
      (103L, base, "en", "b", doc(rWords, 24)))
    val gated = DocStream.dsirGatedDocs(
      mem.toDF.toDF("doc_id", "ts", "lang", "source", "text"), loaded)
    val sink = gated.writeStream.format("memory").queryName("dsir_gate")
      .outputMode("append").start()
    try sink.processAllAvailable() finally sink.stop()
    val admitted = spark.table("dsir_gate").collect()
    assert(admitted.map(_.getAs[Long]("doc_id")).toSet == Set(101L))
    val batchScores = TextAnalysis.sampleDsirWith(pool, ratio, k = 2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("log_weight")).toMap
    assert(admitted.head.getAs[Double]("log_weight") == batchScores(101L))
  }

  test("live sequential A/B: log reproduces the batch look table; replay dedups; crossing fires once") {
    import java.nio.file.Files
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    def at(day: Int, min: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-0$day%d 10:$min%02d:00")
    // 40 users enrol across 3 days (first event = a view); every third
    // user purchases, some on a LATER day than enrolment, one user
    // purchases twice (only the first conversion may count)
    val rows = (1L to 40L).flatMap { u =>
      val d = (u % 3).toInt + 1
      val enroll = Seq((u, at(d, u.toInt), u, "view", 1.0, "{}"))
      val buys =
        if (u % 3 == 0) Seq((100L + u, at(math.min(d + 1, 3), u.toInt), u, "purchase", 9.0, "{}"))
        else Nil
      val again = if (u == 6L) Seq((200L, at(3, 59), u, "purchase", 9.0, "{}")) else Nil
      enroll ++ buys ++ again
    }
    val logDir = Files.createTempDirectory("graft_ab_log").toString
    val ck1 = Files.createTempDirectory("graft_ab_ck1").toString
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    mem.addData(rows: _*)
    val df = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = AbSequentialStream.touchLogSink(
      AbSequentialStream.firstTouches(df), logDir, ck1)
    try q.processAllAvailable() finally q.stop()
    // 1. the log-fed look table IS the batch look table
    val batch = operators.UserAnalytics.abSequentialFrom(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val live = AbSequentialStream.sequentialFromLog(spark, logDir)
    assert(canon(live) == canon(batch), "live look table diverged from batch")
    // sanity: the double-purchaser converted once
    assert(spark.read.parquet(logDir)
      .filter(col("user_id") === 6L && col("kind") === "convert").count() == 1L)
    // 2. an at-least-once REPLAY (same data, fresh checkpoint → the
    // whole log appends again) leaves the rescore unchanged
    val ck2 = Files.createTempDirectory("graft_ab_ck2").toString
    val mem2 = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    mem2.addData(rows: _*)
    val df2 = mem2.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q2 = AbSequentialStream.touchLogSink(
      AbSequentialStream.firstTouches(df2), logDir, ck2)
    try q2.processAllAvailable() finally q2.stop()
    assert(canon(AbSequentialStream.sequentialFromLog(spark, logDir)) == canon(batch),
      "replayed log must rescore identically")
    // 3. the boundary verdict fires ONCE: plant a daily table whose z
    // crosses at look 2 AND look 3 — the verdict is the look-2 row only
    val daily = Seq(
      ("2024-02-01", "control", 50L, 25L), ("2024-02-01", "treatment", 50L, 25L),
      ("2024-02-02", "control", 50L, 5L), ("2024-02-02", "treatment", 50L, 45L),
      ("2024-02-03", "control", 50L, 5L), ("2024-02-03", "treatment", 50L, 45L))
      .toDF("day", "arm", "e", "c").withColumn("day", col("day").cast("date"))
    val looks = operators.UserAnalytics.sequentialFromDaily(daily)
    val crossedLooks = looks.filter(col("crossed")).count()
    assert(crossedLooks >= 2, s"the plant must cross at 2+ looks, got $crossedLooks")
    val verdict = AbSequentialStream.firstCrossing(looks).collect()
    assert(verdict.length == 1 && verdict.head.getAs[Int]("look") == 2,
      s"verdict must be the FIRST crossing only: ${verdict.toSeq}")
  }

  test("live contract gate: the persisted artifact's row-local checks flag a stream; batch parity") {
    import java.nio.file.Files
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    // contract observed on a healthy mini-corpus: value in [1, 10],
    // event_type in {view, purchase}, ids complete
    val healthy = (1L to 40L).map(i =>
      (i, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), i % 7,
        if (i % 4 == 0L) "purchase" else "view", 1.0 + (i % 10), "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val path = Files.createTempDirectory("graft_live_c").toString + "/contract"
    operators.Quality.writeSuggestions(
      operators.Quality.suggestedChecksFrom(healthy), path, builtFrom = "spec")
    // live rows: clean / out-of-range value / alien event_type
    val rows = Seq(
      (100L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 1L, "view", 10.0, "{}"),
      (101L, java.sql.Timestamp.valueOf("2024-01-02 10:01:00"), 2L, "view", 999.0, "{}"),
      (102L, java.sql.Timestamp.valueOf("2024-01-02 10:02:00"), 3L, "refund", 10.0, "{}"))
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    mem.addData(rows: _*)
    val df = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val (flagged, skipped) = operators.Quality.contractFlagsFrom(df, path)
    // uniqueness is honestly declared out of streaming scope
    assert(skipped == Seq("event_id_unique"))
    val q = flagged.writeStream.format("memory")
      .queryName("contract_gate_live").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val live = spark.table("contract_gate_live").collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Boolean]("contract_ok"),
          r.getAs[scala.collection.Seq[String]]("contract_violations").toSeq))).toMap
    assert(live(100L) == ((true, Seq.empty[String])))
    assert(live(101L) == ((false, Seq("value_range"))))
    assert(live(102L) == ((false, Seq("event_type_isin"))))
    // batch parity: the SAME artifact over the same rows, batch-side
    val (batch, skipped2) = operators.Quality.contractFlagsFrom(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"), path)
    assert(skipped2 == skipped)
    val b = batch.collect().map(r => r.getAs[Long]("event_id") ->
      ((r.getAs[Boolean]("contract_ok"),
        r.getAs[scala.collection.Seq[String]]("contract_violations").toSeq))).toMap
    assert(b == live, "live and nightly verdicts must be the one definition")
  }

  test("live contract unique leg: an in-watermark duplicate flags and matches the batch verdict; the horizon is real") {
    import java.nio.file.Files
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // contract on a healthy mini-corpus: event_id suggests unique
    val healthy = (1L to 20L).map(i =>
      (i, ts("2024-01-01 09:00:00"), i % 5, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val path = Files.createTempDirectory("graft_uniq").toString + "/contract"
    operators.Quality.writeSuggestions(
      operators.Quality.suggestedChecksFrom(healthy), path, builtFrom = "spec")
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val df = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // the legs map covers exactly what contractFlags SKIPS
    val legs = EventStream.contractUniqueLegs(df, path)
    val (_, skipped) = operators.Quality.contractFlagsFrom(df, path)
    assert(legs.keySet.map(_ + "_unique") == skipped.toSet,
      "the unique legs must cover exactly the row-local surface's skips")
    val q = legs("event_id").writeStream.format("memory")
      .queryName("uniq_leg").outputMode("append").start()
    try {
      // batch 1: ids 1,2 then 1 again five minutes later — in-horizon
      val b1 = Seq(
        (1L, ts("2024-01-02 10:00:00"), 1L, "view", 1.0, "{}"),
        (2L, ts("2024-01-02 10:01:00"), 2L, "view", 1.0, "{}"),
        (1L, ts("2024-01-02 10:05:00"), 3L, "view", 1.0, "{}"))
      mem.addData(b1: _*); q.processAllAvailable()
      val flagged = spark.table("uniq_leg").collect()
      assert(flagged.length == 1)
      assert(flagged.head.getAs[String]("value") == "1")
      assert(flagged.head.getAs[java.sql.Timestamp]("first_ts") == ts("2024-01-02 10:00:00"))
      assert(flagged.head.getAs[java.sql.Timestamp]("dup_ts") == ts("2024-01-02 10:05:00"))
      assert(flagged.head.getAs[String]("horizon") == "2 hours")
      // batch parity on the same window: the nightly unique check
      // counts the same single violation
      val batchVerdict = operators.Quality.runChecks(
        b1.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        operators.Quality.loadSuggestions(spark, path)).collect()
        .find(r => r.getAs[String]("column_name") == "event_id" &&
          r.getAs[String]("check_type") == "unique").get
      assert(batchVerdict.getAs[Long]("n_violations") == 1L,
        "stream and batch must agree on the in-window duplicate count")
      // advance the watermark far past id 1's horizon (two batches:
      // eviction reads the PREVIOUS batch's watermark)
      mem.addData((99L, ts("2024-01-02 15:00:00"), 9L, "view", 1.0, "{}"))
      q.processAllAvailable()
      mem.addData((100L, ts("2024-01-02 15:01:00"), 9L, "view", 1.0, "{}"))
      q.processAllAvailable()
      // id 1 re-arrives BEYOND the horizon: state is gone, not flagged
      // — the declared bound, exactly dropDuplicatesWithinWatermark's
      mem.addData((1L, ts("2024-01-02 14:00:00"), 1L, "view", 1.0, "{}"))
      q.processAllAvailable()
      assert(spark.table("uniq_leg").count() == 1L,
        "a beyond-horizon duplicate must NOT flag (the declared bound)")
    } finally q.stop()
  }

  test("unique leg state expires from FIRST-seen + horizon and keeps first-SEEN under out-of-order arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val df = mem.toDF.toDF("event_id", "ts")
    val q = EventStream.uniqueViolations(df, "event_id")
      .writeStream.format("memory").queryName("uniq_exp")
      .outputMode("append").start()
    try {
      // key 7: first 10:00, dup 11:30 — flagged (within 2 h of first)
      mem.addData((7L, ts("2024-01-02 10:00:00")), (7L, ts("2024-01-02 11:30:00")))
      q.processAllAvailable()
      // key 8 arrives at 10:30 FIRST; its true-earlier 10:10 event
      // lands in a later batch (in-watermark): first-SEEN wins — the
      // stored first_ts stays 10:30 and the 10:10 arrival is the
      // violation, exactly dropDuplicatesWithinWatermark's keep-first
      mem.addData((8L, ts("2024-01-02 10:30:00")))
      q.processAllAvailable()
      mem.addData((8L, ts("2024-01-02 10:10:00")))
      q.processAllAvailable()
      val early = spark.table("uniq_exp").collect()
        .filter(_.getAs[String]("value") == "8")
      assert(early.length == 1)
      assert(early.head.getAs[java.sql.Timestamp]("first_ts") == ts("2024-01-02 10:30:00"))
      assert(early.head.getAs[java.sql.Timestamp]("dup_ts") == ts("2024-01-02 10:10:00"))
      // advance the watermark past key 7's FIRST + horizon (12:00)
      // but NOT past its last dup + horizon (13:30): two filler
      // batches (eviction reads the previous batch's watermark)
      mem.addData((90L, ts("2024-01-02 14:30:00"))); q.processAllAvailable()
      mem.addData((91L, ts("2024-01-02 14:31:00"))); q.processAllAvailable()
      // key 7 re-arrives at 12:40 — within 2 h of the PREVIOUS dup
      // (11:30) but past the horizon of the FIRST (10:00): state has
      // expired from first+horizon, so this is a NEW first, not a
      // violation; dropDuplicatesWithinWatermark passes it through
      // identically, which is the correspondence this leg claims
      mem.addData((7L, ts("2024-01-02 12:40:00"))); q.processAllAvailable()
      val k7 = spark.table("uniq_exp").collect()
        .filter(_.getAs[String]("value") == "7")
      assert(k7.length == 1,
        s"a dup past first+horizon must NOT flag even if within last-dup+horizon: ${k7.toSeq}")
      assert(k7.head.getAs[java.sql.Timestamp]("dup_ts") == ts("2024-01-02 11:30:00"))
    } finally q.stop()
  }

  test("first-touch log maintenance: rotate-and-absorb compaction preserves the look table") {
    import java.nio.file.Files
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val enc = Encoders.product[(Long, java.sql.Timestamp, Long, String, Double, String)]
    def at(day: Int, min: Int) = java.sql.Timestamp.valueOf(f"2024-03-0$day%d 09:$min%02d:00")
    // segment 1: users 1..10 enrol day 1, evens convert day 1
    val seg1 = (1L to 10L).map(u => (u, at(1, u.toInt), u, "view", 1.0, "{}")) ++
      (2L to 10L by 2).map(u => (50L + u, at(1, 40 + u.toInt / 2), u, "purchase", 5.0, "{}"))
    // segment 2 (a rotated fresh sink): REPLAYS all of segment 1's
    // enrolments (fresh state re-emits them), plus new users 11..15 on
    // day 2 and user 3's first conversion on day 2
    val seg2 = (1L to 10L).map(u => (u, at(1, u.toInt), u, "view", 1.0, "{}")) ++
      (11L to 15L).map(u => (u, at(2, u.toInt), u, "view", 1.0, "{}")) ++
      Seq((99L, at(2, 50), 3L, "purchase", 5.0, "{}"))
    def sink(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)],
             logDir: String): Unit = {
      val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
      mem.addData(rows: _*)
      val df = mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val q = AbSequentialStream.touchLogSink(AbSequentialStream.firstTouches(df),
        logDir, Files.createTempDirectory("graft_tl_ck").toString)
      try q.processAllAvailable() finally q.stop()
    }
    val log1 = Files.createTempDirectory("graft_tl").toString + "/seg1"
    val log2 = Files.createTempDirectory("graft_tl").toString + "/seg2"
    val base = Files.createTempDirectory("graft_tl").toString + "/base"
    sink(seg1, log1)
    sink(seg2, log2)
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val truth = canon(operators.UserAnalytics.abSequentialFrom(
      (seg1 ++ seg2).distinct
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")))
    // absorb segment 1 into the base; the live read is base + tail
    val (read1, kept1) = AbSequentialStream.compactTouchLog(spark, Seq(log1), base)
    assert(kept1 == 15L, s"10 enrolls + 5 converts expected, got $kept1") // seg1 first-touches
    assert(canon(AbSequentialStream.sequentialFromLogs(spark, Seq(base, log2))) == truth,
      "base + tail must serve the batch look table")
    // absorb the tail too: ONE base serves the whole table, replays gone
    val (read2, kept2) = AbSequentialStream.compactTouchLog(spark, Seq(log2), base)
    assert(read2 > kept2, "replayed enrolments must compact away")
    assert(kept2 == 21L, s"15 enrolls + 6 converts expected, got $kept2")
    assert(canon(AbSequentialStream.sequentialFromLogs(spark, Seq(base))) == truth)
    // the compacted base is a single file (plus metadata)
    val files = new java.io.File(base).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 1, s"expected one compacted file, got $files")
  }
}
