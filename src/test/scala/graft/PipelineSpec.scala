package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{EventSource, MartSink}

class SourcesSpec extends SparkSpec {
  test("jsonl round-trip preserves the event schema and corrupt lines are isolated") {
    val dir = Files.createTempDirectory("graft_jsonl").toFile
    val f = new java.io.File(dir, "events.jsonl")
    val w = new java.io.PrintWriter(f)
    w.println("""{"event_id":1,"ts":"2024-01-01T10:00:00","user_id":7,"event_type":"view","value":1.0,"props":"{}"}""")
    w.println("""{"event_id":2,"ts":"2024-01-01T10:01:00","user_id":7,"event_type":"purchase","value":9.5,"props":"{\"k\":3}"}""")
    w.println("""this is not json""")
    w.close()
    // Spark disallows querying only the corrupt-record column straight
    // off a raw file scan — cache the parsed batch first
    val df = EventSource.jsonl(spark, f.getAbsolutePath).cache()
    assert(df.filter(col("_corrupt_record").isNull).count() == 2)
    assert(df.filter(col("_corrupt_record").isNotNull).count() == 1)
    val purchase = df.filter(col("event_type") === "purchase").collect().head
    assert(purchase.getAs[Double]("value") == 9.5)
  }

  test("csv ingest isolates malformed rows with their full text for replay") {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "events.csv")
    val w = new java.io.PrintWriter(f)
    w.println("event_id,ts,user_id,event_type,value,props")
    w.println("""1,2024-01-01 10:00:00,7,view,1.0,{}""")
    w.println("""2,2024-01-01 10:01:00,7,purchase,9.5,""")
    w.println("""3,not-a-timestamp,7,view,1.0,{}""")
    w.close()
    val df = EventSource.csv(spark, f.getAbsolutePath).cache()
    assert(df.filter(col("_corrupt_record").isNull).count() == 2)
    val bad = df.filter(col("_corrupt_record").isNotNull).collect()
    assert(bad.length == 1)
    // the malformed line survives whole for post-fix replay
    assert(bad.head.getAs[String]("_corrupt_record").startsWith("3,not-a-timestamp"))
    assert(bad.head.isNullAt(bad.head.fieldIndex("ts")))
    val purchase = df.filter(col("event_type") === "purchase").collect().head
    assert(purchase.getAs[Double]("value") == 9.5)
  }

  test("dynamic partition overwrite only replaces recomputed dates") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_mart").toString
    val day1 = Seq((1L, "2024-01-01", 5L), (2L, "2024-01-02", 7L))
      .toDF("user_id", "event_date", "n")
    MartSink.writePartitioned(day1, out, Seq("event_date"))
    // rewrite ONLY day 2 with a new value; day 1 must survive
    val day2 = Seq((2L, "2024-01-02", 99L)).toDF("user_id", "event_date", "n")
    MartSink.writePartitioned(day2, out, Seq("event_date"))
    val back = spark.read.parquet(out)
    assert(back.count() == 2)
    assert(back.filter(col("event_date") === "2024-01-01").collect().head.getAs[Long]("n") == 5L)
    assert(back.filter(col("event_date") === "2024-01-02").collect().head.getAs[Long]("n") == 99L)
  }

  test("writeBatches: a replayed batch id rewrites exactly its own partitions in every output") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_batches").toString
    val (events, daily) = (s"$root/events", s"$root/daily")
    // two outputs of one batch: its rows by event_date, and a per-date
    // count by run_date
    val outputs = Seq(
      MartSink.BatchOutput(events, Seq("event_date"), identity),
      MartSink.BatchOutput(daily, Seq("run_date"),
        _.groupBy(col("event_date").as("run_date")).agg(count(lit(1)).as("n"))))
    def batch(rows: (Long, String)*) = rows.toDF("event_id", "event_date")
    def land(): Set[String] =
      Seq(events, daily).flatMap(d => spark.read.parquet(d).collect().map(r => s"$d:$r")).toSet
    assert(MartSink.writeBatches(batch(1L -> "2024-01-01", 2L -> "2024-01-02"), 0L, outputs))
    assert(MartSink.writeBatches(batch(3L -> "2024-01-02"), 1L, outputs))
    val first = land()
    // an at-least-once replay of batch 1: the same rows land once
    assert(MartSink.writeBatches(batch(3L -> "2024-01-02"), 1L, outputs))
    assert(land() == first)
    assert(spark.read.parquet(events).count() == 3 && spark.read.parquet(daily).count() == 3)
    // a replay whose rows differ rewrites batch 1's partition, not
    // batch 0's rows of the same date, in both outputs
    assert(MartSink.writeBatches(batch(5L -> "2024-01-02", 6L -> "2024-01-02"), 1L, outputs))
    def batchOf(r: org.apache.spark.sql.Row) = r.getAs[Number]("batch_id").longValue
    val ids = spark.read.parquet(events).collect()
      .map(r => r.getAs[Long]("event_id") -> batchOf(r)).toSet
    assert(ids == Set(1L -> 0L, 2L -> 0L, 5L -> 1L, 6L -> 1L), ids)
    val perDate = spark.read.parquet(daily).collect()
      .map(r => (r.getAs[Any]("run_date").toString, batchOf(r), r.getAs[Long]("n"))).toSet
    assert(perDate == Set(("2024-01-01", 0L, 1L), ("2024-01-02", 0L, 1L), ("2024-01-02", 1L, 2L)),
      perDate)
    // an empty batch writes no output at all, not even its directory
    val (e2, d2) = (s"$root/empty_events", s"$root/empty_daily")
    assert(!MartSink.writeBatches(batch(), 2L, outputs.zip(Seq(e2, d2)).map {
      case (o, d) => o.copy(dir = d)
    }))
    assert(!new java.io.File(e2).exists() && !new java.io.File(d2).exists())
  }

  test("dynamic overwrite is a writer option: a static session conf cannot wipe other dates") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_mart_static").toString
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try {
      MartSink.writePartitioned(Seq((1L, "2024-01-01", 5L), (2L, "2024-01-02", 7L))
        .toDF("user_id", "event_date", "n"), out, Seq("event_date"))
      MartSink.writePartitioned(Seq((2L, "2024-01-02", 99L))
        .toDF("user_id", "event_date", "n"), out, Seq("event_date"))
      val back = spark.read.parquet(out).collect()
        .map(r => (r.getAs[Any]("event_date").toString, r.getAs[Long]("n"))).toSet
      assert(back == Set(("2024-01-01", 5L), ("2024-01-02", 99L)))
      assert(spark.conf.get(key) == "static", "the writer must leave the session conf alone")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("key erasure rewrites only hit partitions, drops emptied ones, leaves the rest byte-identical") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_erase").toString
    val mart = Seq(
      (1L, "2024-01-01", 5L), (2L, "2024-01-01", 7L), // mixed partition
      (2L, "2024-01-02", 9L),                          // fully user-2
      (3L, "2024-01-03", 11L))                         // untouched
      .toDF("user_id", "event_date", "n")
    MartSink.writePartitioned(mart, out, Seq("event_date"))
    def files(d: String) = new java.io.File(s"$out/event_date=$d").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified))
    val d3Before = files("2024-01-03").toSeq
    val stats = MartSink.eraseKeys(spark, out, "user_id", Seq(2L), "event_date")
    assert(stats.rowsErased == 2L)
    assert(stats.partitionsRewritten == Seq("event_date=2024-01-01"))
    assert(stats.partitionsDeleted == Seq(s"$out/event_date=2024-01-02"))
    assert(!new java.io.File(s"$out/event_date=2024-01-02").exists())
    assert(files("2024-01-03").toSeq == d3Before) // untouched partition intact
    val back = spark.read.parquet(out)
    assert(back.filter(col("user_id") === 2L).count() == 0)
    assert(back.count() == 2)
    assert(back.filter(col("event_date") === "2024-01-01").collect()
      .head.getAs[Long]("n") == 5L)
    // idempotent: erasing again is a no-op
    val again = MartSink.eraseKeys(spark, out, "user_id", Seq(2L), "event_date")
    assert(again == MartSink.EraseStats(0L, Nil, Nil))
    // warehouse leg: Derby DELETE removes only the erased keys
    val db = Files.createTempDirectory("graft_erase_db").resolve("edb")
    val url = s"jdbc:derby:$db;create=true"
    mart.write.format("jdbc").option("url", url).option("dbtable", "m").save()
    assert(MartSink.eraseKeysJdbc(url, "m", "user_id", Seq(2L)) == 2L)
    val left = spark.read.format("jdbc").option("url", url).option("dbtable", "m")
      .load().collect()
    assert(left.length == 2 && left.forall(_.getAs[Long]("user_id") != 2L))
  }

  test("compaction rewrites only over-fragmented partitions, keeps data and healthy files intact") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_compact").toString
    def files(day: String) =
      new java.io.File(s"$out/event_date=$day").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    // day 1: one healthy file; day 2: a streaming-style accretion of 8
    val day1 = spark.range(1000).select(col("id").as("user_id"),
      lit("2024-01-01").as("event_date"), (col("id") * 2).as("n")).repartition(1)
    val day2 = spark.range(1000, 1200).select(col("id").as("user_id"),
      lit("2024-01-02").as("event_date"), (col("id") * 2).as("n")).repartition(8)
    MartSink.writePartitioned(day1, out, Seq("event_date"))
    MartSink.writePartitioned(day2, out, Seq("event_date"))
    assert(files("2024-01-01").size == 1 && files("2024-01-02").size == 8)
    val day1Files = files("2024-01-01")
    val sumBefore = spark.read.parquet(out).agg(sum("n")).collect().head.getLong(0)

    val compacted = MartSink.compact(spark, out, Seq("event_date"))
    // only the fragmented partition was touched — by name and by file
    assert(compacted.size == 1 && compacted.head.endsWith("event_date=2024-01-02"))
    assert(files("2024-01-01") == day1Files, "healthy partition must keep its exact files")
    // 8 tiny files pack into one scan split → one rewritten file
    assert(files("2024-01-02").size < 8)
    // data is byte-identical in aggregate
    assert(spark.read.parquet(out).count() == 1200)
    assert(spark.read.parquet(out).agg(sum("n")).collect().head.getLong(0) == sumBefore)
    // idempotent: a second pass finds nothing over-fragmented
    assert(MartSink.compact(spark, out, Seq("event_date")).isEmpty)
  }

  test("compaction plan: dry-run names exactly what compact rewrites, then reads clean") {
    import org.apache.spark.sql.functions.lit
    val out = Files.createTempDirectory("graft_cplan").toString
    val day1 = spark.range(500).select(col("id").as("user_id"),
      lit("2024-02-01").as("event_date"), col("id").as("n")).repartition(1)
    val day2 = spark.range(500, 700).select(col("id").as("user_id"),
      lit("2024-02-02").as("event_date"), col("id").as("n")).repartition(6)
    MartSink.writePartitioned(day1, out, Seq("event_date"))
    MartSink.writePartitioned(day2, out, Seq("event_date"))
    val plan = MartSink.compactionPlan(spark, out, Seq("event_date")).collect()
    assert(plan.length == 2)
    val byDir = plan.map(r => r.getAs[String]("partition_dir") -> r).toMap
    val frag = byDir.keys.find(_.endsWith("event_date=2024-02-02")).get
    val clean = byDir.keys.find(_.endsWith("event_date=2024-02-01")).get
    assert(byDir(frag).getAs[Boolean]("fragmented") &&
      byDir(frag).getAs[Long]("n_files") == 6L)
    assert(!byDir(clean).getAs[Boolean]("fragmented") &&
      byDir(clean).getAs[Long]("n_files") == 1L)
    // the plan's fragmented set IS compact's rewrite set (shared walk)
    val rewritten = MartSink.compact(spark, out, Seq("event_date"))
    assert(rewritten.toSet ==
      plan.filter(_.getAs[Boolean]("fragmented")).map(_.getAs[String]("partition_dir")).toSet)
    // post-compaction the plan reads clean everywhere
    assert(MartSink.compactionPlan(spark, out, Seq("event_date")).collect()
      .forall(!_.getAs[Boolean]("fragmented")))
  }

  test("JDBC mart load is date-idempotent: rerunning one date leaves other dates untouched") {
    import spark.implicits._
    // embedded Derby (bundled with Spark) stands in for the
    // reference's PostgreSQL target
    val db = Files.createTempDirectory("graft_derby").resolve("martdb")
    val url = s"jdbc:derby:$db;create=true"
    def mart(rows: (Long, String, Long)*) =
      rows.toDF("user_id", "d", "n").withColumn("event_date", col("d").cast("date")).drop("d")
        .select("user_id", "event_date", "n")
    // initial load: two dates
    MartSink.writeJdbc(mart((1L, "2024-01-01", 5L), (2L, "2024-01-02", 7L)), url, "mart_user_daily")
    // rerun of day 2 with corrected values — delete+insert scoped to
    // the date; must not touch day 1 and must not duplicate day 2
    MartSink.writeJdbc(mart((2L, "2024-01-02", 99L), (3L, "2024-01-02", 4L)), url,
      "mart_user_daily", deletePredicate = Some("\"event_date\" = DATE('2024-01-02')"))
    val back = spark.read.jdbc(url, "mart_user_daily", new java.util.Properties())
    assert(back.count() == 3)
    assert(back.filter(col("event_date") === "2024-01-01").collect()
      .map(_.getAs[Long]("n")).toSeq == Seq(5L))
    assert(back.filter(col("event_date") === "2024-01-02").collect()
      .map(_.getAs[Long]("n")).sorted.toSeq == Seq(4L, 99L))
    // staging tables are dropped after the swap
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, null, Array("TABLE"))
      val names = Iterator.continually(rs).takeWhile(_.next()).map(_.getString("TABLE_NAME")).toList
      rs.close()
      assert(!names.exists(_.toLowerCase.contains("_stg_")), s"staging leak: $names")
    } finally conn.close()
  }

  test("incremental JDBC MERGE ships only the delta: replay is a zero-write no-op") {
    import spark.implicits._
    val db = Files.createTempDirectory("graft_derby_mrg").resolve("mrgdb")
    val url = s"jdbc:derby:$db;create=true"
    def mart(rows: (Long, String, Long, Double)*) =
      rows.toDF("user_id", "d", "n", "revenue")
        .withColumn("event_date", col("d").cast("date")).drop("d")
        .select("user_id", "event_date", "n", "revenue")
    val keys = Seq("user_id", "event_date")
    val day1 = mart((1L, "2024-01-01", 5L, 10.0), (2L, "2024-01-01", 7L, 20.0),
      (3L, "2024-01-01", 2L, 5.0))
    // first merge on an absent table = full load
    val s1 = MartSink.mergeJdbc(day1, url, "mart_m", keys)
    assert(s1 == MartSink.MergeStats(3, 0, 3))
    // replaying the identical build stages NOTHING
    val s2 = MartSink.mergeJdbc(day1, url, "mart_m", keys)
    assert(s2 == MartSink.MergeStats(0, 0, 3))
    // one changed row + one new row -> exactly 2 rows cross the wire
    val day1b = mart((1L, "2024-01-01", 5L, 10.0), (2L, "2024-01-01", 9L, 25.0),
      (3L, "2024-01-01", 2L, 5.0), (4L, "2024-01-01", 1L, 1.0))
    val s3 = MartSink.mergeJdbc(day1b, url, "mart_m", keys)
    assert(s3 == MartSink.MergeStats(2, 0, 4))
    val back = spark.read.jdbc(url, "mart_m", new java.util.Properties())
    assert(back.count() == 4)
    assert(back.filter(col("user_id") === 2L).collect().map(_.getAs[Long]("n")).toSeq == Seq(9L))
    // a second date merges independently; day 1 rows don't count as vanished
    // outside the scope predicate
    val day2 = mart((1L, "2024-01-02", 6L, 12.0))
    assert(MartSink.mergeJdbc(day2, url, "mart_m", keys,
      scopePredicate = Some("\"event_date\" = DATE('2024-01-02')"),
      deleteVanished = true) == MartSink.MergeStats(1, 0, 1))
    // scoped rebuild that drops user 4: only that key is deleted, day 2 untouched
    val day1c = mart((1L, "2024-01-01", 5L, 10.0), (2L, "2024-01-01", 9L, 25.0),
      (3L, "2024-01-01", 2L, 5.0))
    val s4 = MartSink.mergeJdbc(day1c, url, "mart_m", keys,
      scopePredicate = Some("\"event_date\" = DATE('2024-01-01')"),
      deleteVanished = true)
    assert(s4 == MartSink.MergeStats(0, 1, 3))
    val fin = spark.read.jdbc(url, "mart_m", new java.util.Properties())
    assert(fin.count() == 4) // 3 on day 1 + 1 on day 2
    assert(fin.filter(col("user_id") === 4L).isEmpty)
    assert(fin.filter(col("event_date") === "2024-01-02").count() == 1)
    // no staging leftovers
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null, null, null, Array("TABLE"))
      val names = Iterator.continually(rs).takeWhile(_.next()).map(_.getString("TABLE_NAME")).toList
      rs.close()
      assert(!names.exists(_.toLowerCase.contains("_mrg_")), s"staging leak: $names")
    } finally conn.close()
  }

  test("first-load MERGE counts the rows it inserts: stats equal the frame's row count") {
    val url = s"jdbc:derby:memory:graft_first${System.nanoTime};create=true"
    val df = spark.range(0, 2500, 1, 7).selectExpr("id AS k", "id % 13 AS v")
    assert(MartSink.mergeJdbc(df, url, "m_first", Seq("k")) ==
      MartSink.MergeStats(df.count(), 0, df.count()))
    assert(spark.read.jdbc(url, "m_first", new java.util.Properties()).count() == 2500)
    assert(MartSink.mergeJdbc(df.filter("k < 0"), url, "m_empty", Seq("k")) ==
      MartSink.MergeStats(0, 0, 0))
  }

  test("scoped MERGE with a per-scope-restarting key never deletes other scopes' rows") {
    import spark.implicits._
    val db = Files.createTempDirectory("graft_derby_scope").resolve("scopedb")
    val url = s"jdbc:derby:$db;create=true"
    // session_sequences shape: session_idx restarts per date, so BOTH
    // dates carry (user=1, idx=0) — different sessions, same (user,
    // idx). The key includes session_date; the scoped upsert DELETE
    // must leave day 1's colliding row alone when day 2 merges.
    def sessions(rows: (Long, Long, String, String)*) =
      rows.toDF("user_id", "session_idx", "d", "seq")
        .withColumn("session_date", col("d").cast("date")).drop("d")
        .select("user_id", "session_idx", "session_date", "seq")
    val keys = Seq("user_id", "session_idx", "session_date")
    val d1 = sessions((1L, 0L, "2024-01-01", "view>purchase"), (2L, 0L, "2024-01-01", "view"))
    assert(MartSink.mergeJdbc(d1, url, "session_sequences", keys,
      scopePredicate = Some("\"session_date\" = DATE('2024-01-01')"),
      deleteVanished = true) == MartSink.MergeStats(2, 0, 2))
    val d2 = sessions((1L, 0L, "2024-01-02", "view>cart"), (3L, 0L, "2024-01-02", "view"))
    assert(MartSink.mergeJdbc(d2, url, "session_sequences", keys,
      scopePredicate = Some("\"session_date\" = DATE('2024-01-02')"),
      deleteVanished = true) == MartSink.MergeStats(2, 0, 2))
    val back = spark.read.jdbc(url, "session_sequences", new java.util.Properties())
    // day 1's (1, 0) row SURVIVED day 2's merge of its colliding key
    assert(back.count() == 4)
    assert(back.filter(col("session_date") === "2024-01-01").count() == 2)
    assert(back.filter(col("user_id") === 1L && col("session_date") === "2024-01-01")
      .collect().map(_.getAs[String]("seq")).toSeq == Seq("view>purchase"))
    // replaying day 2 ships nothing and still leaves day 1 intact
    assert(MartSink.mergeJdbc(d2, url, "session_sequences", keys,
      scopePredicate = Some("\"session_date\" = DATE('2024-01-02')"),
      deleteVanished = true) == MartSink.MergeStats(0, 0, 2))
    assert(spark.read.jdbc(url, "session_sequences", new java.util.Properties()).count() == 4)
  }

  test("merge read-back is partitioned: ranged predicates cover the target exactly") {
    import spark.implicits._
    val db = Files.createTempDirectory("graft_derby_pread").resolve("preaddb")
    val url = s"jdbc:derby:$db;create=true"
    val full = (1L to 200L).map(i => (i, s"2024-01-0${i % 3 + 1}", i * 2))
      .toDF("user_id", "d", "n")
      .withColumn("event_date", col("d").cast("date")).drop("d")
      .select("user_id", "event_date", "n")
    MartSink.mergeJdbc(full, url, "mart_pr", Seq("user_id", "event_date"))
    // predicates sampled from the rebuild frame: disjoint + complete
    val preds = MartSink.rangePredicates(full, "user_id", url, 4)
    assert(preds.length == 4, s"want 4 ranged predicates, got $preds")
    // the boundary job must be fixed-state: TakeOrdered sample, never
    // a single-partition global sort (the ntile-window shape it
    // replaced). Lint on a parquet-backed frame — a tiny local frame's
    // known maxRows lets EliminateLimits drop the limit entirely,
    // which hides the TakeOrdered collapse the real path gets
    val boundaryPlan = MartSink.boundarySample(
        Tables.events(spark, Sf), "user_id", 4)
      .queryExecution.executedPlan.toString
    assert(boundaryPlan.contains("TakeOrderedAndProject"),
      s"boundary job must sample via TakeOrdered:\n$boundaryPlan")
    assert(!boundaryPlan.contains("Window"),
      s"boundary job must not run a global window sort:\n$boundaryPlan")
    val ranged = spark.read.jdbc(url, "mart_pr", preds.toArray, new java.util.Properties())
    assert(ranged.rdd.getNumPartitions == 4, "read-back must fan out, not funnel one connection")
    val single = spark.read.jdbc(url, "mart_pr", new java.util.Properties())
    assert(ranged.count() == 200 &&
      ranged.exceptAll(single).isEmpty && single.exceptAll(ranged).isEmpty)
    // open-ended first/last arms read target keys OUTSIDE the sampled
    // frame (vanished keys beyond the rebuild's range): a rebuild
    // missing the extremes still sees them in the read-back and a
    // changed row still ships exactly one delta
    val shrunk = full.filter(col("user_id") > 5L && col("user_id") < 195L)
      .withColumn("n", when(col("user_id") === 100L, lit(999L)).otherwise(col("n")))
    val stats = MartSink.mergeJdbc(shrunk, url, "mart_pr", Seq("user_id", "event_date"),
      deleteVanished = true)
    assert(stats.upserted == 1 && stats.deleted == 11, s"got $stats") // ids 1-5 and 195-200 vanished
    val after = spark.read.jdbc(url, "mart_pr", new java.util.Properties())
    assert(after.count() == 189)
    assert(after.filter(col("user_id") === 100L).collect().head.getAs[Long]("n") == 999L)
  }

  test("DB-backed check log: per-date idempotent upsert, trend matches the parquet path") {
    import spark.implicits._
    val db = Files.createTempDirectory("graft_derby_qlog").resolve("qlogdb")
    val url = s"jdbc:derby:$db;create=true"
    def summary(failed: Long) = Seq(
      ("null_check", "null_check", 100L, failed),
      ("duplicate_check", "duplicate_check", 100L, 0L))
      .toDF("check_name", "check_type", "total_records", "failed_records")
      .withColumn("pass_rate", (lit(1.0) - col("failed_records").cast("double") / lit(100.0)) * 100)
      .withColumn("status", when(col("pass_rate") >= 99.0, "PASS").otherwise("FAIL"))
    operators.Quality.writeCheckLogJdbc(summary(5L), url, "quality_check_log", "2024-01-01")
    operators.Quality.writeCheckLogJdbc(summary(0L), url, "quality_check_log", "2024-01-02")
    // re-run of day 1 with corrected counts replaces ONLY day 1's rows
    operators.Quality.writeCheckLogJdbc(summary(1L), url, "quality_check_log", "2024-01-01")
    val back = spark.read.jdbc(url, "quality_check_log", new java.util.Properties())
    assert(back.count() == 4) // 2 checks x 2 run dates, no duplicates
    val trend = operators.Quality.trendFromJdbc(spark, url, "quality_check_log")
      .collect().map(r => r.getAs[String]("check_name") ->
        ((r.getAs[Long]("days"), r.getAs[Long]("failed_records")))).toMap
    assert(trend == Map("null_check" -> ((2L, 1L)), "duplicate_check" -> ((2L, 0L))))
    // malformed run dates are rejected before any SQL is built
    intercept[IllegalArgumentException] {
      operators.Quality.writeCheckLogJdbc(summary(0L), url, "quality_check_log", "Jan 1 2024")
    }
  }
}

class ZOrderSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.FileSourceScanExec
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

  test("quantile_bucket counts boundaries below x; spread_bits builds the Morton interleave") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    def one(sqlExpr: String): Any =
      spark.sql(s"SELECT $sqlExpr AS v").collect().head.get(0)
    // boundaries (1,3,7): x below all → 0; between → count ≤ x; ties count
    assert(one("quantile_bucket(CAST(0.5 AS DOUBLE), array(1.0d,3.0d,7.0d))") == 0)
    assert(one("quantile_bucket(CAST(3.0 AS DOUBLE), array(1.0d,3.0d,7.0d))") == 2)
    assert(one("quantile_bucket(CAST(99.0 AS DOUBLE), array(1.0d,3.0d,7.0d))") == 3)
    // NaN orders above every boundary → top bucket (matches Spark's
    // double ordering; a NaN row must not derail the curve)
    assert(one("quantile_bucket(CAST('NaN' AS DOUBLE), array(1.0d,3.0d,7.0d))") == 3)
    // Morton: a=5 (101b) at even positions, b=3 (011b) at odd →
    // a contributes 1+16, b contributes 2+8 → 27
    assert(one("spread_bits(5, 2, 0, 3)") == 17L)
    assert(one("spread_bits(3, 2, 1, 3)") == 10L)
    assert(one("spread_bits(5, 2, 0, 3) | spread_bits(3, 2, 1, 3)") == 27L)
    // out-of-range buckets clamp instead of colliding across columns
    assert(one("spread_bits(9, 2, 0, 3)") == one("spread_bits(7, 2, 0, 3)"))
    assert(one("spread_bits(-4, 2, 0, 3)") == 0L)
    // interpreted vs codegen parity: the SQL constants above fold via
    // interpreted eval, so drive each expression over a NON-foldable
    // column (whole-stage codegen) and compare against direct eval
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{DoubleType, IntegerType}
    val bounds = Seq(1.0, 3.0, 7.0)
    val xs = Seq(0.5, 1.0, 2.9, 3.0, 7.0, 99.0, Double.NaN)
    val codegenQb = xs.toDF("x")
      .select(call_function("quantile_bucket", col("x"), lit(bounds.toArray)))
      .collect().map(_.getInt(0)).toSeq
    val interpQb = xs.map(x =>
      graft.functions.QuantileBucket(Literal(x, DoubleType), bounds).eval(null))
    assert(codegenQb == interpQb, "quantile_bucket interpreted vs codegen drift")
    assert(xs.zip(interpQb).forall { case (x, b) => x.isNaN || b == bounds.count(_ <= x) },
      "quantile_bucket HOF equivalence (count of bounds <= x)")
    val vs = Seq(0, 3, 5, 7, 9, -4)
    val codegenSb = vs.toDF("v")
      .select(call_function("spread_bits", col("v"), lit(2), lit(1), lit(3)))
      .collect().map(_.getLong(0)).toSeq
    val interpSb = vs.map(v =>
      graft.functions.SpreadBits(Literal(v, IntegerType), 2, 1, 3).eval(null))
    assert(codegenSb == interpSb, "spread_bits interpreted vs codegen drift")
  }

  test("z-ordered layout keeps per-file min/max narrow on EVERY z column and skips row groups on either") {
    import spark.implicits._
    // two independent dimensions: a linear sort can only serve one
    val df = spark.range(20000).toDF("id")
      .withColumn("a", pmod(xxhash64(col("id")), lit(1000)))
      .withColumn("b", pmod(xxhash64(col("id") + 500000), lit(1000)).cast("double") / 1000.0)
    val sortedPath = Files.createTempDirectory("graft_lin").toString
    val zPath = Files.createTempDirectory("graft_z").toString
    val prevN = spark.conf.get("spark.sql.shuffle.partitions")
    val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    // pin 32 files: AQE's 64 MB advisory target would (correctly, at
    // production scale) coalesce this ~300 KB frame into one file
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      MartSink.writePartitionedSorted(df, sortedPath, Nil, Seq("a"))
      MartSink.writeZOrdered(df, zPath, Nil, Seq("a", "b"))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevN)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    }

    // per-file min/max = exactly the stats parquet keeps per row
    // group/file; normalized width is the fraction of the domain a
    // selective filter on that file CANNOT skip
    def widths(path: String): (Double, Double) = {
      val w = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(((max("a") - min("a")) / 999.0).as("wa"),
          ((max("b") - min("b")) / lit(0.999)).as("wb"))
        .agg(avg("wa"), avg("wb")).collect().head
      (w.getDouble(0), w.getDouble(1))
    }
    val (linA, linB) = widths(sortedPath)
    val (zA, zB) = widths(zPath)
    // linear sort: razor-thin on a, but every file spans b's domain
    assert(linA < 0.15, s"linear layout a-width $linA")
    assert(linB > 0.8, s"linear layout should span b, got $linB")
    // z-order: BOTH dimensions stay narrow (8×4-ish hyper-rectangles)
    assert(zA < 0.5, s"z layout a-width $zA")
    assert(zB < 0.5, s"z layout b-width $zB")

    // end-to-end: the narrow stats actually prune — a selective filter
    // on b alone reads a fraction of the z table but ALL of the
    // a-sorted one (each small file is one row group; the vectorized
    // reader drops row groups whose stats exclude the pushed filter)
    def scanned(q: DataFrame): Long = {
      q.collect()
      val plan = q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collectLeaves().collect {
        case f: FileSourceScanExec => f.metrics("numOutputRows").value
      }.sum
    }
    val bFilter = col("b") >= 0.40 && col("b") < 0.45
    val linScan = scanned(spark.read.parquet(sortedPath).filter(bFilter))
    val zScan = scanned(spark.read.parquet(zPath).filter(bFilter))
    assert(linScan == 20000L, s"a-sorted layout cannot skip on b (scanned $linScan)")
    assert(zScan < 10000L, s"z layout should skip most row groups on b (scanned $zScan)")
    // and the a dimension still skips too (z-order trades a LITTLE of
    // a's resolution for coverage of both)
    val aFilter = col("a") >= 100L && col("a") < 150L
    val zScanA = scanned(spark.read.parquet(zPath).filter(aFilter))
    assert(zScanA < 10000L, s"z layout should also skip on a (scanned $zScanA)")
    // both layouts return identical data
    assert(spark.read.parquet(zPath).count() == 20000L)
  }
}

class EventGeneratorSpec extends SparkSpec {
  import graft.sources.EventGenerator

  test("generator is deterministic, schema-complete, and funnel-weighted") {
    val a = EventGenerator.events(spark, 5000).collect()
    val b = EventGenerator.events(spark, 5000).collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted))
    assert(a.length == 5000)
    val types = a.groupBy(_.getAs[String]("event_type")).view.mapValues(_.length).toMap
    assert(types("view") > types("purchase")) // funnel-heavy mix
    assert(a.forall(r => r.getAs[Double]("value") > 0))
    // purchases carry a product id in props
    assert(a.filter(_.getAs[String]("event_type") == "purchase")
      .forall(_.getAs[String]("props").contains("\"k\"")))
  }

  test("gap sessionization agrees with Spark's declarative session_window in batch") {
    // two independent formulations of the same semantics: the lag+
    // cumsum window Sessionize uses, and the engine's session_window
    // aggregation (usable in batch too) — per-user session count and
    // per-session event counts must match exactly. Boundary alignment:
    // Sessionize breaks on floored-epoch gap > 1800s (exactly 1800
    // merges), while session_window(gap) merges only gap < window —
    // so feed session_window the floored epochs with an 1801s window
    // to make the two formulations agree at the exact boundary.
    val e = operators.EventMarts.enriched(spark, Sf).filter(col("ts").isNotNull)
    val ours = operators.Sessionize.sessionSequencesFrom(e)
      .groupBy("user_id").agg(
        count(lit(1)).as("n_sessions"),
        sum(col("event_count")).as("n_events"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val engine = e
      .groupBy(session_window(timestamp_seconds(col("event_epoch")), "1801 seconds"),
        col("user_id"))
      .agg(count(lit(1)).as("event_count"))
      .groupBy("user_id").agg(
        count(lit(1)).as("n_sessions"),
        sum(col("event_count")).as("n_events"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(ours == engine)
  }

  test("session-structured generation round-trips through Sessionize exactly") {
    val users = 40L
    val perUser = 3
    val gen = EventGenerator.sessionEvents(spark, users, perUser)
      .withColumn("event_date", col("ts").cast("date"))
      .withColumn("event_epoch", unix_timestamp(col("ts")))
    val sessions = operators.Sessionize.sessionSequencesFrom(gen).collect()
    // every generated (user, session) burst is recovered as ONE session
    assert(sessions.length == users * perUser)
    assert(sessions.forall(_.getAs[Long]("duration_seconds") < 2700))
    // funnel structure: sessions open with a view
    assert(sessions.forall(_.getAs[String]("event_sequence").startsWith("view")))
    // determinism
    val again = EventGenerator.sessionEvents(spark, users, perUser).collect()
    assert(EventGenerator.sessionEvents(spark, users, perUser).collect()
      .map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("quality checks recover exactly the injected defect counts (closed loop)") {
    val clean = EventGenerator.events(spark, 20000)
    val dirty = EventGenerator.withAnomalies(clean).cache()
    try {
      // ground truth straight off the dirty frame
      val expNull = dirty.filter(col("user_id").isNull).count()
      val expDup = dirty.count() - dirty.select("event_id").distinct().count()
      val expRange = dirty.filter(col("value") < 0).count()
      val expTs = dirty.filter(year(col("ts")) > 2030).count()
      assert(expNull > 0 && expDup > 0 && expRange > 0 && expTs > 0)
      val summary = operators.Quality.summaryFrom(operators.EventMarts.enrich(dirty))
        .collect().map(r => r.getAs[String]("check_name") -> r.getAs[Long]("failed_records"))
        .toMap
      assert(summary("null_check") == expNull)
      assert(summary("duplicate_check") == expDup)
      assert(summary("range_check") == expRange)
      assert(summary("timestamp_check") == expTs)
      // the clean batch passes everything the injection targets
      val cleanSummary = operators.Quality.summaryFrom(operators.EventMarts.enrich(clean))
        .collect().map(r => r.getAs[String]("check_name") -> r.getAs[Long]("failed_records"))
        .toMap
      Seq("null_check", "duplicate_check", "range_check", "timestamp_check")
        .foreach(c => assert(cleanSummary(c) == 0L, s"clean corpus fails $c"))
    } finally {
      dirty.unpersist()
      ()
    }
  }

  test("generated jsonl round-trips through EventSource with zero corrupt rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gen").toString
    EventGenerator.writeJsonl(spark, dir, n = 500, partitions = 2)
    val back = EventSource.jsonl(spark, dir).cache()
    assert(back.count() == 500)
    assert(back.filter(col("_corrupt_record").isNotNull).count() == 0)
  }
}

/** Per-check fail-mode coverage over a crafted corpus — the corpus-
  * level mirror of the reference's row-level check tests
  * (tests/test_validate_quality.py: each check exercised with known
  * passing and failing rows). */
class QualityUnitSpec extends SparkSpec {
  test("each of the 7 checks counts exactly its crafted failures") {
    import spark.implicits._
    def t(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
    val rows: Seq[(java.lang.Long, java.sql.Timestamp, java.lang.Long, String, java.lang.Double, String)] = Seq(
      // u1: clean funnel day — passes everything
      (1L, t("2024-02-01 09:00:00"), 1L, "view", 1.0, "{}"),
      (2L, t("2024-02-01 09:10:00"), 1L, "purchase", 10.0, """{"k":5}"""),
      // u2: purchase with no prior touch that day -> sequence fail
      (3L, t("2024-02-01 10:00:00"), 2L, "purchase", 10.0, """{"k":5}"""),
      // u3: two signups -> consistency fail
      (4L, t("2024-02-01 11:00:00"), 3L, "signup", 1.0, "{}"),
      (5L, t("2024-02-02 11:00:00"), 3L, "signup", 1.0, "{}"),
      // u4: negative purchase value -> range fail + integrity fail
      (6L, t("2024-02-01 12:00:00"), 4L, "view", 1.0, "{}"),
      (7L, t("2024-02-01 12:05:00"), 4L, "purchase", -1.0, """{"k":3}"""),
      // u5: product id out of range -> integrity fail only
      (8L, t("2024-02-01 13:00:00"), 5L, "view", 1.0, "{}"),
      (9L, t("2024-02-01 13:05:00"), 5L, "purchase", 10.0, """{"k":150}"""),
      // u6: null ts -> null fail + timestamp fail
      (10L, null, 6L, "view", 1.0, "{}"),
      // u7: duplicate event_id pair -> one duplicate
      (11L, t("2024-02-01 14:00:00"), 7L, "view", 1.0, "{}"),
      (11L, t("2024-02-01 14:01:00"), 7L, "view", 1.0, "{}"))
    val e = operators.EventMarts.enrich(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val failed = operators.Quality.summaryFrom(e).collect()
      .map(r => r.getAs[String]("check_name") -> r.getAs[Long]("failed_records")).toMap
    assert(failed("null_check") == 1L)
    assert(failed("duplicate_check") == 1L)
    assert(failed("range_check") == 1L)
    assert(failed("timestamp_check") == 1L)
    assert(failed("integrity_check") == 2L) // u4 (value<=0) + u5 (k out of range)
    assert(failed("sequence_check") == 1L)  // u2 only — u1/u4/u5 had prior touches
    assert(failed("consistency_check") == 1L) // u3's double signup
  }
}

class PipelineSpec extends SparkSpec {
  test("pipeline run takes the ARMED session path on a planted bot — same mart rows") {
    val dataDir = Files.createTempDirectory("graft_armed").toString
    val base = sources.EventGenerator.events(spark, 5000, days = 3, users = 50)
    // a sentinel firing every 30 s for 33 h: one user owns 4000 of
    // 9000 rows → hot ratio ≈ 4000·51/9000 ≈ 22.7 > the 16 threshold
    val bot = spark.range(4000).selectExpr(
      "100000 + id AS event_id",
      "timestamp_seconds(unix_timestamp(DATE'2024-01-01') + id * 30) AS ts",
      "CAST(7 AS BIGINT) AS user_id",
      "'view' AS event_type", "CAST(1.0 AS DOUBLE) AS value", "'{}' AS props")
    base.unionByName(bot).write.mode("overwrite")
      .parquet(s"$dataDir/events.parquet")
    val out = Files.createTempDirectory("graft_armed_out").toString
    val r = Pipeline.run(spark, dataDir, out, failFast = false)
    assert(r.sessionSkew.exists(_.armed),
      s"planted bot must arm the bucketed sessionize: ${r.sessionSkew}")
    assert(r.martsWritten.contains("session_sequences"))
    // the armed mart is row-identical to the plain path's
    val plain = operators.Sessionize.sessionSequencesFrom(
        operators.EventMarts.enriched(spark, dataDir))
      .withColumn("session_date",
        to_date(timestamp_seconds(col("session_start_epoch"))))
    val cols = plain.columns.sorted.toSeq
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(canon(spark.read.parquet(s"$out/session_sequences")) == canon(plain))
    // the bot's mega-session survived intact through the bucketed path
    val botRow = spark.read.parquet(s"$out/session_sequences")
      .filter(col("user_id") === 7L).collect()
    assert(botRow.exists(_.getAs[Long]("event_count") >= 4000L),
      "the bot's single long session must assemble across buckets")
  }

  test("pipeline gate enforces a persisted suggestion contract like a built-in check") {
    import spark.implicits._
    val healthyDir = Files.createTempDirectory("graft_sugg_h").toString
    sources.EventGenerator.events(spark, 5000, days = 2)
      .write.mode("overwrite").parquet(s"$healthyDir/events.parquet")
    val path = Files.createTempDirectory("graft_sugg_c").toString + "/contract"
    operators.Quality.writeSuggestions(
      operators.Quality.suggestedChecksFrom(Tables.events(spark, healthyDir)),
      path, builtFrom = s"events@$healthyDir")
    // the healthy dir passes its own contract (the i.i.d. generator
    // organically fails the funnel-order built-ins — the contract rows
    // are what this test scopes to)
    val okOut = Files.createTempDirectory("graft_sugg_ok").toString
    val ok = Pipeline.run(spark, healthyDir, okOut, failFast = false,
      suggestionsPath = Some(path))
    assert(!ok.failedChecks.exists(_.startsWith("suggested_")), ok.failedChecks)
    // a drifted arrival (values far beyond the observed range) FAILS
    // the gate through the contract row and trips failFast
    val driftDir = Files.createTempDirectory("graft_sugg_d").toString
    Tables.events(spark, healthyDir)
      .withColumn("value",
        when(col("event_id") % 50 === 0, lit(9.9e8)).otherwise(col("value")))
      .write.mode("overwrite").parquet(s"$driftDir/events.parquet")
    val badOut = Files.createTempDirectory("graft_sugg_bad").toString
    val bad = Pipeline.run(spark, driftDir, badOut, suggestionsPath = Some(path))
    assert(!bad.passed && bad.martsWritten.isEmpty)
    assert(bad.failedChecks.contains("suggested_value_range"), bad.failedChecks)
    assert(bad.alertPayload.exists(_.contains("suggested_value_range")))
  }

  test("healthy runs surface contract drift in the result; failed gates don't refresh") {
    import spark.implicits._
    def ev(id: Long, ts: String, user: Long, typ: String, v: Double) =
      (id, java.sql.Timestamp.valueOf(ts), user, typ, v, """{"k":1}""")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    def mkDir(vLo: Double, vHi: Double): String = {
      val dir = Files.createTempDirectory("graft_cd_src").toString
      ((1 to 30).map(i =>
        ev(i.toLong, f"2024-03-01 10:${i % 60}%02d:00", 100L + i, "view",
          vLo + (vHi - vLo) * (i % 2))) :+
        ev(99L, "2024-03-01 11:00:00", 101L, "purchase", vHi))
        .toDF(cols: _*).write.parquet(s"$dir/events.parquet")
      dir
    }
    // pinned contract observed on the wide baseline [1, 100]
    val baseDir = mkDir(1.0, 100.0)
    val path = Files.createTempDirectory("graft_cd_c").toString + "/contract"
    operators.Quality.writeSuggestions(
      operators.Quality.suggestedChecksFrom(Tables.events(spark, baseDir)),
      path, builtFrom = "baseline")
    // a later HEALTHY run sits strictly inside the pinned range: the
    // gate passes AND the result carries the narrowed-range drift row
    val runDir = mkDir(10.0, 60.0)
    val out = Files.createTempDirectory("graft_cd_out").toString
    val r = Pipeline.run(spark, runDir, out, failFast = false,
      suggestionsPath = Some(path))
    assert(r.passed, s"the fixture must pass the gate: ${r.failedChecks}")
    assert(r.contractDrift.contains(("value", "range", "narrowed")),
      s"drift must surface on the healthy run: ${r.contractDrift}")
    // a run that BREAKS the contract fails the gate and does NOT
    // refresh (no drift rows computed from a sick frame)
    val badDir = mkDir(10.0, 9.9e8)
    val badOut = Files.createTempDirectory("graft_cd_bad").toString
    val bad = Pipeline.run(spark, badDir, badOut, suggestionsPath = Some(path))
    assert(!bad.passed && bad.contractDrift.isEmpty,
      s"a failed gate must not refresh: ${bad.contractDrift}")
  }

  test("auto-promotion: N healthy drifts promote with chained lineage; sick runs and drift-free runs never do") {
    import spark.implicits._
    def ev(id: Long, ts: String, user: Long, typ: String, v: Double) =
      (id, java.sql.Timestamp.valueOf(ts), user, typ, v, """{"k":1}""")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    def mkDir(vLo: Double, vHi: Double): String = {
      val dir = Files.createTempDirectory("graft_ap_src").toString
      ((1 to 30).map(i =>
        ev(i.toLong, f"2024-03-01 10:${i % 60}%02d:00", 100L + i, "view",
          vLo + (vHi - vLo) * (i % 2))) :+
        ev(99L, "2024-03-01 11:00:00", 101L, "purchase", vHi))
        .toDF(cols: _*).write.parquet(s"$dir/events.parquet")
      dir
    }
    def manifest(path: String) = graft.sources.ArtifactManifest.read(path).get
    // pin on the wide baseline [1, 100]
    val baseDir = mkDir(1.0, 100.0)
    val path = Files.createTempDirectory("graft_ap_c").toString + "/contract"
    operators.Quality.writeSuggestions(
      operators.Quality.suggestedChecksFrom(Tables.events(spark, baseDir)),
      path, builtFrom = "baseline")
    val fp0 = manifest(path).contentFp
    def out() = Files.createTempDirectory("graft_ap_out").toString
    val driftDir = mkDir(10.0, 60.0) // healthy, strictly inside → 'narrowed' drift
    // run 1: healthy drift — streak 1 of 2, NO promotion
    val r1 = Pipeline.run(spark, driftDir, out(), failFast = false,
      suggestionsPath = Some(path), autoPromoteAfter = Some(2))
    assert(r1.passed && r1.contractDrift.nonEmpty && r1.contractPromoted.isEmpty)
    assert(manifest(path).contentFp == fp0, "streak 1 must not touch the pin")
    // a SICK run between the healthy drifts: the pinned artifact and
    // the streak survive untouched — a failed gate can never promote
    val badDir = mkDir(10.0, 9.9e8)
    val bad = Pipeline.run(spark, badDir, out(), suggestionsPath = Some(path),
      autoPromoteAfter = Some(2))
    assert(!bad.passed && bad.contractPromoted.isEmpty)
    assert(manifest(path).contentFp == fp0)
    // run 2: second consecutive healthy drift — the policy fires;
    // lineage carries the replaced fingerprint AND the policy tag
    val r2 = Pipeline.run(spark, driftDir, out(), failFast = false,
      suggestionsPath = Some(path), autoPromoteAfter = Some(2))
    assert(r2.passed && r2.contractPromoted.nonEmpty,
      s"streak 2 must promote: drift=${r2.contractDrift}")
    val m1 = manifest(path)
    assert(m1.contentFp == r2.contractPromoted.get && m1.contentFp != fp0)
    assert(m1.builtFrom.contains(s"refreshed-from:$fp0") &&
      m1.builtFrom.contains("auto-promote:healthy-drift-streak=2"), m1.builtFrom)
    // run 3: same data against the NEW pin — no drift, streak resets,
    // nothing promotes
    val r3 = Pipeline.run(spark, driftDir, out(), failFast = false,
      suggestionsPath = Some(path), autoPromoteAfter = Some(2))
    assert(r3.passed && r3.contractDrift.isEmpty && r3.contractPromoted.isEmpty)
    assert(manifest(path).contentFp == m1.contentFp)
    // a SECOND promotion cycle chains the lineage two deep
    val narrower = mkDir(20.0, 50.0)
    Pipeline.run(spark, narrower, out(), failFast = false,
      suggestionsPath = Some(path), autoPromoteAfter = Some(2))
    val r5 = Pipeline.run(spark, narrower, out(), failFast = false,
      suggestionsPath = Some(path), autoPromoteAfter = Some(2))
    assert(r5.contractPromoted.nonEmpty)
    val m2 = manifest(path)
    assert(m2.builtFrom.contains(s"refreshed-from:${m1.contentFp}"),
      s"the chain must link pin N to pin N-1: ${m2.builtFrom}")
    assert(m1.builtFrom.contains(s"refreshed-from:$fp0"),
      "and pin N-1 to the original — two links deep")
  }

  test("dated runs refresh drift from full history, not the run-date slice") {
    import spark.implicits._
    def ev(id: Long, ts: String, user: Long, v: Double) =
      (id, java.sql.Timestamp.valueOf(ts), user, "view", v, """{"k":1}""")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    // day 1 spans the wide range [1, 100]; day 2 sits inside [10, 60]
    val dir = Files.createTempDirectory("graft_cdd_src").toString
    val day1 = (1 to 30).map(i =>
      ev(i.toLong, f"2024-03-01 10:${i % 60}%02d:00", 100L + i,
        1.0 + 99.0 * (i % 2)))
    val day2 = (31 to 60).map(i =>
      ev(i.toLong, f"2024-03-02 10:${i % 60}%02d:00", 100L + i,
        10.0 + 50.0 * (i % 2)))
    (day1 ++ day2).toDF(cols: _*).write.parquet(s"$dir/events.parquet")
    // pin from FULL history — observed value range [1, 100]
    val path = Files.createTempDirectory("graft_cdd_c").toString + "/contract"
    operators.Quality.writeSuggestions(
      operators.Quality.suggestedChecksFrom(Tables.events(spark, dir)),
      path, builtFrom = "baseline")
    // a healthy DATED run on day 2: the one-day slice observes only
    // [10, 60], so a slice-scoped refresh would report a spurious
    // 'narrowed' on every healthy daily run; full-history refresh
    // (up to the run date = all data here) must report NO drift
    val out = Files.createTempDirectory("graft_cdd_out").toString
    val r = Pipeline.run(spark, dir, out, failFast = false,
      dates = Seq("2024-03-02"), suggestionsPath = Some(path))
    assert(r.passed, s"the dated run must pass the gate: ${r.failedChecks}")
    assert(r.contractDrift.isEmpty,
      s"an unchanged history must report zero drift on a dated run: ${r.contractDrift}")
  }

  test("pipeline validates, gates, and writes idempotent marts") {
    val out = Files.createTempDirectory("graft_pipeline").toString
    val r1 = Pipeline.run(spark, Sf, out)
    assert(r1.martsWritten.nonEmpty == r1.passed || !r1.passed)
    if (r1.passed) {
      val userMart = spark.read.parquet(s"$out/mart_user_daily")
      assert(userMart.count() ==
        operators.EventMarts.martUserDaily(spark, Sf).count())
      // second run is idempotent (same rows, not doubled)
      val r2 = Pipeline.run(spark, Sf, out)
      assert(r2.passed)
      assert(spark.read.parquet(s"$out/mart_user_daily").count() == userMart.count())
    }
  }

  test("pipeline mart JDBC leg is incremental: an identical rerun ships zero rows") {
    val out = Files.createTempDirectory("graft_mjdbc").toString
    val db = Files.createTempDirectory("graft_derby_mart").resolve("martsdb")
    val url = s"jdbc:derby:$db;create=true"
    val r1 = Pipeline.run(spark, Sf, out, failFast = false, martJdbc = Some(url))
    assert(r1.martMerges.keySet == r1.martsWritten.toSet)
    // first load ships every mart row
    assert(r1.martMerges.values.forall(s => s.upserted == s.total && s.total > 0))
    // warehouse state matches the mart exactly
    val uCount = spark.read.jdbc(url, "mart_user_daily", new java.util.Properties()).count()
    assert(uCount == operators.EventMarts.martUserDaily(spark, Sf).count())
    // identical rerun: the delta is empty for EVERY mart — zero rows
    // cross the wire, nothing is deleted (deterministic mart rebuilds)
    val r2 = Pipeline.run(spark, Sf, out, failFast = false, martJdbc = Some(url))
    r2.martMerges.foreach { case (name, s) =>
      assert(s.upserted == 0 && s.deleted == 0, s"$name replay shipped $s")
    }
    assert(spark.read.jdbc(url, "mart_user_daily", new java.util.Properties()).count() == uCount)
  }

  /** Names of the RDDs in the storage registry whose ids are not in
    * `before` — the blocks a run left behind. */
  private def storedSince(before: Set[Int]): Seq[String] =
    spark.sparkContext.getRDDStorageInfo.filterNot(i => before(i.id))
      .map(i => s"${i.id}:${i.name}").toSeq

  private val ChainDate = "2024-01-16"

  test("dated mart chains release their blocks; a rerun keeps the marts and ships nothing") {
    val out = Files.createTempDirectory("graft_chains").toString
    val url = s"jdbc:derby:memory:graft_chains${System.nanoTime};create=true"
    val stored = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val r1 = Pipeline.run(spark, Sf, out, failFast = false, dates = Seq(ChainDate),
      martJdbc = Some(url))
    assert(storedSince(stored).isEmpty, s"blocks left by the run: ${storedSince(stored)}")
    // the order and the first-load stats of the sequential build
    assert(r1.martsWritten == Seq("mart_user_daily", "hourly_traffic",
      "mart_funnel_daily", "mart_product_daily", "session_sequences", "mart_orders"))
    assert(r1.martMerges.map { case (m, s) => m -> (s.upserted, s.deleted, s.total) } ==
      Map("hourly_traffic" -> (19L, 0L, 19L), "mart_funnel_daily" -> (3L, 0L, 3L),
        "mart_orders" -> (7L, 0L, 7L), "mart_product_daily" -> (32L, 0L, 32L),
        "mart_user_daily" -> (11L, 0L, 11L), "session_sequences" -> (33L, 0L, 33L)))
    def snapshot(m: String) = {
      spark.catalog.refreshByPath(s"$out/$m")
      spark.read.parquet(s"$out/$m").collect().map(_.toString).sorted.toSeq
    }
    val marts1 = r1.martsWritten.map(m => m -> snapshot(m)).toMap
    assert(marts1.map { case (m, rows) => m -> rows.size.toLong } ==
      r1.martMerges.map { case (m, s) => m -> s.total })
    val r2 = Pipeline.run(spark, Sf, out, failFast = false, dates = Seq(ChainDate),
      martJdbc = Some(url))
    assert(storedSince(stored).isEmpty, s"blocks left by the rerun: ${storedSince(stored)}")
    assert(r2.martsWritten == r1.martsWritten)
    assert(r2.martMerges == r1.martMerges.map { case (m, s) => m -> MartSink.MergeStats(0, 0, s.total) })
    r2.martsWritten.foreach(m => assert(snapshot(m) == marts1(m), s"$m changed on rerun"))
  }

  test("a failing merge is rethrown only after every mart chain settles, with no blocks left") {
    val out = Files.createTempDirectory("graft_chain_fail").toString
    // no create=true: the warehouse does not exist, every merge fails
    // on its first connection, after its chain's parquet write
    val absent = s"jdbc:derby:memory:graft_absent${System.nanoTime}"
    val stored = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val e = intercept[java.sql.SQLException] {
      Pipeline.run(spark, Sf, out, failFast = false, dates = Seq(ChainDate),
        martJdbc = Some(absent))
    }
    assert(e.getSuppressed.length == 5, "the other five chains' failures ride along")
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty, "a chain is still running")
    Seq("hourly_traffic" -> "event_date", "mart_funnel_daily" -> "event_date",
        "mart_orders" -> "order_date", "mart_product_daily" -> "event_date",
        "mart_user_daily" -> "event_date", "session_sequences" -> "session_date").foreach {
      case (m, dateCol) => assert(new java.io.File(s"$out/$m/$dateCol=$ChainDate").isDirectory,
        s"$m was not written")
    }
    assert(storedSince(stored).isEmpty, s"blocks left by the failed run: ${storedSince(stored)}")
  }

  test("Concurrently.all: input order, at most six at once, every thunk settles before a failure") {
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
    val running, peak = new AtomicInteger(0)
    val got = Concurrently.all((0 until 10).map { i => () =>
      peak.accumulateAndGet(running.incrementAndGet(), (a, b) => math.max(a, b))
      Thread.sleep(30L * (10 - i)) // later thunks finish first
      running.decrementAndGet()
      i
    })
    assert(got == (0 until 10))
    assert(peak.get() >= 2 && peak.get() <= 6, s"peak concurrency ${peak.get()}")
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Concurrently.all(Seq(
        () => { Thread.sleep(300); slowDone.set(true); 0 },
        () => throw new IllegalStateException("first"),
        () => throw new IllegalArgumentException("second")))
    }
    assert(e.getMessage == "first" && slowDone.get(), "rethrown before every thunk settled")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
    // the threads carry the caller's Spark local properties
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.test.tag", "caller")
    try assert(Concurrently.all(Seq(() => sc.getLocalProperty("graft.test.tag"))) == Seq("caller"))
    finally sc.setLocalProperty("graft.test.tag", null)
  }

  test("Pipeline.erase removes a user from every user-keyed mart (parquet + warehouse) with a full manifest") {
    val out = Files.createTempDirectory("graft_erasure").toString
    val db = Files.createTempDirectory("graft_erase_wh").resolve("edb")
    val url = s"jdbc:derby:$db;create=true"
    Pipeline.run(spark, Sf, out, failFast = false, martJdbc = Some(url))
    val props = new java.util.Properties()
    val userMarts = Seq("mart_user_daily", "mart_orders", "session_sequences")
    // a user with purchase activity hits all three user-keyed marts
    val uid = spark.read.parquet(s"$out/mart_orders")
      .select("user_id").limit(1).collect().head.getLong(0)
    val before = userMarts.map { m =>
      m -> spark.read.parquet(s"$out/$m").filter(col("user_id") === uid).count()
    }.toMap
    val totals = userMarts.map { m => m -> spark.read.parquet(s"$out/$m").count() }.toMap
    assert(before.values.forall(_ > 0))
    val man = Pipeline.erase(spark, out, Seq(uid), Some(url))
    assert(man.martStats.keySet == userMarts.toSet)
    // manifest counts are exactly the user's rows, per surface
    userMarts.foreach { m =>
      assert(man.martStats(m).rowsErased == before(m), s"$m parquet count")
      assert(man.jdbcDeleted(m) == before(m), s"$m warehouse count")
    }
    // the rows are gone from both surfaces; nobody else's rows left with them
    userMarts.foreach { m =>
      spark.catalog.refreshByPath(s"$out/$m")
      assert(spark.read.parquet(s"$out/$m").filter(col("user_id") === uid).count() == 0)
      assert(spark.read.parquet(s"$out/$m").count() == totals(m) - before(m))
      assert(spark.read.jdbc(url, m, props).filter(col("user_id") === uid).count() == 0)
      assert(spark.read.jdbc(url, m, props).count() == totals(m) - before(m))
    }
    // aggregates are documented as out of scope, not silently ignored
    Seq("mart_funnel_daily", "mart_product_daily", "hourly_traffic").foreach { m =>
      assert(man.skipped.exists(_.startsWith(m)), s"$m in skipped")
    }
    // idempotent: a replayed deletion request touches nothing
    val again = Pipeline.erase(spark, out, Seq(uid), Some(url))
    assert(again.martStats.values.forall(_.rowsErased == 0))
    assert(again.jdbcDeleted.values.forall(_ == 0))
  }

  test("quarantine run builds marts on clean sessions only; gate summary still sees the raw frame") {
    val out = Files.createTempDirectory("graft_qrun").toString
    val res = Pipeline.run(spark, Sf, out, failFast = false, quarantine = true)
    assert(res.martsWritten.contains("mart_user_daily"))
    val e = operators.EventMarts.enriched(spark, Sf)
    val gated = operators.Sessionize.cleanEvents(e)
    // the gate bites on this corpus (sessions open with purchases etc.)
    val gatedEvents = gated.count()
    assert(gatedEvents < e.count())
    val expected = operators.EventMarts.martUserDailyFrom(gated)
    val actual = spark.read.parquet(s"$out/mart_user_daily")
      .select(expected.columns.map(col): _*)
    assert(actual.count() == expected.count())
    assert(actual.exceptAll(expected).isEmpty && expected.exceptAll(actual).isEmpty)
  }

  test("selected corpus build: dedup-then-select subset of the full build, weights ride along") {
    import graft.operators.TextAnalysis
    // ship a DSIR model: first 10 docs as the target seed
    val corpus = Tables.documents(spark, Sf)
    val ratio = TextAnalysis.trainDsirRatio(
      corpus.limit(10), corpus, numBuckets = 256)
    val model = Files.createTempDirectory("graft_dsirm").toString + "/model"
    TextAnalysis.saveDsirModel(spark, ratio, model, builtFrom = "documents:sf")
    val outFull = Files.createTempDirectory("graft_csel_full").toString
    val outSel = Files.createTempDirectory("graft_csel").toString
    val full = CorpusPipeline.run(spark, Sf, outFull)
    val k = math.max(1, (full.kept / 2).toInt)
    val r = CorpusPipeline.runSelected(spark, Sf, outSel, model, k)
    assert(r.inputDocs == full.inputDocs && r.cleaned == full.cleaned)
    assert(r.kept == k.toLong)
    val sel = spark.read.parquet(outSel).collect()
    assert(sel.length == k)
    // selection ⊆ the full build's survivors; audit columns present
    val fullIds = spark.read.parquet(outFull).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    sel.foreach { row =>
      assert(fullIds.contains(row.getAs[Long]("doc_id")))
      assert(!row.isNullAt(row.fieldIndex("log_weight")))
      assert(row.getAs[String]("batch") == "selected")
    }
    // the selection rule is THE shared one: exactly sampleDsirWith's
    // top-k over the same survivor frame
    val expect = TextAnalysis.sampleDsirWith(
        spark.read.parquet(outFull).join(
            Tables.documents(spark, Sf).select("doc_id", "source"), Seq("doc_id"))
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("source"),
            org.apache.spark.sql.functions.col("clean_text").as("text")),
        ratio, k).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(sel.map(_.getAs[Long]("doc_id")).toSet == expect)
  }

  test("corpus pipeline cleans, collapses near-dups, and writes an idempotent split-partitioned corpus") {
    val out = Files.createTempDirectory("graft_corpus_pipe").toString
    val r1 = CorpusPipeline.run(spark, Sf, out)
    assert(r1.inputDocs > 0)
    assert(r1.cleaned <= r1.inputDocs && r1.kept <= r1.cleaned && r1.kept > 0)
    val batchDirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(batchDirs == Set("batch=full"))
    val parts = new java.io.File(s"$out/batch=full").listFiles().map(_.getName)
      .filter(_.startsWith("split=")).toSet
    assert(parts.nonEmpty && parts.subsetOf(Set("split=train", "split=val", "split=test")))
    val rows = spark.read.parquet(out).collect()
    assert(rows.length == r1.kept)
    assert(rows.forall(_.getAs[Double]("quality_score") >= 0.5))
    // the written corpus is exactly deduped: no two docs share scrubbed content
    val texts = rows.map(_.getAs[String]("clean_text"))
    assert(texts.distinct.length == texts.length)
    // rerun is idempotent: same survivors, partitions replaced not doubled
    val ids1 = rows.map(_.getAs[Long]("doc_id")).sorted.toSeq
    val r2 = CorpusPipeline.run(spark, Sf, out)
    assert(r2.kept == r1.kept)
    val ids2 = spark.read.parquet(out).collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(ids2 == ids1)
    // release gate closed loop: the near-dup collapse ran BEFORE the
    // split assignment, so re-probing the WRITTEN corpus with the
    // same MinHash graph finds no surviving near-dup pair at all —
    // split leakage is zero by construction, not by luck
    val residual = operators.Dedup.minhashLshFrom(spark,
      spark.read.parquet(out).select(col("doc_id"), col("clean_text").as("text")),
      estThreshold = 0.4, maxBucket = operators.Dedup.DefaultMaxBucket).count()
    assert(residual == 0, s"$residual near-dup pairs survived the collapse")
  }

  test("date-scoped quarantine run with the warehouse leg: scope isolation + zero-ship replay") {
    import spark.implicits._
    val dataDir = Files.createTempDirectory("graft_qscope").toString
    sources.EventGenerator.withAnomalies(
        sources.EventGenerator.events(spark, 20000, days = 3))
      .write.mode("overwrite").parquet(s"$dataDir/events.parquet")
    val allDates = operators.EventMarts.enriched(spark, dataDir)
      .select(col("event_date")).filter(col("event_date").isNotNull).distinct()
      .collect().map(_.getDate(0).toString).sorted
    assert(allDates.length >= 3)
    val d = allDates(1) // a middle date: both neighbors exist
    val out = Files.createTempDirectory("graft_qscope_out").toString
    val db = Files.createTempDirectory("graft_derby_qscope").resolve("qdb")
    val url = s"jdbc:derby:$db;create=true"
    val r1 = Pipeline.run(spark, dataDir, out, failFast = false,
      dates = Seq(d), quarantine = true, martJdbc = Some(url))
    assert(r1.martsWritten.nonEmpty && r1.martMerges.nonEmpty)
    // the warehouse saw ONLY the scoped date
    val loaded = spark.read.jdbc(url, "mart_user_daily", new java.util.Properties())
    assert(loaded.select("event_date").distinct()
      .collect().map(_.getDate(0).toString).toSeq == Seq(d))
    assert(loaded.count() == r1.martMerges("mart_user_daily").total)
    // identical scoped rerun: zero rows cross the wire for every mart
    // (quarantine gating is deterministic too)
    val r2 = Pipeline.run(spark, dataDir, out, failFast = false,
      dates = Seq(d), quarantine = true, martJdbc = Some(url))
    r2.martMerges.foreach { case (name, s) =>
      assert(s.upserted == 0 && s.deleted == 0, s"$name scoped replay shipped $s")
    }
  }

  test("sequential per-date warehouse runs accumulate all dates (no cross-date deletion)") {
    val dataDir = Files.createTempDirectory("graft_seqdates").toString
    sources.EventGenerator.events(spark, 20000, days = 3)
      .write.mode("overwrite").parquet(s"$dataDir/events.parquet")
    val allDates = operators.EventMarts.enriched(spark, dataDir)
      .select(col("event_date")).filter(col("event_date").isNotNull).distinct()
      .collect().map(_.getDate(0).toString).sorted
    assert(allDates.length >= 3)
    val out = Files.createTempDirectory("graft_seqdates_out").toString
    val db = Files.createTempDirectory("graft_derby_seq").resolve("seqdb")
    val url = s"jdbc:derby:$db;create=true"
    // the documented cron schedule: one --mart-jdbc run per date
    allDates.foreach { d =>
      Pipeline.run(spark, dataDir, out, failFast = false,
        dates = Seq(d), martJdbc = Some(url))
    }
    // the warehouse holds EVERY date the parquet mart holds — a later
    // date's merge must not have deleted an earlier date's sessions
    // (session_idx restarts per date, so keys collide across dates)
    spark.catalog.refreshByPath(s"$out/session_sequences")
    val parquetMart = spark.read.parquet(s"$out/session_sequences")
    val wh = spark.read.jdbc(url, "session_sequences", new java.util.Properties())
    assert(wh.count() == parquetMart.count(),
      s"warehouse ${wh.count()} rows vs parquet mart ${parquetMart.count()}")
    val whDates = wh.select("session_date").distinct()
      .collect().map(_.getDate(0).toString).toSet
    val pqDates = parquetMart.select("session_date").distinct()
      .collect().map(_.getDate(0).toString).toSet
    assert(whDates == pqDates, s"warehouse dates $whDates vs parquet $pqDates")
    // row-level parity on the session mart
    val whTyped = wh.select(parquetMart.columns.map(col): _*)
    assert(whTyped.exceptAll(parquetMart).isEmpty && parquetMart.exceptAll(whTyped).isEmpty)
    // every other mart also accumulated all its dates
    Seq("mart_user_daily" -> "event_date", "hourly_traffic" -> "event_date",
        "mart_orders" -> "order_date").foreach { case (m, dc) =>
      spark.catalog.refreshByPath(s"$out/$m")
      val pq = spark.read.parquet(s"$out/$m")
      val w = spark.read.jdbc(url, m, new java.util.Properties())
      assert(w.count() == pq.count(), s"$m warehouse ${w.count()} vs parquet ${pq.count()}")
      assert(w.select(dc).distinct().count() == pq.select(dc).distinct().count(), m)
    }
  }

  test("incremental corpus refresh absorbs only genuinely-new docs and replays idempotently") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_corpus_inc").toString
    val r0 = CorpusPipeline.run(spark, Sf, out)
    assert(r0.kept > 0)
    val existing = spark.read.parquet(out).cache()
    val exCount = existing.count()
    // batch: one EXACT copy of an existing kept doc (absorbed), one
    // genuinely new doc (kept) — new ids far above the corpus range
    val copyText = existing.orderBy("doc_id").select("clean_text").head.getString(0)
    val freshText = ("the quick brown fox jumps over the lazy dog and then " +
      "walks slowly around the quiet garden while birds sing in the trees and " +
      "the wind moves softly through the leaves near the old stone wall ") * 3
    val batch = Seq(
      (9000001L, copyText, "en", "srcX", copyText.length.toLong),
      (9000002L, freshText, "en", "srcX", freshText.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r1 = CorpusPipeline.runIncremental(spark, batch, out, batchId = "day1")
    assert(r1.batchDocs == 2 && r1.cleaned == 2)
    assert(r1.newDocs == 1 && r1.kept == 1, s"got $r1") // copy absorbed by the hash index
    val after = spark.read.parquet(out)
    assert(after.count() == exCount + 1)
    assert(after.filter(col("doc_id") === 9000002L).count() == 1)
    assert(after.filter(col("doc_id") === 9000001L).count() == 0)
    // replay of the same batch: its survivor is now part of the
    // existing corpus, so nothing new ships and nothing doubles
    val r2 = CorpusPipeline.runIncremental(spark, batch, out, batchId = "day1")
    assert(r2.kept == 0, s"replay shipped $r2")
    assert(spark.read.parquet(out).count() == exCount + 1)
    // the existing corpus rows are byte-identical after both refreshes
    assert(spark.read.parquet(out).filter(col("batch") === "full").count() == exCount)
    existing.unpersist()
    // malformed batch ids are rejected before any write
    intercept[IllegalArgumentException] {
      CorpusPipeline.runIncremental(spark, batch, out, batchId = "day 1'; DROP")
    }
  }

  test("incremental corpus refresh bootstraps an absent artifact and excludes doc_id collisions") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_corpus_boot").resolve("corpus").toString
    def doc(id: Long, text: String) = (id, text, "en", "srcB", text.length.toLong)
    val tA = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu the quick brown fox jumps over the lazy dog near the river ") * 3
    val tB = ("one two three four five six seven the wind moves softly through " +
      "the quiet garden while birds sing in the old stone courtyard today ") * 3
    // FIRST batch: no corpus artifact exists yet — must bootstrap, not throw
    val b1 = Seq(doc(1L, tA), doc(2L, tB)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r1 = CorpusPipeline.runIncremental(spark, b1, out, batchId = "boot")
    assert(r1.batchDocs == 2 && r1.newDocs == 2 && r1.kept == 2 && r1.idCollisions == 0)
    assert(spark.read.parquet(out).count() == 2)
    assert(new java.io.File(out).listFiles().map(_.getName).count(_ == "batch=boot") == 1)
    // SECOND batch: doc_id 1 reused for genuinely NEW content — a key
    // collision that would corrupt doc_id uniqueness; excluded + counted.
    // doc 7 is clean and lands.
    val tC = ("nine ten eleven twelve the ship sails slowly across the calm " +
      "grey sea while distant mountains rise beyond the morning fog line ") * 3
    val tD = ("red orange yellow green blue the painter mixes colors on an " +
      "old wooden palette beside the tall open window every single morning ") * 3
    val b2 = Seq(doc(1L, tC), doc(7L, tD)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val r2 = CorpusPipeline.runIncremental(spark, b2, out, batchId = "day2")
    assert(r2.idCollisions == 1, s"got $r2")
    assert(r2.kept == 1)
    val all = spark.read.parquet(out)
    assert(all.count() == 3)
    // doc_id stays unique; doc 1 kept its ORIGINAL content
    assert(all.select("doc_id").distinct().count() == 3)
    assert(all.filter(col("doc_id") === 1L).select("clean_text").head.getString(0)
      .startsWith("alpha beta"))
    assert(all.filter(col("doc_id") === 7L).count() == 1)
  }

  test("corpus backfill: never-ingested batches absorb, changed batches re-ingest append-only") {
    import spark.implicits._
    def doc(id: Long, text: String) = (id, text, "en", "srcI", text.length.toLong)
    val t1 = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu the quick brown fox jumps over the lazy dog near the river ") * 3
    val t2 = ("one two three four five six seven the wind moves softly through " +
      "the quiet garden while birds sing in the old stone courtyard today ") * 3
    val t3 = ("nine ten eleven twelve the ship sails slowly across the calm " +
      "grey sea while distant mountains rise beyond the morning fog line ") * 3
    val ingest = Files.createTempDirectory("graft_cbf_in").toString
    val out = Files.createTempDirectory("graft_cbf_out").resolve("corpus").toString
    val mf = Files.createTempDirectory("graft_cbf_mf").resolve("manifest").toString
    Seq(doc(1L, t1)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$ingest/batch=b1")
    Seq(doc(2L, t2)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$ingest/batch=b2")
    // 1. nothing absorbed yet → both batches are stale
    val p1 = CorpusPipeline.planCorpusBackfill(spark, ingest, mf)
    assert(p1.neverIngested == Seq("b1", "b2") && p1.changed.isEmpty, s"got $p1")
    val (_, r1) = CorpusPipeline.corpusBackfill(spark, ingest, out, mf)
    assert(r1.map(_._1) == Seq("b1", "b2") && r1.forall(_._2.kept == 1))
    assert(spark.read.parquet(out).count() == 2)
    // 2. converged → no-op
    assert(CorpusPipeline.planCorpusBackfill(spark, ingest, mf).stale.isEmpty)
    assert(CorpusPipeline.corpusBackfill(spark, ingest, out, mf)._2.isEmpty)
    // 3. a late document lands in already-absorbed b2 → only b2 stale;
    // the re-ingest runs under the REVISION id so the original batch
    // partition (and its survivor) is untouched — append-only
    Seq(doc(3L, t3)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(s"$ingest/batch=b2")
    spark.catalog.refreshByPath(ingest)
    val p3 = CorpusPipeline.planCorpusBackfill(spark, ingest, mf)
    assert(p3.changed == Seq("b2") && p3.neverIngested.isEmpty, s"got $p3")
    val (_, r3) = CorpusPipeline.corpusBackfill(spark, ingest, out, mf)
    assert(r3.map(_._1) == Seq("b2") && r3.head._2.kept == 1, s"got $r3")
    spark.catalog.refreshByPath(out)
    val corpus = spark.read.parquet(out)
    assert(corpus.count() == 3, "re-ingest must append, never clobber")
    assert(corpus.filter(col("batch") === "b2").count() == 1) // original survivor intact
    assert(corpus.filter(col("batch") === "b2_r2").count() == 1) // the late doc
    assert(CorpusPipeline.planCorpusBackfill(spark, ingest, mf).stale.isEmpty)
    // 4. a vanished batch is reported, its absorbed survivors stay
    val fs = new org.apache.hadoop.fs.Path(ingest)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$ingest/batch=b1"), true)
    spark.catalog.refreshByPath(ingest)
    val p4 = CorpusPipeline.planCorpusBackfill(spark, ingest, mf)
    assert(p4.vanished == Seq("b1") && p4.stale.isEmpty, s"got $p4")
    assert(spark.read.parquet(out).filter(col("batch") === "b1").count() == 1)
  }

  test("sorted mart write lays out disjoint user_id ranges (row-group stats prunable)") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val out = Files.createTempDirectory("graft_sorted").toString
    val e = operators.EventMarts.enriched(spark, Sf)
      .select(col("event_date"), col("user_id"), col("event_type"), col("value"))
      .filter(col("event_date").isNotNull)
    sources.MartSink.writePartitionedSorted(e, out, Seq("event_date"), Seq("user_id"))
    val conf = spark.sparkContext.hadoopConfiguration
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    // per date partition: [min,max] user_id of every row group of every file
    val byPartition = walk(new java.io.File(out))
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .groupBy(_.getParentFile.getName)
    assert(byPartition.nonEmpty)
    val allRanges = byPartition.map { case (_, files) =>
      files.flatMap { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf))
        try r.getFooter.getBlocks.toArray.toSeq.map { b =>
          val c = b.asInstanceOf[org.apache.parquet.hadoop.metadata.BlockMetaData]
            .getColumns.toArray.toSeq
            .map(_.asInstanceOf[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData])
            .find(_.getPath.toDotString == "user_id").get
          val st = c.getStatistics
          (st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
            st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
        } finally r.close()
      }
    }
    // a range-clustered sorted layout: within each partition, ranges
    // sorted by min must not interleave (boundary keys may touch)
    allRanges.foreach { ranges =>
      val sorted = ranges.sortBy(_._1)
      sorted.zip(sorted.drop(1)).foreach { case ((_, aMax), (bMin, _)) =>
        assert(aMax <= bMin, s"overlapping user_id ranges: $sorted")
      }
    }
  }

  test("corpus pipeline gates before dedup: a failing min-id twin cannot evict its passing copy") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_corpus_gate").toString
    val stop20 = Seq.fill(4)("the and of to in").mkString(" ")
    // both docs scrub to the SAME clean text ("... contact <EMAIL>"),
    // but doc 1's 200-char email wrecks its raw avg-word-length and
    // fails the quality gate, while doc 5 passes. Windowing before the
    // gate would pick doc 1 as keeper (min id) and then drop the whole
    // content group; gating first must keep doc 5.
    Seq(
      (1L, s"$stop20 contact ${"a" * 200}@x.com", "en", "s0", 0L),
      (5L, s"$stop20 contact ab@x.com", "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Files.createTempDirectory("graft_corpus_gate_out").toString
    val r = CorpusPipeline.run(spark, dir, out)
    assert(r.kept == 1L)
    val ids = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(5L), s"passing copy must survive its failing min-id twin: got $ids")
  }

  private def twoDates(): Seq[String] =
    operators.EventMarts.enriched(spark, Sf).select("event_date").distinct()
      .orderBy("event_date").limit(2).collect().map(_.getDate(0).toString).toSeq

  /** Map of relative-path -> content hash for every file under dir. */
  private def dirState(path: String): Map[String, Int] = {
    val root = new java.io.File(path)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    if (!root.exists()) Map.empty
    else walk(root)
      .filterNot(_.getName.startsWith("."))
      .map(f => f.getAbsolutePath.stripPrefix(root.getAbsolutePath) ->
        java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f.toPath)))
      .toMap
  }

  test("date-scoped run leaves other dates' mart files byte-identical") {
    val out = Files.createTempDirectory("graft_scoped").toString
    val dates = twoDates()
    assert(dates.length == 2)
    // failFast=false: a single day's data can legitimately dip under a
    // 99% daily gate (this test is about partition idempotency, and the
    // reference's WARN path builds marts anyway)
    val r1 = Pipeline.run(spark, Sf, out, dates = Seq(dates(0)), failFast = false)
    assert(r1.martsWritten.nonEmpty)
    assert(r1.runDate.contains(dates(0)))
    val day1 = s"$out/mart_user_daily/event_date=${dates(0)}"
    val before = dirState(day1)
    assert(before.nonEmpty)
    // processing date 2 must not touch date 1's files in ANY mart
    val allBefore = dirState(out)
    val r2 = Pipeline.run(spark, Sf, out, dates = Seq(dates(1)), failFast = false)
    assert(r2.martsWritten.nonEmpty)
    assert(dirState(day1) == before)
    val allAfter = dirState(out)
    // every pre-existing data file survived with identical bytes
    // (_SUCCESS markers are rewritten by design)
    allBefore.filterNot(_._1.endsWith("_SUCCESS")).foreach { case (p, h) =>
      assert(allAfter.get(p).contains(h), s"file rewritten: $p")
    }
    assert(new java.io.File(s"$out/mart_user_daily/event_date=${dates(1)}").exists())
  }

  test("date-scoped rerun keeps cross-midnight sessions intact (no re-fragmentation)") {
    import spark.implicits._
    val dataDir = Files.createTempDirectory("graft_midnight").toString
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1's session starts 23:50 on day 1 and continues 00:05 on
    // day 2 (15-min gap < the 30-min session gap)
    Seq(
      (1L, t("2024-03-01 09:00:00"), 3L, "view", 1.0, "{}"),
      (2L, t("2024-03-01 23:50:00"), 1L, "view", 1.0, "{}"),
      (3L, t("2024-03-02 00:05:00"), 1L, "purchase", 9.5, """{"k":3}"""),
      (4L, t("2024-03-02 10:00:00"), 2L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dataDir/events.parquet")
    def sessions(out: String) = {
      spark.catalog.refreshByPath(s"$out/session_sequences")
      spark.read.parquet(s"$out/session_sequences")
        .select("user_id", "session_date", "event_count", "event_sequence", "has_purchase")
        .collect().map(_.toSeq).toSet
    }
    val outFull = Files.createTempDirectory("graft_mid_full").toString
    Pipeline.run(spark, dataDir, outFull, failFast = false)
    val full = sessions(outFull)
    assert(full.size == 3) // user3@d1, user1@d1 (cross-midnight), user2@d2
    // backfill then rerun ONLY day 2: user 1's 00:05 tail must stay in
    // the day-1 session, not re-fragment into a new day-2 session
    val out = Files.createTempDirectory("graft_mid_rerun").toString
    Pipeline.run(spark, dataDir, out, failFast = false)
    Pipeline.run(spark, dataDir, out, dates = Seq("2024-03-02"), failFast = false)
    assert(sessions(out) == full)
    val d2 = spark.read.parquet(s"$out/session_sequences")
      .filter(col("session_date") === "2024-03-02").collect()
    assert(d2.map(_.getAs[Long]("user_id")).toSeq == Seq(2L))
    // rerun ONLY day 1 (the session's START day): the look-ahead must
    // keep the cross-midnight session intact — without it the rerun
    // would overwrite the full session row with a truncated one
    Pipeline.run(spark, dataDir, out, dates = Seq("2024-03-01"), failFast = false)
    assert(sessions(out) == full)
    // and sequential day-by-day processing (the reference's daily
    // execution model) converges to the full-run state too
    val daily = Files.createTempDirectory("graft_mid_daily").toString
    Pipeline.run(spark, dataDir, daily, dates = Seq("2024-03-01"), failFast = false)
    Pipeline.run(spark, dataDir, daily, dates = Seq("2024-03-02"), failFast = false)
    assert(sessions(daily) == full)
  }

  test("check log persists per run_date and trend-from-log matches the logged rows") {
    val log = Files.createTempDirectory("graft_qlog").toString
    val out = Files.createTempDirectory("graft_qlog_marts").toString
    val dates = twoDates()
    dates.foreach(d =>
      Pipeline.run(spark, Sf, out, dates = Seq(d), checkLogDir = Some(log)))
    spark.catalog.refreshByPath(log)
    val loggedRows = spark.read.parquet(log).collect()
    assert(loggedRows.length == 14) // 7 checks x 2 runs
    // idempotent: re-running a date replaces its partition, not appends
    Pipeline.run(spark, Sf, out, dates = Seq(dates(0)), checkLogDir = Some(log))
    spark.catalog.refreshByPath(log)
    assert(spark.read.parquet(log).count() == 14)
    val trend = operators.Quality.trendFromLog(spark, log).collect()
    assert(trend.length == 7)
    val logged = loggedRows.groupBy(_.getAs[String]("check_name"))
    trend.foreach { t =>
      val rows = logged(t.getAs[String]("check_name"))
      assert(t.getAs[Long]("days") == 2)
      assert(t.getAs[Long]("total_records") == rows.map(_.getAs[Long]("total_records")).sum)
      assert(t.getAs[Long]("failed_records") == rows.map(_.getAs[Long]("failed_records")).sum)
    }
  }

  test("pipeline writes the check log to JDBC per-date idempotently alongside parquet") {
    val db = Files.createTempDirectory("graft_derby_pipe").resolve("pipedb")
    val url = s"jdbc:derby:$db;create=true"
    val out = Files.createTempDirectory("graft_pipe_jdbc_marts").toString
    val dates = twoDates()
    dates.foreach(d => Pipeline.run(spark, Sf, out, dates = Seq(d),
      checkLogJdbc = Some((url, "quality_check_log"))))
    val n = spark.read.jdbc(url, "quality_check_log", new java.util.Properties()).count()
    assert(n == 14) // 7 checks x 2 run dates
    // re-running a date upserts its rows instead of appending
    Pipeline.run(spark, Sf, out, dates = Seq(dates(0)),
      checkLogJdbc = Some((url, "quality_check_log")))
    assert(spark.read.jdbc(url, "quality_check_log", new java.util.Properties()).count() == 14)
    val trend = operators.Quality.trendFromJdbc(spark, url, "quality_check_log")
    assert(trend.count() == 7)
    // the DB log feeds the dashboard exactly like the parquet log
    val days = Pipeline.dashboardDaysJdbc(spark, url, "quality_check_log",
      operators.EventMarts.enriched(spark, Sf))
    assert(days.map(_.date) == dates.sorted)
    assert(days.forall(_.checks.length == 7))
    assert(Reporting.qualityDashboard(days).contains(dates.head))
  }

  test("dq_daily_trend covers all 7 checks with sane rates") {
    val rows = operators.Quality.dailyTrend(spark, Sf).collect()
    assert(rows.map(_.getAs[String]("check_name")).toSet == Set(
      "null_check", "duplicate_check", "range_check", "timestamp_check",
      "integrity_check", "sequence_check", "consistency_check"))
    rows.foreach { r =>
      val overall = r.getAs[Double]("overall_pass_rate")
      val minDaily = r.getAs[Double]("min_daily_pass_rate")
      assert(overall >= 0 && overall <= 100)
      assert(minDaily <= overall + 1e-9)
      assert(r.getAs[Long]("days") > 0)
    }
  }
}

class ReportingSpec extends SparkSpec {
  import graft.Reporting

  private def assertValidJson(payload: String): Unit = {
    import spark.implicits._
    val parsed = spark.read.json(Seq(payload).toDS)
    assert(!parsed.columns.contains("_corrupt_record"), s"invalid JSON: $payload")
    assert(parsed.columns.contains("blocks"))
  }

  test("quality alert payload carries status, counts, and failed-check details") {
    val checks = Seq(
      Reporting.CheckResult("null_check", "null_check", 1000, 0, 100.0, "PASS"),
      Reporting.CheckResult("range_check", "range_check", 1000, 25, 97.5, "FAIL"))
    val p = Reporting.qualityAlertPayload("2024-01-15", checks)
    assertValidJson(p)
    assert(p.contains("[FAIL] quality checks (2024-01-15)"))
    assert(p.contains("1/2 passed"))
    assert(p.contains("range_check") && p.contains("97.50%"))
    val pass = Reporting.qualityAlertPayload("2024-01-15",
      checks.filter(_.status == "PASS"))
    assert(pass.contains("[PASS]") && !pass.contains("failed:"))
  }

  test("failure payload truncates the error to 500 chars and escapes JSON") {
    val err = "boom \"quoted\"\n" + ("x" * 1000)
    val p = Reporting.pipelineFailurePayload("daily_job", "build_marts", "2024-01-15", err)
    assertValidJson(p)
    assert(!p.contains("x" * 501))
    assert(p.contains("x" * 480))
    assert(p.contains("daily_job") && p.contains("build_marts"))
  }

  test("success payload formats counts with grouping") {
    val p = Reporting.pipelineSuccessPayload("2024-01-15", 1234567L, 8901L, "7/7 PASS")
    assertValidJson(p)
    assert(p.contains("1,234,567") && p.contains("8,901") && p.contains("7/7 PASS"))
  }

  test("stream-log erasure removes a user across date/batch partitions, drops emptied ones, replays as no-op") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val gate = java.nio.file.Files.createTempDirectory("graft_er_gate").toString
    val routed = java.nio.file.Files.createTempDirectory("graft_er_route").toString
    // gate verdict log shape: the d2/b1 combo holds ONLY user 1 — its
    // directory must be dropped, not rewritten empty
    sources.MartSink.writePartitioned(
      Seq((1L, 100L, false, "2024-01-01", 0L), (2L, 200L, true, "2024-01-01", 0L),
        (1L, 300L, false, "2024-01-02", 1L))
        .toDF("user_id", "session_start_epoch", "quarantined", "session_date", "batch_id")
        .withColumn("session_date", col("session_date").cast("date")),
      gate, Seq("session_date", "batch_id"))
    sources.MartSink.writePartitioned(
      Seq((1L, 10L, "view", "2024-01-01", 0L), (3L, 11L, "click", "2024-01-01", 0L))
        .toDF("user_id", "event_id", "event_type", "event_date", "batch_id")
        .withColumn("event_date", col("event_date").cast("date")),
      routed, Seq("event_date", "batch_id"))
    val logs = Seq(gate -> Pipeline.GateLogPartitions,
      routed -> Pipeline.RoutedEventPartitions,
      "/tmp/graft_no_such_log" -> Pipeline.GateLogPartitions)
    val (stats, skipped) = Pipeline.eraseStreamLogs(spark, logs, Seq(1L))
    assert(stats(gate).rowsErased == 2L)
    assert(stats(gate).partitionsDeleted.exists(_.contains("session_date=2024-01-02")))
    // the emptied date's PARENT dir is pruned too, not left as residue
    assert(!new java.io.File(s"$gate/session_date=2024-01-02").exists())
    assert(stats(routed).rowsErased == 1L)
    assert(skipped == Seq("/tmp/graft_no_such_log (absent)"))
    // survivors intact, erased user gone from BOTH artifacts
    assert(spark.read.parquet(gate).select("user_id").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    assert(spark.read.parquet(routed).select("user_id").collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    // replay: erasing the already-erased user is a zero-row no-op
    val (again, _) = Pipeline.eraseStreamLogs(spark, logs, Seq(1L))
    assert(again.values.forall(_.rowsErased == 0L))
  }

  test("backfill-scope census carry: one census drives a 3-date replay; marts identical to uncarried runs") {
    import spark.implicits._
    def ev(id: Long, ts: String, user: Long, typ: String, v: Double) =
      (id, java.sql.Timestamp.valueOf(ts), user, typ, v, """{"k":1}""")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    // a bot hot across all three days so the armed path is real
    val rows = (1 to 3).flatMap { d =>
      (0 until 400).map(i =>
        ev(d * 10000L + i, f"2024-02-0$d%d 10:${i % 60}%02d:${i % 60}%02d", 777L,
          if (i % 40 == 0) "purchase" else "view", 1.0)) ++
      (0 until 30).map(i =>
        ev(d * 10000L + 5000 + i, f"2024-02-0$d%d 12:${i % 60}%02d:00", 100L + i, "view", 1.0))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_carry_src").toString
    rows.toDF(cols: _*).write.parquet(s"$dir/events.parquet")
    val dates = Seq("2024-02-01", "2024-02-02", "2024-02-03")
    // 1. backfill pays ONE census for the whole stale scope
    val out1 = java.nio.file.Files.createTempDirectory("graft_carry_bf").toString
    val mf = java.nio.file.Files.createTempDirectory("graft_carry_mf")
      .resolve("manifest").toString
    val before1 = operators.Skew.censusMemo.builds
    val (_, r1) = Pipeline.backfill(spark, dir, out1, mf)
    assert(r1.exists(_.martsWritten.nonEmpty))
    assert(operators.Skew.censusMemo.builds - before1 == 1L,
      s"a backfill must census ONCE, got ${operators.Skew.censusMemo.builds - before1}")
    assert(r1.flatMap(_.sessionSkew).exists(_.armed),
      "the planted bot must arm the backfill's census")
    // …2. and a per-date loop pays one census per date (the cost one
    // scoped run removes), with row-identical marts either way
    val out3 = java.nio.file.Files.createTempDirectory("graft_carry_base").toString
    val before3 = operators.Skew.censusMemo.builds
    dates.foreach(d => Pipeline.run(spark, dir, out3, dates = Seq(d)))
    assert(operators.Skew.censusMemo.builds - before3 == 3L,
      s"per-date loop pays per-date censuses, got ${operators.Skew.censusMemo.builds - before3}")
    for (m <- Seq("mart_user_daily", "mart_funnel_daily", "mart_product_daily",
        "mart_orders", "session_sequences", "hourly_traffic")) {
      // session_idx is a per-user index over each run's widened
      // frame, so the multi-date bot renumbers under per-date runs
      def canon(p: String) = spark.read.parquet(p).drop("session_idx").collect()
        .map(_.toSeq.map(String.valueOf).toList).sortBy(_.toString).toList
      assert(canon(s"$out1/$m") == canon(s"$out3/$m"),
        s"mart $m must be identical from the backfill and the per-date loop")
    }
  }

  test("backfill planner: never-built dates, a late event, and byte-identical convergence") {
    import spark.implicits._
    def ev(id: Long, ts: String, user: Long, typ: String, v: Double) =
      (id, java.sql.Timestamp.valueOf(ts), user, typ, v, """{"k":1}""")
    // users confined to one date each: the scoped session mart's
    // per-user session_idx then matches a full rebuild's exactly
    // (multi-date users renumber under per-date scheduling — the
    // documented session_sequences edge, not what this spec pins)
    val day1 = Seq(ev(1, "2024-01-01 10:00:00", 1, "view", 1.0),
      ev(2, "2024-01-01 10:05:00", 1, "purchase", 9.0))
    val day2 = Seq(ev(3, "2024-01-02 11:00:00", 2, "view", 1.0),
      ev(4, "2024-01-02 11:10:00", 2, "click", 0.0))
    val day3 = Seq(ev(5, "2024-01-03 09:00:00", 3, "view", 1.0))
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = Files.createTempDirectory("graft_bf_src").toString
    (day1 ++ day2 ++ day3).toDF(cols: _*).write.parquet(s"$dir/events.parquet")
    val out = Files.createTempDirectory("graft_bf_out").toString
    val mf = Files.createTempDirectory("graft_bf_mf").resolve("manifest").toString
    // 1. nothing built yet → every date is stale (catchup)
    val p1 = Pipeline.planBackfill(spark, dir, mf)
    assert(p1.neverBuilt == Seq("2024-01-01", "2024-01-02", "2024-01-03") &&
      p1.changed.isEmpty && p1.vanished.isEmpty, s"got $p1")
    val (_, r1) = Pipeline.backfill(spark, dir, out, mf)
    assert(r1.exists(_.martsWritten.nonEmpty))
    // 2. converged feed no-ops
    val p2 = Pipeline.planBackfill(spark, dir, mf)
    assert(p2.stale.isEmpty, s"converged feed must be clean: $p2")
    assert(Pipeline.backfill(spark, dir, out, mf)._2.isEmpty)
    // 3. a late-arriving event lands in the already-built date 2
    Seq(ev(6, "2024-01-02 23:00:00", 2, "purchase", 42.0))
      .toDF(cols: _*).write.mode("append").parquet(s"$dir/events.parquet")
    val p3 = Pipeline.planBackfill(spark, dir, mf)
    assert(p3.changed == Seq("2024-01-02") && p3.neverBuilt.isEmpty,
      s"planner must name exactly the late date: $p3")
    val (_, r3) = Pipeline.backfill(spark, dir, out, mf)
    assert(r3.isDefined)
    assert(Pipeline.planBackfill(spark, dir, mf).stale.isEmpty)
    // 4. the scoped replay CONVERGED the marts: byte-compare every
    // mart against a from-scratch full rebuild
    val out2 = Files.createTempDirectory("graft_bf_full").toString
    Pipeline.run(spark, dir, out2)
    for (m <- Seq("mart_user_daily", "mart_funnel_daily", "mart_product_daily",
        "mart_orders", "session_sequences", "hourly_traffic")) {
      def canon(p: String) = spark.read.parquet(p).collect()
        .map(_.toSeq.map(String.valueOf).toList).sortBy(_.toString).toList
      assert(canon(s"$out/$m") == canon(s"$out2/$m"),
        s"mart $m diverged from the full rebuild after scoped backfill")
    }
    // 5. vanished dates are reported, never silently replayed
    val pruned = spark.read.parquet(s"$dir/events.parquet")
      .filter(col("ts").cast("date") =!= lit("2024-01-03").cast("date"))
    val dir2 = Files.createTempDirectory("graft_bf_src2").toString
    pruned.write.parquet(s"$dir2/events.parquet")
    val p5 = Pipeline.planBackfill(spark, dir2, mf)
    assert(p5.vanished == Seq("2024-01-03") && p5.stale.isEmpty, s"got $p5")
  }

  test("erasure is null-safe: anonymous rows survive rewrites, NULL partition combos erase") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("graft_er_null").toString
    val df = Seq(
      (Option(1L), Option("2024-01-01"), 0L),  // erase target, partial combo
      (None: Option[Long], Option("2024-01-01"), 0L), // anonymous row — must SURVIVE
      (Option(2L), Option("2024-01-01"), 0L),  // survivor
      (Option(1L), None: Option[String], 7L),  // erase target under a NULL date
      (Option(3L), None: Option[String], 7L),  // NULL-date survivor
      (Option(1L), None: Option[String], 9L))  // NULL date, combo fully emptied
      .toDF("user_id", "d", "batch_id")
      .withColumn("d", col("d").cast("date"))
    sources.MartSink.writePartitioned(df, out, Seq("d", "batch_id"))
    val stats = sources.MartSink.eraseKeysPartitioned(
      spark, out, "user_id", Seq(1L), Seq("d", "batch_id"))
    assert(stats.rowsErased == 3L, s"got $stats")
    // the fully-emptied NULL-date combo drops its real on-disk dir
    assert(stats.partitionsDeleted.map(_.split('/').takeRight(2).mkString("/")) ==
      Seq("d=__HIVE_DEFAULT_PARTITION__/batch_id=9"), s"got $stats")
    assert(!new java.io.File(s"$out/d=__HIVE_DEFAULT_PARTITION__/batch_id=9").exists())
    val left = spark.read.parquet(out)
      .select(col("user_id"), col("batch_id").cast("long")).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1))).toSet
    // user 1 gone everywhere; the anonymous row and both survivors intact
    assert(left == Set((-1L, 0L), (2L, 0L), (3L, 7L)), s"got $left")
  }

  test("one-call corpus daily report composes funnel, mix, and optional token log") {
    // no token log → budget degrades to "no data", report still ships
    val (text, payload) = CorpusPipeline.dailyReport(spark, Sf, "2024-01-15")
    assert(text.contains("Corpus report (2024-01-15)"))
    assert(text.contains("[token budget fill]\nno data"))
    assertValidJson(payload)
    // with a real token log the budget section lists its sources
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val log = java.nio.file.Files.createTempDirectory("graft_rep_tlog").toString
    Seq(("s0", 3L, 40L, 55L), ("s1", 1L, 9L, 12L))
      .toDF("source", "n_docs", "word_count", "bpe_tokens")
      .withColumn("batch_id", lit(0L))
      .write.mode("overwrite").parquet(log)
    val (text2, payload2) = CorpusPipeline.dailyReport(spark, Sf, "2024-01-16", Some(log))
    assert(text2.contains("- s0: 55 bpe tokens ingested (3 docs / 40 words)"))
    assert(text2.contains("- s1: 12 bpe tokens ingested"))
    assertValidJson(payload2)
  }

  test("corpus report surfaces the dedup method-agreement census; a planted shift moves the line") {
    import spark.implicits._
    val w = (1 to 40).map(i => s"word$i")
    def mkCorpus(partner: Seq[String]): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_rep_agree").toString
      Seq((1L, w.mkString(" ")), (2L, partner.mkString(" ")),
        (3L, (1 to 30).map(i => s"other$i").mkString(" ")))
        .map { case (id, t) => (id, t, "en", "spec", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    // day 1: the near-pair is an edit TWIN (1 char) — jaccard and
    // edit both own it, their agreement line reads 100%
    val calLog = java.nio.file.Files.createTempDirectory("graft_rep_callog").toString
    val twinDir = mkCorpus(w.updated(5, "word6x"))
    val (t1, p1) = CorpusPipeline.dailyReport(spark, twinDir, "2024-01-15",
      includeAgreement = true, calibrationLogDir = Some(calLog))
    assert(t1.contains("[dedup method agreement]"), t1)
    assert(t1.contains("- edit vs jaccard: 1 / 1 pairs | both 1 | agreement 100.0%"),
      s"twin corpus must read full edit/jaccard agreement:\n$t1")
    assertValidJson(p1)
    // day 2 (the planted SHIFT): the pair becomes a block ROTATION —
    // shingles survive (jaccard keeps it) but the character edit mass
    // explodes (edit drops it): the agreement line falls to 0 and the
    // report is where a reader SEES the modalities diverge
    val rotDir = mkCorpus(w.drop(20) ++ w.take(20))
    val (t2, _) = CorpusPipeline.dailyReport(spark, rotDir, "2024-01-16",
      includeAgreement = true, calibrationLogDir = Some(calLog))
    assert(t2.contains("- edit vs jaccard: 0 / 1 pairs | both 0 | agreement 0.0%"),
      s"rotation corpus must show the agreement drop:\n$t2")
    // ...and the same two report runs left a calibration TREND: the
    // day-2 edit/jaccard row carries the -1.0 delta the report lines
    // showed as 100% → 0%
    val trend = operators.Dedup.calibrationTrendFromLog(spark, calLog)
      .filter(org.apache.spark.sql.functions.col("method_a") === "edit")
      .filter(org.apache.spark.sql.functions.col("method_b") === "jaccard")
      .collect()
    assert(trend.map(_.getAs[String]("run_id")).toSeq ==
      Seq("2024-01-15", "2024-01-16"))
    assert(trend(0).isNullAt(trend(0).fieldIndex("delta")))
    assert(trend(1).getAs[Double]("delta") == -1.0,
      "the report's agreement drop must land in the trend log")
    // the section is opt-in: the default report carries no census
    val (t3, _) = CorpusPipeline.dailyReport(spark, twinDir, "2024-01-17")
    assert(!t3.contains("[dedup method agreement]"))
  }

  test("corpus report renders the funnel/mix/budget frames; payload is valid Block Kit") {
    // render straight from the REAL query frames at sf — the report
    // must consume exactly what the queries emit, no reshaping
    val funnel = operators.TextAnalysis.corpusFunnel(spark, Sf).collect().toSeq
    val mix = operators.TextAnalysis.sourceMix(spark, Sf).collect().toSeq
    val text = Reporting.corpusReport("2024-01-15", funnel, mix, Nil)
    assert(text.contains("Corpus report (2024-01-15)"))
    assert(text.contains("quality_gate") && text.contains("survived"))
    // ordinal prefixes are stripped for display
    assert(!text.contains("1_quality_gate"))
    assert(mix.forall(r => text.contains(r.getAs[String]("source"))))
    assert(text.contains("[token budget fill]\nno data"))
    val p = Reporting.corpusReportPayload("2024-01-15", funnel, mix, Nil)
    assertValidJson(p)
    val survived = funnel.find(_.getAs[String]("stage") == "4_survived").get
    assert(p.contains(s"*survived:* ${String.format(java.util.Locale.US, "%,d",
      Long.box(survived.getAs[Long]("n_docs")))}"))
    // empty frames degrade to "no data", never throw
    val empty = Reporting.corpusReport("2024-01-15", Nil, Nil, Nil)
    assert(empty.contains("no data"))
    assertValidJson(Reporting.corpusReportPayload("2024-01-15", Nil, Nil, Nil))
  }

  test("experiment report: SRM gate leads, raw + cuped readouts render the real query frames") {
    // render straight from the REAL A/B frames at sf — the report must
    // consume exactly what the three queries emit, no reshaping
    val text = Pipeline.experimentReportText(spark, Sf, "2024-01-15")
    assert(text.contains("Experiment report (2024-01-15)"))
    assert(text.contains("[sample-ratio gate]"))
    assert(text.contains("split OK")) // the md5 hash split cannot trip SRM at sf
    // the sequential monitor reads between the gate and the readouts;
    // the sf A/A split must NOT cross its boundary
    assert(text.contains("[sequential monitor]"))
    assert(text.contains("no crossing — keep collecting"),
      s"an A/A hash split crossing an OBF boundary would be a bug:\n$text")
    // a planted crossing renders the group-sequential STOP verdict at
    // the FIRST crossing look
    locally {
      import spark.implicits._
      val daily = Seq(
        ("2024-02-01", "control", 50L, 25L), ("2024-02-01", "treatment", 50L, 25L),
        ("2024-02-02", "control", 50L, 5L), ("2024-02-02", "treatment", 50L, 45L),
        ("2024-02-03", "control", 50L, 5L), ("2024-02-03", "treatment", 50L, 45L))
        .toDF("day", "arm", "e", "c").withColumn("day", col("day").cast("date"))
      val looks = operators.UserAnalytics.sequentialFromDaily(daily).collect().toSeq
      val crossed = Reporting.experimentReport("2024-02-03", None, Nil, Nil, looks)
      assert(crossed.contains("BOUNDARY CROSSED on 2024-02-02 (look 2)"),
        s"must report the FIRST crossing:\n$crossed")
    }
    assert(text.contains("[raw readout]") && text.contains("[cuped readout]"))
    assert(text.contains("- control:") && text.contains("- treatment:"))
    assert(text.contains("var reduction"))
    val p = Pipeline.experimentReportPayload(spark, Sf, "2024-01-15")
    assertValidJson(p)
    assert(p.contains("*split:* ok"))
    // a one-arm corpus (the gated-logging accident) flags BOTH renders
    import spark.implicits._
    def arm(u: Long): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"exp1:$u".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (h.charAt(0) >= '8') "treatment" else "control"
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_exp_rep").toString
    (1L to 400L).filter(arm(_) == "control").take(50).zipWithIndex
      .map { case (u, i) =>
        (i.toLong, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), u, "view", 1.0, "{}")
      }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val broken = Pipeline.experimentReportText(spark, dir, "2024-01-15")
    assert(broken.contains("SRM DETECTED"))
    val bp = Pipeline.experimentReportPayload(spark, dir, "2024-01-15")
    assertValidJson(bp)
    assert(bp.contains("SRM DETECTED") && bp.contains("*split:* BROKEN"))
  }

  test("quality dashboard renders daily table, period stats, and per-check frequency") {
    val days = Seq(
      Reporting.DashboardDay("2024-01-01", Seq(
        Reporting.CheckResult("null_check", "null_check", 1000, 0, 100.0, "PASS"),
        Reporting.CheckResult("range_check", "range_check", 1000, 30, 97.0, "FAIL")),
        totalEvents = 1000, purchases = 50, revenue = 12345.0),
      Reporting.DashboardDay("2024-01-02", Seq(
        Reporting.CheckResult("null_check", "null_check", 2000, 0, 100.0, "PASS"),
        Reporting.CheckResult("range_check", "range_check", 2000, 0, 100.0, "PASS")),
        totalEvents = 2000, purchases = 80, revenue = 20000.0))
    val text = Reporting.qualityDashboard(days)
    assert(text.contains("period: 2024-01-01 ~ 2024-01-02"))
    assert(text.contains("PASS days:     1") && text.contains("FAIL days:     1"))
    assert(text.contains("availability:  50.0%"))
    assert(text.contains("total events:  3,000"))
    assert(text.contains("range_check") && text.contains("<-- attention"))
    val html = Reporting.qualityDashboardHtml(days)
    assert(html.startsWith("<!DOCTYPE html>"))
    assert(html.contains("<td>2024-01-01</td>") && html.contains("""<td class="fail">FAIL</td>"""))
    assert(html.contains("availability") && html.contains("50.0%"))
    assert(Reporting.qualityDashboard(Nil).contains("no report data"))
  }

  test("dashboard assembles from a real check log with per-day traffic") {
    val log = Files.createTempDirectory("graft_dash_log").toString
    val out = Files.createTempDirectory("graft_dash_marts").toString
    val dates = operators.EventMarts.enriched(spark, Sf).select("event_date").distinct()
      .orderBy("event_date").limit(2).collect().map(_.getDate(0).toString).toSeq
    dates.foreach(d =>
      Pipeline.run(spark, Sf, out, dates = Seq(d), checkLogDir = Some(log), failFast = false))
    spark.catalog.refreshByPath(log)
    val e = operators.EventMarts.enriched(spark, Sf)
    val days = Pipeline.dashboardDays(spark, log, e)
    assert(days.map(_.date) == dates.sorted)
    days.foreach { d =>
      assert(d.checks.size == 7)
      assert(d.totalEvents > 0)
      assert(d.revenue >= 0)
    }
    val text = Pipeline.qualityDashboardText(spark, log, e)
    assert(text.contains(s"period: ${dates.min} ~ ${dates.max}"))
    assert(text.contains("null_check"))
  }

  test("quarantine dashboard renders the gate verdict census from batch and log identically") {
    // anomaly-injected sessions so every verdict class has mass
    val dirty = sources.EventGenerator.withAnomalies(
        sources.EventGenerator.sessionEvents(spark, 31L, 3))
      .filter(col("user_id").isNotNull)
    val enriched = operators.EventMarts.enrich(dirty)
    val days = Pipeline.gateDashboardDaysFrom(
      operators.Sessionize.sessionQualityGateFrom(enriched))
    assert(days.nonEmpty)
    val sQ = days.map(_.sessionsQuarantined).sum
    assert(sQ > 0, "anomalies did not fire the gate")
    assert(days.map(_.eventsQuarantined).sum > 0)
    val text = Reporting.gateDashboard(days)
    assert(text.contains("session quarantine dashboard"))
    assert(text.contains("quarantine rate:"))
    assert(text.contains("review queue:"))
    assert(text.contains("<-- review"))
    // reason rows sorted worst-first
    val reasonOrder = Seq("range", "timestamp", "integrity", "duplicate", "sequence")
      .map(r => r -> text.indexOf(s"  $r")).filter(_._2 >= 0)
    val counts = days.flatMap(_.reasonSessions).groupBy(_._1).view
      .mapValues(_.map(_._2).sum).toMap
    assert(reasonOrder.map(_._1).map(counts) ==
      reasonOrder.map(_._1).map(counts).sorted(Ordering[Long].reverse))
    val html = Reporting.gateDashboardHtml(days)
    assert(html.startsWith("<!DOCTYPE html>"))
    assert(html.contains("quarantine rate") && html.contains("review queue"))
    assert(html.contains("<h2>quarantine reasons</h2>"))
    assert(Reporting.gateDashboard(Nil).contains("no gate verdict data"))
    // planted verdict log in gateLogSink's layout: the log-backed
    // dashboard must equal the batch-backed one on the same sessions
    val logDir = Files.createTempDirectory("graft_gate_dash").toString
    sources.MartSink.writePartitioned(
      operators.Sessionize.gatedSessions(enriched)
        .withColumn("session_date",
          date_add(lit("1970-01-01").cast("date"),
            (col("session_start_epoch") / lit(86400)).cast("int")))
        .withColumn("batch_id", lit(0L)),
      logDir, Seq("session_date", "batch_id"))
    assert(Pipeline.gateDashboardText(spark, logDir) == text)
    assert(Pipeline.gateDashboardHtml(spark, logDir) == html)
  }

  test("daily report assembles all mart sections for a real date") {
    val e = operators.EventMarts.enriched(spark, Sf)
    val date = e.select(max("event_date")).collect().head.getDate(0).toString
    val report = Pipeline.dailyReportText(e, date)
    assert(report.contains(s"Daily report ($date)"))
    Seq("[user activity]", "[conversion funnel by segment]", "[top products]", "[orders]")
      .foreach(s => assert(report.contains(s), s"missing section $s"))
    assert(report.contains("active users:"))
    assert(report.contains("revenue:"))
    // no wired contract -> no drift section (byte-parity for the
    // reference-shaped report)
    assert(!report.contains("[contract drift]"))
    // drift rows from a healthy run's Result append the section
    val withDrift = Reporting.dailyReport(date, None, Nil, Nil, None, Nil,
      contractDrift = Seq(("value", "range", "widened"),
        ("event_type", "isin", "domain_grew")))
    assert(withDrift.contains("[contract drift]"))
    assert(withDrift.contains("- value (range): widened"))
    assert(withDrift.contains("- event_type (isin): domain_grew"))
    // an auto-promotion leads the drift section — the reader must see
    // that the gate's reference changed under them this run
    val promoted = Reporting.dailyReport(date, None, Nil, Nil, None, Nil,
      contractDrift = Seq(("value", "range", "widened")),
      contractPromoted = Some("abcdef0123456789"))
    assert(promoted.contains("CONTRACT AUTO-PROMOTED"))
    assert(promoted.contains("abcdef012345"))
    assert(promoted.indexOf("AUTO-PROMOTED") < promoted.indexOf("- value (range)"))
  }

  test("drift log persists velocity: a bound widening across runs reads as a growing streak") {
    import spark.implicits._
    // planted contract diffs for five runs: the `value` range bound
    // widens on runs 2-4 (hi +10 each), holds on run 5; `event_type`'s
    // domain grows once on run 3. Schema = contractDrift's columns.
    def diff(change: String, lo: Double, hi: Double,
             col2: String = "unchanged") = Seq(
      ("value", "range", change, 0.0, hi - 10.0, lo, hi,
        null.asInstanceOf[String], null.asInstanceOf[String], change != "unchanged"),
      ("event_type", "isin", col2, 0.0, 0.0, 0.0, 0.0,
        if (col2 == "domain_grew") "refund" else null.asInstanceOf[String],
        null.asInstanceOf[String], col2 != "unchanged"))
      .toDF("column_name", "check_type", "change", "lo_pinned", "hi_pinned",
        "lo_fresh", "hi_fresh", "set_added", "set_removed", "drift")
    val log = java.nio.file.Files.createTempDirectory("graft_driftlog").toString
    operators.Quality.driftLogAppend(diff("unchanged", 0.0, 100.0), log, "2024-03-01")
    operators.Quality.driftLogAppend(diff("widened", 0.0, 110.0), log, "2024-03-02")
    operators.Quality.driftLogAppend(diff("widened", 0.0, 120.0, "domain_grew"), log, "2024-03-03")
    operators.Quality.driftLogAppend(diff("widened", 0.0, 130.0), log, "2024-03-04")
    val trend = () => operators.Quality.driftTrendFromLog(spark, log)
      .filter(col("column_name") === "value").collect()
      .map(r => r.getAs[String]("run_id") ->
        ((Option(r.getAs[java.lang.Double]("d_hi")).map(_.toDouble),
          r.getAs[Long]("widen_streak")))).toMap
    val t = trend()
    assert(t("2024-03-01") == ((None, 0L)), s"first run: null delta, no streak: $t")
    assert(t("2024-03-02") == ((Some(10.0), 1L)), t.toString)
    assert(t("2024-03-03") == ((Some(10.0), 2L)), t.toString)
    assert(t("2024-03-04") == ((Some(10.0), 3L)),
      s"three consecutive widenings must read streak 3: $t")
    // the latest-run extract feeds the report: value is on a streak,
    // event_type's one-off domain growth two runs ago is not
    val streaks = operators.Quality.widenStreaksLatest(spark, log)
    assert(streaks == Seq(("value", "range", "widened", 3L)), streaks.toString)
    val report = Reporting.dailyReport("2024-03-04", None, Nil, Nil, None, Nil,
      driftStreaks = streaks)
    assert(report.contains("[contract drift velocity]"))
    assert(report.contains("- value (range): bound widened; drifting 3 consecutive healthy runs"))
    // a streak whose LATEST change is domain growth must not read
    // "bound widened" — the label travels with the streak tuple
    val domainReport = Reporting.dailyReport("2024-03-04", None, Nil, Nil, None, Nil,
      driftStreaks = Seq(("event_type", "isin", "domain_grew", 2L)))
    assert(domainReport.contains(
      "- event_type (isin): domain grew; drifting 2 consecutive healthy runs"))
    // a run that holds the bound RESETS the streak; the velocity
    // section disappears from that day's report
    operators.Quality.driftLogAppend(diff("unchanged", 0.0, 130.0), log, "2024-03-05")
    val t5 = trend()
    assert(t5("2024-03-05") == ((Some(0.0), 0L)),
      s"unchanged run: measured-zero delta, streak reset: $t5")
    assert(operators.Quality.widenStreaksLatest(spark, log).isEmpty)
    assert(!Reporting.dailyReport("2024-03-05", None, Nil, Nil, None, Nil,
      driftStreaks = Nil).contains("velocity"))
    // idempotent rerun: re-appending a run_id replaces its partition
    operators.Quality.driftLogAppend(diff("unchanged", 0.0, 130.0), log, "2024-03-05")
    assert(operators.Quality.driftTrendFromLog(spark, log)
      .filter(col("run_id") === "2024-03-05").count() == 2L)
  }

  test("run_id contract is enforced: non-chronological ids reject, padded/ISO ids pass") {
    import spark.implicits._
    def diff(hi: Double) = Seq(
      ("value", "range", "widened", 0.0, hi - 10.0, 0.0, hi,
        null.asInstanceOf[String], null.asInstanceOf[String], true))
      .toDF("column_name", "check_type", "change", "lo_pinned", "hi_pinned",
        "lo_fresh", "hi_fresh", "set_added", "set_removed", "drift")
    // bare counters: string order puts r10 before r2 — every trend
    // reader must REJECT rather than silently lag against the wrong
    // previous run
    val bad = java.nio.file.Files.createTempDirectory("graft_runid_bad").toString
    Seq("r1", "r2", "r10").zipWithIndex.foreach { case (id, i) =>
      operators.Quality.driftLogAppend(diff(100.0 + i * 10), bad, id)
    }
    val ex = intercept[IllegalArgumentException] {
      operators.Quality.driftTrendFromLog(spark, bad).collect()
    }
    assert(ex.getMessage.contains("chronological"), ex.getMessage)
    // the same violation propagates out of widenStreaksLatest (a bad
    // log is a real error, not an empty-section case)
    intercept[IllegalArgumentException] {
      operators.Quality.widenStreaksLatest(spark, bad)
    }
    // zero-padded counters and ISO dates are consistent under both
    // orders and pass untouched
    val good = java.nio.file.Files.createTempDirectory("graft_runid_good").toString
    Seq("run_0001", "run_0002", "run_0010").zipWithIndex.foreach { case (id, i) =>
      operators.Quality.driftLogAppend(diff(100.0 + i * 10), good, id)
    }
    val trend = operators.Quality.driftTrendFromLog(spark, good)
      .select("run_id", "widen_streak").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(trend("run_0010") == 3L, trend.toString)
    // the dedup-side readers share the guard
    val calBad = java.nio.file.Files.createTempDirectory("graft_runid_cal").toString
    def agree(a: Double) = Seq(("minhash", "jaccard", 10L, 10L, 8L, a))
      .toDF("method_a", "method_b", "n_a", "n_b", "n_both", "agreement")
    operators.Dedup.calibrationLogAppend(agree(0.8), calBad, "r2")
    operators.Dedup.calibrationLogAppend(agree(0.9), calBad, "r10")
    intercept[IllegalArgumentException] {
      operators.Dedup.calibrationTrendFromLog(spark, calBad).collect()
    }
  }

  test("version log: manifest snapshots trend added/changed/rebuilt; the latest diff sees removals") {
    import graft.sources.{ArtifactManifest, VersionLog}
    def art(stamp: Option[ArtifactManifest.Stamp]): String = {
      val d = java.nio.file.Files.createTempDirectory("graft_vlog_art").toString
      stamp.foreach(s => ArtifactManifest.write(d, s))
      d
    }
    def stamp(tpe: String, fp: String, from: String) =
      Some(ArtifactManifest.Stamp(tpe, fp, from))
    val log = java.nio.file.Files.createTempDirectory("graft_vlog").toString
    // run 1: A and B stamped, E stamped
    VersionLog.snapshotAndAppend(spark, Seq(
      "a" -> art(stamp("bpe_vocab", "fpA1", "corpus1")),
      "b" -> art(stamp("kmeans", "fpB", "corpus1")),
      "e" -> art(stamp("knn_graph", "fpE", "corpus1"))),
      log, "2024-01-01")
    // run 2: A's content moved (same lineage), B unchanged, C appears,
    // D has no manifest, E kept its bytes but changed declared inputs
    VersionLog.snapshotAndAppend(spark, Seq(
      "a" -> art(stamp("bpe_vocab", "fpA2", "corpus1")),
      "b" -> art(stamp("kmeans", "fpB", "corpus1")),
      "c" -> art(stamp("pq_books", "fpC", "corpus1")),
      "d" -> art(None),
      "e" -> art(stamp("knn_graph", "fpE", "corpus2"))),
      log, "2024-01-02")
    val trend = VersionLog.versionTrendFromLog(spark, log).collect()
      .map(r => (r.getAs[String]("run_id"), r.getAs[String]("artifact_name")) ->
        r.getAs[String]("change")).toMap
    assert(trend(("2024-01-01", "a")) == "added")
    assert(trend(("2024-01-02", "a")) == "content_changed")
    assert(trend(("2024-01-02", "b")) == "unchanged")
    assert(trend(("2024-01-02", "c")) == "added")
    assert(trend(("2024-01-02", "d")) == "unstamped")
    assert(trend(("2024-01-02", "e")) == "lineage_changed")
    // run 3 snapshots ONLY a, rebuilt outright
    VersionLog.snapshotAndAppend(spark, Seq(
      "a" -> art(stamp("bpe_vocab", "fpA3", "corpus2"))), log, "2024-01-03")
    val diff = VersionLog.versionDiffLatest(spark, log).collect()
      .map(r => r.getAs[String]("artifact_name") ->
        ((r.getAs[String]("change"), r.getAs[String]("vs_run")))).toMap
    assert(diff("a") == (("rebuilt", "2024-01-02")))
    assert(diff("b") == (("removed", "2024-01-02")))
    assert(diff("c") == (("removed", "2024-01-02")))
    assert(diff("e") == (("removed", "2024-01-02")))
    assert(diff.size == 5 && diff("d")._1 == "removed")
    // idempotent rerun: re-appending run 3 replaces its partition
    VersionLog.snapshotAndAppend(spark, Seq(
      "a" -> art(stamp("bpe_vocab", "fpA3", "corpus2"))), log, "2024-01-03")
    assert(VersionLog.versionTrendFromLog(spark, log)
      .filter(col("run_id") === "2024-01-03").count() == 1L)
  }

  test("widenStreaksLatest returns Nil on a missing or empty drift-log dir") {
    // ops pre-creates the directory before any run has appended: the
    // daily report must omit the velocity section, not crash on
    // parquet schema inference
    val empty = java.nio.file.Files.createTempDirectory("graft_driftlog_empty").toString
    assert(operators.Quality.widenStreaksLatest(spark, empty).isEmpty)
    // and a path that does not exist at all behaves the same
    assert(operators.Quality.widenStreaksLatest(
      spark, s"$empty/never_written").isEmpty)
  }

  test("backfill threads the contract: gate + drift log reachable from the cron path") {
    import spark.implicits._
    def ev(id: Long, ts: String, user: Long, typ: String, v: Double) =
      (id, java.sql.Timestamp.valueOf(ts), user, typ, v, """{"k":1}""")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft_bfc_src").toString
    (Seq("2024-03-01", "2024-03-02").zipWithIndex.flatMap { case (d, di) =>
      (1 to 15).map(i =>
        ev(di * 50L + i, f"$d 10:${i % 60}%02d:00", 100L + i, "view",
          1.0 + 99.0 * (i % 2))) :+
        ev(di * 50L + 49, s"$d 11:00:00", 101L, "purchase", 100.0)
    }).toDF(cols: _*).write.parquet(s"$dir/events.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft_bfc_c").toString + "/contract"
    operators.Quality.writeSuggestions(
      operators.Quality.suggestedChecksFrom(Tables.events(spark, dir)),
      path, builtFrom = "baseline")
    val out = java.nio.file.Files.createTempDirectory("graft_bfc_out").toString
    val mf = java.nio.file.Files.createTempDirectory("graft_bfc_mf")
      .resolve("manifest").toString
    val log = java.nio.file.Files.createTempDirectory("graft_bfc_log").toString
    val (plan, res) = Pipeline.backfill(spark, dir, out, mf,
      failFast = false, suggestionsPath = Some(path), driftLogDir = Some(log))
    assert(plan.stale.nonEmpty && res.exists(_.passed))
    // the drift diff logged under the backfill's run date
    val trend = operators.Quality.driftTrendFromLog(spark, log)
    assert(trend.select("run_id").distinct().collect()
      .map(_.getString(0)).toSeq == Seq(plan.stale.max),
      "backfill must log its drift under the replay's run date")
  }

  test("pipeline run snapshots registered artifacts into the version log; retrain reads content_changed") {
    import spark.implicits._
    import graft.sources.{ArtifactManifest, VersionLog}
    def ev(id: Long, ts: String, user: Long, typ: String, v: Double) =
      (id, java.sql.Timestamp.valueOf(ts), user, typ, v, """{"k":1}""")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    def mkDir(day: String): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_vl_src").toString
      ((1 to 30).map(i =>
        ev(i.toLong, f"$day 10:${i % 60}%02d:00", 100L + i, "view", 5.0)) :+
        ev(99L, s"$day 11:00:00", 101L, "purchase", 9.0))
        .toDF(cols: _*).write.parquet(s"$dir/events.parquet")
      dir
    }
    val art = java.nio.file.Files.createTempDirectory("graft_vl_art").toString
    ArtifactManifest.write(art, ArtifactManifest.Stamp("bpe_vocab", "fp1", "corpus1"))
    val vlog = java.nio.file.Files.createTempDirectory("graft_vl_log").toString
    def out() = java.nio.file.Files.createTempDirectory("graft_vl_out").toString
    val arts = Seq("vocab" -> art)
    val r1 = Pipeline.run(spark, mkDir("2024-04-01"), out(), failFast = false,
      versionLogDir = Some(vlog), versionArtifacts = arts)
    // the artifact retrains between runs — the stamp's content moves
    ArtifactManifest.write(art, ArtifactManifest.Stamp("bpe_vocab", "fp2", "corpus1"))
    val r2 = Pipeline.run(spark, mkDir("2024-04-02"), out(), failFast = false,
      versionLogDir = Some(vlog), versionArtifacts = arts)
    assert(r1.passed && r2.passed)
    val trend = VersionLog.versionTrendFromLog(spark, vlog).collect()
      .map(r => r.getAs[String]("run_id") -> r.getAs[String]("change")).toMap
    assert(trend == Map("2024-04-01" -> "added",
      "2024-04-02" -> "content_changed"),
      s"run-wired version trend diverged: $trend")
    // rerunning the same date replaces its partition, never doubles it
    Pipeline.run(spark, mkDir("2024-04-02"), out(), failFast = false,
      versionLogDir = Some(vlog), versionArtifacts = arts)
    assert(VersionLog.versionTrendFromLog(spark, vlog)
      .filter(col("run_id") === "2024-04-02").count() == 1L)
  }

  test("pipeline run appends the drift log; trend reads across two healthy runs") {
    import spark.implicits._
    def ev(id: Long, ts: String, user: Long, typ: String, v: Double) =
      (id, java.sql.Timestamp.valueOf(ts), user, typ, v, """{"k":1}""")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    def mkDir(day: String, vLo: Double, vHi: Double): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_dl_src").toString
      ((1 to 30).map(i =>
        ev(i.toLong, f"$day 10:${i % 60}%02d:00", 100L + i, "view",
          vLo + (vHi - vLo) * (i % 2))) :+
        ev(99L, s"$day 11:00:00", 101L, "purchase", vHi))
        .toDF(cols: _*).write.parquet(s"$dir/events.parquet")
      dir
    }
    // pin on the wide baseline; two later healthy runs sit inside it
    val baseDir = mkDir("2024-03-01", 1.0, 100.0)
    val path = java.nio.file.Files.createTempDirectory("graft_dl_c").toString + "/contract"
    operators.Quality.writeSuggestions(
      operators.Quality.suggestedChecksFrom(Tables.events(spark, baseDir)),
      path, builtFrom = "baseline")
    val log = java.nio.file.Files.createTempDirectory("graft_dl_log").toString
    def out() = java.nio.file.Files.createTempDirectory("graft_dl_out").toString
    val r1 = Pipeline.run(spark, mkDir("2024-03-02", 10.0, 60.0), out(),
      failFast = false, suggestionsPath = Some(path), driftLogDir = Some(log))
    val r2 = Pipeline.run(spark, mkDir("2024-03-03", 12.0, 55.0), out(),
      failFast = false, suggestionsPath = Some(path), driftLogDir = Some(log))
    assert(r1.passed && r2.passed)
    val trend = operators.Quality.driftTrendFromLog(spark, log)
    assert(trend.select("run_id").distinct().collect()
      .map(_.getString(0)).sorted.toSeq == Seq("2024-03-02", "2024-03-03"),
      "each healthy run logs under its run date")
    // the value range narrowed both runs — velocity reads the deltas
    val v = trend.filter(col("column_name") === "value" &&
        col("check_type") === "range" &&
        col("run_id") === "2024-03-03").collect().head
    assert(v.getAs[String]("change") == "narrowed")
    assert(v.getAs[Long]("widen_streak") == 0L)
    // a FAILED gate logs nothing (its re-suggest would poison the trend)
    val bad = Pipeline.run(spark, mkDir("2024-03-04", 10.0, 9.9e8), out(),
      suggestionsPath = Some(path), driftLogDir = Some(log))
    assert(!bad.passed)
    assert(operators.Quality.driftTrendFromLog(spark, log)
      .filter(col("run_id") === "2024-03-04").count() == 0L)
  }
}
