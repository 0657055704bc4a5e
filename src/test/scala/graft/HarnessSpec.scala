package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The registry contract and the Bench/Verify failure surface. */
class HarnessSpec extends SparkSpec {
  test("registry: 289 registered queries, 222 oracle keys, every oracle key registered") {
    assert(SparkEntry.queries.size == 289)
    assert(SparkEntry.oracleSql.size == 222)
    val unregistered = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(unregistered.isEmpty, s"oracle keys without a query: $unregistered")
  }

  private val planted: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "ok_a" -> ((s, _) => s.range(3).toDF("x")),
    // throws while the DataFrame is built
    "boom_build" -> ((_, _) => throw new IllegalStateException("planted \"build\" failure")),
    // throws only when the plan executes
    "boom_run" -> ((s, _) => s.range(1).selectExpr("raise_error('planted run failure')")),
    "ok_b" -> ((s, _) => s.range(5).toDF("x")))

  test("Bench: a throwing query emits an error row, no timing, and fails the run") {
    val lines = collection.mutable.ArrayBuffer.empty[String]
    val record = Bench.runQueries(spark, Sf, planted, budgetSec = 480.0,
      forcedRepeat = None, emit = lines += _)
    assert(record.results.keys.toSeq == Seq("ok_a", "ok_b"))
    assert(record.failed == Seq("boom_build", "boom_run"))
    assert(record.status != 0)
    assert(record.failedField == "\"failed\":[\"boom_build\",\"boom_run\"]")
    for (name <- Seq("boom_build", "boom_run")) {
      val rows = lines.filter(_.startsWith(s"""{"query":"$name","""))
      assert(rows.size == 1, lines)
      assert(rows.head.contains("\"error\":\"") && !rows.head.contains("\"sec\""), rows)
    }
    assert(lines.exists(_.contains("planted \\\"build\\\" failure")), lines)
    assert(lines.count(_.contains("\"sec\":")) == 2, lines)
    val clean = Bench.runQueries(spark, Sf, planted.filter(_._1.startsWith("ok")),
      budgetSec = 480.0, forcedRepeat = None, emit = _ => ())
    assert(clean.status == 0 && clean.failed.isEmpty)
  }

  test("Bench: rows carry the first run's jobs, stages and tasks, eager jobs included, and repeat") {
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "grouped" -> ((s, d) => Tables.events(s, d).groupBy("event_type").count()),
      "plain" -> ((s, _) => s.range(5).toDF("x")),
      // the same frame after one eager job while it is built
      "eager" -> ((s, _) => { s.range(10).collect(); s.range(5).toDF("x") }))
    def pass(): (Bench.Record, Seq[String]) = {
      val lines = collection.mutable.ArrayBuffer.empty[String]
      (Bench.runQueries(spark, Sf, queries, budgetSec = 480.0, forcedRepeat = None,
        emit = lines += _), lines.toSeq)
    }
    val (r1, lines) = pass()
    val (r2, _) = pass()
    for ((name, _) <- queries) {
      val c = r1.results(name).counts
      // a slow first run may add a remeasured row; both carry the counts
      val rows = lines.filter(_.startsWith(s"""{"query":"$name","sec":"""))
      assert(rows.nonEmpty && rows.forall(_.contains(c.fields)), lines)
      assert(c.jobs >= 1 && c.stages >= c.jobs && c.tasks >= c.stages, s"$name: $c")
      assert(r2.results(name).counts == c, s"$name: two runs counted ${r2.results(name).counts} vs $c")
    }
    assert(r1.results("grouped").counts.stages >= 2, "the grouped count shuffles")
    val (plain, eager) = (r1.results("plain").counts, r1.results("eager").counts)
    assert(eager.jobs == plain.jobs + 1, s"eager $eager vs plain $plain")
  }

  test("Bench scale mode: one row per query and decade, replicas built once under the root") {
    import org.apache.spark.sql.functions.{col, explode, length, split}
    def files(root: String): Seq[(String, Long, Long)] = {
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try stream.iterator().asScala.map(p => (p.toString, p.toFile.length, p.toFile.lastModified))
        .toSeq.sorted
      finally stream.close()
    }
    val baseBefore = files(Sf)
    val root = java.nio.file.Files.createTempDirectory("graft_scale").toString
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "by_type" -> ((s, d) => Tables.events(s, d).groupBy("event_type").count()),
      "doc_ids" -> ((s, d) => Tables.documents(s, d).select("doc_id")),
      // a replica-skipped name over a planted frame
      "semdedup" -> ((s, d) => Tables.embeddings(s, d).select("vec_id")))
    val lines = collection.mutable.ArrayBuffer.empty[String]
    val records = Bench.scaleQueries(spark, Sf, Seq(2), root, queries, budgetSec = 480.0,
      forcedRepeat = None, emit = lines += _)
    assert(records.map(_._1) == Seq(1, 2) && records.forall(_._2.status == 0))
    for ((name, _) <- queries; reps <- Seq(1, 2)) {
      val rows = lines.filter(l => l.startsWith(s"""{"query":"$name",""") &&
        l.contains(s""""reps":$reps"""))
      assert(rows.size == 1, lines)
      if (name == "semdedup" && reps == 2) assert(rows.head.contains("\"skipped\":"), rows)
      else assert(rows.head.contains("\"factor\":") && rows.head.contains("\"jobs\":"), rows)
    }
    val dir = s"$root/graft_scale_sf0.001_x2"
    assert(files(root).map(_._1).forall(p => p == root || p.startsWith(dir)))
    assert(Tables.events(spark, dir).count() == 2 * Tables.events(spark, Sf).count())
    val docs = Tables.documents(spark, dir)
    assert(docs.count() == 2 * Tables.documents(spark, Sf).count())
    def tokens(rep: Int) = docs.filter((col("doc_id") >= 10000000L) === (rep == 1))
      .select(explode(split(col("text"), " ")).as("tok")).filter(length(col("tok")) >= 3)
      .distinct()
    assert(tokens(0).count() > 0 && tokens(0).intersect(tokens(1)).isEmpty,
      "no token of 3 or more characters is shared across replicas")
    val built = files(dir)
    Bench.scaleQueries(spark, Sf, Seq(2), root, queries.take(1), budgetSec = 480.0,
      forcedRepeat = None, emit = _ => ())
    assert(files(dir) == built, "a second run must reuse the replica")
    assert(files(Sf) == baseBefore, "the base dir must be left alone")
  }

  test("Verify: a throwing query is reported while the rest still dump") {
    val out = java.nio.file.Files.createTempDirectory("graft_verify").toString
    val failed = Verify.dump(spark, Sf, out, planted)
    assert(failed == Seq("boom_build", "boom_run"))
    assert(spark.read.parquet(s"$out/ok_a").count() == 3)
    assert(spark.read.parquet(s"$out/ok_b").count() == 5)
  }
}
