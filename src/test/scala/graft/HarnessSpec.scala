package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

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

  test("Verify: a throwing query is reported while the rest still dump") {
    val out = java.nio.file.Files.createTempDirectory("graft_verify").toString
    val failed = Verify.dump(spark, Sf, out, planted)
    assert(failed == Seq("boom_build", "boom_run"))
    assert(spark.read.parquet(s"$out/ok_a").count() == 3)
    assert(spark.read.parquet(s"$out/ok_b").count() == 5)
  }
}
