package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare. A query that throws
  * does not stop the dump; the failed names are printed at the end and
  * the run exits 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional trailing args restrict the dump to the named queries
    // (iteration aid; the driver's 2-arg invocation dumps everything).
    val wanted = args.drop(2).toSet
    // A misspelled name would otherwise silently dump nothing and look
    // like a hung/empty verify run — fail fast with the unknown names.
    val unknown = wanted.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // oracle_sql.json is written FIRST (it needs no Spark jobs): if the
    // driver's timeout lands mid-dump, the round still has the oracle
    // map and every query parquet completed so far — the same
    // timeout-proofing Bench applies to its per-query JSON lines.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failed = dump(spark, sfDir, outDir,
      SparkEntry.queries.toSeq.filter(q => wanted.isEmpty || wanted(q._1)))
    spark.stop()
    if (failed.nonEmpty) {
      println(s"[verify] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Writes each query's result to `outDir/<name>` as parquet and
    * returns the names of the queries that threw. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[String] =
    queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in a query's SQL would otherwise make
    * oracle_sql.json unparseable and silently zero the oracle compare. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
