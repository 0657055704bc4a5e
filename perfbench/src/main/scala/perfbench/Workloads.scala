package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.{Caches, Pipeline}

/** One op: its pin key, seconds, the error that failed it (a throw or
  * a failed check), and the outputs observed for the pin comparison. */
final case class Op(key: String, seconds: Double, error: Option[String], observed: Any)

/** What one timed phase produced: its ops, its wall time, when its
  * first op started (epoch millis), the largest memory held at the end
  * of an op, and per-layer figures the harness measured itself. */
final case class Phase(ops: Seq[Op], wallS: Double, firstOpAt: Long, retainedMb: Double,
                       layers: Map[String, Double])

/** Where a phase reads and writes, and how it is run. */
final case class Ctx(spark: SparkSession, input: String, work: String, nOps: Int,
                     plantFailure: Boolean, trace: Option[Trace])

/** A workload writes its seeded inputs, returning their properties and
  * whatever its output checks need (`P`), and runs a timed phase over
  * them. */
trait Workload {
  type P
  def name: String
  /** Ops in a run of `seconds` (fixed work per `--seconds`). */
  def ops(seconds: Int, tiny: Boolean): Int
  def prepare(spark: SparkSession, dir: String, seed: Long, tiny: Boolean, nOps: Int)
      : (Map[String, Any], P)
  def phase(c: Ctx, p: P): Phase
}

object Workloads {
  val all: Seq[Workload] = Seq(DailyRun, StreamIngest)
  def byName(n: String): Workload = all.find(_.name == n)
    .getOrElse(throw new IllegalArgumentException(s"unknown workload '$n'"))

  val Marts = Seq("hourly_traffic", "mart_funnel_daily", "mart_orders", "mart_product_daily",
    "mart_user_daily", "session_sequences")
  val DateCol = Map("mart_user_daily" -> "event_date", "mart_funnel_daily" -> "event_date",
    "mart_product_daily" -> "event_date", "mart_orders" -> "order_date",
    "session_sequences" -> "session_date", "hourly_traffic" -> "event_date")

  /** Row count and order-independent digest: the wrapping sum of a
    * per-row hash over the columns in name order, with doubles
    * narrowed to float so summation order cannot move the digest. */
  def digest(df: DataFrame): Seq[Any] = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      if (f.dataType == DoubleType) col(f.name).cast("float") else col(f.name)
    }
    val hs = df.select(xxhash64(cols.toIndexedSeq: _*)).collect().map(_.getLong(0))
    Seq(hs.length.toLong, java.lang.Long.toHexString(hs.foldLeft(0L)(_ + _)))
  }

  /** `digest` of one date's partition of a partitioned mart; a mart
    * with no rows for the date has no partition to read. */
  def digestDate(spark: SparkSession, path: String, dateCol: String, d: String): Seq[Any] =
    if (!new java.io.File(s"$path/$dateCol=$d").isDirectory) Seq(0L, "0")
    else digest(spark.read.parquet(path).filter(col(dateCol) === lit(d).cast("date")))

  def heapAfterGcMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    mem.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The shared closed loop: clear memos, run op k inside its trace
    * bracket, then (untimed) sample retained memory and check the
    * output. `check` returns the observed outputs or an error; a throw
    * or an error fails the op. */
  def closedLoop(c: Ctx)(key: Int => String)(op: Int => Any)(
      check: (Int, Any) => Either[String, Any]): Phase = {
    val ops = mutable.ArrayBuffer.empty[Op]
    var retained = 0.0
    var wall = 0.0
    var firstOpAt = 0L
    for (k <- 0 until c.nOps) {
      Caches.clearAll()
      c.trace.foreach(_.begin(k))
      if (k == 0) firstOpAt = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = try {
        val o = op(k)
        if (c.plantFailure && k == 1) throw new RuntimeException("planted failure")
        Right(o)
      } catch { case e: Throwable => Left(s"threw: $e") }
      val dt = secondsSince(t0)
      wall += dt
      c.trace.foreach(_.end())
      retained = math.max(retained, heapAfterGcMb())
      val checked = out.flatMap(o => try check(k, o) catch {
        case e: Throwable => Left(s"check threw: $e")
      })
      ops += Op(key(k), dt, checked.left.toOption, checked.toOption.orNull)
      Main.log(f"op ${key(k)} $dt%.3f s ${checked.left.getOrElse("ok")}")
    }
    Phase(ops.toSeq, wall, firstOpAt, retained, Map.empty)
  }

  def parquetFiles(dir: String): Long = {
    val tree = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try tree.filter(_.toString.endsWith(".parquet")).count() finally tree.close()
  }

  /** Adds `seconds` to a per-op layer figure. */
  def charge(layers: mutable.Map[String, Double], key: String, seconds: Double): Unit =
    layers(key) = layers.getOrElse(key, 0.0) + seconds
}

import Workloads._

/** The scheduler's nightly unit on its WARN path: one execution date
  * through validate, gate, census, sessionize, the six mart writes and
  * the incremental merge of every mart into an embedded Derby
  * warehouse, then the daily report for the date. */
object DailyRun extends Workload {
  type P = Unit
  val name = "daily_run"
  def ops(seconds: Int, tiny: Boolean): Int =
    if (tiny) 2 else math.max(1, math.round(seconds / 30.0).toInt)
  def prepare(spark: SparkSession, dir: String, seed: Long, tiny: Boolean, nOps: Int) =
    (Inputs.write(spark, dir, seed, Inputs.dailySizes(tiny)), ())

  def phase(c: Ctx, p: Unit): Phase = {
    val wh = s"${c.work}/warehouse"
    // an embedded in-memory Derby warehouse, fresh for every run
    val jdbc = s"jdbc:derby:memory:perfbench${java.util.UUID.randomUUID().toString.take(8)};create=true"
    val layers = mutable.Map.empty[String, Double]
    val ph = closedLoop(c)(k => Inputs.date(1 + k)) { k =>
      val d = Inputs.date(1 + k)
      val r = Pipeline.run(c.spark, c.input, wh, failFast = false, dates = Seq(d),
        martJdbc = Some(jdbc))
      val t0 = System.nanoTime()
      val report = Trace.layer(c.spark, "report") {
        Pipeline.dailyReportText(graft.operators.EventMarts.enriched(c.spark, c.input), d)
      }
      charge(layers, "report.busy_s", secondsSince(t0))
      (r, report)
    } { (k, o) =>
      val (r, report) = o.asInstanceOf[(Pipeline.Result, String)]
      val d = Inputs.date(1 + k)
      if (r.martsWritten.sorted != Marts) Left(s"$d wrote ${r.martsWritten.sorted}")
      else Right(Map(
        "failed_checks" -> r.failedChecks.sorted,
        "merges" -> r.martMerges.map { case (m, s) => m -> Seq(s.upserted, s.deleted, s.total) },
        "report" -> f"${report.length}:${report.hashCode}%08x",
        "marts" -> Marts.map(m => m -> digestDate(c.spark, s"$wh/$m", DateCol(m), d)).toMap))
    }
    // every op writes into the same fresh warehouse, so its data files
    // are the ops' output files
    ph.copy(layers = layers.map { case (k, v) => k -> v / c.nOps }.toMap +
      ("sink.files" -> parquetFiles(wh).toDouble / c.nOps))
  }
}

/** The streaming mart loop: `StreamingPipeline.start` over a JSONL
  * ingest directory. One op lands one file in the directory and lasts
  * until all four sinks have committed it, including the no-data batch
  * that emits the windows its watermark finalized. The first op
  * includes the queries' first batch, as after a service (re)start. */
object StreamIngest extends Workload {
  type P = Inputs.StreamFiles
  val name = "stream_ingest"
  def ops(seconds: Int, tiny: Boolean): Int =
    if (tiny) 2 else math.max(1, math.round(seconds / 12.0).toInt)
  def prepare(spark: SparkSession, dir: String, seed: Long, tiny: Boolean, nOps: Int) = {
    val files = Inputs.writeStreamFiles(s"$dir/stream_src", seed, nOps, if (tiny) 200 else 2000)
    (files.props, files)
  }

  private def logOffset(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    Option(q.lastProgress).flatMap(p => """"logOffset"\s*:\s*(\d+)""".r
      .findFirstMatchIn(String.valueOf(p.sources.head.endOffset))).fold(-1L)(_.group(1).toLong)

  def phase(c: Ctx, files: Inputs.StreamFiles): Phase = {
    val ingest = s"${c.work}/ingest"
    val out = s"${c.work}/stream"
    new java.io.File(ingest).mkdirs()
    val queries = graft.streaming.StreamingPipeline.start(c.spark, ingest, out)
    val ph = try closedLoop(c)(k => s"file-$k") { k =>
      java.nio.file.Files.move(java.nio.file.Paths.get(files.path(k)),
        java.nio.file.Paths.get(s"$ingest/file-$k.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      // a trigger that listed the directory just before the move
      // returns from processAllAvailable without the file: wait on
      for (q <- queries) do q.processAllAvailable() while (logOffset(q) < k)
    } { (k, _) =>
      // every window the sink wrote carries its exact on-time event
      // count, and every window ending 3 hours before the newest event
      // time (1 hour inside the 2-hour watermark) has been written
      val got = c.spark.read.parquet(s"$out/hourly_traffic")
        .select(unix_timestamp(col("window_start")).as("s"), col("event_count"))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      val due = files.expected.keys.filter(_ + 3600 <= files.maxTs(k) - 3 * 3600).toSet
      val wrong = got.filter { case (s, n) => !files.expected.get(s).contains(n) }
      if (got.length != got.toMap.size) Left(s"file-$k: a window was written twice")
      else if (wrong.nonEmpty) Left(s"file-$k: hourly_traffic event counts differ from the " +
        s"deduped on-time events sent, e.g. window ${wrong.head._1}: ${wrong.head._2}")
      else if (!due.subsetOf(got.map(_._1).toSet)) Left(s"file-$k: finalized windows missing")
      else Right(Seq(got.length.toLong, got.map(_._2).sum))
    } finally queries.foreach(_.stop())
    ph.copy(layers = Map("sink.files" -> parquetFiles(out).toDouble / c.nOps))
  }
}
