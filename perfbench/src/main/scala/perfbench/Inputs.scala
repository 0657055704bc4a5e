package perfbench

import org.apache.spark.sql.SparkSession
import graft.sources.EventGenerator

/** Seeded inputs for the workloads. Every row derives from the seed
  * alone, so one seed always yields the same inputs. Inputs are written
  * only into the run's work directory. */
object Inputs {
  val StartDate = "2024-01-01"

  /** Sizes of the daily corpus; `tiny` shrinks it for the self-test. */
  final case class Sizes(events: Long, days: Int, users: Long, anomalyPerMille: Int)

  /** The daily corpus: 1,100 events a day, low-rate defects, no hot user. */
  def dailySizes(tiny: Boolean): Sizes =
    if (tiny) Sizes(events = 3000, days = 6, users = 150, anomalyPerMille = 2)
    else Sizes(events = 33000, days = 30, users = 500, anomalyPerMille = 2)

  def date(dayIndex: Int): String =
    java.time.LocalDate.parse(StartDate).plusDays(dayIndex.toLong).toString

  /** Files and row groups of one written parquet table. */
  private def layout(spark: SparkSession, path: String): Map[String, Any] = {
    val files = new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
    val conf = spark.sparkContext.hadoopConfiguration
    val groups = files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f.getPath), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRowGroups.size() finally r.close()
    }.sum
    Map("files" -> files.length, "row_groups" -> groups)
  }

  /** Writes a seeded `EventGenerator` corpus as one ts-ordered parquet
    * file, with `withAnomalies` defects at `anomalyPerMille` in every
    * class when that is set, and returns its properties. */
  def write(spark: SparkSession, dir: String, seed: Long, s: Sizes): Map[String, Any] = {
    val path = s"$dir/events.parquet"
    val a = s.anomalyPerMille
    val events = EventGenerator.events(spark, s.events, days = s.days, startDate = StartDate,
      users = s.users, seed = seed)
    (if (a > 0) EventGenerator.withAnomalies(events, a, a, a, a, seed = seed + 1) else events)
      .coalesce(1).sortWithinPartitions("ts").write.parquet(path)
    Map("events" -> (Map("rows" -> s.events, "days" -> s.days, "users" -> s.users,
      "hot_user_share" -> 0.0, "anomaly_per_mille" -> a) ++ layout(spark, path)))
  }

  /** Event-time span of one ingest file. */
  val StreamFileHours = 6

  /** The written ingest files: per hour window (start, epoch s) the
    * distinct on-time events the traffic sink must count, and per file
    * the newest on-time event time sent up to and including it. */
  final case class StreamFiles(dir: String, props: Map[String, Any], expected: Map[Long, Long],
                               maxTs: IndexedSeq[Long]) {
    def path(k: Int): String = s"$dir/file-$k.json"
  }

  /** The ingest files of `stream_ingest`, written without Spark: file k
    * holds `perFile` events with event times in hours [6k, 6k + 6) from
    * StartDate, ts-ordered, 2 % of them sent twice (the at-least-once
    * re-delivery the dedup drops); from file 1 on, 1 % are late, 9
    * hours behind their file, which the watermark drops. */
  def writeStreamFiles(dir: String, seed: Long, files: Int, perFile: Int): StreamFiles = {
    val t0 = java.time.LocalDate.parse(StartDate).atStartOfDay(java.time.ZoneOffset.UTC)
      .toEpochSecond
    val span = StreamFileHours * 3600L
    val types = Seq("view", "view", "view", "click", "click", "purchase", "signup")
    val expected = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    var late, resent = 0
    new java.io.File(dir).mkdirs()
    val maxTs = (0 until files).map { f =>
      val rnd = new java.util.SplittableRandom(seed * 1000003L + f)
      val rows = (0 until perFile).flatMap { i =>
        val id = f.toLong * perFile + i
        val isLate = f > 0 && rnd.nextInt(100) == 0
        val ts = t0 + f * span + rnd.nextLong(span) - (if (isLate) 9 * 3600L else 0L)
        val kind = types(rnd.nextInt(types.size))
        val value = if (kind == "purchase") 10 + rnd.nextInt(49000) / 100.0 else 1.0
        val line = s"""{"event_id":$id,"ts":"${java.time.Instant.ofEpochSecond(ts)}",""" +
          s""""user_id":${rnd.nextInt(300)},"event_type":"$kind","value":$value,"props":"{}"}"""
        if (isLate) late += 1 else expected(ts - ts % 3600) += 1
        val twice = rnd.nextInt(50) == 0
        if (twice) resent += 1
        Seq.fill(if (twice) 2 else 1)((ts, isLate, line))
      }.sortBy(_._1)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/file-$f.json"),
        rows.map(_._3).mkString("", "\n", "\n").getBytes("UTF-8"))
      rows.filterNot(_._2).map(_._1).max
    }.scanLeft(Long.MinValue)(math.max).tail
    StreamFiles(dir, Map("stream_files" -> Map("files" -> files, "events_per_file" -> perFile,
      "resent" -> resent, "late" -> late, "hours_per_file" -> StreamFileHours)),
      expected.toMap, maxTs)
  }
}
