package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark process: set up a workload, then run its timed phase,
  * with the tracer attached under `--trace 1`.
  * Prints one JSON record as the last line of stdout; `run.py` turns
  * it into the metrics, pin checks and result line.
  *
  * {{{
  * java -cp <classpath> perfbench.Main --workload daily_run --seed 7 \
  *   --seconds 10 --trace 0 --work <dir> [--tiny] [--plant-failure]
  * }}} */
object Main {
  val Cores = 4
  private val MB = 1048576.0

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStart) / 1000.0}%8.2f] $msg")

  def session(work: String): SparkSession = {
    val s = graft.GraftSession.builder(master = s"local[$Cores]", shufflePartitions = Cores)
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val flags = argv.filter(_.startsWith("--")).toSet
    val w = Workloads.byName(opts("--workload"))
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toInt
    val traced = opts.get("--trace").contains("1")
    val work = new java.io.File(opts("--work")).getAbsolutePath
    val tiny = flags("--tiny")
    val plant = flags("--plant-failure")
    val nOps = w.ops(seconds, tiny)

    // set-up: session start, input generation and whatever the phase
    // does before its first op; setup_s runs from JVM start to that op
    val spark = session(work)
    log("session up")
    val (inputs, prepared) = w.prepare(spark, s"$work/in", seed, tiny, nOps)
    log("inputs written")

    // end-to-end figures come from untraced runs; a traced run measures
    // the same phase with the listeners attached instead
    val tracer = Option.when(traced)(new Trace(spark))
    tracer.foreach(_.attach())
    val phase = w.phase(Ctx(spark, s"$work/in", s"$work/timed", nOps, plant, tracer), prepared)
    tracer.foreach(_.detach())
    val setupS = (phase.firstOpAt - jvmStart) / 1000.0
    val layerMetrics = tracer.map(tr => layers(tr, phase, nOps) + ("trace.wall_s" -> phase.wallS))
    spark.stop()

    val record = Map(
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "tiny" -> tiny,
      "cores" -> Cores, "setup_s" -> setupS, "inputs" -> inputs, "trace" -> traced,
      "phase" -> Map(
        "ops" -> phase.ops.map(o => Map("key" -> o.key, "seconds" -> o.seconds,
          "error" -> o.error.orNull, "observed" -> o.observed)),
        "wall_s" -> phase.wallS, "retained_mb" -> phase.retainedMb),
      "layers" -> layerMetrics,
      "spans" -> tracer.map(_.spans))
    println(Json.write(record))
  }

  val PipelineModules = Seq("sources.MartSink.write", "sources.MartSink.merge_jdbc", "Pipeline",
    "operators.Quality", "operators.Skew", "operators.Sessionize")
  val StreamSums = Seq("trigger_ms", "add_batch_ms", "planning_ms", "offsets_ms", "commit_ms",
    "state_commit_ms", "state_rows", "late_rows")

  /** Reduces a traced phase to the per-layer metrics: per-op means of
    * counts and times, the peak for storage memory. */
  def layers(tr: Trace, p: Phase, nOps: Int): Map[String, Double] = tr.synchronized {
    val n = nOps.toDouble
    val t = tr.total
    val opWallMs = p.wallS * 1000
    val spark = Map(
      "spark.jobs" -> t.jobs / n, "spark.stages" -> t.stages / n, "spark.tasks" -> t.tasks / n,
      "spark.sql_execs" -> t.sqlExecs / n, "catalyst.s" -> t.catalystMs / 1000.0 / n,
      "driver.idle_s" -> (opWallMs - Trace.union(t.intervals)) / 1000.0 / n,
      "exec.cpu_s" -> t.cpuNs / 1e9 / n, "exec.run_s" -> t.runMs / 1000.0 / n,
      "exec.gc_s" -> t.gcMs / 1000.0 / n,
      "exec.core_util" -> (if (opWallMs > 0) t.runMs / (opWallMs * Cores) else 0.0),
      "scan.input_mb" -> t.inBytes / MB / n, "scan.input_rows" -> t.inRows / n,
      "shuffle.write_mb" -> t.shufW / MB / n, "shuffle.read_mb" -> t.shufR / MB / n,
      "shuffle.fetch_wait_s" -> t.fetchMs / 1000.0 / n, "spill.mb" -> t.spill / MB / n,
      "sink.output_mb" -> t.outBytes / MB / n,
      "storage.peak_mb" -> tr.storagePeak / MB)
    val modules = PipelineModules.flatMap { m =>
      val a = tr.byModule.getOrElse(m, new tr.Agg)
      Seq(s"$m.busy_s" -> Trace.union(a.intervals) / 1000.0 / n, s"$m.jobs" -> a.jobs / n,
        s"$m.cpu_s" -> a.cpuNs / 1e9 / n, s"$m.shuffle_mb" -> a.shufW / MB / n)
    }
    val stream = StreamSums.map(k => s"stream.$k" -> tr.stream(k) / n) :+
      ("stream.state_mb" -> tr.stream("state_bytes") / MB / n)
    Map("sink.files" -> 0.0, "report.busy_s" -> 0.0) ++ spark ++ modules ++ stream ++
      p.layers
  }
}

/** Minimal JSON writer for the record (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
