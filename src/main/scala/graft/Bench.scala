package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main — runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR. Results are forced with a noop-sink write (full
  * materialization of every output column — `count()` would let
  * Catalyst prune the aggregates away).
  *
  * Output protocol (timeout-proof): ONE flushed JSON line per query as
  * it completes — `{"query":name,"sec":min,"max":max}` — followed by a
  * short total line (count + seconds only; the per-query lines carry
  * the data, and a fat total line got truncated in the round-5
  * capture). A driver timeout (rc=124) then costs only the un-run
  * tail, never the whole round's data.
  *
  * A query that throws emits `{"query":name,"error":message}` instead
  * of a timing: it is left out of `total`, `count` and the sidecar's
  * per-query maps, named in the total line's `failed` list, and makes
  * the bench exit 1 after the run — a failure never reads as a fast
  * timing.
  *
  * Contention robustness:
  *  - SPARK_GRAFT_BENCH_BUDGET (seconds, default 480): once the
  *    measured wall exceeds it, remaining queries run SINGLE-run mode
  *    (no fast-query repeat) so a 3×-contended sandbox still emits all
  *    lines well inside the driver's timeout.
  *  - End-of-run outlier re-measure: any best-of-ONE query whose
  *    recorded time exceeds 5× the run median gets one re-run, and the
  *    smaller reading is re-emitted (`"remeasured":true`, both
  *    readings kept). Round 5's driver record carried four 12–22×
  *    contention spikes as query numbers; a 1-second re-run corrects
  *    that class without paying double wall clock for every query.
  *
  * Memoized families (the Dedup member-pair frame, the quality-LR
  * trained model): the bench runs every query in ONE session, so the
  * first family member to run pays the shared build and the rest read
  * it warm — by design, because that is the session-grain cost a real
  * consumer pays. Consequence for the record: the payer's `min` can
  * be a warm re-run (repeat or outlier legs) while its `max` keeps
  * the cold build cost; read family cold cost from `max`, amortized
  * cost from `min`. A fresh-JVM per-query harness would re-pay the
  * build N times and overstate the family by (N-1) builds. */
object Bench {
  /** One bench pass: per query (min, max, runs, first-run seconds) in
    * run order, plus the names of the queries that threw. */
  final case class Record(
      results: collection.mutable.LinkedHashMap[String, (Double, Double, Int, Double)],
      failed: Seq[String]) {
    /** The bench's exit status: 1 once any query failed. */
    def status: Int = if (failed.isEmpty) 0 else 1
    def failedField: String =
      "\"failed\":" + failed.map(Verify.jsonString).mkString("[", ",", "]")
  }

  /** Times each query with a noop-sink write and `emit`s one JSON line
    * per query: a timing row, or an error row when the query throws. */
  def runQueries(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      budgetSec: Double, forcedRepeat: Option[Int], emit: String => Unit): Record = {
    val benchStart = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - benchStart) / 1e9
    // "first" = the query's FIRST-run wall: for memoized families the
    // first run pays the shared cold build while min is the warm plan
    // cost — emitting both lets bench_diff attribute a big max to the
    // cold build mechanically instead of re-adjudicating it as noise.
    // Emitted only when >1 run happened (single-run rows have
    // first == sec == max by construction).
    def line(name: String, mn: Double, mx: Double, first: Double,
        runs: Int, remeasured: Boolean = false): String =
      "{\"query\":\"" + name + "\",\"sec\":" + f"$mn%.4f" + ",\"max\":" + f"$mx%.4f" +
        (if (runs > 1) ",\"first\":" + f"$first%.4f" else "") +
        (if (remeasured) ",\"remeasured\":true" else "") + "}"
    val results = collection.mutable.LinkedHashMap.empty[String, (Double, Double, Int, Double)]
    val failed = collection.mutable.ArrayBuffer.empty[String]
    def fail(name: String, e: Throwable): Unit = {
      results.remove(name)
      failed += name
      emit("{\"query\":\"" + name + "\",\"error\":" + Verify.jsonString(e.toString) + "}")
    }
    def once(fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    for ((name, fn) <- queries)
      try {
        // Adaptive repeat: fast queries get a second run (min damps the
        // first-run per-plan codegen cost); queries already past 2 s —
        // or ANY query once the wall budget is spent — keep their single
        // timing. min AND max are both reported so sandbox noise is
        // distinguishable from regression without a rerun.
        val t1 = once(fn)
        val times = forcedRepeat match {
          case Some(k) => t1 +: (2 to k).map(_ => once(fn))
          case None if t1 > 2.0 || elapsed() > budgetSec => Seq(t1)
          case None => Seq(t1, once(fn))
        }
        results(name) = (times.min, times.max, times.size, t1)
        emit(line(name, times.min, times.max, t1, times.size))
      } catch { case e: Throwable => fail(name, e) }
    // Outlier re-measure pass: a contention spike or a memo-family
    // cold build during a best-of-one query is indistinguishable from
    // a regression in the record. Re-run (once) every single-run query
    // that sits above 3.5× the run median and keep the better reading;
    // bounded to 24 queries and the remaining budget so the pass can't
    // itself blow the wall clock. 3.5×/24 covers the measured band of
    // 2–4 s cold-hit rows (sec == first, 3.8–7.9× the median) that a
    // 5×/top-8 pass left un-remeasured as false SLOWER flags.
    if (results.nonEmpty) {
      val median = results.values.map(_._1).toSeq.sorted.apply(results.size / 2)
      val outliers = results.toSeq
        .filter { case (_, (mn, _, runs, _)) => runs == 1 && mn > 3.5 * median }
        .sortBy(-_._2._1).take(24)
      val fns = queries.toMap
      for ((name, (mn, mx, _, first)) <- outliers if elapsed() < 2.0 * budgetSec)
        try {
          val t = once(fns(name))
          results(name) = (math.min(mn, t), math.max(mx, t), 2, first)
          emit(line(name, math.min(mn, t), math.max(mx, t), first, 2, remeasured = true))
        } catch { case e: Throwable => fail(name, e) }
    }
    Record(results, failed.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "480").toDouble
    val spark = GraftSession.builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm up codegen/JIT/scan paths so the first measured query isn't
    // charged for JVM startup costs
    Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    Tables.events(spark, sfDir).groupBy("event_type").count()
      .write.format("noop").mode("overwrite").save()
    // Host-health canary: a CONSTANT CPU-bound probe (fixed row count,
    // scan-free, data-independent) whose wall time moves only with the
    // host's effective CPU throughput. This sandbox throttles
    // progressively under sustained load (r12: four same-code full
    // benches read 189→308 s with disjoint mover sets), so every
    // record carries the probe at start AND end — bench_diff.py
    // refuses to treat a cross-record per-query diff as a regression
    // signal when the canaries differ >2×, and a start/end divergence
    // marks the record as taken on a degrading host. min of two runs
    // damps residual JIT on the probe's own codegen.
    //
    // The quiet band is DATA, not lore: [lo, hi] measured across the
    // r11–r13 quiet-window records, emitted into every record
    // (stdout line + sidecar) so bench_diff and future judges read it
    // from the record itself instead of re-deriving it from SURVEY
    // prose. Retune HERE if the probe or the host class changes.
    //
    // Core-count-aware (r15, r14 VERDICT #2): the probe row count
    // scales with $SPARK_GRAFT_CPUS so PER-CORE work is constant —
    // 32M rows/partition, one partition per core — and the SAME band
    // applies at any core count. The fixed 1.024B-row form could never
    // be in-band at 8 cores (≈0.49 s), so the driver's low-core
    // scaling run burned its whole 300 s wait budget and started
    // flagged-exhausted (BENCH_r14_c8). At cpus=32 the row count and
    // band are bit-identical to the r14 probe, so records stay
    // cross-round comparable.
    val CanaryRows = 32000000L * cpus.toInt // 32M rows/core ≈ 0.21–0.27 s quiet
    val CanaryBandLo = 0.21
    val CanaryBandHi = 0.27
    def canaryProbe(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, CanaryRows, 1L, cpus.toInt)
        .selectExpr("max(xxhash64(id)) AS s") // max: ANSI-safe (a 1.024B-row sum of 64-bit hashes overflows)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // SECOND probe class (r14): two same-code runs read 318 s and
    // 285 s against a 185 s record with BOTH cpu-canaries in-band —
    // the narrow CPU-bound probe is blind to whatever throttles real
    // query streams (scheduler/shuffle/IO path, not raw CPU). This
    // probe pays a constant-per-core EXCHANGE (1024-key hash aggregate
    // over 4M rows/core — core-count-aware like the cpu probe, and
    // bit-identical to the r14 form at cpus=32) so that throttle class
    // lands on a constant workload too.
    //
    // Band promotion (r15, r14 VERDICT #3): the 0.60 provisional hold
    // is replaced by a band DERIVED from the six quiet in-band-cpu
    // record readings accumulated r14–r15 (0.357/0.420/0.438/0.444/
    // 0.453/0.478) against throttled readings 0.51–1.36: quiet band
    // [0.30, 0.55], emitted as canary_shuffle_band in the total line +
    // sidecar so bench_diff reads it from the record (same contract as
    // canary_band). Known limit, carried from r14: one throttled run
    // read 0.429 "quiet" — no shuffle-probe value fully separates the
    // classes, which is why bench_diff ALSO keeps the uniform-
    // inflation downgrade as the backstop.
    val ShuffleBandLo = 0.30
    val ShuffleBandHi = 0.55
    def shuffleProbe(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 4000000L * cpus.toInt, 1L, cpus.toInt)
        .selectExpr("id % 1024 AS k", "id")
        .groupBy("k").agg(org.apache.spark.sql.functions.expr("max(xxhash64(id)) AS s"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // Cooldown gate (r13 VERDICT #1): two driver rounds running
    // (BENCH_r12 235 s, BENCH_r13 311 s) were throttled-host records —
    // the host was still hot from whatever ran before the bench, every
    // query read inflated, and each record cost a full adjudication
    // pass to dismiss. Instead of stamping a bad record and
    // adjudicating later, WAIT for the host: re-probe every 30 s until
    // the canary is in-band, bounded by SPARK_GRAFT_CANARY_WAIT
    // seconds (default 300; 0 disables). If the budget exhausts the
    // bench still runs — a late record beats no record — but the
    // record says so machine-readably (canary_wait_exhausted), so no
    // one mistakes it for a clean measurement.
    // named-query iteration runs aren't records (they skip the sidecar
    // write below) — don't make them pay the cooldown
    val waitBudget =
      if (args.nonEmpty) 0.0
      else sys.env.getOrElse("SPARK_GRAFT_CANARY_WAIT", "300").toDouble
    var canaryStart = Seq(canaryProbe(), canaryProbe()).min
    var shuffleStart = Seq(shuffleProbe(), shuffleProbe()).min
    val waitT0 = System.nanoTime()
    def waited(): Double = (System.nanoTime() - waitT0) / 1e9
    while ((canaryStart > CanaryBandHi || shuffleStart > ShuffleBandHi)
        && waited() < waitBudget) {
      Thread.sleep(30000L)
      canaryStart = Seq(canaryProbe(), canaryProbe()).min
      shuffleStart = Seq(shuffleProbe(), shuffleProbe()).min
    }
    val canaryWait = waited()
    val canaryExhausted =
      canaryStart > CanaryBandHi || shuffleStart > ShuffleBandHi
    // "cpus" self-describes the record: the r14 driver's 8-core
    // scaling run clobbered bench_full.json and nothing in the file
    // said so — a record now carries its own core count.
    def canaryFields: String =
      f""""canary_band":[$CanaryBandLo%.2f,$CanaryBandHi%.2f],""" +
        f""""canary_shuffle_band":[$ShuffleBandLo%.2f,$ShuffleBandHi%.2f],""" +
        f""""canary_wait_sec":$canaryWait%.1f,"canary_wait_exhausted":$canaryExhausted,""" +
        f""""canary_shuffle":$shuffleStart%.4f,"cpus":$cpus"""
    println(f"""{"canary_start":$canaryStart%.4f,$canaryFields}""")
    System.out.flush()
    // Optional args restrict to the named queries (iteration aid; the
    // driver's no-arg invocation still benches everything).
    val wanted = args.toSet
    // SPARK_GRAFT_BENCH_REPEAT=k forces exactly k runs per query (min
    // reported) regardless of the adaptive/budget logic — the
    // adjudication mode scripts/bench_diff.py --adjudicate uses to
    // decide REGRESSED vs NOISY on a stable min instead of one sample.
    val forcedRepeat = sys.env.get("SPARK_GRAFT_BENCH_REPEAT").map(_.toInt)
    val record = runQueries(spark, sfDir,
      SparkEntry.queries.toSeq.sortBy(_._1).filter(q => wanted.isEmpty || wanted(q._1)),
      budgetSec, forcedRepeat, { l => println(l); System.out.flush() })
    val results = record.results
    val canaryEnd = Seq(canaryProbe(), canaryProbe()).min
    val shuffleEnd = Seq(shuffleProbe(), shuffleProbe()).min
    val total = results.values.map(_._1).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","count":${results.size},"sf":"$sfDir",""" +
      f""""canary":$canaryStart%.4f,"canary_end":$canaryEnd%.4f,""" +
      f""""canary_shuffle_end":$shuffleEnd%.4f,$canaryFields,${record.failedField}}""")
    System.out.flush()
    // Full-record sidecar: the driver's BENCH_r{N}.json keeps only a
    // truncated stdout tail, so the cross-round regression tripwire
    // (scripts/bench_diff.py) would otherwise diff just the tail's
    // queries. Write the COMPLETE per-query map to a local file the
    // tripwire prefers (copied to bench_full_r{N}.json per round).
    // Partial runs (named-query iteration aid) skip the write so they
    // can't clobber a complete record; failure to write (read-only
    // cwd) must never fail the bench itself.
    if (wanted.isEmpty)
      try {
        val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench_full.json")
        def m(sel: ((Double, Double, Int, Double)) => Double) =
          results.map { case (n, v) => "\"" + n + "\":" + f"${sel(v)}%.4f" }.mkString(",")
        val doc = "{\"queries\":{" + m(_._1) + "},\"max\":{" + m(_._2) + "}," +
          "\"first\":{" + m(_._4) + "}," +
          f"""\"total\":$total%.4f,\"count\":${results.size},\"sf\":\"$sfDir\",""" +
          f"""\"canary\":$canaryStart%.4f,\"canary_end\":$canaryEnd%.4f,""" +
          f"""\"canary_shuffle_end\":$shuffleEnd%.4f,$canaryFields,${record.failedField}}"""
        java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
          doc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        ()
      } catch { case e: Throwable => System.err.println(s"[bench] sidecar write failed: ${e.getMessage}") }
    spark.stop()
    if (record.status != 0) sys.exit(record.status)
  }
}
