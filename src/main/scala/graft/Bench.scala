package graft

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main — runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR. Results are forced with a noop-sink write (full
  * materialization of every output column — `count()` would let
  * Catalyst prune the aggregates away).
  *
  * Output protocol (timeout-proof): ONE flushed JSON line per query as
  * it completes — `{"query":name,"sec":min,"max":max,"jobs":j,
  * "stages":s,"tasks":t}` — followed by a short total line (count +
  * seconds only; the per-query lines carry the data, and a fat total
  * line got truncated in the round-5 capture). A driver timeout
  * (rc=124) then costs only the un-run tail, never the whole round's
  * data. `jobs`, `stages` and `tasks` count the query's first run,
  * the eager jobs that run while `fn(spark, dir)` builds the frame
  * included. They do not move with the host, so on the same data a
  * counter delta means a code change.
  *
  * Scale mode (`SPARK_GRAFT_SCALE_REPS=10[,100]`, see `scaleQueries`)
  * times the same queries over the base dir and over R× replicas of
  * it built under /tmp (`replicate`), one row per query and decade
  * with `reps` and `factor`.
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
  /** Jobs, stages and tasks Spark ran for one query's first run. */
  final case class Counts(jobs: Int, stages: Int, tasks: Int) {
    def fields: String = s""","jobs":$jobs,"stages":$stages,"tasks":$tasks"""
  }

  /** One query's min, max and first-run seconds over `runs` runs, and
    * the counters of its first run. */
  final case class Timing(min: Double, max: Double, runs: Int, first: Double, counts: Counts)

  /** One bench pass: per query timing in run order, plus the names of
    * the queries that threw. */
  final case class Record(
      results: collection.mutable.LinkedHashMap[String, Timing],
      failed: Seq[String]) {
    /** The bench's exit status: 1 once any query failed. */
    def status: Int = if (failed.isEmpty) 0 else 1
    def failedField: String =
      "\"failed\":" + failed.map(Verify.jsonString).mkString("[", ",", "]")
  }

  /** Counts the jobs, stages and tasks between [[begin]] and [[end]].
    * Both drain the listener bus first, so the counts cover exactly the
    * work submitted in between; the bench runs one query at a time, so
    * that work is the query's own, eager construction jobs included. */
  private final class Counter(sc: SparkContext) extends SparkListener {
    private var jobs, stages, tasks = 0
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized { tasks += 1 }
    def begin(): Unit = { ListenerBus.drain(sc); synchronized { jobs = 0; stages = 0; tasks = 0 } }
    def end(): Counts = { ListenerBus.drain(sc); synchronized(Counts(jobs, stages, tasks)) }
  }

  /** Times each query with a noop-sink write and `emit`s one JSON line
    * per query: a timing row with the first run's counters, or an error
    * row when the query throws. `tag(name, min)` appends fields to the
    * query's row (`min` is None on an error row). */
  def runQueries(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      budgetSec: Double, forcedRepeat: Option[Int], emit: String => Unit,
      tag: (String, Option[Double]) => String = (_, _) => ""): Record = {
    val benchStart = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - benchStart) / 1e9
    // "first" = the query's FIRST-run wall: for memoized families the
    // first run pays the shared cold build while min is the warm plan
    // cost — emitting both lets bench_diff attribute a big max to the
    // cold build mechanically instead of re-adjudicating it as noise.
    // Emitted only when >1 run happened (single-run rows have
    // first == sec == max by construction).
    def line(name: String, t: Timing, remeasured: Boolean = false): String =
      "{\"query\":\"" + name + "\",\"sec\":" + f"${t.min}%.4f" + ",\"max\":" + f"${t.max}%.4f" +
        (if (t.runs > 1) ",\"first\":" + f"${t.first}%.4f" else "") +
        (if (remeasured) ",\"remeasured\":true" else "") +
        t.counts.fields + tag(name, Some(t.min)) + "}"
    val results = collection.mutable.LinkedHashMap.empty[String, Timing]
    val failed = collection.mutable.ArrayBuffer.empty[String]
    def fail(name: String, e: Throwable): Unit = {
      results.remove(name)
      failed += name
      emit("{\"query\":\"" + name + "\",\"error\":" + Verify.jsonString(e.toString) +
        tag(name, None) + "}")
    }
    def once(fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val counter = new Counter(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try {
      for ((name, fn) <- queries)
        try {
          // Adaptive repeat: fast queries get a second run (min damps the
          // first-run per-plan codegen cost); queries already past 2 s —
          // or ANY query once the wall budget is spent — keep their single
          // timing. min AND max are both reported so sandbox noise is
          // distinguishable from regression without a rerun.
          counter.begin()
          val t1 = once(fn)
          val counts = counter.end()
          val times = forcedRepeat match {
            case Some(k) => t1 +: (2 to k).map(_ => once(fn))
            case None if t1 > 2.0 || elapsed() > budgetSec => Seq(t1)
            case None => Seq(t1, once(fn))
          }
          results(name) = Timing(times.min, times.max, times.size, t1, counts)
          emit(line(name, results(name)))
        } catch { case e: Throwable => fail(name, e) }
    } finally spark.sparkContext.removeSparkListener(counter)
    // Outlier re-measure pass: a contention spike or a memo-family
    // cold build during a best-of-one query is indistinguishable from
    // a regression in the record. Re-run (once) every single-run query
    // that sits above 3.5× the run median and keep the better reading;
    // bounded to 24 queries and the remaining budget so the pass can't
    // itself blow the wall clock. 3.5×/24 covers the measured band of
    // 2–4 s cold-hit rows (sec == first, 3.8–7.9× the median) that a
    // 5×/top-8 pass left un-remeasured as false SLOWER flags.
    if (results.nonEmpty) {
      val median = results.values.map(_.min).toSeq.sorted.apply(results.size / 2)
      val outliers = results.toSeq
        .filter { case (_, t) => t.runs == 1 && t.min > 3.5 * median }
        .sortBy(-_._2.min).take(24)
      val fns = queries.toMap
      for ((name, t) <- outliers if elapsed() < 2.0 * budgetSec)
        try {
          val r = once(fns(name))
          results(name) = t.copy(min = math.min(t.min, r), max = math.max(t.max, r), runs = 2)
          emit(line(name, results(name), remeasured = true))
        } catch { case e: Throwable => fail(name, e) }
    }
    Record(results, failed.toSeq)
  }

  /** Skipped on replica decades: each is an in-cell pair enumerator
    * over every vector, and the replicas copy vectors exactly, so R
    * replicas put R² pairs in every cell. Their time there would
    * measure that densification, not scale. */
  val ReplicaSkips: Set[String] =
    Set("ann_knn_graph", "ann_knn_classify", "embedding_clusters", "semdedup")

  /** Scale mode: times `queries` over `base` and then over its replica
    * for each entry of `reps`, one decade after the other. Every
    * decade starts from `Caches.clearAll()`, so its first memo consumer
    * pays the cold build. Each row gains `reps` and `factor` (the
    * decade's min over the base's); a [[ReplicaSkips]] query gets a
    * `skipped` row on each replica decade. */
  def scaleQueries(spark: SparkSession, base: String, reps: Seq[Int], root: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      budgetSec: Double, forcedRepeat: Option[Int], emit: String => Unit): Seq[(Int, Record)] = {
    var baseMin = Map.empty[String, Double]
    for (r <- (1 +: reps).distinct) yield {
      val dir = if (r == 1) base else replicate(spark, base, r, root)
      val (run, skip) = queries.partition { case (n, _) => r == 1 || !ReplicaSkips(n) }
      for ((n, _) <- skip)
        emit(s"""{"query":"$n","reps":$r,"skipped":"in-cell pair enumerator on exact vector replicas"}""")
      Caches.clearAll()
      def tag(n: String, min: Option[Double]): String = s""","reps":$r""" +
        min.flatMap(m => if (r == 1) Some(1.0) else baseMin.get(n).map(m / _))
          .fold("")(f => f""","factor":$f%.2f""")
      val record = runQueries(spark, dir, run, budgetSec, forcedRepeat, emit, tag)
      if (r == 1) baseMin = record.results.map { case (n, t) => n -> t.min }.toMap
      r -> record
    }
  }

  private val CipherBase = "abcdefghijklmnopqrstuvwxyz"

  /** One a-z permutation per replica (replica 0 the identity), each
    * re-seeded until its image of `vocab`'s words of 3 or more chars is
    * disjoint from the base's and every earlier replica's.
    *
    * Why a cipher: a bijective char map preserves every within-replica
    * structure the dedup family measures — token equality (the
    * jaccard/minhash axes), document lengths and exact character edit
    * distances (the PassJoin axis) — so each replica carries exactly
    * the base corpus's pair structure, and duplicate density is
    * unchanged by construction. A naive copy would give every doc R
    * exact twins and measure densification, not scale; per-token
    * suffixes keep only the token-level part and inject a shared
    * substring into every token, which densified PassJoin candidates
    * 1.9× at 10 replicas and 8.9× at 100. Cross-replica token
    * collisions would re-couple replicas, and replica pairs grow
    * quadratically (a first cipher without rejection gave 74k
    * cross-replica candidates at 10 replicas, about 17 % of the pair
    * space), hence the rejection. Words under 3 chars are exempt: a
    * 1-char word has only 26 images, and a shared ≤2-char token is
    * below every measured threshold. The vocabulary still grows about
    * R×, which keeps the tf-idf, perplexity and vocab-growth axes
    * honest. */
  private[graft] def cipherAlphabets(reps: Int, vocab0: Set[String]): Seq[String] = {
    val vocab = vocab0.filter(_.length >= 3)
    val out = collection.mutable.ArrayBuffer(CipherBase)
    val seen = collection.mutable.Set[String]() ++ vocab
    for (r <- 1 until reps) {
      var attempt = 0
      var alpha = ""
      var mapped = Set.empty[String]
      do {
        alpha = new scala.util.Random(7919L * r + 17 + attempt * 1000003L)
          .shuffle(CipherBase.toList).mkString
        val m = CipherBase.zip(alpha).toMap
        mapped = vocab.map(_.map(c => m.getOrElse(c, c)))
        attempt += 1
      } while (mapped.exists(seen.contains) && attempt < 1000)
      require(!mapped.exists(seen.contains), s"no collision-free cipher found for rep $r")
      seen ++= mapped
      out += alpha
    }
    out.toSeq
  }

  /** The `reps`× replica of the tables under `base`, at
    * `root/graft_scale_<base name>_x<reps>`; each table is written
    * once and reused by later runs. The replicas scale, they do not
    * densify:
    *  - events: generator events at the base's count × `reps`, one
    *    user per 100 events;
    *  - documents: one copy per replica under that replica's
    *    [[cipherAlphabets]] cipher, doc ids shifted per replica;
    *  - embeddings: vectors copied unchanged with vec ids shifted, so
    *    [[ReplicaSkips]] stay off them;
    *  - orders, lineitem, customer: order and customer keys shifted
    *    per replica, so order sizes and per-customer frequencies are
    *    unchanged (an unreplicated customer table would inner-join
    *    away every replica's revenue); part and supplier keys stay
    *    shared, so basket pair counts grow R× at constant support;
    *  - nation, region, part, supplier: copied. */
  def replicate(spark: SparkSession, base: String, reps: Int, root: String): String = {
    val dir = s"$root/graft_scale_${new java.io.File(base).getName}_x$reps"
    def build(table: String, parts: Int)(df: => DataFrame): Unit =
      if (!new java.io.File(s"$dir/$table.parquet/_SUCCESS").exists())
        df.drop("rep", "alphas").repartition(parts)
          .write.mode("overwrite").parquet(s"$dir/$table.parquet")
    /** `df` once per replica (column `rep`), each key in `shift` moved
      * by `rep` × its step */
    def replicated(df: DataFrame, shift: Map[String, Long]): DataFrame =
      df.withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
        .select(df.columns.toIndexedSeq.map(c => shift.get(c).fold(col(c))(step =>
          (col(c) + col("rep").cast("long") * step).as(c))) :+ col("rep"): _*)
    build("events", 32) {
      val n = Tables.events(spark, base).count() * reps
      sources.EventGenerator.events(spark, n, days = 30, users = math.max(1L, n / 100))
    }
    build("documents", 32) {
      val docs = Tables.documents(spark, base)
      val vocab = docs.select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "").distinct()
        .collect().map(_.getString(0)).toSet
      replicated(docs, Map("doc_id" -> 10000000L))
        .withColumn("alphas", typedlit(cipherAlphabets(reps, vocab)))
        .withColumn("text", expr(s"translate(text, '$CipherBase', element_at(alphas, rep + 1))"))
    }
    build("embeddings", 32)(replicated(Tables.embeddings(spark, base), Map("vec_id" -> 10000000L)))
    build("orders", 32)(replicated(Tables.orders(spark, base),
      Map("o_orderkey" -> 100000000L, "o_custkey" -> 10000000L)))
    build("lineitem", 32)(replicated(Tables.lineitem(spark, base), Map("l_orderkey" -> 100000000L)))
    build("customer", 8)(replicated(Tables.customer(spark, base), Map("c_custkey" -> 10000000L)))
    for (t <- Seq("nation", "region", "part", "supplier"))
      build(t, 1)(spark.read.parquet(s"$base/$t.parquet"))
    dir
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
    // SPARK_GRAFT_SCALE_REPS=10[,100] selects scale mode
    // (scaleQueries): the base and its replicas under /tmp, one
    // decade after the other. Like a named-query run it is no record.
    val scaleReps = sys.env.get("SPARK_GRAFT_SCALE_REPS")
      .map(_.split(",").map(_.trim.toInt).toSeq)
    val waitBudget =
      if (args.nonEmpty || scaleReps.nonEmpty) 0.0
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
    val named = SparkEntry.queries.toSeq.sortBy(_._1).filter(q => wanted.isEmpty || wanted(q._1))
    val emit = { (l: String) => println(l); System.out.flush() }
    val records = scaleReps match {
      case None => Seq(1 -> runQueries(spark, sfDir, named, budgetSec, forcedRepeat, emit))
      case Some(reps) =>
        scaleQueries(spark, sfDir, reps, "/tmp", named, budgetSec, forcedRepeat, emit)
    }
    val canaryEnd = Seq(canaryProbe(), canaryProbe()).min
    val shuffleEnd = Seq(shuffleProbe(), shuffleProbe()).min
    for ((reps, record) <- records) {
      val total = record.results.values.map(_.min).sum
      println(s"""{"metric":"total","value":$total,"unit":"sec","count":${record.results.size},""" +
        s""""sf":"$sfDir",""" + scaleReps.fold("")(_ => s""""reps":$reps,""") +
        f""""canary":$canaryStart%.4f,"canary_end":$canaryEnd%.4f,""" +
        f""""canary_shuffle_end":$shuffleEnd%.4f,$canaryFields,${record.failedField}}""")
    }
    System.out.flush()
    val record = records.head._2
    val results = record.results
    // Full-record sidecar: the driver's BENCH_r{N}.json keeps only a
    // truncated stdout tail, so the cross-round regression tripwire
    // (scripts/bench_diff.py) would otherwise diff just the tail's
    // queries. Write the COMPLETE per-query map to a local file the
    // tripwire prefers (copied to bench_full_r{N}.json per round).
    // Partial runs (named queries or scale mode) skip the write so they
    // can't clobber a complete record; failure to write (read-only
    // cwd) must never fail the bench itself.
    if (wanted.isEmpty && scaleReps.isEmpty)
      try {
        val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench_full.json")
        def m(sel: Timing => String) =
          results.map { case (n, t) => "\"" + n + "\":" + sel(t) }.mkString("{", ",", "}")
        def sec(d: Double) = f"$d%.4f"
        val total = results.values.map(_.min).sum
        val doc = "{\"queries\":" + m(t => sec(t.min)) + ",\"max\":" + m(t => sec(t.max)) +
          ",\"first\":" + m(t => sec(t.first)) + ",\"jobs\":" + m(_.counts.jobs.toString) +
          ",\"stages\":" + m(_.counts.stages.toString) +
          ",\"tasks\":" + m(_.counts.tasks.toString) + "," +
          f"""\"total\":$total%.4f,\"count\":${results.size},\"sf\":\"$sfDir\",""" +
          f"""\"canary\":$canaryStart%.4f,\"canary_end\":$canaryEnd%.4f,""" +
          f"""\"canary_shuffle_end\":$shuffleEnd%.4f,$canaryFields,${record.failedField}}"""
        java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
          doc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        ()
      } catch { case e: Throwable => System.err.println(s"[bench] sidecar write failed: ${e.getMessage}") }
    spark.stop()
    if (records.exists(_._2.status != 0)) sys.exit(1)
  }
}
