package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. It attaches Spark's public listeners
  * from the benchmark side and records spans op -> SQL execution
  * (issuing module) -> job -> stage, in memory, for the harness to
  * reduce into per-layer metrics when the run ends.
  *
  * Attribution. The harness brackets each op with [[begin]] and
  * [[end]]; both drain the listener bus, so every event the op's work
  * posted lands inside its bracket and nothing else does. A job's
  * module is the innermost `graft.` frame of its SQL execution's call
  * stack (`SparkListenerSQLExecutionStart.details`; under AQE the job's
  * own call site reads `CompletableFuture`), falling back to the first
  * stage's call site for jobs outside any SQL execution. A job submitted
  * under [[Trace.layer]] belongs to that layer instead. `sources.MartSink`
  * splits in two: `merge_jdbc` when the stack passes through
  * `MartSink.mergeJdbc`, `write` otherwise. A streaming query's jobs
  * all carry the call stack frozen when the query started, so for them
  * the frame rule cannot see the sink: a SQL execution of such a job
  * that writes files (`InsertIntoHadoopFsRelationCommand`, which in
  * `StreamingPipeline` only `MartSink` issues) belongs to
  * `sources.MartSink.write`, the rest to `stream.micro_batch`. A
  * `StreamingQueryListener` sums the queries' progress reports per op. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext

  final class Agg {
    var jobs, stages, tasks, sqlExecs = 0L
    var cpuNs, runMs, gcMs, inBytes, inRows, shufW, shufR, fetchMs, spill, outBytes,
        catalystMs = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private final class Job(val op: Int, val exec: Long, val module: String, val start: Long) {
    var end = -1L
    var stages, tasks = 0
  }

  @volatile private var current = -1
  private val execModule = mutable.Map.empty[Long, String]
  private val execWrites = mutable.Set.empty[Long]
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  val total = new Agg
  val byModule = mutable.Map.empty[String, Agg]
  private val rddBlocks = mutable.Map.empty[String, Long]
  private var storageNow = 0L
  var storagePeak = 0L
  /** streaming progress, summed over the queries' progress reports */
  val stream = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** per query: state rows and state bytes at its latest progress */
  private val stateNow = mutable.Map.empty[java.util.UUID, (Long, Long)]

  private def aggs(j: Job): Seq[Agg] = Seq(total, byModule.getOrElseUpdate(j.module, new Agg))

  private val FrameRe = """(?:^|/)(graft\.[^(\s]*)\(""".r

  /** The module of the innermost `graft.` frame in a call stack. */
  def moduleOf(stack: String): String = {
    val frames = stack.split("\n").toSeq.flatMap(l => FrameRe.findFirstMatchIn(l.trim).map(_.group(1)))
    frames.headOption.fold("other") { f =>
      val module = f.split('.').dropRight(1).mkString(".").stripPrefix("graft.").takeWhile(_ != '$')
      if (module != "sources.MartSink") module
      else if (frames.exists(_.startsWith("graft.sources.MartSink$.mergeJdbc"))) s"$module.merge_jdbc"
      else s"$module.write"
    }
  }

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Trace.this.synchronized {
        execModule(s.executionId) = moduleOf(s.details)
        if (s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand"))
          execWrites += s.executionId
        if (current >= 0) total.sqlExecs += 1
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      if (current >= 0) {
        val props = Option(e.properties)
        val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        val streaming = props.exists(_.getProperty("sql.streaming.queryId") != null)
        val module = props.flatMap(p => Option(p.getProperty(Trace.LayerKey)))
          .orElse(Option.when(streaming)(
            if (exec.exists(execWrites)) "sources.MartSink.write" else "stream.micro_batch"))
          .orElse(exec.flatMap(execModule.get))
          .getOrElse(moduleOf(e.stageInfos.headOption.map(_.details).getOrElse("")))
        val j = new Job(current, exec.getOrElse(-1L), module, e.time)
        jobs(e.jobId) = j
        e.stageIds.foreach(stageJob(_) = e.jobId)
        aggs(j).foreach(_.jobs += 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time
        aggs(j).foreach(_.intervals += ((j.start, e.time)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      for (jid <- stageJob.get(e.stageInfo.stageId); j <- jobs.get(jid))
        { j.stages += 1; aggs(j).foreach(_.stages += 1) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) j.tasks += 1
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); a <- aggs(j)) {
        a.tasks += 1
        if (m != null) {
          a.cpuNs += m.executorCpuTime; a.runMs += m.executorRunTime; a.gcMs += m.jvmGCTime
          a.inBytes += m.inputMetrics.bytesRead; a.inRows += m.inputMetrics.recordsRead
          a.shufW += m.shuffleWriteMetrics.bytesWritten
          a.shufR += m.shuffleReadMetrics.totalBytesRead
          a.fetchMs += m.shuffleReadMetrics.fetchWaitTime
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Trace.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val size = b.memSize + b.diskSize
        storageNow += size - rddBlocks.getOrElse(b.blockId.name, 0L)
        if (size == 0) rddBlocks.remove(b.blockId.name) else rddBlocks(b.blockId.name) = size
        if (current >= 0) storagePeak = math.max(storagePeak, storageNow)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized {
        if (current >= 0) total.catalystMs += qe.tracker.phases.values.map(_.durationMs).sum
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        stateNow(p.runId) = (p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
        if (current >= 0) {
          stream("trigger_ms") += ms("triggerExecution")
          stream("add_batch_ms") += ms("addBatch")
          stream("planning_ms") += ms("queryPlanning")
          stream("offsets_ms") += ms("latestOffset") + ms("getBatch") + ms("walCommit")
          stream("commit_ms") += ms("commitOffsets")
          stream("state_commit_ms") += p.stateOperators.map(_.commitTimeMs).sum.toDouble
          stream("late_rows") += p.stateOperators.map(_.numRowsDroppedByWatermark).sum.toDouble
        }
      }
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** The recorded job spans (op, SQL execution, module, start and end
    * millis, stages, tasks), in job order, for the run's record. */
  def spans: Seq[Map[String, Any]] = synchronized {
    jobs.toSeq.sortBy(_._1).map { case (id, j) =>
      Map("op" -> j.op, "job" -> id, "exec" -> j.exec, "module" -> j.module,
        "start_ms" -> j.start, "end_ms" -> j.end, "stages" -> j.stages, "tasks" -> j.tasks)
    }
  }

  /** Open op `k`'s bracket. */
  def begin(k: Int): Unit = { org.apache.spark.perfbench.Bus.drain(sc); current = k }

  /** Close the open bracket once every event it posted is delivered;
    * adds the streaming state held at that point to `stream`. */
  def end(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      current = -1
      stream("state_rows") += stateNow.values.map(_._1).sum.toDouble
      stream("state_bytes") += stateNow.values.map(_._2).sum.toDouble
    }
  }
}

object Trace {
  private val LayerKey = "perfbench.layer"

  /** Runs `body` with every job it submits attributed to `layer` (a
    * Spark local property, which each job snapshots at submission). */
  def layer[T](spark: SparkSession, layer: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty(LayerKey, layer)
    try body finally spark.sparkContext.setLocalProperty(LayerKey, null)
  }

  /** Length of the union of intervals: the busy time of a layer whose
    * jobs may overlap. */
  def union(iv: Iterable[(Long, Long)]): Long = {
    var covered = 0L
    var reach = Long.MinValue
    for ((s, e) <- iv.toSeq.sortBy(_._1)) {
      val from = math.max(s, reach)
      if (e > from) covered += e - from
      reach = math.max(reach, e)
    }
    covered
  }
}
