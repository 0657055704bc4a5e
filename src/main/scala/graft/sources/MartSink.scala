package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.jdbc.JdbcDialects

/** Idempotent mart writer.
  *
  * The reference makes every mart build idempotent with DELETE +
  * INSERT for the target date (sql/marts/mart_user_daily.sql et al.).
  * The Spark-native equivalent is DYNAMIC partition overwrite: write
  * the recomputed date partitions and replace only those, leaving the
  * rest of the mart untouched — same retry-safe semantics, no
  * table-wide truncate, and at 100 TB a daily backfill only ever
  * rewrites the touched dates.
  */
object MartSink {

  /** Overwrite exactly the partitions present in `df` (dynamic mode).
    * `partitionCols` is typically Seq("event_date"). The mode is a
    * writer option, not the session conf, so concurrent writers (the
    * pipeline's mart chains) cannot turn each other's write into a
    * static overwrite that wipes every other partition. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Dynamic-overwrite write with a SORTED data layout on `sortCols`
    * — the layout lever for downstream scans: parquet keeps min/max
    * statistics per row group and per file, and a range-clustered
    * sorted layout makes those ranges narrow and DISJOINT, so a later
    * selective read (one user, one product, one session) skips whole
    * row groups/files instead of scanning the partition. At 100 TB
    * this is the difference between a point lookup touching megabytes
    * or the whole date partition. Costs one range exchange at write
    * time (`repartitionByRange` so different tasks own different key
    * ranges — a task-local sort alone would leave every file spanning
    * the full key range) plus a task-local sort; reads pay nothing. */
  def writePartitionedSorted(df: DataFrame, path: String,
                             partitionCols: Seq[String], sortCols: Seq[String]): Unit = {
    val keys = (partitionCols ++ sortCols).map(df.col)
    // RangePartitioner samples range bounds with a SEPARATE job over
    // the child plan before the shuffle job — persist the input so an
    // expensive upstream mart build isn't computed twice. If the
    // caller already persisted df, reuse THEIR cache and leave it
    // alone on exit (persist() on a cached frame is a no-op, so an
    // unconditional unpersist here would silently drop the caller's
    // cache out from under them).
    val wasCached = df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val in = if (wasCached) df
             else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try
      writePartitioned(
        in.repartitionByRange(keys: _*).sortWithinPartitions(keys: _*),
        path, partitionCols)
    finally {
      if (!wasCached) in.unpersist()
      ()
    }
  }

  /** Dynamic-overwrite write with a Z-ORDERED (Morton-curve) layout on
    * `zCols` — multi-dimensional data skipping where
    * `writePartitionedSorted` is one-dimensional. A linear sort on
    * (a, b) gives narrow per-file min/max ranges on `a` only: every
    * file still spans b's full domain, so a filter on `b` alone skips
    * nothing. Z-ordering interleaves the bits of the columns'
    * QUANTILE-bucket indices (equi-depth, so skew doesn't collapse the
    * curve) and range-clusters on the interleaved key: each file then
    * covers a small hyper-rectangle of the (a, b) space and carries
    * narrow parquet min/max stats on EVERY z column — a selective
    * filter on any one of them prunes most files/row groups. This is
    * the layout a 100 TB mart wants when reads filter sometimes by
    * user, sometimes by product, sometimes by session.
    *
    * Cost at write time: one `approxQuantile` sampling pass over the
    * z columns (2^bits−1 cut points each) + the same range exchange
    * and local sort `writePartitionedSorted` pays. Reads pay nothing.
    * The interleave itself is two native codegen'd expressions per
    * column (`quantile_bucket` binary search + `spread_bits`) OR-ed
    * together — no UDF, no CASE tree.
    *
    * `bits` per column defaults to 8 (256 buckets/column — with 2-3
    * z columns that is 65k-16M distinct cells, far more than the file
    * count, so the range partitioner stays balanced); `zCols.size *
    * bits` must stay below 63. Nulls sort to bucket 0. */
  def writeZOrdered(df: DataFrame, path: String, partitionCols: Seq[String],
                    zCols: Seq[String], bits: Int = 8, relErr: Double = 0.001): Unit = {
    require(zCols.nonEmpty, "writeZOrdered needs at least one z column")
    require(zCols.size * bits < 63, s"${zCols.size} columns x $bits bits exceeds a long")
    val spark = df.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(spark)
    import org.apache.spark.sql.functions._
    val wasCached = df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    // the quantile sampling pass and the write would otherwise each
    // recompute the upstream mart (same reason as writePartitionedSorted)
    val in = if (wasCached) df
             else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val probes = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
      val bounds = in.select(zCols.map(c => col(c).cast("double").as(c)): _*)
        .stat.approxQuantile(zCols.toArray, probes, relErr)
      val zkey = zCols.zip(bounds).zipWithIndex.map { case ((c, bs), j) =>
        // ties in a low-cardinality/skewed column yield duplicate cut
        // points — dedup keeps the boundary array strictly increasing
        // (the bucket map must be monotone, not equi-populated)
        val cuts = bs.distinct.sorted.toSeq
        call_function("spread_bits",
          coalesce(call_function("quantile_bucket", col(c).cast("double"),
            lit(cuts.toArray)), lit(0)),
          lit(zCols.size), lit(j), lit(bits))
      }.reduce(_ bitwiseOR _)
      val keys = partitionCols.map(col) :+ col("__zkey")
      writePartitioned(
        in.withColumn("__zkey", zkey)
          .repartitionByRange(keys: _*)
          .sortWithinPartitions(keys: _*)
          .drop("__zkey"),
        path, partitionCols)
    } finally {
      if (!wasCached) in.unpersist()
      ()
    }
  }

  /** Small-file compaction for a partitioned mart — the operational
    * complement of the streaming sinks and incremental backfills,
    * which accrete files far below the row-group sweet spot (every
    * micro-batch/backfill writes its own files). At 100 TB the cost
    * of fragmentation is per-file open/footer overhead, a task per
    * tiny file unless the scan packs them, and min/max stats so
    * fine-grained they stop describing anything — compaction restores
    * target-sized files and (when `sortCols` is given) re-establishes
    * the sorted/Z-ordered clustering that interleaved appends erode,
    * i.e. the OPTIMIZE step of a lakehouse table maintenance loop.
    *
    * Only OVER-FRAGMENTED partitions are touched: a partition with
    * `files > max(minFiles-1, ceil(bytes/targetBytes))` is read back
    * (one packed scan of just those leaf directories via `basePath`,
    * so untouched partitions are never opened) and rewritten through
    * the same dynamic-overwrite path every writer here uses — re-
    * running is a no-op and healthy partitions keep their exact
    * files. With `sortCols` empty there is NO shuffle: the file scan
    * itself packs small files into ~`maxPartitionBytes` splits and
    * each split rewrites as one file. Concurrent writers to the SAME
    * partition are out of scope (same contract as every overwrite
    * here). Returns the compacted partition directories. */
  /** Dry-run census for `compact` — the table-maintenance dashboard
    * row: per leaf partition, file count, bytes, the file count the
    * target implies, and whether `compact` would rewrite it. Same
    * fragmentation rule as `compact` (by construction: both call
    * `fragmentedLeafDirs`), so the plan can never disagree with the
    * action. Driver-side listing only — no partition is opened. */
  def compactionPlan(spark: org.apache.spark.sql.SparkSession, path: String,
      partitionCols: Seq[String], targetBytes: Long = 128L << 20,
      minFiles: Int = 2): DataFrame = {
    import spark.implicits._
    val rows = leafPartitionStats(spark, path, partitionCols).map {
      case (dir, files, bytes) =>
        val target = math.max(minFiles - 1L, (bytes + targetBytes - 1) / targetBytes)
        (dir, files, bytes, target, files > target)
    }
    import org.apache.spark.sql.functions.{asc, desc}
    rows.toDF("partition_dir", "n_files", "bytes", "target_files", "fragmented")
      .orderBy(desc("fragmented"), desc("n_files"), asc("partition_dir"))
  }

  /** (leaf dir, parquet file count, bytes) per partition — the one
    * shared walk `compact` and `compactionPlan` both read. */
  private def leafPartitionStats(spark: org.apache.spark.sql.SparkSession,
      path: String, partitionCols: Seq[String]): Seq[(String, Long, Long)] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def leafDirs(p: Path, depth: Int): Seq[Path] =
      if (depth == 0) Seq(p)
      else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.contains("=")).flatMap(leafDirs(_, depth - 1))
    leafDirs(root, partitionCols.size).map { dir =>
      val parts = fs.listStatus(dir).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      (dir.toString, parts.size.toLong, parts.map(_.getLen).sum)
    }
  }

  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              partitionCols: Seq[String], sortCols: Seq[String] = Nil,
              targetBytes: Long = 128L << 20, minFiles: Int = 2): Seq[String] = {
    val fragmented = leafPartitionStats(spark, path, partitionCols)
      .filter { case (_, files, bytes) =>
        files > math.max(minFiles - 1L, (bytes + targetBytes - 1) / targetBytes)
      }.map { case (dir, _, _) => new org.apache.hadoop.fs.Path(dir) }
    if (fragmented.nonEmpty) {
      // pin split packing to the compaction target: by default Spark
      // shrinks splits to totalBytes/defaultParallelism, which re-
      // fragments the rewrite (a task per sliver, one file per task)
      // and compaction never converges. openCost=0 packs by bytes
      // alone; the advisory size steers the sorted branch's AQE
      // coalesce to the same target.
      val overrides = Seq(
        "spark.sql.files.maxPartitionBytes" -> targetBytes.toString,
        "spark.sql.files.minPartitionNum" -> "1",
        "spark.sql.files.openCostInBytes" -> "0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> targetBytes.toString)
      val prev = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
      overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val read = spark.read.option("basePath", path)
          .parquet(fragmented.map(_.toString): _*)
        // unpartitioned: the read path IS the overwrite path — Spark
        // (correctly) refuses that plan, so materialize first. Fine
        // for the snapshot-sized tables an unpartitioned mart is for;
        // the scale path is always the partitioned branch, which reads
        // only leaf dirs and dynamic-overwrites them at commit time.
        val frag = if (partitionCols.isEmpty) read.localCheckpoint() else read
        if (sortCols.isEmpty) writePartitioned(frag, path, partitionCols)
        else writePartitionedSorted(frag, path, partitionCols, sortCols)
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    fragmented.map(_.toString)
  }

  /** Exactly-once streaming leg of the JDBC load: a `foreachBatch`
    * body that tags every row with the micro-batch epoch and routes it
    * through `writeJdbc` with `DELETE WHERE _epoch = id` as the swap
    * predicate. Structured Streaming replays a failed micro-batch
    * with the SAME epoch id, so the replay's delete clears the
    * partial/duplicate attempt inside the same transaction — at-least-
    * once delivery + this idempotent sink = exactly-once table state
    * (the standard construction; the reference's DB load has no
    * streaming leg, this extends it to the `writeStream` surface).
    *
    * Usage: `stream.writeStream.foreachBatch(MartSink.jdbcEpochSink(
    * url, "mart_live")).start()`. */
  def jdbcEpochSink(url: String, table: String,
                    batchSize: Int = 10000): (DataFrame, Long) => Unit = {
    val epochCol = JdbcDialects.get(url).quoteIdentifier("_epoch")
    (batch: DataFrame, epochId: Long) =>
      writeJdbc(
        batch.withColumn("_epoch", org.apache.spark.sql.functions.lit(epochId)),
        url, table,
        deletePredicate = Some(s"$epochCol = $epochId"),
        batchSize = batchSize)
  }

  /** One parquet output of a streaming micro-batch: its rows are
    * `shape(batch)`, landed under `dir` partitioned by
    * `partitionCols :+ "batch_id"`. */
  private[graft] final case class BatchOutput(dir: String, partitionCols: Seq[String],
      shape: DataFrame => DataFrame)

  /** The parquet leg of the same idempotency rule, for one streaming
    * micro-batch and any number of outputs: an empty `batch` is
    * skipped (the check is one Spark job, run on the batch itself),
    * otherwise every output's rows are tagged with `batch_id` and
    * dynamic-overwritten under its `partitionCols :+ "batch_id"`, all
    * outputs at once. The batch is persisted for the check and the
    * writes, so its plan runs once however many outputs read it.
    * `foreachBatch` replays a failed micro-batch under the same id,
    * so the replay rewrites exactly the partitions of its first
    * attempt in every output. Returns whether it wrote. */
  private[graft] def writeBatches(batch: DataFrame, batchId: Long,
      outputs: Seq[BatchOutput]): Boolean = {
    batch.persist()
    try {
      val nonEmpty = !batch.isEmpty
      if (nonEmpty)
        graft.Concurrently.all(outputs.map { o => () =>
          writePartitioned(
            o.shape(batch).withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId)),
            o.dir, o.partitionCols :+ "batch_id")
        })
      nonEmpty
    } finally { batch.unpersist(); () }
  }

  /** [[writeBatches]] with one output. */
  private[graft] def writeBatch(batch: DataFrame, batchId: Long, dir: String,
      partitionCols: Seq[String])(shape: DataFrame => DataFrame): Boolean =
    writeBatches(batch, batchId, Seq(BatchOutput(dir, partitionCols, shape)))

  /** A checkpointed `foreachBatch` query that lands every micro-batch
    * of `stream` in `outputs` through [[writeBatches]]. `outputMode`
    * is the stream's own: append for watermark-finalized windows,
    * update for state-carrying scores. */
  private[graft] def batchesSink(stream: DataFrame, checkpointDir: String,
      outputs: Seq[BatchOutput],
      outputMode: String = "append"): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatches(batch, batchId, outputs)
        ()
      }
      .start()

  /** [[batchesSink]] with one output. */
  private[graft] def batchSink(stream: DataFrame, dir: String, checkpointDir: String,
      partitionCols: Seq[String], outputMode: String = "append")(
      shape: DataFrame => DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
    batchesSink(stream, checkpointDir, Seq(BatchOutput(dir, partitionCols, shape)), outputMode)

  /** What a `mergeJdbc` run actually moved: `upserted` rows staged and
    * swapped in (new + changed), `deleted` vanished-key rows removed,
    * `total` rows in the incoming frame. `upserted == 0` means the
    * replay cost zero DB writes beyond the current-state read. */
  final case class MergeStats(upserted: Long, deleted: Long, total: Long)

  /** Delta-aware incremental MERGE — the upsert sibling of
    * `writeJdbc`. `writeJdbc` replays a whole date scope through the
    * wire even when yesterday's backfill changed three rows; at the
    * day grain of a 100 TB mart that is gigabytes of unchanged rows
    * re-shipped to the warehouse per run. This computes the delta
    * SPARK-SIDE first:
    *
    *   1. read the CURRENT target scope back through JDBC (one scan of
    *      the rows `scopePredicate` selects — the warehouse mart is
    *      orders of magnitude smaller than the fact table that built
    *      `df`), cast to `df`'s exact schema so JDBC type drift can't
    *      fake differences;
    *   2. `upserts = df EXCEPT ALL current` — only new or changed rows
    *      survive (a hash set-difference, one shuffle on the full row);
    *      `vanished = current keys EXCEPT df keys` — rows the rebuild
    *      no longer produces;
    *   3. stage ONLY the upsert rows (the wire now carries the delta,
    *      not the date), then ONE driver transaction: key-correlated
    *      DELETE of the upserted keys + (optionally) the vanished
    *      keys, INSERT from staging, commit — readers see the old or
    *      the new mart, never a hole, exactly like `writeJdbc`.
    *
    * Rerunning the same build is a no-op upsert (0 rows staged) — the
    * idempotency `writeJdbc` gets from delete+insert, this gets for
    * free from the empty delta. Determinism caveat: a mart whose
    * float columns aren't bit-reproducible would re-ship rows that
    * only differ in ulps (never corrupts — the swap still lands the
    * recomputed values); graft marts aggregate through exact decimal
    * sums, so unchanged rows compare equal.
    *
    * @param keyCols        the mart's logical key (e.g. user_id +
    *                       event_date); non-key columns are payload.
    * @param scopePredicate target-dialect SQL restricting which
    *                       current rows are read and which target rows
    *                       either DELETE may touch (e.g. the run's
    *                       date window). None = whole table. CONTRACT:
    *                       a row's scope membership must be determined
    *                       by its key columns (a key never moves
    *                       across scopes) — the upsert swap deletes
    *                       only IN-SCOPE rows matching staged keys, so
    *                       a scoped run can never destroy another
    *                       scope's rows that happen to collide on the
    *                       key (per-date schedules over a key that
    *                       restarts per date would otherwise silently
    *                       drop prior dates).
    * @param deleteVanished also delete in-scope keys absent from `df`
    *                       (full-scope rebuilds); leave false for
    *                       partial/append-style builds.
    * @param readPartitions fan-out of the current-state read-back:
    *                       the target scope is ranged on the leading
    *                       key column (boundaries sampled from `df`,
    *                       which shares the key domain) so the JDBC
    *                       read runs as N parallel partition scans
    *                       instead of one connection funneling the
    *                       whole scope — the leg that would serialize
    *                       an unscoped merge of a year-deep mart. */
  def mergeJdbc(df: DataFrame, url: String, table: String, keyCols: Seq[String],
                scopePredicate: Option[String] = None,
                deleteVanished: Boolean = false,
                batchSize: Int = 10000,
                readPartitions: Int = 8): MergeStats = {
    require(keyCols.nonEmpty, "mergeJdbc needs at least one key column")
    val spark = df.sparkSession
    val dialect = JdbcDialects.get(url)
    def qid(s: String) = dialect.quoteIdentifier(s)
    val exists = {
      val conn = java.sql.DriverManager.getConnection(url)
      try tableExists(conn, table) finally conn.close()
    }
    if (!exists) {
      // first load: everything is the delta, and the swap's insert
      // count is the frame's row count — no separate count job
      val n = writeJdbc(df, url, table, deletePredicate = None, batchSize = batchSize)
      return MergeStats(upserted = n, deleted = 0L, total = n)
    }
    val props = new java.util.Properties()
    val cols = df.schema.fieldNames
    val select = s"SELECT ${cols.map(qid).mkString(", ")} FROM $table" +
      scopePredicate.map(p => s" WHERE $p").getOrElse("")
    // distribute the read-back: range the scope on the leading key
    // (boundaries sampled from df — same key domain as the target;
    // open-ended first/last predicates cover target keys outside the
    // sampled range, the IS NULL arm covers null keys). Falls back to
    // the single-query read when df has too few distinct keys to
    // range on — at that size one connection IS the right plan.
    val preds = rangePredicates(df, keyCols.head, url, readPartitions)
      .map(p => scopePredicate.map(s => s"($p) AND ($s)").getOrElse(p))
    val raw =
      if (preds.isEmpty)
        spark.read.format("jdbc")
          .option("url", url).option("query", select).load()
      else spark.read.jdbc(url, table, preds.toArray, props)
    val current = raw
      // JDBC round-trip type drift (VARCHAR/CLOB, DECIMAL scale) must
      // not fake row differences — compare in df's exact types
      .select(df.schema.fields.map(f => org.apache.spark.sql.functions
        .col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val total = df.count()
      val upserts = df.exceptAll(current)
      val keyed = (d: DataFrame) => d.select(keyCols.map(d.col): _*)
      val vanished =
        if (deleteVanished) keyed(current).except(keyed(df)) else spark.emptyDataFrame
      val staging = table + "_mrg_" + java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      val vStaging = staging + "_del"
      props.setProperty("batchsize", batchSize.toString)
      upserts.write.mode(SaveMode.Append).jdbc(url, staging, props)
      val doVanish = deleteVanished && !vanished.isEmpty
      if (doVanish) vanished.write.mode(SaveMode.Append).jdbc(url, vStaging, props)
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        conn.setAutoCommit(false)
        val st = conn.createStatement()
        val (nUp, nDel) =
          try {
            val corr = keyCols.map(k => s"s.${qid(k)} = t.${qid(k)}").mkString(" AND ")
            // key-correlated delete of rows being replaced, then the
            // vanished keys, then the insert — one atomic swap. BOTH
            // deletes stay inside the scope: without the AND, a key
            // that restarts per scope (session_idx per date) would
            // make a scoped run delete other scopes' colliding rows
            // and never reinsert them — permanent warehouse loss.
            st.executeUpdate(
              s"DELETE FROM $table t WHERE EXISTS (SELECT 1 FROM $staging s WHERE $corr)" +
                scopePredicate.map(p => s" AND $p").getOrElse(""))
            val nd =
              if (doVanish)
                st.executeUpdate(
                  s"DELETE FROM $table t WHERE EXISTS (SELECT 1 FROM $vStaging s WHERE $corr)" +
                    scopePredicate.map(p => s" AND $p").getOrElse(""))
              else 0
            val nu = st.executeUpdate(
              s"INSERT INTO $table (${cols.map(qid).mkString(", ")}) " +
                s"SELECT ${cols.map(qid).mkString(", ")} FROM $staging")
            conn.commit()
            (nu.toLong, nd.toLong)
          } catch {
            case e: Throwable => conn.rollback(); throw e
          } finally st.close()
        try {
          conn.setAutoCommit(true)
          val drop = conn.createStatement()
          try {
            drop.executeUpdate(s"DROP TABLE $staging")
            if (doVanish) drop.executeUpdate(s"DROP TABLE $vStaging")
          } finally drop.close()
        } catch { case _: java.sql.SQLException => () }
        MergeStats(upserted = nUp, deleted = nDel, total = total)
      } finally conn.close()
    } finally {
      current.unpersist()
      ()
    }
  }

  /** Does `table` exist in the connection's CURRENT schema? Probing
    * all schemas would let a same-named table elsewhere (another
    * user's schema, a staging area) fake existence and route the
    * merge/create against a name that doesn't resolve here. Drivers
    * without getSchema support fall back to the all-schema probe. */
  private[graft] def tableExists(conn: java.sql.Connection, table: String): Boolean = {
    val schemaPattern =
      try Option(conn.getSchema).orNull
      catch { case _: Throwable => null }
    val rs = conn.getMetaData.getTables(null, schemaPattern, null, Array("TABLE"))
    try Iterator.continually(rs)
      .takeWhile(_.next()).exists(_.getString("TABLE_NAME").equalsIgnoreCase(table))
    finally rs.close()
  }

  /** Disjoint, complete range predicates over `keyCol` for a
    * partitioned JDBC read of the merge target. Boundaries are
    * sampled from the REBUILD frame (`df` shares the target's key
    * domain), so this works for any orderable key type — string,
    * date, numeric — without a dialect hash function. The boundary
    * job is fixed-state: a deterministic hash-ordered TakeOrdered
    * sample of the distinct keys (per-partition top-N + driver
    * merge — NO single-partition global sort, the RangePartitioner
    * shape), sorted on the driver to pick equi-spaced cut points.
    * Cut exactness is irrelevant: the predicates only need to be
    * disjoint and complete, which driver-side dedup plus the
    * open-ended first/last arms (and the NULL arm) already
    * guarantee — target keys outside the sampled range (vanished
    * keys) are still read. Literals render through the dialect's own
    * `compileValue`. Empty when there are too few distinct keys to
    * be worth ranging. */
  /** The boundary job's frame, exposed for the plan lint: a
    * hash-ordered TakeOrderedAndProject over the distinct keys —
    * per-partition top-N merged on the driver; ~64 sample keys per
    * target range keeps equi-depth error well under what a
    * partitioned read tolerates. Deterministic (xxhash64 order, no
    * RNG seed), so repeated merges pick the same cuts. */
  private[graft] def boundarySample(df: DataFrame, keyCol: String,
                                    parts: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val sampleN = math.max(parts * 64, 512)
    df.select(col(keyCol)).filter(col(keyCol).isNotNull).distinct()
      .orderBy(xxhash64(col(keyCol).cast("string")))
      .limit(sampleN)
      .select(col(keyCol))
  }

  private[graft] def rangePredicates(df: DataFrame, keyCol: String, url: String,
                                     parts: Int): Seq[String] = {
    import org.apache.spark.sql.functions._
    if (parts <= 1) return Nil
    val dialect = JdbcDialects.get(url)
    val k = dialect.quoteIdentifier(keyCol)
    val sampled = boundarySample(df, keyCol, parts).collect().map(_.get(0))
    if (sampled.length < parts) return Nil
    val sorted = sampled.sortWith((a, b) =>
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0)
    val step = sorted.length.toDouble / parts
    val bounds = (1 until parts).map(i => sorted((i * step).toInt)).distinct
    if (bounds.isEmpty) Nil
    else {
      val lits = bounds.map(v => String.valueOf(dialect.compileValue(v)))
      val first = s"$k < ${lits.head} OR $k IS NULL"
      val mids = lits.zip(lits.drop(1)).map { case (lo, hi) => s"$k >= $lo AND $k < $hi" }
      (first +: mids) :+ s"$k >= ${lits.last}"
    }
  }

  /** Idempotent JDBC mart load — the relational-warehouse counterpart
    * of `writePartitioned` (the reference loads its marts into
    * PostgreSQL with per-date DELETE + INSERT:
    * dags/event_pipeline_dag.py load task, docker/init-db.sh,
    * sql/create_tables.sql).
    *
    * A naive driver-side DELETE followed by executor-side appends is
    * retry-safe but not atomic: readers see the hole between the two,
    * and a mid-insert failure leaves a partial date visible. Instead:
    *
    *   1. executors append `df` into a fresh STAGING table — the
    *      distributed leg, full cluster insert bandwidth, each task
    *      its own batched connection;
    *   2. ONE driver transaction runs `DELETE FROM target WHERE
    *      deletePredicate` + `INSERT INTO target SELECT … FROM
    *      staging` and commits — readers see the old date or the new
    *      date, never the hole or a prefix;
    *   3. staging is dropped (best-effort — an orphan staging table
    *      is garbage, not corruption).
    *
    * Re-running the same load is idempotent: the predicate delete
    * clears the previous attempt inside the same transaction. With
    * `deletePredicate = None` only the insert runs (first-load /
    * append-only mode). The target table is created from the staging
    * table's dialect-mapped schema if absent. Returns the rows the swap
    * inserted, i.e. the row count of `df`. */
  def writeJdbc(df: DataFrame, url: String, table: String,
                deletePredicate: Option[String] = None,
                batchSize: Int = 10000): Long = {
    val dialect = JdbcDialects.get(url)
    // Spark's JDBC writer emits the TABLE name raw (the DB folds its
    // case) but quotes COLUMN names exact-case — mirror both here or
    // the staging identifiers won't resolve
    def qid(s: String) = dialect.quoteIdentifier(s)
    val staging = table + "_stg_" + java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val props = new java.util.Properties()
    props.setProperty("batchsize", batchSize.toString)
    // leg 1: distributed append into staging (Spark creates it with
    // the dialect's type mapping)
    df.write.mode(SaveMode.Append).jdbc(url, staging, props)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val cols = df.schema.fieldNames.map(qid).mkString(", ")
      val exists = tableExists(conn, table)
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      val inserted = try {
        if (!exists)
          // empty clone of staging → target inherits the exact
          // dialect-mapped column types Spark just created
          st.executeUpdate(
            s"CREATE TABLE $table AS SELECT $cols FROM $staging WITH NO DATA")
        // leg 2: the atomic swap — delete + insert in one transaction
        deletePredicate.foreach(p => st.executeUpdate(s"DELETE FROM $table WHERE $p"))
        val n = st.executeUpdate(s"INSERT INTO $table ($cols) SELECT $cols FROM $staging")
        conn.commit()
        n.toLong
      } catch {
        case e: Throwable => conn.rollback(); throw e
      } finally st.close()
      // leg 3: best-effort cleanup
      try {
        conn.setAutoCommit(true)
        val drop = conn.createStatement()
        try drop.executeUpdate(s"DROP TABLE $staging") finally drop.close()
      } catch { case _: java.sql.SQLException => () }
      inserted
    } finally conn.close()
  }

  // ------------------------- key erasure (GDPR) -------------------------

  final case class EraseStats(rowsErased: Long, partitionsRewritten: Seq[String],
      partitionsDeleted: Seq[String])

  /** Erase every row of the given keys from a date-partitioned parquet
    * mart, rewriting ONLY the partitions that actually contain them —
    * the right-to-be-forgotten pass a user-keyed mart needs.
    *
    * One locating scan finds per-partition hit counts (on a
    * `writePartitionedSorted` layout the key predicate prunes row
    * groups via min/max stats, so the locate touches a fraction of
    * the bytes); affected partitions rewrite via the same dynamic
    * overwrite as every backfill here. A partition whose EVERY row
    * belonged to the erased keys would survive a dynamic overwrite
    * untouched (an empty frame writes no partition), so fully-emptied
    * partitions are deleted directly. Erasing already-erased keys is
    * a no-op (stats report zero). */
  def eraseKeys(spark: org.apache.spark.sql.SparkSession, path: String,
      keyCol: String, keys: Seq[Long], partitionCol: String): EraseStats =
    eraseKeysPartitioned(spark, path, keyCol, keys, Seq(partitionCol))

  /** The erasure core over an N-level partition layout (the streaming
    * logs are (date, batch_id)-partitioned; the marts single-level):
    * one census scan finds the affected partition COMBOS, partial
    * combos rewrite their keep-rows under dynamic overwrite, fully
    * emptied combos drop their directory (overwrite can't write zero
    * rows), and the stats name every touched combo for the manifest. */
  def eraseKeysPartitioned(spark: org.apache.spark.sql.SparkSession,
      path: String, keyCol: String, keys: Seq[Long],
      partitionCols: Seq[String]): EraseStats = {
    require(partitionCols.nonEmpty, "at least one partition column")
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(path)
    // one scan: per-combo (hit rows, total rows) for affected combos
    val census = df
      .groupBy(partitionCols.map(col): _*)
      .agg(count(when(col(keyCol).isin(keys: _*), 1)).as("hits"),
        count(lit(1)).as("total"))
      .filter(col("hits") > 0)
      .collect()
    if (census.isEmpty) return EraseStats(0L, Nil, Nil)
    val rowsErased = census.map(_.getAs[Long]("hits")).sum
    val (emptied, partial) = census.partition(r =>
      r.getAs[Long]("hits") == r.getAs[Long]("total"))
    // a NULL partition value lands in Spark's default-partition dir,
    // not a literal "null" path segment
    def dirName(v: Any) =
      if (v == null) "__HIVE_DEFAULT_PARTITION__" else String.valueOf(v)
    def comboLabel(r: org.apache.spark.sql.Row) =
      partitionCols.map(c => s"$c=${dirName(r.getAs[Any](c))}").mkString("/")
    if (partial.nonEmpty) {
      // combo membership as ONE flat In over a concatenated key (a
      // per-combo OR chain would nest ~|combos| deep and blow up
      // Catalyst on a long-lived user's thousand hit partitions —
      // the single-level isin this generalizes was already flat).
      // NULL partition values encode as a sentinel on BOTH sides:
      // concat_ws silently SKIPS a NULL column, so a (NULL, b) combo
      // would collide with single-segment keys and the real combo
      // would never match — i.e. stay unerased.
      val sep = "\u0001"
      val nullTag = "\u0002NULL\u0002"
      val comboKey = concat_ws(sep,
        partitionCols.map(c => coalesce(col(c).cast("string"), lit(nullTag))): _*)
      val partialKeys = partial.map(r =>
        partitionCols.map(c =>
          Option(r.getAs[Any](c)).map(String.valueOf).getOrElse(nullTag))
          .mkString(sep))
      // keep-predicate must be null-safe: a NULL keyCol makes
      // !isin(...) evaluate NULL and the row would silently vanish
      // from the rewrite — erasure must never delete anonymous rows
      val keep = df.filter(comboKey.isin(partialKeys: _*) &&
        coalesce(!col(keyCol).isin(keys: _*), lit(true)))
      writePartitioned(keep, path, partitionCols)
    }
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val deleted = emptied.map { r =>
      val dir = s"$path/${comboLabel(r)}"
      fs.delete(new Path(dir), true)
      dir
    }
    // prune now-empty ANCESTOR partition dirs (deleting only the leaf
    // combo would strand empty date dirs once every batch under a
    // date is gone — residue the single-level path never left)
    var parents = deleted.map(d => new Path(d).getParent).distinct
    var level = partitionCols.size - 1
    while (level > 0) {
      parents = parents.flatMap { p =>
        if (fs.exists(p) && fs.listStatus(p).isEmpty) {
          fs.delete(p, false); Some(p.getParent)
        } else None
      }.distinct
      level -= 1
    }
    spark.catalog.refreshByPath(path)
    EraseStats(rowsErased, partial.map(comboLabel).toSeq, deleted.toSeq)
  }

  /** The warehouse leg of erasure: DELETE the keys from a JDBC mart
    * table in one statement per chunk (keys ship as literals — an
    * erasure list is human-scale; a bulk purge would stage a keys
    * table and delete via join). Returns rows deleted. */
  def eraseKeysJdbc(url: String, table: String, keyCol: String,
      keys: Seq[Long], chunk: Int = 1000): Long = {
    val qKey = JdbcDialects.get(url).quoteIdentifier(keyCol)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(true)
      keys.grouped(chunk).map { g =>
        val st = conn.createStatement()
        try st.executeUpdate(
          s"DELETE FROM $table WHERE $qKey IN (${g.mkString(", ")})").toLong
        finally st.close()
      }.sum
    } finally conn.close()
  }
}
