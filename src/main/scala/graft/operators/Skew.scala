package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit key-salting for skewed shuffle joins (SURVEY.md §4).
  *
  * AQE's runtime skew handling splits oversized partitions of a
  * sort-merge join, but it cannot act when the skewed side must first
  * AGGREGATE or WINDOW on the hot key, when the join degenerates to a
  * single straggler task inside a stage AQE has already planned, or
  * when the engine runs with AQE off. Salting is the static fallback:
  * append a fan-out key so one hot join key's rows spread over
  * `numSalts` reducers, and replicate the other (small-but-not-
  * broadcastable) side once per salt so every row still meets its
  * match. The cost is explicit and bounded — the replicated side
  * grows `numSalts`×, which is why the technique fits a mid-size dim
  * (too big to broadcast, tiny next to the fact) and NOT a fact-fact
  * join (bucket that instead: Bucketing.scala).
  */
object Skew {

  val SaltCol = "__graft_salt"

  /** Equi-join `fact` (skewed, large) with `dim` (non-broadcastable,
    * replicated `numSalts`×) on `keys`, spreading each fact key over
    * `numSalts` reducers.
    *
    * The fact-side salt is a deterministic hash of `saltBy` (default:
    * every fact column), NOT a random number: identical runs produce
    * identical task layouts, and retried tasks re-salt identically —
    * `rand()` would still be correct here (the salt never reaches the
    * output) but makes stage retries non-reproducible. Rows identical
    * across ALL `saltBy` columns share a salt and do not spread;
    * callers whose hot key carries fully-duplicated rows should pass
    * a finer `saltBy` (e.g. a row-id column).
    *
    * Only `inner` and `left` joins are allowed: the dim side is
    * replicated, so an outer side on DIM would emit its unmatched
    * rows once per salt.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String],
                 numSalts: Int, joinType: String = "inner",
                 saltBy: Seq[String] = Nil): DataFrame = {
    require(numSalts > 1, s"numSalts must be > 1, got $numSalts")
    require(Set("inner", "left", "left_outer", "leftouter").contains(joinType),
      s"saltedJoin supports inner/left joins only (dim side is replicated), got $joinType")
    require(!fact.columns.contains(SaltCol) && !dim.columns.contains(SaltCol),
      s"input already carries $SaltCol")
    val saltSrc: Seq[Column] =
      (if (saltBy.nonEmpty) saltBy else fact.columns.toSeq).map(fact.col)
    val salted = fact.withColumn(SaltCol,
      pmod(xxhash64(saltSrc: _*), lit(numSalts.toLong)).cast("int"))
    val replicated = dim.withColumn(SaltCol,
      explode(sequence(lit(0), lit(numSalts - 1))))
    salted.join(replicated, keys :+ SaltCol, joinType).drop(SaltCol)
  }

  /** The measured arming decision closing the dq_key_skew → salting
    * loop: how many salts the hottest key of `keyCol` needs, derived
    * from the SAME census `dq_key_skew` reports (top-1 hot-key-to-mean
    * ratio — the planning table a human would read is now the input
    * the mechanism reads).
    *
    * - `hotRatio < armThreshold` → numSalts = 1 (don't salt: the dim
    *   replication cost isn't worth a mild imbalance AQE already
    *   absorbs);
    * - otherwise numSalts = ceil(hotRatio) clamped to `saltCeiling` —
    *   exactly enough fan-out to bring the hot key's heaviest reducer
    *   back to the mean key load.
    *
    * Cost: ONE key-grain count over `df` (map-side combined) + a
    * TakeOrdered(1) — the bounded census, no full sort, no collect of
    * the key dimension. Worth paying before a big shuffle; skip for
    * small frames. */
  final case class SkewPlan(numSalts: Int, hotRatio: Double,
                            nKeys: Long, totalRows: Long) {
    def armed: Boolean = numSalts > 1
  }

  def measure(df: DataFrame, keyCol: String, armThreshold: Double = 4.0,
              saltCeiling: Int = 64): SkewPlan = {
    require(armThreshold > 1.0, s"armThreshold must exceed 1, got $armThreshold")
    censusOf(df, keyCol) match {
      case None => SkewPlan(1, 0.0, 0L, 0L)
      case Some((ratio, nKeys, totalRows)) =>
        val n = if (ratio < armThreshold) 1
                else math.min(saltCeiling.toLong, math.ceil(ratio).toLong).toInt
        SkewPlan(n, ratio, nKeys, totalRows)
    }
  }

  /** Raw census: (hot-key ratio_to_avg, n_keys, total_rows) for the
    * top-1 key of `keyCol` — memoized per (canonicalized plan, input
    * files, key), so a pipeline running several armed operators over
    * the SAME enriched frame pays the key-grain count ONCE. The cache
    * key is an md5 over the analyzed plan's CANONICALIZED form (full
    * plan text, not a 32-bit hash — two distinct frames cannot
    * silently share a census by Int collision) plus the sorted input
    * file listing (a rewrite of the same path mints new part-file
    * names, so re-reading a path after new data lands MISSES instead
    * of serving a stale census; both signals are plan inspection only
    * — no job). Threshold and ceiling are applied per `measure` call
    * (they shape the plan, not the census), so one census serves
    * consumers with different arming policies. The value is a
    * driver-side tuple (no checkpointed frame). */
  private[graft] val censusMemo =
    new graft.Caches.Memo[Option[(Double, Long, Long)]](256, _ => Nil)

  private def censusOf(df: DataFrame, keyCol: String): Option[(Double, Long, Long)] = {
    // the canonicalized plan elides relation LOCATIONS (two frames
    // reading different dirs through the same shape print identically)
    // and inputFiles is empty once a frame is persist()ed — so the key
    // collects locations straight from the ANALYZED plan (unaffected
    // by caching) plus local-relation data identity, with the file
    // listing as the freshness signal where available
    val analyzed = df.queryExecution.analyzed
    val locs = analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.mkString(",")
          case o => o.toString
        }
      case loc: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        s"local:${loc.output.map(_.name).mkString(",")}:${loc.data.hashCode}"
    }.mkString("\n")
    val fp = graft.sources.ArtifactManifest.fp(analyzed.canonicalized.toString +
      "\n#loc\n" + locs +
      "\n#files\n" + df.inputFiles.sorted.mkString("\n"))
    censusMemo((fp, keyCol)) {
      Quality.keySkewFrom(df, keyCol, topK = 1).collect().headOption.map { r =>
        (r.getAs[Double]("ratio_to_avg"), r.getAs[Long]("n_keys"),
          r.getAs[Long]("total_rows"))
      }
    }
  }

  /** `saltedJoin` with the salt factor MEASURED instead of guessed:
    * census the fact side's first join key, salt only when the hot-key
    * ratio crosses `armThreshold`, with the factor sized to the ratio.
    * Returns the plan alongside the frame so callers can log/assert
    * what armed. Output is identical to the plain join either way
    * (the salt never reaches the output). */
  def autoSalted(fact: DataFrame, dim: DataFrame, keys: Seq[String],
                 joinType: String = "inner", saltBy: Seq[String] = Nil,
                 armThreshold: Double = 4.0, saltCeiling: Int = 64)
      : (DataFrame, SkewPlan) = {
    val plan = measure(fact, keys.head, armThreshold, saltCeiling)
    val joined =
      if (plan.armed) saltedJoin(fact, dim, keys, plan.numSalts, joinType, saltBy)
      else fact.join(dim, keys, joinType)
    (joined, plan)
  }
}
