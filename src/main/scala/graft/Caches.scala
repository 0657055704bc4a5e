package graft

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session-grain memo policy of the library, in one place.
  *
  * Eight operator families memoize a deterministic intermediate that
  * several registry queries share: the session frames, the two graph
  * edge frames, the dedup member pairs, the k-means quantizer, the PQ
  * codebooks, the kNN graph, the quality-LR model and the skew census.
  * Each family holds one [[Memo]] and keeps its own key, built so a
  * corpus rewrite or a new context always misses: dir + sorted input
  * files + hyperparams + applicationId ([[dirKey]]); the skew census
  * keys on plan + relation locations + files + key column instead.
  * `*From` forms over arbitrary frames have no cheap identity and stay
  * uncached. [[clearAll]] clears every memo. */
object Caches {
  private val memos = new CopyOnWriteArrayList[Memo[_]]()

  /** A bounded memo whose values may hold localCheckpointed frames
    * (`frames` lists them; for a frame memo that is the frame itself,
    * for a driver-side value such as centroids it is empty).
    *
    * Bound: past `max` entries the memo clears all, not LRU. A session
    * cycling more than `max` corpora thrashes, an accepted trade —
    * real sessions touch a handful. The bound clear drops only the
    * driver references, so in-flight consumers of an evicted frame
    * keep working and the ContextCleaner reclaims its blocks after GC.
    *
    * Self-heal: a checkpointed frame has no lineage, so an executor
    * loss that takes its blocks makes every later read fail
    * permanently. Before serving, `apply` checks that every held
    * frame's blocks are still registered (a driver-side storage
    * registry read, no job) and rebuilds on loss. Moot in local mode,
    * where executor death is JVM death.
    *
    * Clear: `clear()` unpersists the held frames' blocks (blocking),
    * then drops the entries, so executor storage is back when it
    * returns. It is the between-tenants / after-a-corpus-swap hook:
    * the caller asserts no consumer still holds one of the frames (an
    * unpersisted checkpointed frame cannot recompute). */
  final class Memo[V](max: Int, frames: V => Seq[DataFrame]) {
    private val cache = new ConcurrentHashMap[(String, String), V]()
    private val built = new AtomicLong(0L)
    memos.add(this)

    /** Values built so far — what the cache-effectiveness specs read. */
    def builds: Long = built.get()

    /** The value at `key`, building it on a miss or a lost block. The
      * remove is key+value conditional, so a concurrent rebuild that
      * already replaced the entry is never clobbered. */
    def apply(key: (String, String))(build: => V): V = {
      if (cache.size() > max) cache.clear()
      Option(cache.get(key)).foreach { v =>
        if (!frames(v).forall(checkpointHealthy)) cache.remove(key, v)
      }
      cache.computeIfAbsent(key, _ => { built.incrementAndGet(); build })
    }

    def clear(): Unit = {
      cache.values().forEach(v => frames(v).foreach(unpersistCheckpointed))
      cache.clear()
    }
  }

  /** Clear every memo. A `Memo` registers itself when its family's
    * object initializes, which is before it can hold an entry. */
  def clearAll(): Unit = memos.forEach(_.clear())

  /** The dir-grain memo key: (applicationId, fp of `parts`) — a new
    * context always misses, since checkpoint blocks die with it. */
  private[graft] def dirKey(spark: SparkSession, parts: Seq[String]): (String, String) =
    (spark.sparkContext.applicationId,
      sources.ArtifactManifest.fp(parts.mkString("\n")))

  /** Eagerly free a localCheckpointed frame's executor blocks. A
    * checkpointed Dataset's plan is a `LogicalRDD` over the persisted
    * internal RDD; `df.unpersist` only consults the CacheManager and
    * never sees it, so this walks the analyzed plan and unpersists the
    * RDD directly (blocking). Safe on non-checkpointed frames: no
    * LogicalRDD, no-op. */
  private[graft] def unpersistCheckpointed(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = true)
      case _ => ()
    }

  /** True iff every checkpoint-backed leaf of `df` still has ALL its
    * blocks in executor storage. Driver-side only (persistentRdds +
    * block-manager status via the public getRDDStorageInfo), no Spark
    * job. Frames with no LogicalRDD leaf are trivially healthy, and so
    * is a zero-partition leaf (an empty frame): it has no blocks to
    * lose, and getRDDStorageInfo never lists it. */
  private def checkpointHealthy(df: DataFrame): Boolean = {
    val sc = df.sparkSession.sparkContext
    val rdds = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD if lr.rdd.getNumPartitions > 0 => lr.rdd
    }
    rdds.isEmpty || {
      val info = sc.getRDDStorageInfo
      rdds.forall(r => info.exists(i =>
        i.id == r.id && i.numCachedPartitions == r.getNumPartitions))
    }
  }
}
