package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bounded memo of Spark-cached DataFrames shared between operators
  * within one process — the "compute the common subexpression once
  * per run" discipline for query families that consume the same
  * derived frame (the profiler's bottom-k sample, dedup's
  * postings-pair set). A verify/bench run invokes each query as an
  * independent call, so without this the shared scan is paid once
  * per consumer.
  *
  * Same bounding rationale as [[Tables]]: a DataFrame strongly
  * references its SparkSession, so an unbounded map would retain
  * every session a long-lived process creates. LRU-bounded; evicted
  * entries release their storage blocks via unpersist. Values are
  * built lazily and `.cache()`d, so the first consumer pays the
  * build and later consumers read executor-memory blocks.
  */
final class PlanCache(maxEntries: Int = 16) {
  PlanCache.register(this)

  private val m =
    new java.util.LinkedHashMap[(SparkSession, String), DataFrame](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), DataFrame])
          : Boolean =
        if (size() > maxEntries) { e.getValue.unpersist(false); true }
        else false
    }

  /** The cached frame for `key`, building (and `.cache()`ing) it on
    * first use. The build runs OUTSIDE the monitor — plan resolution
    * can do I/O; on a racing duplicate build, first insert wins and
    * the loser's frame is simply dropped WITHOUT unpersisting:
    * CacheManager registrations are keyed by logical plan, not
    * Dataset identity, so unpersisting the (value-identical) loser
    * would silently un-cache the winner's registration too. */
  def getOrBuild(spark: SparkSession, key: String)
      (build: => DataFrame): DataFrame = {
    val k = (spark, key)
    val hit = m.synchronized(m.get(k))
    if (hit != null) {
      // harness loops call spark.catalog.clearCache() between queries
      // (block hygiene over a 128-query run); that drops this frame's
      // storage but not the memo. Re-register so the next consumer
      // re-materializes once and sharing resumes — a duplicate
      // cache() race is benign (no-op + log line).
      //
      // Materialize EAGERLY (count() populates every partition of the
      // InMemoryRelation, no row deserialization): a lazily
      // re-registered frame under a multi-branch consumer plan lets
      // every concurrent task that misses a block recompute the
      // frame's lineage for itself — observed r14 as sporadic
      // 10-60× CPU blowups on single reps of the dedup family
      // mid-suite ("Block rdd_N already exists" warnings = the racing
      // duplicate adds), e.g. dedup_prefix_filter reps of 60/17/603
      // CPU-s for identical input. One sequential pass here is
      // exactly what the first consumer pays anyway, runs inside the
      // caller's timed region, and removes the race.
      if (hit.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
        hit.cache()
        hit.count()
      }
      hit
    } else {
      val built = build.cache()
      m.synchronized {
        val raced = m.get(k)
        if (raced != null) raced
        else { m.put(k, built); built }
      }
    }
  }

  /** The cached frame for `key` if (and only if) it is already memoized
    * — no build, no insertion, and a miss runs no job. A hit refreshes
    * LRU recency, and a hit whose storage was dropped (e.g. by
    * `clearCache()`) is re-registered and re-materialized EAGERLY with
    * one `count()` job before it is returned, exactly like
    * [[getOrBuild]]. Lets a builder derive one frame from another
    * already-paid one (e.g. a higher-threshold edge set sliced from a
    * lower-threshold memo) without forcing the cheaper frame into
    * existence when nothing has paid for it. */
  def peek(spark: SparkSession, key: String): Option[DataFrame] = {
    val hit = m.synchronized(m.get((spark, key)))
    if (hit == null) None
    else {
      // same eager re-materialization as getOrBuild (see there)
      if (hit.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
        hit.cache()
        hit.count()
      }
      Some(hit)
    }
  }

  /** Drop (and unpersist) entries whose key starts with `prefix` —
    * keys embed the data directory, so this is the staleness hook
    * for in-place rewrites (see [[Tables.invalidate]]). */
  def invalidatePrefix(prefix: String): Unit = m.synchronized {
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._2.startsWith(prefix)) {
        e.getValue.unpersist(false); it.remove()
      }
    }
  }

  /** Drop (and unpersist) every entry — test isolation hook. */
  def clear(): Unit = m.synchronized {
    m.values.forEach(_.unpersist(false)); m.clear()
  }
}

object PlanCache {
  // every PlanCache instance, so dir-level invalidation reaches all
  // operator-local memos (dedup's pair base, the profiler's sample)
  private val instances =
    new java.util.concurrent.CopyOnWriteArrayList[PlanCache]()

  private def register(pc: PlanCache): Unit = instances.add(pc)

  /** Invalidate every PlanCache entry under `dirPrefix` (all
    * instances). Called by [[Tables.invalidate]] so one hook covers
    * both the resolved relations AND the derived-frame memos. */
  def invalidate(dirPrefix: String): Unit =
    instances.forEach(_.invalidatePrefix(dirPrefix))
}
