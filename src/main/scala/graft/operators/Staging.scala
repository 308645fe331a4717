package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/**
 * Staging hook for DataFrames that feed multiple downstream stages (the
 * band table of a dedup gate, the count table of a classifier, the
 * per-doc signatures of a near-dup pass): compute the stage once instead
 * of once per consumer.
 *
 * The mechanism is `persist(MEMORY_AND_DISK)`. It keeps lineage, so a lost
 * executor recomputes the lost partitions instead of failing the job, and
 * it is fully lazy: building a staged operator runs no Spark job, and
 * intermediates spill to disk rather than pinning executor memory. Stage
 * only compact frames (aggregated or one row per item). A frame with one
 * row per token, shingle or span is larger than the scan it derives from
 * and cheaper to recompute per consumer than to cache: measured at sf1 on
 * `ngramJaccardPairs`, caching the exploded shingle frame cost 122-259 s
 * CPU against a 64 s steady state recomputing it.
 *
 * LIFETIME: every staged frame registers a plan in the session
 * CacheManager, which holds it until explicitly unpersisted. Operators
 * stage frames INTERNAL to their plans, so callers can't pair
 * stage/unstage themselves. Stage() therefore tracks every persisted frame
 * in a SESSION-SCOPED FIFO registry of at most [[Budget]] live frames:
 * staging past it unpersists the oldest entry. A long-lived session
 * invoking staged operators in a loop holds O(budget) cached plans instead
 * of O(calls) — an evicted stage is still CORRECT (its plan recomputes;
 * `persist` keeps lineage by design), it just stops being cached.
 * [[releaseAll]] drops everything at once (blocking, for benchmarks and
 * batch-job teardown); [[unstage]] releases one frame early when the
 * operator knows its last consumer has run (e.g. the sink's per-batch
 * banding).
 */
object Staging {

  /** Live staged frames a session keeps before the oldest is evicted. */
  val Budget = 64

  // WeakHashMap: a session that ends (and is no longer referenced) drops its
  // queue with it. All mutation synchronized on the registry — stage() can
  // race across sink pipelines / parallel operator builds.
  private val registry =
    new java.util.WeakHashMap[SparkSession, java.util.ArrayDeque[DataFrame]]()

  // Process-lifetime count of budget evictions — an observable for bench
  // diagnostics: an eviction mid-query means a staged frame silently fell
  // back to recompute (correct but slower), which is exactly the kind of
  // run-to-run swing a probe needs to attribute (VERDICT r9 #3). Sampled
  // as before/after deltas by Bench's sf1 probe loop.
  private val evictions = new java.util.concurrent.atomic.AtomicLong(0)
  def evictionCount: Long = evictions.get

  def stage(df: DataFrame): DataFrame = stage(df, Budget)

  /** [[stage]] with the session's registry held to `budget` live frames.
    * Staging a plan the registry already holds refreshes its entry: Spark
    * caches a plan once, and unpersisting any handle of it uncaches every
    * handle, so two entries would count twice against the budget and the
    * older one's eviction would uncache the newer stage. */
  private[operators] def stage(df: DataFrame, budget: Int): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    registry.synchronized {
      val q = registry.computeIfAbsent(p.sparkSession,
        _ => new java.util.ArrayDeque[DataFrame]())
      val plan = p.queryExecution.analyzed
      q.removeIf(_.queryExecution.analyzed.sameResult(plan))
      q.addLast(p)
      while (q.size > budget) {
        val oldest = q.pollFirst()
        evictions.incrementAndGet()
        // non-blocking: eviction is bookkeeping on the hot path; the blocks
        // drain in the background. Benchmarks wanting quiesced state
        // between runs use releaseAll(blocking = true).
        try oldest.unpersist(false) catch { case _: Throwable => () }
      }
    }
    p
  }

  /** Release a staged frame once its consumers have run. Removes it from
    * the session registry and unpersists (non-blocking). No-op for frames
    * that are not cached. One-shot batch queries can skip this (session
    * teardown clears the cache); loops that know a stage's last consumer
    * (the sink's per-batch banding) release early to keep the registry
    * budget for frames that still pay. */
  def unstage(df: DataFrame): Unit = {
    registry.synchronized {
      Option(registry.get(df.sparkSession)).foreach(_.remove(df))
    }
    df.unpersist()
  }

  /** Unpersist EVERY live graft-staged frame of the session. `blocking`
    * waits for block removal — between-run hygiene for benchmarks, where
    * async removals from run N otherwise overlap (and tax) run N+1. */
  def releaseAll(spark: SparkSession, blocking: Boolean = true): Unit = {
    val drained = registry.synchronized {
      Option(registry.get(spark)) match {
        case Some(q) =>
          val all = new java.util.ArrayList[DataFrame](q)
          q.clear()
          all
        case None => new java.util.ArrayList[DataFrame]()
      }
    }
    drained.forEach(df =>
      try df.unpersist(blocking) catch { case _: Throwable => () })
  }

  /** Live (registered, not yet evicted/released) staged frames for the
    * session — the observable the long-lived-session spec bounds. */
  def registeredCount(spark: SparkSession): Int = registry.synchronized {
    Option(registry.get(spark)).map(_.size).getOrElse(0)
  }
}
