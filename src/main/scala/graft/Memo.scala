package graft

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Central registry for the cross-query (session, dataset-path) → DataFrame
  * memo maps (the d2/d7/d5 dedup chain, the graph substrates, the pl
  * artist/merge frames). One definition of the caching discipline instead of
  * eight hand-rolled `ConcurrentHashMap`s, with the two properties the
  * hand-rolled maps lacked:
  *
  *   - **Explicit invalidation.** [[clearAll]] drops every memoized frame so
  *     the ContextCleaner can reclaim their (local)checkpoint blocks/files —
  *     without it a long-lived session iterating datasets pins every
  *     materialized intermediate forever, and the measurement harnesses
  *     (Bench/Profile) time a checkpoint READ on their second pass instead
  *     of the query's actual compute. Bench clears between its two
  *     interleaved passes; Profile clears before each of its rounds.
  *   - **A measurement bypass.** [[bypass]] disables memo lookup AND the
  *     memo-level lineage truncation for the OUTERMOST cached call on the
  *     current thread, so a plan census sees the query's real join tree
  *     rather than a checkpoint scan. Cached calls NESTED inside that
  *     compute still truncate (not memoize) — iterative consumers keep
  *     bounded plans — so the census pays the compute cost once without
  *     risking the compounding-stats optimizer blowup documented on
  *     [[Lineage.truncateFresh]].
  *
  * CONTRACT (unchanged from the hand-rolled maps, now stated once): a
  * memo key's dataset path must be immutable for the lifetime of the cache
  * entry. Rewriting the parquet behind a memoized path without calling
  * [[clearAll]] serves stale results — the same contract every external
  * table cache (Spark's own `CACHE TABLE`, metastore statistics) carries.
  * Entries hold strong references by design: the memoized frames are the
  * product of multi-stage jobs and must not be silently evicted mid-session;
  * lifecycle management is the caller's single `clearAll()` at dataset
  * boundaries.
  */
object Memo {

  type Key = (SparkSession, String)

  private val registry = new CopyOnWriteArrayList[ConcurrentHashMap[Key, DataFrame]]()

  /** Bypass depth for the current thread: -1 = off, 0 = armed (next cached
    * call returns its raw compute), >0 = inside a bypassed compute (nested
    * cached calls truncate without memoizing).
    */
  private val bypassDepth = new ThreadLocal[Integer] { override def initialValue: Integer = -1 }

  /** Allocate a memo map and register it for [[clearAll]]. */
  def newMap(): ConcurrentHashMap[Key, DataFrame] = {
    val m = new ConcurrentHashMap[Key, DataFrame]()
    registry.add(m)
    m
  }

  /** The caching discipline: materialize `compute` once per (session, path)
    * via [[Lineage.truncate]] and share the truncated frame across
    * consumers. Under [[bypass]], the outermost call returns the raw
    * (un-truncated, un-memoized) plan and nested calls truncate only.
    */
  def cached(m: ConcurrentHashMap[Key, DataFrame], s: SparkSession, d: String)(
      compute: => DataFrame
  ): DataFrame = {
    val depth = bypassDepth.get()
    if (depth < 0) {
      // Compute OUTSIDE the map: computeIfAbsent holds the bin lock for the
      // closure's duration, and the closure here runs an eager Spark job —
      // a memoized compute that (directly or via a chain) re-entered the
      // SAME map would hit computeIfAbsent's recursive-update
      // IllegalStateException or deadlock on the bin lock (r11 advice).
      // putIfAbsent accepts the race's cost instead: two threads racing a
      // cold key may both materialize, and the loser's checkpoint is
      // dropped for the ContextCleaner — rare duplicate work, never a hang.
      val key = (s, d)
      val hit = m.get(key)
      if (hit != null) hit
      else {
        val fresh = Lineage.truncate(compute)
        val prev  = m.putIfAbsent(key, fresh)
        if (prev != null) prev else fresh
      }
    } else if (depth == 0) {
      bypassDepth.set(1)
      try compute
      finally bypassDepth.set(0)
    } else Lineage.truncate(compute)
  }

  /** Run `f` with memoization bypassed on this thread (see class doc). */
  def bypass[T](f: => T): T = {
    val prev = bypassDepth.get()
    bypassDepth.set(0)
    try f
    finally bypassDepth.set(prev)
  }

  /** Drop every memoized frame (all registered maps). */
  def clearAll(): Unit = {
    registry.forEach(_.clear())
    // cachePin entries live in the CacheManager (not ContextCleaner-
    // reclaimed) — release them at the same boundary
    Lineage.releasePins()
  }

  /** Total live entries across all maps (diagnostics). */
  def totalEntries: Int = {
    var n = 0
    registry.forEach(m => n += m.size())
    n
  }
}
