package graft.engine

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.DataFrame

/** Bounded query-scratch caching. persist() pins blocks in the
  * CacheManager until an explicit unpersist — a query that caches an
  * intermediate relation would leak one copy per invocation on a
  * long-lived serving session. CacheOnce keeps AT MOST ONE live cached
  * copy per key: re-running the query releases the previous run's
  * blocks (lazily — in-flight readers of the old copy just lose the
  * cache and recompute from lineage, they don't break).
  *
  * Entries are deliberately SESSION-lifetime, not query-lifetime: the
  * expensive entries (shingle sets, band tables) are plan-identical
  * across the dedup family, so Spark's plan-keyed CacheManager stores
  * ONE copy that every statement and every re-run shares — a derived
  * index in all but name. Releasing them at query end was measured in
  * round 6 to DOUBLE the bench suite (49.6s vs ~25s): each statement
  * and each pass re-derived the same scratch. The per-key bound keeps
  * the footprint constant either way.
  *
  * What must NOT be session-lifetime is fixpoint checkpoint blocks
  * (localCheckpoint RDDs are per-invocation, never shared, and
  * otherwise wait on GC+ContextCleaner — on a big idle heap that can
  * be minutes, which is exactly the round-5 pass-2 degradation).
  * `scoped`/`deferRelease` give those a query lifetime.
  *
  * LIFETIME BOUND under long-running serving: the per-key bound alone
  * does not cap the KEY COUNT — several keys embed the dataset dir
  * (`pq:codes:<dir>`, IVF centroids), so a serving session that
  * registers many roots over weeks would accumulate one live entry per
  * (root, artifact) forever. The map is therefore LRU-bounded at
  * `MaxEntries` (128 — raised from 64 in r15: the keyed population
  * grew to ~26 call sites, many per-dataset, and a bench run holds
  * TWO datasets live (the sf0.001 warm dir + the served fixture),
  * putting the working set near the old cap; entries are MB-scale at
  * fixture SF):
  * inserting past the cap evicts + unpersists the least-recently-USED
  * entry. 64 is ~5× the whole suite's key population, so the bench and
  * any single-dataset serving session never evict; only multi-root
  * serving turns over, oldest root first. Eviction is storage-only —
  * readers of an evicted DataFrame recompute from lineage.
  */
object CacheOnce {
  /** Dataset-scoped key: per-dataset relations MUST embed the session's
    * registered data dir, so the two datasets a bench run holds live
    * (the sf0.001 warm dir + the served fixture) occupy SEPARATE slots
    * instead of evicting each other on every dataset switch (the r15
    * finding: un-prefixed keys like "dd_minhash_lsh/sh" alternated one
    * slot between two plans, defeating cross-dataset reuse). Sessions
    * with no registered dir (hand-built spec relations) share the "?"
    * root — fine, specs are single-dataset by construction.
    */
  def dsKey(s: org.apache.spark.sql.SparkSession, suffix: String): String =
    Tables.dirOf(s).getOrElse("?") + "/" + suffix

  private final class Entry(val df: DataFrame) {
    @volatile var tick: Long = 0L
  }
  private val live = new ConcurrentHashMap[String, Entry]()
  private val clock = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Diagnostics the spec pins: a THRASH is a put that replaced a live
    * entry with a DIFFERENT plan (the cross-dataset eviction class the
    * dsKey prefix exists to prevent); an EVICTION is an LRU removal
    * past MaxEntries. Both must stay zero across a two-dataset bench
    * population (CacheOnceSpec).
    */
  private[graft] val thrashCount = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] val evictCount = new java.util.concurrent.atomic.AtomicLong(0L)
  /** The keys behind thrashCount — names the offending site in the spec
    * failure instead of leaving a bare counter delta.
    */
  private[graft] val thrashKeys: java.util.Set[String] =
    ConcurrentHashMap.newKeySet[String]()
  private[graft] val MaxEntries: Int = 128

  /** Live entry count — the bound the spec pins. */
  private[graft] def liveCount: Int = live.size()

  /** Is `key` currently live (not LRU-evicted / released)? A true
    * answer also counts as a USE — the tick is bumped so a caller that
    * memoizes the plan object and only consults liveness (the hnsw
    * edge memo) keeps its entry LRU-fresh exactly as a re-put would.
    */
  private[graft] def touchLive(key: String): Boolean = {
    val e = live.get(key)
    if (e == null) false
    else { e.tick = clock.incrementAndGet(); true }
  }

  /** Spec hook: drop (and release) every entry whose key starts with
    * `prefix`, so the LRU-bound spec's synthetic keys don't leave the
    * shared map pinned at MaxEntries (which would make every later
    * insert in the suite an eviction).
    */
  private[graft] def release(prefix: String): Unit = {
    val it = live.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.startsWith(prefix)) {
        it.remove(); e.getValue.df.unpersist(blocking = false)
      }
    }
  }

  private final class Scope {
    val rdds = new java.util.ArrayList[org.apache.spark.rdd.RDD[_]]()
  }
  private val scopeTL = new ThreadLocal[Scope]()

  private def samePlan(a: DataFrame, b: DataFrame): Boolean =
    try a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed)
    catch { case _: Throwable => false }

  def apply(key: String, df: DataFrame): DataFrame = {
    val cached = df.persist()
    val entry = new Entry(cached)
    entry.tick = clock.incrementAndGet()
    Option(live.put(key, entry))
      .map(_.df)
      .filter(_ ne cached)
      // Spark's CacheManager is keyed by PLAN, not by DataFrame handle:
      // when the new run builds an identical plan, persist() above was a
      // no-op on the existing entry, and unpersisting the old handle
      // would drop the cache we just returned. Only release when the
      // plan actually changed.
      .filterNot(old => samePlan(old, cached))
      .foreach { old =>
        thrashCount.incrementAndGet(); thrashKeys.add(key)
        old.unpersist(blocking = false)
      }
    // LRU bound (see scaladoc): evict least-recently-used entries past
    // the cap. Synchronized so concurrent inserts can't double-evict;
    // the map itself stays concurrent for the hot read path.
    if (live.size() > MaxEntries) live.synchronized {
      while (live.size() > MaxEntries) {
        var oldest: (String, Entry) = null
        live.forEach { (k, e) =>
          if ((e ne entry) && (oldest == null || e.tick < oldest._2.tick))
            oldest = (k, e)
        }
        if (oldest == null) return cached
        live.remove(oldest._1)
        evictCount.incrementAndGet()
        oldest._2.df.unpersist(blocking = false)
      }
    }
    cached
  }

  /** Register an independently persisted RDD (a fixpoint's
    * localCheckpoint blocks) for release when the current scope closes.
    * No active scope → no-op: spec/serving callers keep the GC-driven
    * lifetime.
    */
  def deferRelease(rdd: org.apache.spark.rdd.RDD[_]): Unit = {
    val scope = scopeTL.get()
    if (scope != null) scope.rdds.add(rdd)
  }

  /** Run `body` (one statement's plan build + execution) with query
    * lifetime for its deferRelease'd checkpoint blocks. Nested scopes
    * fold into the outermost one.
    */
  def scoped[T](body: => T): T = {
    if (scopeTL.get() != null) return body
    val scope = new Scope
    scopeTL.set(scope)
    try body
    finally {
      scopeTL.remove()
      scope.rdds.forEach(_.unpersist(blocking = false))
    }
  }
}
