package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry for shared persisted plans (dedup inverted
  * indexes, ANN corpus projections). Reusing the SAME DataFrame
  * instance — instead of re-persisting an identical plan — avoids
  * CacheManager's "Asked to cache already cached data" double-persist,
  * and gives the caches an explicit unpersist lifecycle instead of
  * living until session teardown.
  *
  * Storage and lifecycle (r11, after three driver rounds showed
  * heap-pressure amplification across a 386-query session):
  *
  *  - Frames persist at `spark.graft.cache.storageLevel` (default
  *    MEMORY_AND_DISK_SER): serialized batches are several times
  *    smaller than deserialized row objects and EVICT TO DISK instead
  *    of thrashing the old-gen — on a bounded driver heap the
  *    difference between a steady session and the 2–5× tail the
  *    TypedImperativeAggregate builders showed under GC pressure.
  *  - The registry is LRU-capped at `spark.graft.cache.maxFrames`
  *    (default 48 — above any single corpus' full registry, so a
  *    bench session never evicts, while a session that touches many
  *    corpora sheds the oldest corpus' frames instead of accreting
  *    every dir's indexes until OOM). Evicted frames unpersist; a
  *    later consumer transparently rebuilds via its own builder
  *    closure (builders are deterministic). Note the rebuild runs the
  *    FULL derivation — nothing re-routes an evicted entry through
  *    [[graft.operators.IndexStore.loadAll]], so for store-managed
  *    indexes eviction also re-bumps the family build counters; keep
  *    `maxFrames` at or above a corpus' registry size if the
  *    zero-rebuild counter contract matters to the caller.
  *
  * Session lifecycle (r17, fixing the r16-verdict finding that the
  * previous WeakHashMap's weakness was ILLUSORY — the map's values
  * are DataFrames, which strongly reference their SparkSession, so a
  * value→key strong path kept every entry reachable forever): the
  * registry keys sessions strongly and instead SWEEPS, on every
  * access, the entries of sessions whose SparkContext has stopped —
  * the lifecycle event that actually ends a session (their persisted
  * blocks died with the context; nothing to unpersist). A session
  * forked off a still-running context (`newSession()`) pins its
  * entries until [[clear]]; that is the documented contract, not a
  * weak-map claim the value graph silently voids.
  *
  * Builds are single-flight per (session, key): the first caller of a
  * missing key builds and persists it, and concurrent callers of the
  * same key wait for that frame. Two racing builders would otherwise
  * persist the same plan twice, and the loser's `unpersist` would
  * match the winner's cached data by `sameResult` and evict it.
  */
object CachedPlans {

  /** Validated storage level for registry persists. Fails with the
    * conf key in the message (the GraphOps.roots validation pattern)
    * instead of a bare parse error. */
  private[graft] def storageLevel(s: SparkSession): StorageLevel = {
    val v = s.conf.getOption("spark.graft.cache.storageLevel")
      .map(_.trim).filter(_.nonEmpty).getOrElse("MEMORY_AND_DISK_SER")
    try StorageLevel.fromString(v.toUpperCase(java.util.Locale.ROOT))
    catch {
      case _: IllegalArgumentException =>
        throw new IllegalArgumentException(
          "spark.graft.cache.storageLevel must be a Spark StorageLevel name " +
            s"(e.g. MEMORY_AND_DISK_SER, MEMORY_AND_DISK, DISK_ONLY); got '$v'")
    }
  }

  /** Validated LRU capacity for the per-session registry. */
  private[graft] def maxFrames(s: SparkSession): Int = {
    val key = "spark.graft.cache.maxFrames"
    val v = s.conf.getOption(key).map(_.trim).getOrElse("48")
    val n =
      try v.toInt
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"$key must be a positive integer; got '$v'")
      }
    require(n > 0, s"$key must be a positive integer; got $n")
    n
  }

  // Strong session keys + stopped-context sweep (see lifecycle note
  // above); inner map keys on the plan name in ACCESS order
  // (LinkedHashMap re-inserted on every hit), so the head is always
  // the least-recently-used frame.
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, scala.collection.mutable.LinkedHashMap[String, DataFrame]]()

  /** Drop every entry whose session's context has stopped (its
    * persisted blocks are already gone — removal only releases the
    * driver-side plan objects). */
  private def sweepStopped[V](m: java.util.concurrent.ConcurrentHashMap[SparkSession, V]): Unit = {
    val it = m.keySet().iterator()
    while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
  }

  private def sessionMap(s: SparkSession): scala.collection.mutable.LinkedHashMap[String, DataFrame] = {
    sweepStopped(cache)
    cache.computeIfAbsent(s,
      _ => scala.collection.mutable.LinkedHashMap.empty[String, DataFrame])
  }

  /** Move `key` to most-recently-used position (caller holds m's lock). */
  private def touch(m: scala.collection.mutable.LinkedHashMap[String, DataFrame],
      key: String): Option[DataFrame] =
    m.remove(key).map { df => m.update(key, df); df }

  // The builds under way: (session, key) → the frame its builder will
  // deliver to the callers that arrive meanwhile.
  private val building = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), java.util.concurrent.CompletableFuture[DataFrame]]()

  /** Get-or-build the persisted plan for `key` in this session; one
    * build per key at a time (see the class note). */
  def cached(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val m = sessionMap(s)
    m.synchronized(touch(m, key)).getOrElse {
      val mine = new java.util.concurrent.CompletableFuture[DataFrame]()
      val running = building.putIfAbsent((s, key), mine)
      if (running != null) {
        try running.get() // another thread is building this key
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      } else {
        try {
          // the previous builder may have finished between lookup and latch
          val df = m.synchronized(touch(m, key)).getOrElse(persistNew(s, m, key, build))
          mine.complete(df)
          df
        } catch {
          case e: Throwable => mine.completeExceptionally(e); throw e
        } finally building.remove((s, key), mine)
      }
    }
  }

  /** Persist a freshly built frame under `key`, shedding least-recently-
    * used frames beyond the cap (never the new entry: it is at the tail). */
  private def persistNew(s: SparkSession,
      m: scala.collection.mutable.LinkedHashMap[String, DataFrame],
      key: String, build: => DataFrame): DataFrame = {
    val cap = maxFrames(s) // validate confs BEFORE building
    val built = build.persist(storageLevel(s))
    val evicted = m.synchronized {
      m.update(key, built)
      val ev = scala.collection.mutable.ListBuffer.empty[DataFrame]
      while (m.size > cap) m.remove(m.head._1).foreach(ev += _)
      ev.toList
    }
    evicted.foreach(_.unpersist(blocking = false))
    built
  }

  // Session-scoped side-effect artifacts (temp-dir rewrites like the
  // ORC interchange copy): one materialization per (session, key),
  // same stopped-context-sweep lifecycle as the plan registry.
  private val paths = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, scala.collection.mutable.Map[String, String]]()

  /** Get-or-build a session-scoped materialized PATH for `key` (e.g. a
    * format-converted copy of a table) — the build runs at most once
    * per session+key; racing builders reuse the winner's path. */
  def cachedPath(s: SparkSession, key: String)(build: => String): String = {
    sweepStopped(paths)
    val m = paths.computeIfAbsent(s, _ => scala.collection.mutable.Map.empty[String, String])
    m.synchronized(m.get(key)) match {
      case Some(p) => p
      case None =>
        val built = build
        m.synchronized(m.getOrElseUpdate(key, built))
    }
  }

  /** True when `key` currently holds a registry frame (test hook for
    * the LRU-eviction contract; does not bump recency). */
  private[graft] def contains(s: SparkSession, key: String): Boolean = {
    val m = sessionMap(s)
    m.synchronized(m.contains(key))
  }

  /** Unpersist and drop ONE plan (no-op when absent) — the rebuild
    * path for registry entries that can go stale (e.g. an ANN index
    * after corpus growth). */
  def invalidate(s: SparkSession, key: String): Unit = {
    val m = sessionMap(s)
    m.synchronized(m.remove(key)).foreach(_.unpersist(blocking = false))
  }

  /** Unpersist and drop every plan this session registered. */
  def clear(s: SparkSession): Unit = {
    val m = Option(cache.remove(s))
    m.foreach(_.synchronized {
      m.get.values.foreach(_.unpersist(blocking = false))
      m.get.clear()
    })
  }
}
