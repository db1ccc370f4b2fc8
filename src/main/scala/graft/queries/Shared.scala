package graft.queries

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The in-session frame registry, split by lifetime.
  *
  * Two tiers:
  *  - '''memoized''' — per-session table resolutions (`Tables.t`,
  *    unpersisted: re-resolving a parquet table per query re-lists the
  *    directory and re-reads footers) and, persisted, pipeline stages
  *    reused by several queries over the same corpus (shingle sets,
  *    embedding norms, the synthetic landing frame). Memoized per
  *    (session, dir, key) so every caller gets the
  *    same plan object, hence the same cache entry. On a long-running
  *    cluster these are exactly the materialized intermediate tables a
  *    warehouse would keep; the benchmark's per-query isolation keeps
  *    them, mirroring how DuckDB's repeated-CTE cost is amortized by its
  *    buffer-pool-resident base tables.
  *  - '''transient''' — per-query temporaries (candidate sets, ranked
  *    frames) that exist only to stop double-execution inside one query.
  *    `dropTransient()` unpersists them; the bench calls it between
  *    queries so ~50 dead entries never pile up in the CacheManager
  *    (measured: every action pays plan-canonicalization lookups against
  *    all registered entries — accumulation cost ~7 s over the suite).
  *
  * Keeping handles here (instead of `spark.catalog.clearCache()`) is
  * what makes selective eviction possible at all: CacheManager has no
  * public enumeration, and a blunt clear would also de-register the
  * shared frames' plans, silently turning every later access into an
  * uncached recompute. */
object Shared {

  /** THE in-session registry: every memoized frame, persisted or not. */
  private val registry =
    new ConcurrentHashMap[(SparkSession, String, String), DataFrame]()
  private val transientFrames =
    java.util.Collections.newSetFromMap(
      new ConcurrentHashMap[DataFrame, java.lang.Boolean]())

  /** Memoize `build` per (session, dir, key), persisted when `persist`:
    * the build runs once and every caller gets the same plan object,
    * hence the same cache entry. Keyed by session because specs and the
    * driver may use different sessions. Above 256 entries, those of
    * stopped sessions go first, then all. Contract: a corpus dir is
    * immutable while registered; the write paths call [[invalidate]]. */
  def memo(s: SparkSession, dir: String, key: String, persist: Boolean)(
      build: => DataFrame): DataFrame = {
    if (registry.size > 256) {
      registry.keySet.removeIf(k => k._1.sparkContext.isStopped)
      if (registry.size > 256) forget(_ => true)
    }
    val k = (s, dir, key)
    val hit = registry.get(k)
    if (hit != null) hit
    else synchronized {
      // double-checked under a reentrant lock: builds may recursively
      // request other frames (simhashed → shingled), which
      // ConcurrentHashMap.computeIfAbsent forbids on one map
      val again = registry.get(k)
      if (again != null) again
      else {
        val df = if (persist) build.persist() else build
        registry.put(k, df)
        df
      }
    }
  }

  /** Memoize + persist a cross-query shared stage. */
  def shared(s: SparkSession, dir: String, key: String)(
      build: => DataFrame): DataFrame = memo(s, dir, key, persist = true)(build)

  /** Persist a per-query temporary and register it for dropTransient. */
  def temp(df: DataFrame): DataFrame = {
    df.persist()
    transientFrames.add(df)
    df
  }

  /** Unpersist every registered per-query temporary (non-blocking). */
  def dropTransient(): Unit = {
    transientFrames.forEach(df =>
      try df.unpersist(false) catch { case _: Throwable => () })
    transientFrames.clear()
  }

  /** Unpersist + forget every entry whose dir contains, equals, or is
    * contained by `path`: the write paths (append, prune, compact,
    * through `Ingest.invalidate`; a tier install) call this so the next
    * read sees the rewritten files, not a plan pinned to the old
    * listing. Coarse on purpose: eviction is cheap, staleness is not. */
  def invalidate(path: String): Unit = {
    val p = path.stripSuffix("/")
    forget { k =>
      val dir = k._2.stripSuffix("/")
      dir == p || dir.startsWith(p + "/") || p.startsWith(dir + "/")
    }
  }

  private def forget(which: ((SparkSession, String, String)) => Boolean): Unit = {
    val it = registry.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      if (which(e.getKey)) {
        try e.getValue.unpersist(false) catch { case _: Throwable => () }
        it.remove()
      }
    }
  }

  /** Full reset: the registry and the per-query temporaries. */
  def dropAll(): Unit = { dropTransient(); forget(_ => true) }
}
