package graft.streaming

import org.apache.spark.sql.DataFrame

/** TTL-refreshed snapshot of a bounded dimension table.
  *
  * The reference's JDBC lookup sources cache per-key with an LRU +
  * 60 s expire-after-write policy (flink.conf:37-48,
  * EnrichmentApp.java:246-248). Spark's stream-static join instead re-plans
  * the whole static side per micro-batch; this cache reproduces the
  * reference's *freshness contract* (rows at most `ttlMs` stale) at the
  * snapshot level: `get()` re-runs the loader — e.g. `spark.read.jdbc` —
  * only when the held snapshot has expired, otherwise every micro-batch
  * gets the same cached DataFrame. `CdrStreamJob.runForeachBatch` keys its
  * dimension index on that identity: a new snapshot, a new index.
  *
  * Per-*key* expiry vs per-*snapshot* refresh can differ transiently: a key
  * loaded 59 s ago is served from snapshot here but would be re-fetched at
  * 60 s by Flink. Both bound staleness by the TTL, which is the observable
  * guarantee (SURVEY §7 hard-part 2).
  *
  * Thread-safe; `foreachBatch` callbacks run on the driver so contention is
  * nil — the lock only guards against concurrent streaming queries sharing
  * one cache.
  */
final class DimensionCache(load: () => DataFrame, ttlMs: Long) {

  @volatile private var snapshot: DataFrame = _
  @volatile private var loadedAt: Long = Long.MinValue

  def get(): DataFrame = {
    val now = System.currentTimeMillis()
    // local read: the bare `snapshot` field could be nulled by a concurrent
    // invalidate() between the freshness check and the return
    val held = snapshot
    if (held != null && now - loadedAt < ttlMs) return held
    synchronized {
      if (snapshot == null || now - loadedAt >= ttlMs) {
        val fresh = load()
        fresh.cache()
        // eager materialization: one count per TTL window pins the snapshot
        // AND gives the cached relation ACCURATE size stats immediately. A
        // lazily-cached JDBC relation reports an unknown size until first
        // use, and the size rule lets an unknown size through, so without
        // the count a dim over the rule would reach DimIndex.build's
        // driver-side collect; with it, such a dim keeps the join shape
        // a refresh-time failure (transient JDBC outage) must not leak the
        // just-registered cache entry: unpersist before propagating, and the
        // held (stale but materialized) snapshot stays in place
        try fresh.count()
        catch {
          case t: Throwable =>
            fresh.unpersist(blocking = false)
            throw t
        }
        if (snapshot != null) snapshot.unpersist(blocking = false)
        snapshot = fresh
        loadedAt = now
      }
      snapshot // non-null: invalidate() synchronizes on the same lock
    }
  }

  /** Drop the held snapshot (test hook / shutdown). */
  def invalidate(): Unit = synchronized {
    if (snapshot != null) snapshot.unpersist(blocking = false)
    snapshot = null
    loadedAt = Long.MinValue
  }
}
