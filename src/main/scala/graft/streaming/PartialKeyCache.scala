package graft.streaming

/** Per-key partial lookup cache — the reference's `'lookup.cache' =
  * 'PARTIAL'` semantics (EnrichmentApp.java:246-248, flink.conf:37-48).
  *
  * Contract, matching the Flink JDBC connector's partial cache:
  *
  *  - '''expire-after-write''': an entry is served for `ttlMs` after the
  *    moment it was WRITTEN, independent of later reads; past that the next
  *    `get` re-fetches. Expiry is per key — keys written at different times
  *    expire at different times, unlike [[DimensionCache]]'s whole-snapshot
  *    refresh (the transient-freshness difference SURVEY §7 documents).
  *  - '''max-rows''': at most `maxRows` keys stay resident; inserting past
  *    the bound evicts the least-recently-USED entry (reads refresh
  *    recency, writes too). The reference's Guava-backed cache counts
  *    entries the same way; for a unique-key dim, entries == rows.
  *  - '''missing keys are cached''' (`cacheMissingKey = true`, the
  *    connector's `lookup.partial-cache.cache-missing-key` default): a key
  *    absent from the dim occupies an entry holding `Nil`, so repeated
  *    probes of a cold key hit the DB once per TTL window, not per record.
  *
  * Scale contract: this is the *operational-lookup* path — a per-executor
  * (or driver `foreachBatch`) cache in front of point queries against a
  * live store, sized in the hundreds-to-thousands of keys like the
  * reference's 100/1000-row configs. Full-batch enrichment at corpus scale
  * stays on the broadcast-snapshot path ([[DimensionCache]] + stream-static
  * join), which never issues per-key queries at all.
  *
  * Thread-safe; `clock` is injectable so specs can drive expiry
  * deterministically.
  */
final class PartialKeyCache[K, V](fetch: K => Seq[V],
                                  maxRows: Int,
                                  ttlMs: Long,
                                  cacheMissingKey: Boolean = true,
                                  clock: () => Long = () => System.currentTimeMillis()) {
  require(maxRows > 0, s"max-rows must be positive, got $maxRows")

  private case class Entry(rows: Seq[V], writtenAt: Long)

  // accessOrder = true ⇒ iteration order is least-recently-used first;
  // removeEldestEntry fires on insert once the key budget is exceeded
  private val map = new java.util.LinkedHashMap[K, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, Entry]): Boolean =
      this.size() > maxRows // the map's size (explicit: Scala-3 legacy-binding)
  }
  private var fetchCount = 0L

  // one in-flight load per key: concurrent misses on the same key wait for
  // the single fetch instead of issuing duplicates
  private val inflight =
    new java.util.concurrent.ConcurrentHashMap[K, java.util.concurrent.CompletableFuture[Seq[V]]]()

  /** The backing-store fetch runs OUTSIDE the cache monitor: a cold/slow
    * key (a stalled DB round-trip can take seconds) must not serialize
    * every other thread's cache hits behind it — the Guava cache the
    * reference uses loads per-key without a global lock too. Concurrent
    * misses on the SAME key are deduplicated through `inflight`. */
  def get(key: K): Seq[V] = {
    val cached = synchronized {
      val now = clock()
      val hit = map.get(key) // refreshes LRU recency when present
      if (hit != null && now - hit.writtenAt < ttlMs) Some(hit.rows)
      else {
        if (hit != null) map.remove(key) // expired: drop before re-fetch
        None
      }
    }
    cached.getOrElse {
      val f = new java.util.concurrent.CompletableFuture[Seq[V]]()
      val prior = inflight.putIfAbsent(key, f)
      if (prior != null) {
        // someone else is loading this key; unwrap so every caller sees
        // the SAME exception type the loading thread threw, not a
        // CompletionException that dodges their catch clauses
        try prior.join()
        catch {
          case e: java.util.concurrent.CompletionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      } else {
        try {
          val rows = fetch(key)
          val now = clock()
          synchronized {
            fetchCount += 1
            if (rows.nonEmpty || cacheMissingKey) map.put(key, Entry(rows, now))
          }
          f.complete(rows)
          rows
        } catch {
          case t: Throwable => f.completeExceptionally(t); throw t
        } finally inflight.remove(key)
      }
    }
  }

  /** Number of backing-store fetches issued so far (spec instrumentation). */
  def fetches: Long = synchronized(fetchCount)

  /** Number of resident entries (spec instrumentation). */
  def size: Int = synchronized(map.size())

  /** True iff the key is resident (does NOT refresh recency or check TTL). */
  def contains(key: K): Boolean = synchronized(map.containsKey(key))
}
