package graft.streaming

import java.util.concurrent.{ExecutionException, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.google.common.base.Ticker
import com.google.common.cache.{Cache, CacheBuilder}
import com.google.common.util.concurrent.{ExecutionError, UncheckedExecutionException}

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
  * Guava's cache, like the reference's: one segment (`concurrencyLevel(1)`)
  * makes `maximumSize` eviction exact LRU; `expireAfterWrite` reads a
  * `Ticker` on `clock`, injectable so specs drive expiry; per-key loading
  * never blocks hits on other keys behind a slow fetch (a stalled DB
  * round-trip), and concurrent misses on one key wait for one fetch.
  */
final class PartialKeyCache[K, V](fetch: K => Seq[V],
                                  maxRows: Int,
                                  ttlMs: Long,
                                  cacheMissingKey: Boolean = true,
                                  clock: () => Long = () => System.currentTimeMillis()) {
  require(maxRows > 0, s"max-rows must be positive, got $maxRows")

  private val fetchCount = new AtomicLong()

  // Guava caches every loaded value: with cacheMissingKey off, a missing
  // key's load fails with this instead and get answers Nil
  private object NotCached extends Exception with scala.util.control.NoStackTrace

  // Tuple1 keys: Guava needs non-null reference keys, and a dim probe may
  // carry a NULL key or a primitive one
  private val cache: Cache[Tuple1[K], Seq[V]] = CacheBuilder.newBuilder()
    .concurrencyLevel(1)
    .maximumSize(maxRows.toLong)
    .expireAfterWrite(ttlMs, TimeUnit.MILLISECONDS)
    .ticker(new Ticker { def read(): Long = TimeUnit.MILLISECONDS.toNanos(clock()) })
    .build[Tuple1[K], Seq[V]]()

  /** The cached rows for `key`, fetching them on a miss. A failed fetch
    * caches nothing and throws the fetch's own exception, to the loading
    * caller and to every caller that waited on it. */
  def get(key: K): Seq[V] =
    try cache.get(Tuple1(key), () => load(key))
    catch {
      case e @ (_: ExecutionException | _: UncheckedExecutionException | _: ExecutionError) =>
        e.getCause match {
          case NotCached => Nil
          case cause => throw cause
        }
    }

  private def load(key: K): Seq[V] = {
    val rows = fetch(key)
    fetchCount.incrementAndGet()
    if (rows.isEmpty && !cacheMissingKey) throw NotCached
    rows
  }

  /** Number of backing-store fetches issued so far (spec instrumentation). */
  def fetches: Long = fetchCount.get()

  /** Number of resident entries (spec instrumentation). */
  def size: Int = cache.size().toInt

  /** True iff the key is resident and unexpired (does NOT refresh
    * recency). */
  def contains(key: K): Boolean = cache.asMap().containsKey(Tuple1(key))
}
