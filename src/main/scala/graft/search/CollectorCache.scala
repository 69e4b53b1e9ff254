package graft.search

import org.apache.spark.sql.Row

/** Repeated-query collector cache (C8 — reference
  * `/root/reference/summa-core/src/components/collector_cache.rs:7-109`):
  * a driver-side TTL + LRU cache of collected TopDocs results, quantized to
  * blocks of 100 docs so that paging requests (`offset`, `limit`) within the
  * same block hit one cached entry.
  *
  * Semantics mirrored from the reference:
  *   - a TopDocs request is cacheable only when `[offset, offset+limit)`
  *     fits inside one quantization block (`is_caching_enabled`,
  *     `collector_cache.rs:41-58`) — otherwise the request bypasses the
  *     cache entirely;
  *   - the adjusted fetch retrieves the WHOLE block
  *     (`adjust_collector`, `:61-76`) and the reply is sliced back to the
  *     caller's offset/limit with `has_next` recomputed
  *     (`adjust_result`, `:78-103`);
  *   - entries expire after `ttlMillis` (default 120 s) and the cache holds
  *     at most `maxEntries` (default 128) — `configs/core.rs:35-48` defaults.
  *
  * The cache key includes the reader's snapshot version, so a commit
  * naturally invalidates (a new reader generation, like tantivy's
  * reload-on-commit searcher).
  */
final class CollectorCache(maxEntries: Int = 128, ttlMillis: Long = 120000L) {

  val BlockSize: Int = 100 // collector_cache.rs:7

  private final case class Entry(rows: Array[Row], blockHasNext: Boolean, insertedAt: Long)

  private val cache =
    new java.util.LinkedHashMap[String, Entry](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Entry]): Boolean =
        size() > maxEntries
    }

  private def now(): Long = System.currentTimeMillis()

  /** `is_caching_enabled`: the requested window must fit in one block. */
  def isCacheable(limit: Int, offset: Int): Boolean = {
    val leftBound = offset
    val rightBound = offset + limit
    val leftBlockBound = offset - offset % BlockSize
    val rightBlockBound = leftBlockBound + BlockSize
    leftBlockBound <= leftBound && rightBound <= rightBlockBound
  }

  def removeExpired(): Unit = synchronized {
    val it = cache.entrySet().iterator()
    val t = now()
    while (it.hasNext) if (t - it.next().getValue.insertedAt > ttlMillis) it.remove()
  }

  private def baseKey(searcher: Searcher, q: Query): String = {
    val snap = searcher.reader.snapshot.map(_.version).getOrElse(-1)
    s"${searcher.reader.indexDir}@$snap|fieldnorms=${searcher.fieldnorms}|$q"
  }

  private def key(searcher: Searcher, q: Query, limit: Int, offset: Int): String =
    baseKey(searcher, q) + s"|TopDocs{limit=$limit,offset=$offset}"

  /** Generic cacheable-collector fruit. The reference caches EVERY cacheable
    * collector's fruit keyed by (query, collector descriptor) — count,
    * facets, aggregations — not just top-docs (`collector_cache.rs:7-109`,
    * wired for all kinds at `index_holder.rs:460-505`; only reservoir
    * sampling is never cached, its fruit being non-deterministic). `compute`
    * runs on miss; its row array is the stored fruit. Concurrent misses on
    * the same key may each run `compute` (benign duplicate work — the lock is
    * never held across a Spark job); the returned array is always a defensive
    * copy so a caller mutating it cannot poison later hits.
    */
  def fruit(searcher: Searcher, q: Query, descriptor: String)(
      compute: => Array[Row]): Array[Row] = {
    val k = baseKey(searcher, q) + s"|$descriptor"
    synchronized {
      Option(cache.get(k)).filter(e => now() - e.insertedAt <= ttlMillis)
    } match {
      case Some(e) => e.rows.clone()
      case None =>
        val rows = compute
        synchronized { cache.put(k, Entry(rows.clone(), blockHasNext = false, now())); () }
        rows
    }
  }

  /** Cached top-docs: returns the `(rows, hasNext)` slice for (limit,
    * offset), fetching + caching the enclosing 100-doc block on miss. Falls
    * through to a direct uncached fetch when the window spans blocks.
    */
  def topDocs(searcher: Searcher, q: Query, limit: Int, offset: Int = 0): (Array[Row], Boolean) = {
    Searcher.windowEnd(limit, offset)
    if (!isCacheable(limit, offset)) return fetch(searcher, q, limit, offset)
    val blockStart = offset - offset % BlockSize
    val k = key(searcher, q, BlockSize, blockStart)
    val entry = synchronized {
      Option(cache.get(k)).filter(e => now() - e.insertedAt <= ttlMillis)
    } match {
      case Some(e) => e
      case None =>
        // fetch the whole block and its block-level has_next
        val (rows, hasNext) = fetch(searcher, q, BlockSize, blockStart)
        val e = Entry(rows, hasNext, now())
        synchronized { cache.put(k, e); () }
        e
    }
    // adjust_result: slice to the caller's window, recompute has_next
    val inBlockOffset = offset % BlockSize
    val slice = entry.rows.slice(inBlockOffset, inBlockOffset + limit)
    val hasNext = entry.blockHasNext || entry.rows.length > inBlockOffset + limit
    (slice, hasNext)
  }

  /** The walk's `limit` rows from `offset` and whether a row follows them:
    * the reference's has_next asks for one row more
    * (`fruit_extractors.rs:109,219-241`); `limit + 1` is checked.
    */
  private def fetch(searcher: Searcher, q: Query, limit: Int, offset: Int): (Array[Row], Boolean) = {
    val rows = searcher.topRows(q, Searcher.windowEnd(limit, 1), offset)
    (rows.take(limit).toArray, rows.length > limit)
  }

  def size: Int = synchronized(cache.size())
}
