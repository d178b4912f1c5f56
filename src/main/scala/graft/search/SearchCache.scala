package graft.search

/** Driver-side bounded LRU memo for top-k search results (reference:
  * `storage/base.py:249-330` `CachingVectorStore` — a decorator over the
  * store, capped at `max_cache_size` entries, cleared on every mutation).
  *
  * Spark-first rationale: `df.cache()` memoizes the SCAN, which Spark
  * already handles; what the reference caches is the final top-k RESULT of
  * a repeated query. Those results are `limit`-bounded (tens of rows), so
  * holding them on the driver is safe at any corpus scale — the cache cost
  * is O(entries × limit), independent of table size. Unlike the
  * reference's, it sees writers in other processes: the engine keys every
  * entry on the store version, so after any commit older entries are never
  * hit again and age out of the LRU.
  */
final class SearchCache[K, V](maxSize: Int) {

  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      this.size() > maxSize
  }
  private var _hits = 0L
  private var _misses = 0L

  def getOrElseUpdate(k: K)(compute: => V): V = synchronized {
    if (map.containsKey(k)) { _hits += 1; map.get(k) }
    else {
      _misses += 1
      val v = compute
      map.put(k, v)
      v
    }
  }

  def clear(): Unit = synchronized(map.clear())
  def size: Int = synchronized(map.size())
  def hits: Long = synchronized(_hits)
  def misses: Long = synchronized(_misses)
}
