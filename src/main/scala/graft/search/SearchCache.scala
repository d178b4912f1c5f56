package graft.search

/** Driver-side bounded LRU memo with hit/miss counters. `IndexStore` keeps
  * each data file's parquet footer schema in one, keyed by file name: data
  * files are immutable, so an entry never goes stale, and the bound caps
  * the driver memory it takes.
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

  def size: Int = synchronized(map.size())
  def hits: Long = synchronized(_hits)
  def misses: Long = synchronized(_misses)
}
