package graft.sources

/** A small access-ordered LRU with a fixed capacity: the one bounded
  * memo behind the JVM-lifetime caches over persisted state (opened
  * store handles, parquet schemas, view-store folds). A put past the
  * capacity drops the least-recently-used entry, never the whole map.
  * Eviction only drops the REFERENCE: Spark's ContextCleaner reclaims
  * whatever blocks the value pinned once no live plan reaches them.
  * Thread-safe; values are computed outside the lock, so a slow miss
  * (a schema inference, a store build) never serializes other readers. */
final class Lru[K, V](capacity: Int) {
  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      size() > capacity
  }

  def get(k: K): Option[V] = synchronized(Option(m.get(k)))

  def put(k: K, v: V): Unit = synchronized(m.put(k, v): Unit)

  def getOrElseUpdate(k: K)(make: => V): V =
    get(k).getOrElse { val v = make; put(k, v); v }
}
