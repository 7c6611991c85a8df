package graft.store

import scala.collection.concurrent.TrieMap

/** In-memory TTL cache mirroring the reference `InMemoryCache`
  * (`ML Feature Store Pipeline.py:86-111`): get checks expiry, set stamps a
  * deadline, delete evicts. Thread-safe via TrieMap (the reference used a
  * lock around a dict). This caches *collected* driver-side results (small
  * per-version slices), never distributed data — the distributed analogue
  * is `DataFrame.persist`, used separately by callers that re-scan.
  *
  * `onEvict` runs whenever an entry leaves the cache (TTL expiry on get,
  * delete, clear, or a put that replaces it with a different value) —
  * the release hook the store's persist-backed over-cap cache needs to
  * `unpersist` evicted DataFrames.
  */
final class TtlCache[K, V](ttlSeconds: Long,
    clock: () => Long = () => System.currentTimeMillis(),
    onEvict: V => Unit = (_: V) => ())
    extends CacheBackend[K, V] {
  private val entries = TrieMap[K, (Long, V)]()
  private var hitCount = 0L
  private var missCount = 0L

  def get(key: K): Option[V] = synchronized {
    entries.get(key) match {
      case Some((deadline, v)) if clock() < deadline =>
        hitCount += 1; Some(v)
      case Some((_, v)) =>
        entries.remove(key); onEvict(v); missCount += 1; None
      case None =>
        missCount += 1; None
    }
  }

  def put(key: K, value: V): Unit = synchronized {
    entries.put(key, (clock() + ttlSeconds * 1000L, value)).foreach {
      case (_, old) =>
        if (!(old.asInstanceOf[AnyRef] eq value.asInstanceOf[AnyRef])) onEvict(old)
    }
  }

  def delete(key: K): Unit = synchronized {
    entries.remove(key).foreach { case (_, v) => onEvict(v) }
  }

  /** Whether `key` has an entry, expired or not; counts neither a hit nor
    * a miss.
    */
  private[store] def contains(key: K): Boolean = entries.contains(key)

  def clear(): Unit = synchronized {
    entries.values.foreach { case (_, v) => onEvict(v) }
    entries.clear()
  }

  def hits: Long = hitCount
  def misses: Long = missCount
  def size: Int = entries.size
}
