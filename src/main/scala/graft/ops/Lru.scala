package graft.ops

/** Bounded least-recently-used map, safe for concurrent use: the one
  * eviction policy of the manifest layer's per-JVM memos. Every insert
  * evicts least-recently-used entries until at most `maxEntries`
  * remain and their summed `weight` is at most `maxWeight`; an entry
  * heavier than `maxWeight` on its own is never kept. `maxEntries` is
  * re-read on every insert, so a lowered bound takes effect at the next
  * one. Every lookup counts as a hit (key present) or a miss, so each
  * memo built on it reports how often it answered ([[stats]]). */
private[graft] final class Lru[K, V](maxEntries: => Int,
                                     maxWeight: Long = Long.MaxValue,
                                     weight: V => Long = (_: V) => 0L) {
  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true)
  private var totalWeight = 0L
  private var hits = 0L
  private var misses = 0L

  def get(k: K): Option[V] = synchronized {
    val v = Option(map.get(k))
    if (v.isDefined) hits += 1 else misses += 1
    v
  }

  def put(k: K, v: V): Unit = synchronized {
    Option(map.remove(k)).foreach(old => totalWeight -= weight(old))
    val w = weight(v)
    if (w <= maxWeight) {
      map.put(k, v)
      totalWeight += w
      val it = map.values().iterator()
      while ((map.size > maxEntries || totalWeight > maxWeight) && it.hasNext) {
        totalWeight -= weight(it.next())
        it.remove()
      }
    }
  }

  /** The entry for `k`, created by `make` (under the lock) if absent. */
  def getOrElseUpdate(k: K, make: => V): V = synchronized {
    get(k).getOrElse { val v = make; put(k, v); v }
  }

  def size: Int = synchronized(map.size)

  /** (hits, misses) of every lookup since construction. */
  def stats: (Long, Long) = synchronized((hits, misses))
}
