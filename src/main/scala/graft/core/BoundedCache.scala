package graft.core

/** A weight-bounded LRU map under one lock — the content cache every
  * Iceberg runtime keeps for write-once metadata (`io.manifest.cache.*`),
  * stated once for every driver-side cache in the engine.
  *
  * Entries are evicted eldest-access first once the summed
  * `weigh(value)` exceeds `budget`. The rules every instance relies on:
  *  - a hit refreshes recency;
  *  - an insert never evicts the entry it inserts (one entry heavier
  *    than the whole budget still survives, alone);
  *  - a load runs OUTSIDE the lock, so loads of distinct keys overlap
  *    and a slow load never blocks a hit; two concurrent loads of one
  *    key may both compute, and the first `put` wins — benign only
  *    because every caller keys write-once content;
  *  - a load that throws or yields no value caches nothing, so a
  *    transient failure stays a loud re-load, never a sticky verdict.
  */
final class BoundedCache[K, V](budget: Long, weigh: V => Long) {

  // access-ordered: iteration runs eldest access first
  private val map = new java.util.LinkedHashMap[K, (V, Long)](64, 0.75f, true)
  private var weight = 0L

  def get(key: K): Option[V] = synchronized(Option(map.get(key)).map(_._1))

  /** Insert unless `key` is already cached (first put wins), then evict
    * eldest entries other than `key` until the budget holds. */
  def put(key: K, value: V): Unit = synchronized {
    if (!map.containsKey(key)) {
      val w = weigh(value)
      map.put(key, (value, w))
      weight += w
      val it = map.entrySet().iterator()
      while (weight > budget && it.hasNext) {
        val e = it.next()
        if (e.getKey != key) { weight -= e.getValue._2; it.remove() }
      }
    }
  }

  /** Cache-through load; `None` is returned but not cached. */
  def getOrLoad(key: K)(load: => Option[V]): Option[V] =
    get(key).orElse {
      val v = load
      v.foreach(put(key, _))
      v
    }

  def getOrElseUpdate(key: K)(load: => V): V =
    getOrLoad(key)(Some(load)).get
}
