package graft.util

/** TTL + capacity memo cache mirroring the reference's moka caches
  * (/root/reference/src/main.rs:82-93: Delta snapshots 20 entries /
  * 120 s, auth and file-list caches 100 entries / 120 s) and the LRU
  * `cached` macro on DB permission lookups
  * (/root/reference/src/database.rs:28-32).
  *
  * Semantics match moka's time-to-live: entries expire a fixed interval
  * after INSERT (reads do not refresh the TTL); capacity overflow evicts
  * the least-recently-ACCESSED entry. `ttlMillis <= 0` disables expiry
  * (pure LRU, the DB-perms flavor). The clock is injectable for tests.
  *
  * Driver-side metadata memoization only (alias resolutions, permission
  * rows, resolved file lists, and every `MiniDelta` memo of immutable
  * log facts: per-version table states, parsed commits, checkpoint
  * rows) — never a data-plane cache, so a plain synchronized
  * LinkedHashMap is plenty: lookups happen per query plan or per log
  * file, not per row, and each cache's constant capacity (20 to a few
  * thousand entries) bounds its heap.
  */
class TtlCache[K, V](maxEntries: Int, ttlMillis: Long,
                     clock: () => Long = () => System.currentTimeMillis(),
                     onEvict: V => Unit = (_: V) => ()) {
  require(maxEntries > 0, "maxEntries must be positive")

  private final case class Entry(value: V, insertedAt: Long)

  // access-order LinkedHashMap = LRU order for free
  private val map = new java.util.LinkedHashMap[K, Entry](16, 0.75f, true)

  private var missCount = 0L

  private def expired(e: Entry, now: Long): Boolean =
    ttlMillis > 0 && now - e.insertedAt >= ttlMillis

  /** `compute` runs OUTSIDE the cache monitor — a slow miss (a Spark
    * job resolving a file list, a log replay) must not serialize
    * lookups for unrelated keys. Two racing misses on the SAME key may
    * both compute; the loser's value is discarded through onEvict
    * (moka dedupes per key; for driver-side metadata memos the rare
    * duplicate compute is cheaper than a per-key latch). A `compute`
    * that throws publishes nothing. */
  def getOrElseUpdate(key: K)(compute: => V): V = {
    synchronized {
      val hit = map.get(key)
      if (hit != null) {
        if (!expired(hit, clock())) return hit.value
        map.remove(key)
        onEvict(hit.value)
      }
      missCount += 1
    }
    val v = compute
    synchronized {
      val raced = map.get(key)
      if (raced != null && !expired(raced, clock())) {
        onEvict(v)
        raced.value
      } else {
        if (raced != null) { map.remove(key); onEvict(raced.value) }
        if (map.size >= maxEntries) {
          val eldest = map.entrySet().iterator().next()
          map.remove(eldest.getKey)
          onEvict(eldest.getValue.value)
        }
        map.put(key, Entry(v, clock()))
        v
      }
    }
  }

  def get(key: K): Option[V] = synchronized {
    val hit = map.get(key)
    if (hit == null) None
    else if (expired(hit, clock())) {
      map.remove(key)
      onEvict(hit.value)
      None
    } else Some(hit.value)
  }

  def invalidate(key: K): Unit = synchronized {
    val e = map.remove(key)
    if (e != null) onEvict(e.value)
  }

  /** Drop every entry whose key satisfies `p`, each through onEvict. */
  def invalidateIf(p: K => Boolean): Unit = synchronized {
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (p(e.getKey)) { it.remove(); onEvict(e.getValue.value) }
    }
  }

  def clear(): Unit = synchronized {
    map.values().forEach(e => onEvict(e.value))
    map.clear()
  }

  def size: Int = synchronized(map.size)

  /** [[getOrElseUpdate]] calls that ran `compute` (a raced duplicate
    * counts: it computed too). */
  def misses: Long = synchronized(missCount)
}
