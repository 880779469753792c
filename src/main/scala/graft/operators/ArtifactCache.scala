package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one bounded LRU memo behind every trained-artifact and
  * persisted-relation memo in [[Dedup]] and [[Similarity]]. Keys are a
  * [[SnapshotKey]], alone or followed by the build's parameters, so reuse
  * never serves a changed corpus. Per instance:
  *   - one lock: a missing key is built under it, so concurrent callers
  *     of the same key run `build` once. Callers that nest caches take
  *     their locks in one fixed order (Dedup: labels → pairs → chain);
  *   - a hit becomes the most recently used entry;
  *   - an entry that is not `live` (a persisted relation unpersisted
  *     elsewhere) is rebuilt, never served. The stale value is
  *     overwritten, not dropped: the rebuild may have re-persisted the
  *     same plans, which an unpersist of the stale value would release;
  *   - past `cap` entries the least recently used one is evicted and
  *     handed to `drop` (unpersist for relations; driver-side arrays
  *     need nothing). */
private[operators] final class ArtifactCache[K, V](cap: Int,
                                                   live: V => Boolean = (_: V) => true,
                                                   drop: V => Unit = (_: V) => ()) {
  // access order: get/put move the entry to the most-recent end
  private val entries = new java.util.LinkedHashMap[K, V](16, 0.75f, true)

  def apply(key: K)(build: => V): V = synchronized {
    val hit = entries.get(key)
    if (hit != null && live(hit)) hit
    else {
      val v = build
      entries.put(key, v)
      val it = entries.values.iterator
      while (entries.size > cap) { val old = it.next(); it.remove(); drop(old) }
      v
    }
  }

  /** Drop every value and forget every key. */
  def clear(): Unit = synchronized {
    entries.values.forEach(v => drop(v))
    entries.clear()
  }
}

private[operators] object ArtifactCache {
  def persist(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

  def isPersisted(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  def unpersist(dfs: DataFrame*): Unit = dfs.foreach(_.unpersist(blocking = false))

  /** A cache of persisted relations: live while persisted, unpersisted on
    * eviction and [[ArtifactCache.clear]]. */
  def relations[K](cap: Int): ArtifactCache[K, DataFrame] =
    new ArtifactCache[K, DataFrame](cap, isPersisted, unpersist(_))
}
