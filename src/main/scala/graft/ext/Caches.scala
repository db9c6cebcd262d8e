package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry of OPERATOR-INTERNAL persisted frames — the
  * releasable handle the centralized-cleanup contract (Dedup header
  * doc) promises callers.
  *
  * Operators persist intermediate frames (shingle indexes, gram
  * explodes, sketch frames) that the RETURNED lazy DataFrame still
  * reads, so an in-operator unpersist would fire before the caller's
  * action and silently re-derive the frame per consumer. The harnesses
  * (`graft.Verify` / `graft.Bench`) run
  * `spark.catalog.clearCache()` between queries, but a long-lived
  * interactive session that also persists ITS OWN frames can't use
  * that hammer. [[persisted]] registers each internal persist here
  * (weakly — registration never retains a frame the caller dropped),
  * and [[release]] unpersists exactly the operator-internal survivors,
  * leaving user persists alone.
  */
object Caches {
  // STRONG identity-keyed registry, deliberately: Spark's CacheManager
  // holds the cached data regardless of whether the Dataset wrapper is
  // still referenced, so a weak registry would let a GC drop the entry
  // while the cache it exists to free lives on — release() would then
  // silently leak exactly the frames whose wrappers went out of scope
  // first (the common case: operator-internal persists). The wrapper
  // objects held here are tiny (plans, not data) and release() clears
  // the registry, so the strong hold is bounded by the release cadence
  // the contract already requires.
  private val frames =
    java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]())

  /** Persist `df` at `level` and register it for [[release]]. Returns
    * `df` so call sites read `Caches.persisted(frame)`. */
  def persisted(
      df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    synchronized {
      df.persist(level)
      frames.add(df)
      df
    }

  /** Unpersist every still-live registered frame (non-blocking) and
    * clear the registry. Safe to call between corpora in a long-lived
    * session; user-persisted frames are untouched. */
  def release(): Unit = synchronized {
    val it = frames.iterator()
    while (it.hasNext) it.next().unpersist(false)
    frames.clear()
  }

  /** Number of currently registered frames — spec hook. */
  def registered: Int = synchronized(frames.size())

  /** Chain-friendly form: `frame.persistRegistered()` keeps the
    * builder chains at the call sites intact. */
  implicit class Registered(private val df: DataFrame) extends AnyVal {
    def persistRegistered(
        level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
      Caches.persisted(df, level)
  }
}
