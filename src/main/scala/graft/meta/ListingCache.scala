package graft.meta

import org.apache.spark.sql.Row

import java.util.concurrent.atomic.{AtomicReference, LongAdder}
import scala.collection.concurrent.TrieMap

/** Snapshot-keyed readdir memo — the engine-side analog of the
  * reference's `ListStatusCache` (fuse/src/uring_fuse/uring_fs/
  * list_cache.rs:4-27), which serves readdir from a path-keyed map that
  * the create path patches in place (uring_fs/mod.rs:195-200 appends the
  * new name on create).
  *
  * Here a catalog snapshot is immutable, so a listing computed from one
  * can never go stale for it. The memo holds the listings of ONE
  * snapshot; a readdir against any other snapshot replaces them with an
  * empty map for that snapshot. A miss stores into the map it captured,
  * so a listing computed on an old snapshot is never served for a newer
  * one. No expiry and no invalidation call are needed.
  */
final class ListingCache {

  private final class Memo(val snapshot: InodeCatalog) {
    val rows = TrieMap.empty[Long, Seq[Row]]
  }
  private val current = new AtomicReference[Memo](null)

  private val hitCount = new LongAdder
  private val missCount = new LongAdder
  def hits: Long = hitCount.sum()
  def misses: Long = missCount.sum()

  /** The memo for `cat`, replacing the held one when `cat` is another
    * snapshot. */
  private def memoFor(cat: InodeCatalog): Memo =
    current.updateAndGet(m => if (m != null && (m.snapshot eq cat)) m else new Memo(cat))

  /** Serve `readdir(parent)` from `cat`'s memo when it holds the
    * directory; otherwise run the catalog listing and memoize it.
    * Pagination is applied to the memoized full listing (the memo stores
    * whole directories, like the reference's path→names map). */
  def readdir(cat: InodeCatalog, parent: Long, offset: Int = 0,
      limit: Int = Int.MaxValue): Seq[Row] = {
    val memo = memoFor(cat)
    val rows = memo.rows.get(parent) match {
      case Some(r) =>
        hitCount.increment()
        r
      case None =>
        missCount.increment()
        val fresh = cat.readdir(parent).collect().toSeq
        memo.rows.put(parent, fresh)
        fresh
    }
    rows.slice(offset, math.min(rows.size, offset.toLong + limit).toInt)
  }
}
