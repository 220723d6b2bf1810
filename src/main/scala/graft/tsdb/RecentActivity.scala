package graft.tsdb

import java.nio.charset.StandardCharsets
import java.nio.file.Path

import scala.collection.mutable

/** The reference's RecentActivity sorted set (index.js:81,
  * enqueue-purge.lua:12) as a store-owned, in-memory index: per
  * `(tag, partitionStart)` the last `"w"` clock and the last `"m"` clock.
  * A partition is ACTIVE iff it has a write newer than its last mark; its
  * activity time is its last write.
  *
  * The index is fed only by [[ActivityLedger.tail]] over every writer's
  * log, so another process's writes and marks arrive at the next
  * [[refresh]]. Clocks merge by max, which makes a re-read harmless: a
  * rolled log ([[TimeSeriesStore.compactActivityLog]]) is re-read from
  * offset 0 and names no clock above what was merged before. For the same
  * reason an entry is never dropped — a mark must outlive every re-read of
  * the write it hides. Thread-safe: every method holds the index's lock.
  */
private[tsdb] final class RecentActivity(activityDir: Path) {
  import RecentActivity._

  private var offsets = Map.empty[String, Long]
  private final class Last(var write: Option[Long], var mark: Option[Long])
  private val last = mutable.HashMap.empty[(String, Long), Last]

  /** Fold in every complete ledger line appended since the last call. */
  def refresh(): Unit = synchronized {
    val (next, acts) = ActivityLedger.tail(activityDir, offsets)
    offsets = next
    acts.foreach { a =>
      if (a.kind == "w" || a.kind == "m") {
        val e = last.getOrElseUpdate((a.tag, a.partitionStart), new Last(None, None))
        def up(o: Option[Long]) = Some(o.fold(a.activityTs)(math.max(_, a.activityTs)))
        if (a.kind == "w") e.write = up(e.write) else e.mark = up(e.mark)
      }
    }
  }

  /** Every active partition, in no particular order. */
  def active(): Seq[Entry] = synchronized {
    last.iterator.collect {
      case ((tag, ps), e) if e.write.exists(w => e.mark.forall(w > _)) =>
        Entry(tag + Limits.Separator + ps, tag, ps, e.write.get)
    }.toSeq
  }

  /** The `k` oldest active partitions with `now - lastActivity >= minAgeMs`,
    * ordered by `(lastActivity, partitionName)` — a bounded heap over the
    * index, no data read.
    */
  def oldest(now: Long, minAgeMs: Long, k: Int): Seq[Entry] = {
    val heap = mutable.PriorityQueue.empty[Entry](victimOrder) // max on top
    active().foreach { e =>
      if (now - e.lastActivity >= minAgeMs) {
        heap.enqueue(e)
        if (heap.size > k) heap.dequeue()
      }
    }
    heap.dequeueAll.reverse
  }
}

private[tsdb] object RecentActivity {

  /** One active partition, the row of [[TimeSeriesStore.recentActivityDF]]. */
  final case class Entry(partitionName: String, tag: String,
      partitionStart: Long, lastActivity: Long)

  /** Spark's string order: unsigned UTF-8 bytes, which differs from
    * `String.compareTo` (UTF-16 units) once a supplementary-plane
    * character meets one in U+E000–U+FFFF.
    */
  val utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = java.util.Arrays.compareUnsigned(
      a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))
  }

  /** Purge-victim order: `(lastActivity, partitionName)`, as the reference's
    * score-then-member sorted-set order; `(tag, partitionStart)` only
    * separates the rare keys whose names collide (`"a-"`,1 and `"a"`,-1).
    */
  val victimOrder: Ordering[Entry] =
    Ordering.by[Entry, Long](_.lastActivity)
      .orElse(Ordering.by[Entry, String](_.partitionName)(utf8Order))
      .orElse(Ordering.by[Entry, String](_.tag)(utf8Order))
      .orElse(Ordering.by[Entry, Long](_.partitionStart))
}
