package graft.operators

import scala.collection.mutable
import scala.reflect.ClassTag

/** Immutable, array-backed augmented interval tree over `Int` coordinates,
  * 1-based and **end-inclusive**: `[s1,e1]` overlaps `[s2,e2]` iff
  * `e1 >= s2 && s1 <= e2` (reference semantics:
  * `rangejoins/IntervalTree/Interval.scala:5-10`,
  * `IntervalTreeRedBlack.java:44-46`).
  *
  * Layout: intervals sorted by start in flat primitive arrays; the implicit
  * balanced BST is the binary-search midpoint recursion, augmented with the
  * subtree max-end (`maxEnds(mid)` = max end over `[lo,hi)`). Compared with
  * the reference's node-based red-black tree
  * (`rangejoins/methods/IntervalTree/IntervalTreeRedBlack.java`) this is
  * built once, cache-friendly, and — crucial at cluster scale — cheap to
  * serialize into a broadcast (4 primitive arrays + one value array, no
  * object graph). Query cost is O(log n + k).
  */
final class IntervalForest[T] private (
    private val starts: Array[Int],
    private val ends: Array[Int],
    private val maxEnds: Array[Int],
    private val values: Array[T],
    private val prefixMaxEnds: Array[Int],
    /** Interval indices in ascending `ends` order — the left-flank axis
      * for [[foreachNearestKDir]] (k smallest left gaps = k largest ends
      * below the query start). One extra Int per interval. */
    private val endOrder: Array[Int]) extends IntervalHolder[T] {

  def size: Int = starts.length

  /** Invoke `f(storedStart, storedEnd, value)` for every stored interval
    * overlapping `[qs, qe]` (inclusive). Allocation-free. */
  override def foreachOverlap(qs: Int, qe: Int)(f: (Int, Int, T) => Unit): Unit =
    search(0, starts.length, qs, qe, f)

  private def search(lo: Int, hi: Int, qs: Int, qe: Int, f: (Int, Int, T) => Unit): Unit = {
    if (lo >= hi) return
    val mid = (lo + hi) >>> 1
    // Subtree prune: nothing under [lo,hi) ends at/after the query start.
    if (maxEnds(mid) < qs) return
    search(lo, mid, qs, qe, f)
    // Right subtree (and this node) all have start >= starts(mid).
    if (starts(mid) <= qe) {
      if (ends(mid) >= qs) f(starts(mid), ends(mid), values(mid))
      search(mid + 1, hi, qs, qe, f)
    }
  }

  /** Invoke `f(storedStart, storedEnd, value, distance, class)` for every
    * enabled stored interval whose distance to `[qs, qe]` is among the `k` smallest
    * DISTINCT distances present (`bedtools closest -k` over distinct
    * distances: at each reported distance ALL ties emit — deterministic,
    * no tie-break rule). Returns the number of distinct distances
    * reported (< k when the forest holds fewer).
    *
    * O(log n + output): the three candidate classes partition the forest —
    * overlaps (distance 0, the augmented-tree search), strictly-left
    * intervals (`end < qs`, distance `qs - end`, walked in descending end
    * order via [[endOrder]]), strictly-right (`start > qe`, distance
    * `start - qe`, walked in ascending start order) — and the two flank
    * streams merge like sorted lists, each step emitting one distinct
    * distance's full tie group.
    *
    * Candidate-class control is the bedtools `closest -io/-iu/-id/-D`
    * surface. The callback's fifth argument is the class: `-1` upstream
    * (stored interval strictly left of the query, lower coordinates), `0`
    * overlap, `+1` downstream. Distances
    * stay unsigned (ranking is by proximity); the caller signs output
    * from the class. Disabled classes neither emit nor consume a rank:
    * with `includeOverlaps = false` the nearest flank pair is rank 1
    * even when an overlap exists. */
  def foreachNearestKDir(qs: Int, qe: Int, k: Int, includeOverlaps: Boolean,
      includeUpstream: Boolean, includeDownstream: Boolean)
      (f: (Int, Int, T, Int, Int) => Unit): Int = {
    val n = starts.length
    if (n == 0 || k <= 0) return 0
    var emitted = 0
    val j = countStartsAtMost(qe)
    if (includeOverlaps && j > 0 && prefixMaxEnds(j - 1) >= qs) {
      foreachOverlap(qs, qe)((s, e, v) => f(s, e, v, 0, 0))
      emitted += 1
    }
    // endOrder index of the largest end < qs (upstream axis).
    var li = if (includeUpstream) countEndsBelow(qs) - 1 else -1
    var ri = if (includeDownstream) j else n // first start > qe (downstream)
    while (emitted < k && (li >= 0 || ri < n)) {
      val dl = if (li >= 0) qs - ends(endOrder(li)) else Int.MaxValue
      val dr = if (ri < n) starts(ri) - qe else Int.MaxValue
      val d = math.min(dl, dr)
      if (dl == d) {
        val targetEnd = qs - d
        while (li >= 0 && ends(endOrder(li)) == targetEnd) {
          val idx = endOrder(li)
          f(starts(idx), ends(idx), values(idx), d, -1)
          li -= 1
        }
      }
      if (dr == d) {
        val targetStart = qe + d
        while (ri < n && starts(ri) == targetStart) {
          f(starts(ri), ends(ri), values(ri), d, 1)
          ri += 1
        }
      }
      emitted += 1
    }
    emitted
  }

  /** Count of stored intervals with `end < q` (binary search over
    * [[endOrder]]). */
  private def countEndsBelow(q: Int): Int = {
    var lo = 0
    var hi = endOrder.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ends(endOrder(mid)) < q) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Count of stored intervals with `start <= q` (binary search). */
  private def countStartsAtMost(q: Int): Int = {
    var lo = 0
    var hi = starts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (starts(mid) <= q) lo = mid + 1 else hi = mid
    }
    lo
  }

  // Index accessors for [[IntervalForestCursor]] (codegen probe path).
  private[operators] def startAt(i: Int): Int = starts(i)
  private[operators] def endAt(i: Int): Int = ends(i)
  private[operators] def maxEndAt(i: Int): Int = maxEnds(i)
  private[operators] def valueAt(i: Int): T = values(i)
}

/** Resettable, allocation-free cursor over [[IntervalForest]] overlap
  * queries, for generated code: whole-stage codegen emits a flat
  * `while (cursor.advance())` loop and cannot suspend inside
  * [[IntervalForest.foreachOverlap]]'s callback. Same midpoint recursion,
  * driven by an explicit `(lo, hi)`-range stack (one `Long` per frame,
  * depth ≤ 2·log₂ n). One instance is reused across every probe row of a
  * partition — no per-row allocation on the 100 TB stream side. */
final class IntervalForestCursor {
  private var f: IntervalForest[_] = _
  private var qs = 0
  private var qe = 0
  private var minOv = 1
  private var stack = new Array[Long](64)
  private var top = 0
  private var cur = -1

  def reset(forest: IntervalForest[_], qs: Int, qe: Int, minOv: Int): Unit = {
    f = forest
    this.qs = qs
    this.qe = qe
    this.minOv = minOv
    top = 0
    cur = -1
    if (forest != null && forest.size > 0) push(0, forest.size)
  }

  private def push(lo: Int, hi: Int): Unit = {
    if (top == stack.length) stack = java.util.Arrays.copyOf(stack, top << 1)
    stack(top) = (lo.toLong << 32) | (hi.toLong & 0xFFFFFFFFL)
    top += 1
  }

  /** Move to the next overlapping stored interval (honouring minOverlap);
    * false when exhausted. Emission set is identical to
    * [[IntervalForest.foreachOverlap]] — same subtree prunes, order may
    * differ (join output order is unspecified either way). */
  def advance(): Boolean = {
    while (top > 0) {
      top -= 1
      val p = stack(top)
      val lo = (p >>> 32).toInt
      val hi = p.toInt
      if (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (f.maxEndAt(mid) >= qs) {
          push(lo, mid)
          val s = f.startAt(mid)
          if (s <= qe) {
            push(mid + 1, hi)
            val e = f.endAt(mid)
            if (e >= qs &&
                (minOv <= 1 || math.min(e, qe) - math.max(s, qs) + 1 >= minOv)) {
              cur = mid
              return true
            }
          }
        }
      }
    }
    false
  }

  def value: AnyRef = f.valueAt(cur).asInstanceOf[AnyRef]
}

object IntervalForest {

  /** Build from (start, end, value) triples. `maxGap` widens every interval
    * by ±gap before insertion (reference maxGap semantics,
    * `IntervalTreeJoinOptimChromosomeImpl.scala:82-87`). */
  def apply[T: ClassTag](items: IndexedSeq[(Int, Int, T)], maxGap: Int = 0): IntervalForest[T] = {
    val sorted = items.sortBy(_._1)
    val n = sorted.length
    val starts = new Array[Int](n)
    val ends = new Array[Int](n)
    val values = new Array[T](n)
    var i = 0
    while (i < n) {
      val (s, e, v) = sorted(i)
      starts(i) = s - maxGap
      ends(i) = e + maxGap
      values(i) = v
      i += 1
    }
    val maxEnds = new Array[Int](n)
    def fill(lo: Int, hi: Int): Int = {
      if (lo >= hi) Int.MinValue
      else {
        val mid = (lo + hi) >>> 1
        val m = math.max(ends(mid), math.max(fill(lo, mid), fill(mid + 1, hi)))
        maxEnds(mid) = m
        m
      }
    }
    fill(0, n)
    val prefixMaxEnds = new Array[Int](n)
    var p = Int.MinValue
    i = 0
    while (i < n) {
      p = math.max(p, ends(i))
      prefixMaxEnds(i) = p
      i += 1
    }
    val endOrder = Array.range(0, n).sortBy(ends(_))
    new IntervalForest(starts, ends, maxEnds, values, prefixMaxEnds, endOrder)
  }

  /** Forest keyed by an equality key (e.g. contig): the broadcast value of
    * the chromosome-aware interval join (reference
    * `rangejoins/methods/IntervalTree/IntervalHolderChromosome.scala:6-26`). */
  def forest[K, T: ClassTag](
      items: IterableOnce[(K, Int, Int, T)], maxGap: Int = 0): Map[K, IntervalForest[T]] = {
    val grouped = mutable.HashMap.empty[K, mutable.ArrayBuffer[(Int, Int, T)]]
    items.iterator.foreach { case (k, s, e, v) =>
      grouped.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ((s, e, v))
    }
    grouped.iterator.map { case (k, buf) => k -> apply(buf.toIndexedSeq, maxGap) }.toMap
  }
}
