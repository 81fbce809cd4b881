package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Unit tests of the broadcast forest structure against a brute-force
  * scan (SURVEY §5 pattern 4). */
class IntervalForestSpec extends AnyFunSuite {

  /** The forest's two walks in the shapes checked here: the overlapping
    * values, and the k-nearest walk over every candidate class. */
  private implicit class Queries[T](f: IntervalForest[T]) {
    def overlappers(qs: Int, qe: Int): Seq[T] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[T]
      f.foreachOverlap(qs, qe)((_, _, v) => buf += v)
      buf.toSeq
    }
    def foreachNearestK(qs: Int, qe: Int, k: Int)(g: (Int, Int, T, Int) => Unit): Int =
      f.foreachNearestKDir(qs, qe, k, includeOverlaps = true, includeUpstream = true,
        includeDownstream = true)((s, e, v, d, _) => g(s, e, v, d))
  }

  private def brute(items: Seq[(Int, Int, Int)], qs: Int, qe: Int): Set[Int] =
    items.collect { case (s, e, v) if e >= qs && s <= qe => v }.toSet

  test("random forests agree with brute force on end-inclusive overlap") {
    val rnd = new Random(42)
    for (trial <- 1 to 20) {
      val n = 1 + rnd.nextInt(200)
      val items = IndexedSeq.fill(n) {
        val s = rnd.nextInt(1000) + 1
        (s, s + rnd.nextInt(50), rnd.nextInt(1000000))
      }
      val forest = IntervalForest(items)
      for (_ <- 1 to 50) {
        val qs = rnd.nextInt(1100)
        val qe = qs + rnd.nextInt(80)
        assert(forest.overlappers(qs, qe).toSet === brute(items, qs, qe),
          s"trial $trial query [$qs,$qe]")
      }
    }
  }

  test("end-inclusive touching intervals overlap; disjoint do not") {
    val f = IntervalForest(IndexedSeq((10, 20, 1)))
    assert(f.overlappers(20, 25) === Seq(1))
    assert(f.overlappers(21, 25).isEmpty)
    assert(f.overlappers(5, 10) === Seq(1))
    assert(f.overlappers(5, 9).isEmpty)
    // point query inside
    assert(f.overlappers(15, 15) === Seq(1))
  }

  test("maxGap widens stored intervals symmetrically") {
    // [100,110] widened by 5 is stored as [95,115].
    val f = IntervalForest(IndexedSeq((100, 110, 7)), maxGap = 5)
    assert(f.overlappers(93, 95) === Seq(7)) // touches widened start
    assert(f.overlappers(90, 94).isEmpty)
    assert(f.overlappers(115, 120) === Seq(7)) // touches widened end
    assert(f.overlappers(116, 130).isEmpty)
  }

  test("empty forest answers nothing") {
    val f = IntervalForest(IndexedSeq.empty[(Int, Int, Int)])
    assert(f.overlappers(1, 100).isEmpty)
    assert(f.foreachNearestK(1, 100, 1)((_, _, _, _) => fail("no calls expected")) === 0)
  }

  /** Every item whose distance to `[qs, qe]` is among the k smallest
    * distinct distances (all ties), as `(start, end, value, distance)`,
    * and the number of distinct distances reported. */
  private def bruteNearestK(items: Seq[(Int, Int, Int)], qs: Int, qe: Int,
      k: Int): (Int, Seq[(Int, Int, Int, Int)]) = {
    val ds = items.map { case (s, e, v) => (s, e, v, math.max(0, math.max(s - qe, qs - e))) }
    val kept = ds.map(_._4).distinct.sorted.take(k).toSet
    (kept.size, ds.filter(x => kept(x._4)).sorted)
  }

  private def nearestK(f: IntervalForest[Int], qs: Int, qe: Int,
      k: Int): (Int, Seq[(Int, Int, Int, Int)]) = {
    val got = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Int)]
    val n = f.foreachNearestK(qs, qe, k)((s, e, v, d) => got += ((s, e, v, d)))
    (n, got.sorted.toSeq)
  }

  test("foreachNearestK agrees with brute force for k in {1, 2, 3}") {
    val rnd = new Random(7)
    for (trial <- 1 to 20) {
      val n = 1 + rnd.nextInt(200)
      val items = IndexedSeq.fill(n) {
        val s = rnd.nextInt(1000) + 1
        (s, s + rnd.nextInt(50), rnd.nextInt(1000000))
      }
      val forest = IntervalForest(items)
      for (_ <- 1 to 100; k <- 1 to 3) {
        val qs = rnd.nextInt(1400) - 150 // ranges beyond both flanks
        val qe = qs + rnd.nextInt(80)
        assert(nearestK(forest, qs, qe, k) === bruteNearestK(items, qs, qe, k),
          s"trial $trial k=$k [$qs,$qe]")
      }
    }
  }

  test("nearest ties on both flanks of a gap all emit") {
    // [10,20] and [30,40] are both 4 away from [24,26].
    val f = IntervalForest(IndexedSeq((10, 20, 1), (30, 40, 2)))
    assert(nearestK(f, 24, 26, 1) === ((1, Seq((10, 20, 1, 4), (30, 40, 2, 4)))))
    // Overlap beats any gap.
    assert(nearestK(f, 20, 29, 1) === ((1, Seq((10, 20, 1, 0)))))
  }
}
