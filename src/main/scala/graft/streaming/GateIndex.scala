package graft.streaming

import graft.operators.DedupOps

/** The near-dup gate's base-corpus index, laid out as flat primitive
  * arrays (CSR: an offset array over packed values) so it broadcasts as
  * a handful of bulk array copies and probes without boxing.
  *
  *  - `ids(o)` is the doc id of base ordinal `o`;
  *  - `sh(shOff(o) until shOff(o + 1))` are its sorted shingle hashes;
  *  - `keys` are the sorted distinct MinHash band keys, and
  *    `kOrd(kOff(k) until kOff(k + 1))` the base ordinals under `keys(k)`.
  */
private[streaming] final class GateIndex(
    val ids: Array[Long], val shOff: Array[Int], val sh: Array[Long],
    val keys: Array[Long], val kOff: Array[Int], val kOrd: Array[Int]) extends Serializable {

  /** Bytes of the laid-out arrays — what the broadcast ships. */
  def bytes: Long =
    8L * ids.length + 4L * shOff.length + 8L * sh.length +
      8L * keys.length + 4L * kOff.length + 4L * kOrd.length

  /** Best base match of one document: `(id, jaccard)` over every base
    * document sharing a band key, by higher jaccard, then lower id;
    * `(-1, 0.0)` when no candidate shares a shingle. */
  def best(bands: Array[Long], sth: Array[Long]): (Long, Double) = {
    var cand = new Array[Int](16)
    var n = 0
    var b = 0
    while (b < bands.length) {
      val k = java.util.Arrays.binarySearch(keys, bands(b))
      if (k >= 0) {
        var p = kOff(k)
        while (p < kOff(k + 1)) {
          if (n == cand.length) cand = java.util.Arrays.copyOf(cand, n * 2)
          cand(n) = kOrd(p); n += 1; p += 1
        }
      }
      b += 1
    }
    java.util.Arrays.sort(cand, 0, n)
    var bestId = -1L
    var bestJ = 0.0
    var i = 0
    while (i < n) {
      val o = cand(i)
      if (i == 0 || o != cand(i - 1)) {
        val jac = DedupOps.mergeJaccard(sth, sh, shOff(o), shOff(o + 1))
        val c = ids(o)
        if (jac > bestJ || (jac == bestJ && bestJ > 0 && c < bestId)) {
          bestJ = jac; bestId = c
        }
      }
      i += 1
    }
    (bestId, bestJ)
  }
}

private[streaming] object GateIndex {

  /** Lay out collected `(doc_id, bands, sth)` rows. Band keys are sorted
    * and deduplicated once; each row's keys are then located by binary
    * search, counted into `kOff` and filled into `kOrd` in ordinal order. */
  def apply(rows: Array[(Long, Array[Long], Array[Long])]): GateIndex = {
    val n = rows.length
    val ids = new Array[Long](n)
    val shOff = new Array[Int](n + 1)
    var nKeys = 0
    var o = 0
    while (o < n) {
      ids(o) = rows(o)._1
      shOff(o + 1) = shOff(o) + rows(o)._3.length
      nKeys += rows(o)._2.length
      o += 1
    }
    val sh = new Array[Long](shOff(n))
    val all = new Array[Long](nKeys)
    var at = 0
    o = 0
    while (o < n) {
      val (_, bands, sth) = rows(o)
      System.arraycopy(sth, 0, sh, shOff(o), sth.length)
      System.arraycopy(bands, 0, all, at, bands.length)
      at += bands.length
      o += 1
    }
    java.util.Arrays.sort(all)
    var d = 0
    var i = 0
    while (i < nKeys) {
      if (i == 0 || all(i) != all(i - 1)) { all(d) = all(i); d += 1 }
      i += 1
    }
    val keys = java.util.Arrays.copyOf(all, d)
    // slot(j) = key index of the j-th (ordinal, band) entry, found once.
    val slot = new Array[Int](nKeys)
    val kOff = new Array[Int](d + 1)
    at = 0
    o = 0
    while (o < n) {
      val bands = rows(o)._2
      var b = 0
      while (b < bands.length) {
        val k = java.util.Arrays.binarySearch(keys, bands(b))
        slot(at) = k; kOff(k + 1) += 1
        at += 1; b += 1
      }
      o += 1
    }
    var k = 0
    while (k < d) { kOff(k + 1) += kOff(k); k += 1 }
    val fill = java.util.Arrays.copyOf(kOff, d)
    val kOrd = new Array[Int](nKeys)
    at = 0
    o = 0
    while (o < n) {
      var b = 0
      while (b < rows(o)._2.length) {
        val s = slot(at)
        kOrd(fill(s)) = o; fill(s) += 1
        at += 1; b += 1
      }
      o += 1
    }
    new GateIndex(ids, shOff, sh, keys, kOff, kOrd)
  }
}
