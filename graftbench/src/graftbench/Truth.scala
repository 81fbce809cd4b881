package graftbench

/** Driver-side brute force the checks compare engine output against.
  * Intervals are 1-based and end-inclusive, as in the engine. */
object Truth {

  final case class Iv(key: Long, contig: String, start: Int, end: Int)

  /** Per contig, intervals sorted by start, plus the longest length, so
    * overlap and nearest queries need no tree. */
  final class Index(ivs: Seq[Iv]) {
    private val byContig: Map[String, Array[Iv]] =
      ivs.groupBy(_.contig).map { case (c, xs) => c -> xs.sortBy(_.start).toArray }
    private val maxLen: Int = if (ivs.isEmpty) 0 else ivs.map(i => i.end - i.start + 1).max

    private def firstStartAtLeast(a: Array[Iv], s: Int): Int = {
      var lo = 0; var hi = a.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m).start < s) lo = m + 1 else hi = m }
      lo
    }

    /** Intervals overlapping `[s, e]` on `contig`. */
    def overlapping(contig: String, s: Int, e: Int): Iterator[Iv] = {
      val a = byContig.getOrElse(contig, Array.empty[Iv])
      Iterator.range(firstStartAtLeast(a, s - maxLen), a.length)
        .map(a(_)).takeWhile(_.start <= e).filter(_.end >= s)
    }

    /** `bedtools closest -k` over distinct distances: every interval whose
      * distance `max(bs - e, s - be, 0)` is among the `k` smallest. */
    def nearestK(contig: String, s: Int, e: Int, k: Int): Seq[(Long, Int)] = {
      val a = byContig.getOrElse(contig, Array.empty[Iv])
      val d = a.map(b => (b.key, math.max(math.max(b.start - e, s - b.end), 0)))
      val keep = d.map(_._2).distinct.sorted.take(k).toSet
      d.filter(x => keep(x._2)).toSeq
    }
  }

  /** Exact top-`k` neighbour ids by cosine, ties to the lower id. */
  def topKCosine(q: Array[Float], corpus: Array[(Long, Array[Float])], k: Int): Seq[Long] = {
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val qn = norm(q)
    corpus.map { case (id, v) =>
      var dot = 0.0; var j = 0
      while (j < v.length) { dot += q(j).toDouble * v(j); j += 1 }
      (id, dot / (qn * norm(v)))
    }.sortBy { case (id, sim) => (-sim, id) }.take(k).map(_._1).toSeq
  }
}
