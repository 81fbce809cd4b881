package graft

import graft.tools.ScaleProbe

/** Gate-enforced invariants behind SCALE.md's measured scale-proof
  * (r15 VERDICT #1): the same probes `graft.tools.ScaleProbe` measures
  * at ~50M rows run here at gate size, asserting the STRUCTURE the
  * 100 TB argument rests on — pair-free counting in both physical
  * regimes, O(annotations) driver build state, and event-sweep shuffle
  * volume linear in reads (never in pairs or bases). The big-number
  * wall-clock/core-scaling evidence lives in SCALE.md ("Measured scale
  * probe"), produced by the tool on an idle machine. */
class ScaleProbeSpec extends SparkSpec {

  private val nReads = 1000000L
  private val nAnnots = 50000L
  private val genome = 100000000

  test("scale probes: pair-free count joins, bounded build, linear-in-reads shuffle") {
    val totals = new ScaleProbe.StageTotals
    spark.sparkContext.addSparkListener(totals)
    try {
      val Seq(cov, bc, br, nk) =
        ScaleProbe.runAll(spark, totals, nReads, nAnnots, genome, parts = 16)

      // Coverage: the event sweep shuffles the ±1 points — ~2 per solid
      // read, 4 per spliced (every 5th) ⇒ ≤ 2.5·reads — and nothing
      // else. A per-base or per-pair formulation would be 40–100×.
      assert(cov.rows > 0)
      assert(cov.shuffle("shuffle_write_records") <= (nReads * 2.6).toLong,
        s"coverage shuffled ${cov.shuffle}, expected <= 2.6 x reads")

      // Broadcast count regime (the featureCounts shape): the build side
      // the driver holds is exactly the annotation set (forest is
      // O(annotations), never O(reads)); pairs are COUNTED, not
      // materialized — the only shuffled rows are narrow (key, count)
      // partials, so bytes stay ~16B per touched key vs >50B pair rows.
      assert(bc.extra("buildRows") === nAnnots)
      assert(bc.extra("pairCount") > 0L)
      assert(bc.rows <= nAnnots)
      assert(bc.shuffle("shuffle_write_bytes") <= bc.extra("pairCount") * 16 + (1L << 20),
        s"broadcast count path shuffled ${bc.shuffle} for ${bc.extra("pairCount")} pairs " +
          "— pair-width rows are hitting the exchange")

      // Bin-range (shuffle) regime: identical pair arithmetic — the two
      // regimes must agree bit-for-bit on the counted pairs — and its
      // shuffle moves O(reads + annotations) narrow rows, never O(pairs).
      assert(br.extra("pairCount") === bc.extra("pairCount"),
        "physical regimes disagree on the counted pairs")
      assert(br.rows === bc.rows)
      assert(br.shuffle("shuffle_write_records") <=
        (nReads * 2.2).toLong + nAnnots * 4,
        s"bin-range shuffled ${br.shuffle} records for $nReads reads — " +
          "pair rows are hitting the exchange")
      // And each of those records is narrow: the replicas cross Spark
      // hash exchanges as UnsafeRows (18.4 B/record here), not as
      // Java-serialized ((key, bin), (start, end, row)) tuples (24.4).
      val brBytesPerRecord =
        br.shuffle("shuffle_write_bytes").toDouble / br.shuffle("shuffle_write_records")
      assert(brBytesPerRecord <= 21.0,
        f"bin-range shuffle wrote $brBytesPerRecord%.1f B/record (${br.shuffle}) — " +
          "replicas are not crossing the exchange as UnsafeRows")

      // Merge-regime nearest-k over every 20th read, against a catalogue
      // with no size estimate: the endpoint sweep moves 2 rows per probe
      // and per annotation, and the d_k windows' aggregate about 1 per
      // probe (a probe whose two endpoints range sampling put in different
      // partitions leaves 2). Phase 2 broadcasts the windows and streams
      // the catalogue past them, and the probes fit the budget, so the
      // final re-join broadcasts them: neither the probes nor the pairs
      // shuffle (250 000 records here; binning the catalogue and the
      // widened probes instead moved 3 784 166). That join is chosen before
      // execution, so each run writes the same records up to the few the
      // sampling moves; chosen by adaptive execution, the pairs' exchange
      // ran in some runs (500 011 records) and not in others (350 001).
      val nProbes = nReads / 20
      val sweepAndWindows = (nProbes + nAnnots) * 2 + nProbes
      val again = ScaleProbe.nearestKMerge(spark, totals,
        ScaleProbe.synthReads(spark, nReads, 4, genome, 16, withCigar = false),
        ScaleProbe.synthAnnots(spark, nAnnots, 4, genome, annotLen = 1000, 16))
      assert(nk.rows > 0 && again.rows === nk.rows)
      for (run <- Seq(nk, again))
        assert(run.shuffle("shuffle_write_records") >= sweepAndWindows &&
          run.shuffle("shuffle_write_records") <= sweepAndWindows + 100,
          s"nearest-k merge shuffled ${run.shuffle} for $nProbes probes, " +
            s"expected $sweepAndWindows records and the few range sampling splits")
    } finally spark.sparkContext.removeSparkListener(totals)
  }

  test("pipeline probes: banded dedup and IVF serve move bands/candidates, never all-pairs") {
    import graft.operators.DedupOps
    val nDocs = 60000L
    val nVecs = 50000L
    val nQueries = 100
    val totals = new ScaleProbe.StageTotals
    spark.sparkContext.addSparkListener(totals)
    try {
      val Seq(dedup, train, serve) =
        ScaleProbe.runPipeline(spark, totals, nDocs, nVecs, nQueries, parts = 16)

      // MinHash near-dup: the controlled population is ~nDocs/10 adjacent
      // pairs at shingle-Jaccard ~0.92; at 64 bands x 2 rows the banding
      // P(candidate) is ~1.0 there, and a false POSITIVE would need true
      // Jaccard >= 0.8 between unrelated hash-vocab docs — so the verified
      // pair count must essentially BE the planted population.
      val expected = dedup.extra("expectedDups")
      assert(expected === (2L until nDocs).count(_ % 10 == 1).toLong)
      assert(dedup.rows >= (expected * 9) / 10 && dedup.rows <= expected,
        s"verified ${dedup.rows} vs planted $expected near-dup pairs")
      // Structure: the exchanges move band rows (NumBands per doc, a few
      // passes) and candidate/verify rows — NEVER the n^2/2 = 1.8e9
      // all-pairs population.
      assert(dedup.shuffle("shuffle_write_records") <=
        nDocs * DedupOps.NumBands * 8 + expected * 16,
        s"dedup shuffled ${dedup.shuffle} — all-pairs rows are hitting the exchange")

      // IVF train: the assignment frame is nVecs x replicas narrow rows;
      // the DRIVER-resident model is the centroid table alone (~sqrt(n)
      // lists x 64 dims x 8B), never any function of the corpus.
      assert(train.rows === nVecs * 2)
      assert(train.extra("nLists") === math.sqrt(nVecs.toDouble).toInt.toLong)
      assert(train.extra("centroidBytes") <= (1L << 20),
        s"driver model ${train.extra} should be centroids only")

      // IVF serve: k rows per query; the exchanges move the corpus
      // assignment plus the probed-list candidates (queries x nProbe x
      // avg list), never the nVecs x nQueries = 5e6 brute-force pairs.
      assert(serve.rows === nQueries.toLong * 10)
      val candBound = nQueries.toLong * 6 * (nVecs * 2 / train.extra("nLists"))
      assert(serve.shuffle("shuffle_write_records") <= nVecs * 8 + candBound * 6,
        s"serve shuffled ${serve.shuffle} for a candidate bound of $candBound — " +
          "brute-force pairs are hitting the exchange")
    } finally spark.sparkContext.removeSparkListener(totals)
  }
}
