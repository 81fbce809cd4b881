package graftbench

import graft.operators.{CoverageOps, NearestJoinOps, PileupOps}
import graft.sources.SourceUtil
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The sequencing-QC job: decode a sharded, indexed BAM, walk CIGAR+MD,
  * compute coverage and pileup, then annotate the reads twice: against a
  * gene catalogue under the broadcast budget (count join, full outer
  * join, 3-nearest: the broadcast-forest regime over a BAM-decoding
  * stream side) and against a feature catalogue over it (count and pair
  * joins, 3-nearest: the bin-range and merge regimes). The
  * engine's own size gate picks each regime; the budget is scaled down
  * with the inputs. The only workload where `sources` and `functions` do
  * real work. */
final class BamAnnotate(seed: Long, toy: Boolean) extends Workload {
  val name = "bam_annotate"

  /** Toy size still puts the reads' join-side estimate over the broadcast
    * budget, so the warm-up and the self-test plan the same regimes as a
    * full run. */
  val reads: Gen.ReadSpec =
    if (toy) Gen.ReadSpec(n = 30000, contigLen = 200000, parts = 4)
    else Gen.ReadSpec(n = 45000, parts = 8)
  val genes: Gen.CatalogSpec =
    if (toy) Gen.CatalogSpec(n = 400, minLen = 500, maxLen = 5000, parts = 2)
    else Gen.CatalogSpec(n = 10000, minLen = 500, maxLen = 5000)
  /** Dense enough (a feature start every ~80 bp) that every nearest-k
    * query finds its 3 distinct distances by the second window round on
    * any seed, so the merge regime's round count does not vary. */
  val features: Gen.CatalogSpec =
    if (toy) Gen.CatalogSpec(n = 20000, minLen = 1, maxLen = 500, parts = 2)
    else Gen.CatalogSpec(n = 100000, minLen = 1, maxLen = 500)
  /** Reads starting at a multiple of this are the nearest-k (merge) queries. */
  val probeEvery = 20
  /** Broadcast budget (graft's and Spark's): over the gene catalogue's
    * size estimate (~21 bytes a row cached), under the feature catalogue's. */
  val budgetBytes: Long = 320L << 10
  override def confs: Map[String, String] = Map(
    "spark.graft.rangejoin.maxBroadcastBytes" -> budgetBytes.toString,
    "spark.sql.autoBroadcastJoinThreshold" -> budgetBytes.toString)
  val shards: Int = if (toy) 2 else 8
  /** Index-pruned region: the middle fifth of contig "3". */
  val region: (String, Int, Int) = ("3", reads.contigLen * 2 / 5, reads.contigLen * 3 / 5)
  val sampleN = 100

  private val bamCols = Seq("qname", "flag", "contig", "pos_start", "pos_end", "mapq",
    "cigar", "seq", "qual_str", "md_tag")
  private def inRegion: Column = col("contig") === region._1 &&
    col("pos_start") >= region._2 && col("pos_end") <= region._3

  private var bamPath: String = _
  private var geneDf: DataFrame = _
  private var featDf: DataFrame = _
  private var truth: Row = _
  private var tableDigests = ""
  var bamBytes: Long = 0L
  private var readsEstimate: BigInt = 0

  def setup(spark: SparkSession, probe: Probe, dir: String): Unit = {
    val gen = Gen.reads(spark, reads, seed, withBases = true)
    probe.span("session.inputs") {
      truth = gen.agg(count(lit(1)), sum(col("n_aligned")), sum(col("n_mismatch")),
        sum(when(inRegion, 1L).otherwise(0L)), Gen.checksum(bamCols),
        coalesce(sum(when(inRegion, Gen.rowHash(bamCols))), lit(0L))).head()
      geneDf = Gen.catalog(spark, genes, reads, seed, "gene_id").cache()
      featDf = Gen.catalog(spark, features, reads, seed, "feat_id").cache()
      tableDigests = Seq(geneDf, featDf).map(Gen.digest).map(x => f"$x%016x").mkString
      val est = Seq(geneDf, featDf).map(_.queryExecution.optimizedPlan.stats.sizeInBytes)
      require(est(0) <= budgetBytes && est(1) > budgetBytes,
        s"catalogue estimates $est do not straddle the $budgetBytes-byte budget")
    }
    bamPath = s"$dir/$name-$seed.bam"
    probe.span("sources.bam_write") {
      SourceUtil.writeBam(gen.drop("read_id", "n_aligned", "n_mismatch")
        .repartitionByRange(shards, col("contig"), col("pos_start"))
        .sortWithinPartitions(col("contig"), col("pos_start")), bamPath)
    }
    val p = new org.apache.hadoop.fs.Path(bamPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    bamBytes = fs.listStatus(p).filter(_.getPath.getName.endsWith(".bam")).map(_.getLen).sum
    readsEstimate = spark.read.format("graft.sources.BamSource").load(bamPath)
      .select("contig", "pos_start", "pos_end").queryExecution.optimizedPlan.stats.sizeInBytes
    require(readsEstimate > budgetBytes,
      s"the reads' join-side estimate $readsEstimate fits the $budgetBytes-byte budget")
  }

  def inputRows: Long = reads.n + genes.n + features.n
  def digest: String = f"${truth.getLong(4)}%016x" + tableDigests
  def sizes: Map[String, Any] = Map("reads" -> reads.n, "contigs" -> reads.contigs,
    "contig_len" -> reads.contigLen, "hot_factor" -> reads.hotFactor,
    "genes" -> genes.n, "features" -> features.n, "probe_every" -> probeEvery,
    "max_broadcast_bytes" -> budgetBytes, "reads_estimate_bytes" -> readsEstimate.toLong,
    "bam_shards" -> shards, "bam_bytes" -> bamBytes)

  private def overlap(r: DataFrame, g: DataFrame): Column =
    r("contig") === g("contig") && r("pos_end") >= g("pos_start") && r("pos_start") <= g("pos_end")

  private def sampleGenes: Seq[Long] = (0 until sampleN).map(t => Gen.below(seed, t, 91, genes.n))
  private def sampleFeats: Seq[Long] = (0 until sampleN).map(t => Gen.below(seed, t, 93, features.n))
  private def sampleReads: Seq[String] = (0 until sampleN).map(t => s"r${Gen.below(seed, t, 92, reads.n)}")
  /** Seeded sample of the probe reads (ids of reads whose start is a
    * multiple of `probeEvery`). */
  private lazy val sampleProbes: Seq[String] = {
    val ids = readIvs.filter(_.start % probeEvery == 0).map(_.key)
    (0 until sampleN).map(t => s"r${ids(Gen.below(seed, t, 94, ids.size).toInt)}")
  }

  def pass(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val p = ctx.probe
    val bam = spark.read.format("graft.sources.BamSource").load(bamPath)
    var rd: DataFrame = bam.select(bamCols.map(col): _*)
    ctx.step("sources.bam_scan") {
      rd = ctx.materialize(rd)
      p.collect(rd.agg(count(lit(1)), Gen.checksum(bamCols))).head
    }
    ctx.step("sources.bam_region_scan") {
      p.collect(bam.filter(inRegion).agg(count(lit(1)), Gen.checksum(bamCols))).head
    }
    ctx.step("functions.md_walk") {
      p.collect(rd.selectExpr("explode(md_mismatches(pos_start, cigar, md_tag, seq, qual_str)) AS mm")
        .agg(count(lit(1)), sum(col("mm.qual")))).head
    }
    ctx.step("operators.coverage") {
      val blocks = p.collect(CoverageOps.blocks(rd).agg(count(lit(1)),
        sum((col("pos_end") - col("pos_start") + 1).cast("long") * col("coverage")))).head
      val windows = p.collect(CoverageOps.windowed(rd, 1000)
        .agg(count(lit(1)), sum(col("mean_coverage")))).head
      (blocks, windows)
    }
    ctx.step("operators.pileup") {
      p.collect(PileupOps.pileup(rd).agg(count(lit(1)), sum(col("count_nonref")),
        sum(col("coverage")), Gen.checksum(Seq("contig", "pos", "ref", "alts", "quals")))).head
    }
    val g = geneDf
    ctx.step("plans.count_join_bcast") {
      val counts = rd.join(g, overlap(rd, g)).groupBy(g("gene_id")).agg(count(lit(1)).as("n"))
      val row = p.collect(counts.agg(count(lit(1)), sum(col("n")),
        collect_list(when(col("gene_id").isin(sampleGenes: _*),
          struct(col("gene_id"), col("n")))))).head
      (row, p.lastNodes)
    }
    ctx.step("plans.full_join_bcast") {
      val full = rd.join(g, overlap(rd, g), "full_outer").select(rd("qname"), g("gene_id"))
      val row = p.collect(full.agg(count(lit(1)),
        count(when(col("qname").isNotNull && col("gene_id").isNotNull, 1)),
        count(when(col("gene_id").isNull, 1)), count(when(col("qname").isNull, 1)))).head
      (row, p.lastNodes)
    }
    ctx.step("operators.nearest_k_bcast") {
      val left = rd.select(col("qname"), col("contig"), col("pos_start"), col("pos_end"))
      val near = NearestJoinOps.nearestKJoin(left, g, 3).select(col("qname"), col("gene_id"),
        col("distance"))
      p.collect(near.agg(count(lit(1)), sum(col("distance")),
        collect_list(when(col("qname").isin(sampleReads: _*),
          struct(col("qname"), col("gene_id"), col("distance")))))).head
    }
    val f = featDf
    ctx.step("plans.count_join_binrange") {
      val counts = rd.join(f, overlap(rd, f)).groupBy(f("feat_id")).agg(count(lit(1)).as("n"))
      val row = p.collect(counts.agg(count(lit(1)), sum(col("n")),
        collect_list(when(col("feat_id").isin(sampleFeats: _*),
          struct(col("feat_id"), col("n")))))).head
      (row, p.lastNodes)
    }
    ctx.step("plans.pair_join_binrange") {
      val pairs = rd.join(f, overlap(rd, f)).select(rd("qname"), f("feat_id"))
      val row = p.collect(pairs.agg(count(lit(1)), Gen.checksum(Seq("qname", "feat_id")))).head
      (row, p.lastNodes)
    }
    val probes = rd.select(col("qname"), col("contig"), col("pos_start"), col("pos_end"))
      .filter(col("pos_start") % probeEvery === 0)
    ctx.step("operators.nearest_k_merge") {
      val near = NearestJoinOps.nearestKJoin(probes, f, 3)
        .select(col("qname"), col("feat_id"), col("distance"))
      p.collect(near.agg(count(lit(1)), sum(col("distance")),
        collect_list(when(col("qname").isin(sampleProbes: _*),
          struct(col("qname"), col("feat_id"), col("distance")))))).head
    }
  }

  private lazy val readIvs: Seq[Truth.Iv] = (0L until reads.n).map { i =>
    val r = Gen.read(reads, seed, i, withBases = false)
    Truth.Iv(i, r.getString(2), r.getInt(3), r.getInt(4))
  }
  private lazy val geneIvs: Seq[Truth.Iv] = catalogIvs(genes)
  private lazy val featIvs: Seq[Truth.Iv] = catalogIvs(features)
  private def catalogIvs(spec: Gen.CatalogSpec): Seq[Truth.Iv] = (0L until spec.n).map { i =>
    val (c, s, e) = Gen.feature(spec, reads, seed, i)
    Truth.Iv(i, c, s, e)
  }
  private lazy val readIndex = new Truth.Index(readIvs)
  /** Brute-force read counts of sampled catalogue entries. */
  private def countsOf(ivs: Seq[Truth.Iv], sample: Seq[Long]): Map[Long, Long] =
    sample.distinct.map { k =>
      val x = ivs(k.toInt)
      k -> readIndex.overlapping(x.contig, x.start, x.end).size.toLong
    }.toMap
  /** Brute-force 3-nearest catalogue entries of sampled reads. */
  private def nearestOf(ivs: Seq[Truth.Iv], sample: Seq[String]): Set[(String, Long, Int)] = {
    val idx = new Truth.Index(ivs)
    sample.distinct.flatMap { q =>
      val r = readIvs(q.drop(1).toInt)
      idx.nearestK(r.contig, r.start, r.end, 3).map { case (k, d) => (q, k, d) }
    }.toSet
  }


  def check(out: Map[String, Any]): Map[String, String] = {
    val problems = scala.collection.mutable.Map.empty[String, String]
    def expect(step: String, ok: Boolean, msg: => String): Unit =
      if (!ok && !problems.contains(step)) problems(step) = msg
    val nAligned = truth.getLong(1)
    val nMismatch = truth.getLong(2)
    out.get("sources.bam_scan").map(_.asInstanceOf[Row]).foreach { r =>
      expect("sources.bam_scan", r.getLong(0) == reads.n && r.getLong(1) == truth.getLong(4),
        s"decoded ${r.getLong(0)} rows / checksum ${r.getLong(1)}, generated ${reads.n} / ${truth.getLong(4)}")
    }
    out.get("sources.bam_region_scan").map(_.asInstanceOf[Row]).foreach { r =>
      expect("sources.bam_region_scan",
        r.getLong(0) == truth.getLong(3) && r.getLong(1) == truth.getLong(5),
        s"region returned ${r.getLong(0)} rows, generated ${truth.getLong(3)}")
    }
    out.get("functions.md_walk").map(_.asInstanceOf[Row]).foreach { r =>
      expect("functions.md_walk", r.getLong(0) == nMismatch,
        s"MD walk found ${r.getLong(0)} mismatches, injected $nMismatch")
    }
    out.get("operators.coverage").map(_.asInstanceOf[(Row, Row)]).foreach { case (b, w) =>
      expect("operators.coverage", b.getLong(1) == nAligned,
        s"coverage depth sum ${b.getLong(1)}, aligned bases $nAligned")
      expect("operators.coverage", math.abs(w.getDouble(1) * 1000 - nAligned) <= 1e-6 * nAligned,
        s"windowed depth sum ${w.getDouble(1) * 1000}, aligned bases $nAligned")
    }
    out.get("operators.pileup").map(_.asInstanceOf[Row]).foreach { r =>
      expect("operators.pileup", r.getLong(1) == nMismatch,
        s"pileup non-ref count ${r.getLong(1)}, injected $nMismatch")
    }
    val pairs = out.get("plans.count_join_bcast").map(_.asInstanceOf[(Row, Set[String])]).map {
      case (r, nodes) =>
        val got = r.getSeq[Row](2).map(x => x.getLong(0) -> x.getLong(1)).toMap
        val want = countsOf(geneIvs, sampleGenes).filter(_._2 > 0)
        expect("plans.count_join_bcast", got == want,
          s"sampled gene counts differ from brute force: ${(got.toSet diff want.toSet).take(3)}")
        expect("plans.count_join_bcast", nodes.contains("IntervalCountJoinExec"),
          s"the size gate did not pick the broadcast count join: $nodes")
        r.getLong(1)
    }
    out.get("plans.full_join_bcast").map(_.asInstanceOf[(Row, Set[String])]).foreach {
      case (r, nodes) =>
        pairs.foreach(n => expect("plans.full_join_bcast", r.getLong(1) == n,
          s"full join matched ${r.getLong(1)} pairs, count join $n"))
        expect("plans.full_join_bcast", r.getLong(0) == r.getLong(1) + r.getLong(2) + r.getLong(3),
          "full join rows are not matched + left-only + right-only")
        expect("plans.full_join_bcast", nodes.contains("IntervalForestJoinExec"),
          s"the full outer join did not plan the broadcast forest: $nodes")
    }
    Seq("operators.nearest_k_bcast" -> (geneIvs, sampleReads),
      "operators.nearest_k_merge" -> (featIvs, sampleProbes)).foreach { case (step, (ivs, qs)) =>
      out.get(step).map(_.asInstanceOf[Row]).foreach { r =>
        val got = r.getSeq[Row](2).map(x => (x.getString(0), x.getLong(1), x.getInt(2))).toSet
        val want = nearestOf(ivs, qs)
        expect(step, got == want, s"sampled 3-nearest differ from brute force: " +
          s"${(got diff want).take(3)} / ${(want diff got).take(3)}")
      }
    }
    val binPairs = out.get("plans.count_join_binrange").map(_.asInstanceOf[(Row, Set[String])])
      .map { case (row, nodes) =>
        val got = row.getSeq[Row](2).map(x => x.getLong(0) -> x.getLong(1)).toMap
        val want = countsOf(featIvs, sampleFeats).filter(_._2 > 0)
        expect("plans.count_join_binrange", got == want,
          s"sampled feature counts differ from brute force: ${(got.toSet diff want.toSet).take(3)}")
        expect("plans.count_join_binrange", nodes.contains("IntervalBinCountJoinExec"),
          s"the size gate did not pick the bin-range count join: $nodes")
        row.getLong(1)
      }
    out.get("plans.pair_join_binrange").map(_.asInstanceOf[(Row, Set[String])]).foreach {
      case (row, nodes) =>
        binPairs.foreach(n => expect("plans.pair_join_binrange", row.getLong(0) == n,
          s"pair join emitted ${row.getLong(0)} pairs, count join counted $n"))
        expect("plans.pair_join_binrange", !nodes.exists(_.contains("Broadcast")),
          s"pair join took a broadcast regime: $nodes")
    }
    problems.toMap
  }

  def layerMetrics(r: Report): Map[String, Double] = {
    val ps = r.traced
    val scanWall = r.perPass(ps, "sources.bam_scan")(_.wallS)
    val writeWall = r.median(r.spans.filter(s => s.pass == -1 && s.parent == 0 &&
      s.name == "sources.bam_write").map(_.wallS))
    val regionRows = ps.flatMap(p => r.output[Row](p, "sources.bam_region_scan")).headOption
      .map(_.getLong(0).toDouble).getOrElse(0.0)
    // Stream-side bytes of the full join over one scan's bytes, from
    // untraced passes, where the join reads the BAM itself.
    val up = r.untraced
    val scanBytes = r.perPass(up, "sources.bam_scan")(_.fsBytesRead.toDouble)
    val fullBytes = r.perPass(up, "plans.full_join_bcast")(_.fsBytesRead.toDouble)
    def sql(names: Seq[String], metric: String): Double = r.median(ps.map { p =>
      names.flatMap(n => r.named(p, n)).map(_.sqlMetrics.getOrElse(metric, 0L).toDouble).sum
    })
    val joins = Seq("plans.count_join_bcast", "plans.full_join_bcast")
    val nearOut = r.median(ps.flatMap(p => r.output[Row](p, "operators.nearest_k_merge"))
      .map(_.getLong(0).toDouble))
    Map(
      "sources.decode_rows_per_s" -> reads.n / scanWall,
      "sources.region_rows_ratio" -> regionRows / reads.n,
      "sources.region_bytes_ratio" ->
        r.perPass(ps, "sources.bam_region_scan")(_.fsBytesRead.toDouble) / bamBytes,
      "sources.bam_write_mb_per_s" -> bamBytes / Main.MiB / writeWall,
      "plans.forest_build_rows" -> sql(joins, "buildRows"),
      "plans.broadcast_bytes" -> r.median(ps.map(p =>
        joins.flatMap(n => r.named(p, n)).map(_.broadcastBytes.toDouble).sum)),
      "plans.full_join_stream_scans" -> (if (scanBytes > 0) fullBytes / scanBytes else 0.0),
      "plans.pair_count" -> sql(joins :+ "plans.count_join_binrange", "pairCount"),
      "plans.binrange_replication" ->
        r.perPass(ps, "plans.count_join_binrange")(s => r.inclusive(s).shuffleRecords.toDouble) /
          (reads.n + features.n),
      "operators.nearest_k_collect_bytes" ->
        r.perPass(ps, "operators.nearest_k_bcast")(s => r.inclusive(s).resultBytes.toDouble),
      "operators.nearest_k_merge_candidate_ratio" ->
        r.perPass(ps, "operators.nearest_k_merge")(s => r.inclusive(s).shuffleRecords.toDouble) /
          math.max(1.0, nearOut))
  }

  def release(): Unit = Seq(geneDf, featDf).filter(_ != null).foreach(_.unpersist(blocking = true))
}
