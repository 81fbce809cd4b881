package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pileup aggregation (SURVEY §2.4 A3/A4): per-position ref/non-ref
  * counts, alt-base counts, and base-quality histograms at every position
  * where at least one read carries a mismatch. The reference derives
  * mismatches by MD-tag parsing (`pileup/MDTagParser.scala:19-67`) and
  * accumulates `IntMap[pos → Map[base → count]]` per partition; here
  * mismatch positions are columns on the reads table and the accumulation
  * is a two-level hash aggregation — shuffle keyed by (contig, pos),
  * uniformly distributed, no driver state.
  *
  * Two output forms, matching the reference's two surfaces:
  *  - [[pileupMaps]] — the reference's own schema
  *    (`utvf/ResolveTableValuedFunctionsSeq.scala:176-201`): `alts` as
  *    `Map<Byte, Short>` (alt-base byte → count) and `quals` as
  *    `Map<Byte, Array<Short>>` (alt-base byte → quality histogram indexed
  *    by Phred score). This is what the F7-F14 UDF pack
  *    ([[graft.functions.PileupUDFs]]) consumes — reference users pipe
  *    `pileup(...)` through `quals_to_map`/`alts_to_char`/`altmap_to_str`
  *    (reference `tests/pileup/SamtoolsTestSuite.scala:50-72`).
  *  - [[pileup]] — pre-rendered canonical sorted strings (the golden-file
  *    comparison form); its `alts` column is derived from the map form via
  *    the same `altmap_to_str(alts_to_char(...))` UDF composition.
  *
  * Total depth at each alt position comes from joining the RLE coverage
  * blocks with the engine's own interval-forest join (point-in-block,
  * broadcast of the small alt-position side) — the pileup path exercises
  * the flagship join rather than recomputing coverage.
  */
object PileupOps {

  private def qualExpr(qualsBinSize: Option[Int]) = qualsBinSize match {
    case Some(b) => expr(s"base_qual div $b").cast("int")
    case None => col("base_qual")
  }

  /** Per-read mismatch rows `(contig, pos, alt_base, base_qual)`. When the
    * input carries the raw BAM tag/sequence columns (`md_tag`, `seq`,
    * `qual_str`) the mismatches are DERIVED by walking CIGAR+MD+SEQ — the
    * reference's MDTagParser semantics
    * (`pileup/MDTagParser.scala:19-67`) — via the native codegen'd
    * [[graft.functions.MdMismatches]] expression; otherwise the
    * pre-digested `has_alt`/`alt_pos`/`alt_base`/`base_qual` columns are
    * used directly. Both shapes feed the same aggregation. */
  private def altRows(reads: DataFrame, keys: Seq[String] = Nil): DataFrame = {
    val k = keys.map(col)
    if (reads.columns.contains("md_tag")) {
      import org.apache.spark.sql.graft.ColumnBridge
      val mm = ColumnBridge.column(graft.functions.MdMismatches(
        ColumnBridge.expression(col("pos_start").cast("int")),
        ColumnBridge.expression(coalesce(col("cigar"), lit(""))),
        ColumnBridge.expression(coalesce(col("md_tag"), lit(""))),
        ColumnBridge.expression(coalesce(col("seq"), lit(""))),
        ColumnBridge.expression(coalesce(col("qual_str"), lit("")))))
      reads.select(k ++ Seq(col("contig"), explode(mm).as("mm")): _*)
        .select(k ++ Seq(col("contig"), col("mm.pos").as("alt_pos"),
          col("mm.base").as("alt_base"), col("mm.qual").as("base_qual")): _*)
    } else {
      reads.filter(col("has_alt"))
        .select(k ++ Seq(col("contig"), col("alt_pos"), col("alt_base"),
          col("base_qual")): _*)
    }
  }

  /** Depth lookup: pair-free point-in-segment COUNT join against the
    * reads' CIGAR-covered segments (r16 optimization). Depth at an alt
    * position equals the number of covering M/=/X segments, so instead of
    * materializing the full RLE coverage (a range-partitioned prefix scan:
    * two operator persists, a bounds-sampling job, two collect jobs and a
    * boundary merge per pileup query — guide §2.4, remove shuffles/passes
    * outright) the positions broadcast-forest-join the one-scan segment
    * stream and `IntervalCountPushdownRule` counts matches pair-free
    * (`Aggregate(IntervalCountJoinNode)`, the featureCounts shape).
    * `mergeCoverage(blocks(a), blocks(b)) == blocks(a ∪ b)` is the law
    * that makes this exact: segments of one read never overlap, so
    * per-position counts equal the RLE depth (CoverageSpec pins the
    * equivalence; the pileup oracles re-pin it end-to-end).
    *
    * The positions side carries the broadcast hint deliberately: it is the
    * bounded side at every scale (alt positions ≤ genome × samples, the
    * same side the previous blocks-join broadcast), while the segments
    * side is corpus-sized.
    *
    * `ref` is the per-position reference base from the passed
    * [[ReferenceSource]] (A4) — [[MockReference]] by default,
    * [[FastaReference]] for a real indexed genome — evaluated on the
    * emitted rows only. */
  private def withDepth(perPos: DataFrame, reads: DataFrame,
      ref: ReferenceSource): DataFrame =
    withDepthBy(perPos, reads, Nil, ref)

  /** Naive threshold variant caller over the map-typed pileup — the
    * classic "alt fraction ≥ cutoff at depth ≥ minDepth" first-pass
    * caller, showing the pileup family composes downstream. The gate is
    * exact integer arithmetic (`alt_count·100 ≥ depth·minAltPct`), so no
    * float compare can drift between engines; `alt_frac` is reported as
    * the deterministic integer-valued double division. One explode over
    * the alts map + a codegen'd filter — scan-speed over the pileup. */
  def naiveVariantCalls(pileupMaps: DataFrame,
      minDepth: Int = 5, minAltPct: Int = 20,
      keys: Seq[String] = Nil): DataFrame = {
    val k = keys.map(col)
    pileupMaps
      .select(k ++ Seq(col("contig"), col("pos"), col("ref"), col("coverage"),
        explode(col("alts")).as(Seq("alt_byte", "alt_count"))): _*)
      .filter(col("coverage") >= minDepth &&
        col("alt_count").cast("long") * 100 >= col("coverage").cast("long") * minAltPct)
      .select(k ++ Seq(col("contig"), col("pos"), col("ref"),
        expr("char(alt_byte)").as("alt"),
        col("coverage").cast("int").as("depth"),
        col("alt_count").cast("long").as("alt_count"),
        (col("alt_count").cast("double") / col("coverage").cast("double"))
          .as("alt_frac")): _*)
  }

  /** Map-typed pileup (the reference's native schema). Output:
    * (contig, pos, coverage, count_ref, count_nonref,
    *  alts: map<tinyint,smallint>, quals: map<tinyint,array<smallint>>).
    * Quality histograms are dense from 0 to the position's max quality —
    * the form `quals_to_map` renders (zero slots skipped there).
    * `withQuals=false` skips the histogram machinery entirely (no qual
    * grouping dimension, no per-base dense transform) and omits the
    * `quals` column — the right input for downstream consumers like
    * [[naiveVariantCalls]] that only read depth + alt counts. */
  def pileupMaps(reads: DataFrame, qualsBinSize: Option[Int] = None,
      withQuals: Boolean = true, ref: ReferenceSource = MockReference): DataFrame =
    pileupMapsBy(reads, Nil, qualsBinSize, withQuals, ref)

  /** [[pileupMaps]] generalized over group keys — the map-schema sibling
    * of [[pileupBy]]: one scan, one alt exchange, one blocksBy depth
    * pass for an N-group corpus. */
  def pileupMapsBy(reads: DataFrame, keys: Seq[String],
      qualsBinSize: Option[Int] = None, withQuals: Boolean = true,
      ref: ReferenceSource = MockReference): DataFrame = {
    val k = keys.map(col)
    // Counts aggregate in long and only narrow to the reference's Short
    // schema at the output boundary, clamped at Short.MaxValue — at depth
    // > 32767 per base (deep/amplicon sequencing) a mid-aggregation
    // smallint cast would overflow, and under Spark 4 ANSI mode that is a
    // runtime error, not a wrap.
    val shortMax = lit(32767L)
    val perPos = if (withQuals) {
      // Level 0: per (contig, pos, base, qual) occurrence counts. The alt
      // rows are pre-partitioned by (contig, pos) — a subset of every
      // grouping key below — so all three aggregation levels run
      // shuffle-free on top of this single exchange (vs three chained
      // exchanges when each groupBy repartitions on its own key set).
      val perBaseQ = altRows(reads, keys)
        .select(k ++ Seq(col("contig"), col("alt_pos").as("pos"),
          ascii(col("alt_base")).cast("tinyint").as("base"),
          qualExpr(qualsBinSize).as("q")): _*)
        .repartition(k ++ Seq(col("contig"), col("pos")): _*)
        .groupBy(k ++ Seq(col("contig"), col("pos"), col("base"), col("q")): _*)
        .agg(count(lit(1)).as("qcnt"))

      // Level 1: per (contig, pos, base) — count + dense quality histogram.
      // try_element_at: absent keys must be 0, not an ANSI error.
      val perBase = perBaseQ
        .groupBy(k ++ Seq(col("contig"), col("pos"), col("base")): _*)
        .agg(sum(col("qcnt")).as("cnt"),
          map_from_entries(array_sort(collect_list(struct(col("q"), col("qcnt"))))).as("qmap"),
          max(col("q")).as("mq"))
        .select(k ++ Seq(col("contig"), col("pos"), col("base"), col("cnt"),
          transform(sequence(lit(0), col("mq")),
            i => least(coalesce(try_element_at(col("qmap"), i), lit(0L)), shortMax)
              .cast("smallint")).as("qhist")): _*)

      // Level 2: per (contig, pos) — the reference's map columns.
      perBase
        .groupBy(k ++ Seq(col("contig"), col("pos")): _*)
        .agg(sum(col("cnt")).as("count_nonref"),
          map_from_entries(array_sort(collect_list(
            struct(col("base"), least(col("cnt"), shortMax).cast("smallint"))))).as("alts"),
          map_from_entries(array_sort(collect_list(struct(col("base"), col("qhist"))))).as("quals"))
    } else {
      // Quals-free fast path: the qual dimension never enters the
      // aggregation — one level collapses and the dense-histogram
      // transform disappears; same single (contig, pos) exchange.
      altRows(reads, keys)
        .select(k ++ Seq(col("contig"), col("alt_pos").as("pos"),
          ascii(col("alt_base")).cast("tinyint").as("base")): _*)
        .repartition(k ++ Seq(col("contig"), col("pos")): _*)
        .groupBy(k ++ Seq(col("contig"), col("pos"), col("base")): _*)
        .agg(count(lit(1)).as("cnt"))
        .groupBy(k ++ Seq(col("contig"), col("pos")): _*)
        .agg(sum(col("cnt")).as("count_nonref"),
          map_from_entries(array_sort(collect_list(
            struct(col("base"), least(col("cnt"), shortMax).cast("smallint"))))).as("alts"))
    }
    if (keys.isEmpty) withDepth(perPos, reads, ref)
    else withDepthBy(perPos, reads, keys, ref)
  }

  /** String-rendered pileup for a reads DataFrame carrying
    * (contig, pos_start, pos_end, has_alt, alt_pos, alt_base, base_qual).
    * Output: (contig, pos, coverage, count_ref, count_nonref, alts, quals)
    * with alts/quals as canonical sorted strings — `alts` via the
    * `altmap_to_str(alts_to_char(...))` UDF composition over the map form,
    * `quals` as the per-base `+`-joined sorted quality reading (the raw
    * form golden files use; no map UDF renders it because the histogram
    * loses occurrence order).
    *
    * `qualsBinSize` (SURVEY §2.4 A5, reference
    * `pileup/PileupStrategy.scala:110-118`) coarsens the quality axis:
    * each base quality is floored to its bin (`qual div binSize`) before
    * rendering, shrinking distinct qual entries per position.
    * `withQuals=false` (the TVF's `pileup(..., true, false)` schema)
    * omits the quals column AND its sorted-rendering cost — previously
    * the narrow schema was projected after the full computation. */
  def pileup(reads: DataFrame, qualsBinSize: Option[Int] = None,
      withQuals: Boolean = true, ref: ReferenceSource = MockReference): DataFrame =
    pileupBy(reads, Nil, qualsBinSize, withQuals, ref)

  /** Multi-group pileup in ONE pass — `keys` (e.g. `sample_id`) join the
    * aggregation and depth keys, so an N-sample corpus is scanned and
    * shuffled once instead of once per sample (the same beyond-reference
    * generalization [[CoverageOps.blocksBy]] gives coverage; the
    * reference pileup TVF takes a single sample,
    * `ResolveTableValuedFunctionsSeq.scala:119-140`). Depth comes from
    * [[CoverageOps.blocksBy]] on the same keys, probed through the
    * forest join with the keys as extra equality columns. */
  def pileupBy(reads: DataFrame, keys: Seq[String],
      qualsBinSize: Option[Int] = None, withQuals: Boolean = true,
      ref: ReferenceSource = MockReference): DataFrame = {
    val spark = reads.sparkSession
    val k = keys.map(col)

    // Level 1: per (keys, contig, pos, base) — count + (when asked)
    // sorted qual rendering. Pre-partitioned by (keys, contig, pos):
    // both aggregation levels run on one exchange (see pileupMaps).
    val baseCols = k ++ Seq(col("contig"), col("alt_pos").as("pos"),
      col("alt_base").as("base")) ++
      (if (withQuals) Seq(qualExpr(qualsBinSize).as("q")) else Nil)
    val level1Aggs = Seq(count(lit(1)).as("cnt")) ++
      (if (withQuals)
        Seq(array_join(array_sort(collect_list(col("q"))), "+").as("quals_b"))
      else Nil)
    val perBase = altRows(reads, keys)
      .select(baseCols: _*)
      .repartition(k ++ Seq(col("contig"), col("pos")): _*)
      .groupBy(k ++ Seq(col("contig"), col("pos"), col("base")): _*)
      .agg(level1Aggs.head, level1Aggs.tail: _*)

    // Level 2: per (keys, contig, pos) — alts map rendered through the
    // UDF pack, quals as the canonical sorted string.
    val level2Aggs = Seq(
      sum(col("cnt")).as("count_nonref"),
      map_from_entries(array_sort(collect_list(
        struct(ascii(col("base")).cast("tinyint"),
          least(col("cnt"), lit(32767L)).cast("smallint"))))).as("alts_map")) ++
      (if (withQuals)
        Seq(array_join(transform(array_sort(collect_list(struct(col("base"), col("quals_b")))),
          x => concat(x.getField("base"), lit(":"), x.getField("quals_b"))), " ").as("quals"))
      else Nil)
    val perPos = perBase
      .groupBy(k ++ Seq(col("contig"), col("pos")): _*)
      .agg(level2Aggs.head, level2Aggs.tail: _*)
      .withColumn("alts", expr("altmap_to_str(alts_to_char(alts_map))"))
      .drop("alts_map")
    if (keys.isEmpty) withDepth(perPos, reads, ref)
    else withDepthBy(perPos, reads, keys, ref)
  }

  /** [[withDepth]] generalized over group keys: depth per
    * `(keys, contig, pos)` from the pair-free count join over
    * [[CoverageOps.segmentRows]], with the keys as extra equality
    * columns; the depth frame re-attaches to the map columns by equi-join
    * on the keys both sides are already hash-partitioned on (no extra
    * exchange). */
  private def withDepthBy(perPos0: DataFrame, reads: DataFrame,
      keys: Seq[String], ref: ReferenceSource): DataFrame = {
    val idCols = keys ++ Seq("contig", "pos")
    // Persisted once: the slim position frame below (the count-join build
    // side) and the final map-column join both read it — without the
    // barrier the whole alt aggregation would run twice.
    val perPos = CacheScope.persistTracked(perPos0)
    val pos = perPos.select(idCols.map(col): _*).hint("broadcast").as("p")
    val segs = CoverageOps.segmentRows(reads, keys).as("s")
    val cond = (keys.map(kc => col(s"p.$kc") === col(s"s.$kc")) ++ Seq(
      col("p.contig") === col("s.contig"),
      col("p.pos") >= col("s.seg_start"),
      col("p.pos") <= col("s.seg_end"))).reduce(_ && _)
    // Fresh output names (aliases mint new ExprIds) so the re-attach join
    // below is unambiguous even though both sides share the persisted
    // perPos lineage.
    val cnt = pos.join(segs, cond)
      .groupBy(idCols.map(kc => col(s"p.$kc")): _*)
      .agg(count(lit(1)).as("_depth"))
      .select(idCols.map(kc => col(kc).as(s"_c_$kc")) :+ col("_depth"): _*)
    perPos.as("q").join(cnt,
        idCols.map(kc => col(s"q.$kc") === col(s"_c_$kc")).reduce(_ && _))
      .select(keys.map(kc => col(s"q.$kc").as(kc)) ++ Seq(
        col("q.contig").as("contig"), col("q.pos").as("pos"),
        ref.refBase("q.contig", "q.pos").as("ref"),
        col("_depth").cast("int").as("coverage"),
        (col("_depth") - col("count_nonref")).as("count_ref"),
        col("count_nonref"), col("alts")) ++
        (if (perPos.columns.contains("quals")) Seq(col("quals")) else Nil): _*)
  }
}
