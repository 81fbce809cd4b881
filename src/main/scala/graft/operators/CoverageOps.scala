package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Depth-of-coverage as RLE blocks — the reference's second flagship
  * (SURVEY §2.4 A1/A2; reference `pileup/model/Read.scala:27-54`,
  * `ContigAggregateRDD.scala:183-232`).
  *
  * Algorithm (one shuffle, no driver data volume):
  *  1. Each read `[pos_start, pos_end]` becomes two event points:
  *     `(contig, pos_start, +1)` and `(contig, pos_end+1, -1)` — a single
  *     scan via explode, so the input is read once.
  *  2. Events are range-partitioned and sorted by `(contig, pos)` — the
  *     only shuffle, and it moves 2 small rows per read, not the reads.
  *  3. Distributed prefix scan ([[RangeSweep]]): a first pass collects,
  *     per (partition, contig), the net delta and the last position where
  *     coverage changes (O(partitions × contigs) on the driver); the driver
  *     folds them into the coverage and block start each partition's first
  *     contig enters with.
  *  4. Each partition streams its sorted events once, maintaining the
  *     running coverage (carry + prefix sum), and emits each maximal
  *     `(contig, pos_start, pos_end, coverage)` run with `coverage > 0`
  *     exactly once: in the partition holding the change that closes it,
  *     with its start carried in when it opened in an earlier partition.
  *     A run that crosses partitions without changing coverage is never
  *     split, so no boundary patch-up follows.
  *
  * At 100 TB this scales: the shuffle is by genome position (uniformly
  * splittable, no hot keys), every pass is partition-local, and driver
  * state is O(partitions + contigs), never O(data). The reference gets the
  * same shuffle-free property with custom partition-bound coalescing
  * (`AlignmentsRDD.repartition:207-238`); range-partitioned event points
  * are the Spark-native equivalent.
  *
  * Coverage is emitted as Int (the reference uses Short with a documented
  * ≤32767 assumption — SURVEY §7 hard parts; Int removes the overflow).
  *
  * Windowed coverage ([[windowed]]) needs no blocks: a tile's mean depth
  * is a linear aggregate, summed straight from the reads' covered
  * segments with map-side partial sums — no sweep, one hash exchange.
  */
object CoverageOps {

  val blockSchema: StructType = StructType(Seq(
    StructField("contig", StringType, nullable = true),
    StructField("pos_start", IntegerType, nullable = false),
    StructField("pos_end", IntegerType, nullable = false),
    StructField("coverage", IntegerType, nullable = false)))

  /** Reference-covering segments of one read per its CIGAR string
    * (reference `pileup/model/Read.scala:27-54`): M/=/X consume reference
    * positions AND add coverage; D/N consume reference positions without
    * coverage (deletion / spliced intron); I/S/H/P consume none. Thin
    * test/derivation view over the single production walker
    * ([[graft.functions.CigarWalk.coverageEvents]], whose event pairs
    * `(s,+1),(e+1,-1)` are folded back into `[s,e]` segments here). */
  private[graft] def cigarCoveredSegments(posStart: Int, cigar: String): List[(Int, Int)] = {
    require(cigar != null && cigar.nonEmpty, "cigarCoveredSegments needs a CIGAR")
    val events = graft.functions.CigarWalk.coverageEvents(
      posStart, posStart, org.apache.spark.unsafe.types.UTF8String.fromString(cigar))
    (0 until events.numElements() by 2).map { i =>
      (events.getStruct(i, 2).getInt(0), events.getStruct(i + 1, 2).getInt(0) - 1)
    }.toList
  }

  /** ±1 coverage event points for a reads DataFrame, 2 rows per covered
    * segment. When a `cigar` column is present the points follow the CIGAR
    * walk via the native [[graft.functions.CigarCoverageEvents]]
    * expression (not a typed flatMap — the scan → explode → exchange
    * pipeline stays in one whole-stage-codegen span with no Dataset
    * encoder boundary; a null/empty cigar degrades to the solid
    * interval). PlanAuditSpec pins this shape. */
  private[graft] def eventPoints(reads: DataFrame): DataFrame = {
    val ev =
      if (reads.columns.contains("cigar")) {
        import org.apache.spark.sql.graft.ColumnBridge
        ColumnBridge.column(graft.functions.CigarCoverageEvents(
          ColumnBridge.expression(col("pos_start").cast("int")),
          ColumnBridge.expression(col("pos_end").cast("int")),
          ColumnBridge.expression(coalesce(col("cigar"), lit("")))))
      } else {
        array(
          struct(col("pos_start").cast("int").as("pos"), lit(1).as("delta")),
          struct((col("pos_end") + 1).cast("int").as("pos"), lit(-1).as("delta")))
      }
    reads.select(col("contig"), explode(ev).as("ev"))
      .select(col("contig"), col("ev.pos").as("pos"), col("ev.delta").as("delta"))
  }

  /** RLE coverage blocks for a reads DataFrame with
    * `(contig, pos_start, pos_end)` columns (1-based, end-inclusive).
    * When a `cigar` column is present the event points follow the CIGAR
    * walk — N/D stretches consume positions without adding coverage, so a
    * spliced read contributes two (or more) disjoint covered runs. A
    * null/empty cigar falls back to the solid `[pos_start, pos_end]`
    * interval. */
  def blocks(reads: DataFrame): DataFrame =
    scanEvents(eventPoints(reads))

  /** GATK-CallableLoci / mosdepth-thresholds style depth classification:
    * every base of each contig's covered span labeled
    * `NO_COVERAGE` (interior zero-depth gaps) / `LOW_COVERAGE`
    * (< `minDepth`) / `CALLABLE` / `EXCESSIVE_COVERAGE` (> `maxDepth`),
    * emitted as maximal same-status runs
    * `(contig, pos_start, pos_end, status)`. The span convention is the
    * same as [[graft.operators.RangeSetOps.complement]]: interior gaps
    * between the contig's first and last covered base (leading/trailing
    * reference is not reported — there is no contig-length source here).
    *
    * Scale shape: everything after [[blocks]] operates on the RLE
    * representation — output-sized, bounded by depth changes, never
    * per-base — so the per-contig windows here run over compressed runs
    * exactly like complement's (the heavy lifting is blocks' event-point
    * scan). Classification can only merge runs, never split them, so
    * the result is at most the block count plus gaps. */
  def callableLoci(reads: DataFrame, minDepth: Int = 4,
      maxDepth: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minDepth >= 1 && maxDepth >= minDepth,
      s"need 1 <= minDepth <= maxDepth, got $minDepth/$maxDepth")
    val cls = blocks(reads).withColumn("status",
      when(col("coverage") < minDepth, lit("LOW_COVERAGE"))
        .when(col("coverage") > maxDepth, lit("EXCESSIVE_COVERAGE"))
        .otherwise(lit("CALLABLE")))
      .select(col("contig"), col("pos_start"), col("pos_end"), col("status"))
    val w = Window.partitionBy(col("contig")).orderBy(col("pos_start"))
    val gaps = cls
      .withColumn("prev_end", lag(col("pos_end"), 1).over(w))
      .withColumn("gap_start", col("prev_end") + 1)
      .withColumn("gap_end", col("pos_start") - 1)
      .filter(col("prev_end").isNotNull && col("gap_start") <= col("gap_end"))
      .select(col("contig"), col("gap_start").as("pos_start"),
        col("gap_end").as("pos_end"), lit("NO_COVERAGE").as("status"))
    // RLE over the classified runs: adjacent runs with equal status fuse
    // (neighboring depths 5 and 7 are both CALLABLE), everything else
    // stays split. Runs are disjoint by construction, so "adjacent"
    // means exactly pos_start == prev_end + 1.
    cls.unionAll(gaps)
      .withColumn("prev_status", lag(col("status"), 1).over(w))
      .withColumn("prev_end2", lag(col("pos_end"), 1).over(w))
      .withColumn("newrun",
        when(col("prev_end2").isNull || col("pos_start") =!= col("prev_end2") + 1 ||
          col("status") =!= col("prev_status"), 1L).otherwise(0L))
      .withColumn("run_id",
        sum(col("newrun")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("contig"), col("run_id"), col("status"))
      .agg(min(col("pos_start")).as("pos_start"), max(col("pos_end")).as("pos_end"))
      .select(col("contig"), col("pos_start"), col("pos_end"), col("status"))
  }

  /** Merge already-computed RLE coverage block sets into the coverage of
    * their union — the incremental-ingest path: per-batch (or per-sample)
    * blocks combine WITHOUT rescanning reads. Each block becomes two
    * event points weighted by its depth (`(start, +cov)`,
    * `(end+1, -cov)`), and the identical distributed prefix scan emits
    * the summed RLE — so `mergeCoverage(blocks(a), blocks(b)) ==
    * blocks(a ∪ b)` exactly (a law the oracle query checks). At 100 TB
    * the block sets are the compressed representation; merging N batches
    * shuffles O(blocks) rows instead of re-reading O(reads). */
  def mergeCoverage(blockSets: DataFrame*): DataFrame = {
    require(blockSets.nonEmpty, "mergeCoverage needs at least one block set")
    val events = blockSets.map(_.select(col("contig"),
        explode(array(
          struct(col("pos_start").cast("int").as("pos"),
            col("coverage").cast("int").as("delta")),
          struct((col("pos_end") + 1).cast("int").as("pos"),
            (-col("coverage")).cast("int").as("delta")))).as("ev"))
      .select(col("contig"), col("ev.pos").as("pos"), col("ev.delta").as("delta")))
      .reduce(_ unionAll _)
    scanEvents(events)
  }

  /** One partition's events of one contig: their summed delta, and the
    * last position whose events do not cancel out. */
  private final case class Net(var sum: Long = 0L, var lastChange: Option[Int] = None)

  private def scanEvents(events: DataFrame): DataFrame = {
    val nShuffle = math.max(1, events.sparkSession.sessionState.conf.numShufflePartitions)
    // A null contig/pos carries no coverage information (and the raw
    // InternalRow walks assume non-null fields).
    RangeSweep(events.na.drop(), Seq(col("contig"), col("pos")), nShuffle, blockSchema)(
      summarize = rows => {
        val out = mutable.ArrayBuffer.empty[(String, Net)]
        positionGroups(rows) { (contig, pos, net, first) =>
          if (first) out += contig.toString -> Net()
          if (net != 0) { val n = out.last._2; n.sum += net; n.lastChange = Some(pos) }
        }
        out.toSeq
      })(
      // Depth changes exactly at the position groups whose events do not
      // cancel, whatever the depth coming in, so a contig leaves a
      // partition at (depth in + sum) in a block that started at its last
      // change there (or, with none, where it started before).
      fold = parts => RangeSweep.contigCarries(parts) { (in: Option[(Long, Int)], n: Net) =>
        val (depth, start) = in.getOrElse((0L, 0))
        (depth + n.sum, n.lastChange.getOrElse(start))
      })(
      // Each block is emitted once, by the partition holding the change
      // that closes it, with the start carried in when it opened earlier.
      pass = { case ((in, continues), rows) =>
        val out = mutable.ArrayBuffer.empty[InternalRow]
        var contig: UTF8String = null
        var depth = 0L
        var start = 0
        var last = 0
        def close(end: Int): Unit =
          if (depth > 0) out += InternalRow(contig, start, end, depth.toInt)
        positionGroups(rows) { (c, pos, net, first) =>
          if (first) {
            // Valid events bring depth back to 0 at a contig's last
            // position; a depth left open closes there.
            if (contig == null) in.foreach { case (d, s) => depth = d; start = s }
            else { close(last); depth = 0L }
            contig = c
          }
          if (net != 0) { close(pos - 1); start = pos; depth += net }
          last = pos
        }
        if (contig != null && !continues) close(last)
        out.iterator
      })
  }

  /** Walks sorted `(contig, pos, delta)` rows one position group at a
    * time: `f(contig, pos, net, first)` gets each group's summed delta,
    * `first` marking the first group of a contig in the partition. A
    * position group never spans partitions (the range key is
    * `(contig, pos)`). The contig string is copied only when it changes,
    * so all groups of a contig share one reference. */
  private def positionGroups(rows: Iterator[InternalRow])(
      f: (UTF8String, Int, Long, Boolean) => Unit): Unit = {
    var contig: UTF8String = null
    var first = false
    var pos = 0
    var net = 0L
    rows.foreach { row =>
      val c = row.getUTF8String(0)
      val p = row.getInt(1)
      if (contig == null || !c.equals(contig)) {
        if (contig != null) f(contig, pos, net, first)
        contig = c.copy(); first = true; pos = p; net = 0L
      } else if (p != pos) {
        f(contig, pos, net, first)
        first = false; pos = p; net = 0L
      }
      net += row.getInt(2)
    }
    if (contig != null) f(contig, pos, net, first)
  }

  /** Per-target coverage summary (bedtools-coverage / mosdepth-regions
    * semantics): for each target interval, the summed depth over its
    * bases, the count of covered bases, and the mean depth (uncovered
    * bases count as zero). Composes the RLE [[blocks]] with the
    * interval-forest join — depth blocks are the compressed
    * representation, so the join moves O(blocks ∩ targets) rows, never
    * per-base rows; a left-outer join keeps zero-coverage targets with
    * zeros. `targets` needs `(contig, pos_start, pos_end)` plus the
    * `nameCol` identity; `(nameCol, contig, pos_start, pos_end)` must be
    * unique. */
  def targetCoverage(reads: DataFrame, targets: DataFrame,
      nameCol: String = "name"): DataFrame = {
    val b = blocks(reads).select(
      col("contig").as("_bc"), col("pos_start").as("_bs"),
      col("pos_end").as("_be"), col("coverage").as("_cov"))
    // least/greatest SKIP null operands, so on an unmatched (null-block)
    // outer row the raw clip would silently evaluate to the full target
    // length — gate the overlap on block presence explicitly.
    val ov = when(col("_bs").isNotNull,
      least(col("pos_end"), col("_be")) - greatest(col("pos_start"), col("_bs")) + 1)
    targets.join(b,
        col("contig") === col("_bc") &&
          graft.functions.IntervalOverlaps.of(
            col("pos_start"), col("pos_end"), col("_bs"), col("_be")),
        "left_outer")
      .groupBy(col(nameCol), col("contig"), col("pos_start"), col("pos_end"))
      .agg(
        coalesce(sum(ov.cast("long") * col("_cov")), lit(0L)).as("depth_sum"),
        coalesce(sum(ov.cast("long")), lit(0L)).as("covered_bases"))
      .withColumn("mean_depth",
        col("depth_sum").cast("double") /
          (col("pos_end") - col("pos_start") + 1).cast("double"))
  }

  /** RLE coverage for every group in ONE pass — `keys` (e.g. `sample_id`)
    * fold into the range-partition key, so a multi-sample corpus is
    * scanned and shuffled once instead of once per sample. Beyond the
    * reference (whose `coverage(...)` TVF takes a single sample,
    * `ResolveTableValuedFunctionsSeq.scala:119-140`): at 100 TB a
    * per-sample re-scan is N× the I/O, while one composite-key pass
    * keeps the same event-point shuffle volume (2 rows/read) and the
    * same O(partitions) driver state.
    *
    * Key columns must be non-null and free of `\u0001` (both hold for
    * sample ids and contigs; `concat_ws` would silently drop nulls). */
  def blocksBy(reads: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "blocksBy needs at least one key column")
    val sep = "\u0001"
    val passThrough = Seq(col("pos_start"), col("pos_end")) ++
      (if (reads.columns.contains("cigar")) Seq(col("cigar")) else Nil)
    val synth = reads.select(
      concat_ws(sep, (keys :+ "contig").map(col): _*).as("contig") +: passThrough: _*)
    val parts = split(col("contig"), sep)
    blocks(synth).select(
      keys.zipWithIndex.map { case (k, i) => parts.getItem(i).as(k) } ++
        Seq(parts.getItem(keys.length).as("contig"),
          col("pos_start"), col("pos_end"), col("coverage")): _*)
  }

  /** One-scan covered-segment rows `(keys..., contig, seg_start, seg_end)`
    * via the codegen'd [[graft.functions.CigarCoveredSegments]] walk (no
    * `cigar` column degrades to the solid `[pos_start, pos_end]`). A read
    * with a null bound has no segment, and the solid interval of an
    * inverted read is empty (`seg_end < seg_start`). */
  private[graft] def segmentRows(reads: DataFrame, keys: Seq[String]): DataFrame = {
    val k = keys.map(col)
    val segArr =
      if (reads.columns.contains("cigar")) {
        import org.apache.spark.sql.graft.ColumnBridge
        ColumnBridge.column(graft.functions.CigarCoveredSegments(
          ColumnBridge.expression(col("pos_start").cast("int")),
          ColumnBridge.expression(col("pos_end").cast("int")),
          ColumnBridge.expression(coalesce(col("cigar"), lit("")))))
      } else {
        array(struct(col("pos_start").cast("int").as("seg_start"),
          col("pos_end").cast("int").as("seg_end")))
      }
    reads.select(k ++ Seq(col("contig"), explode(segArr).as("seg")): _*)
      .select(k ++ Seq(col("contig"), col("seg.seg_start").as("seg_start"),
        col("seg.seg_end").as("seg_end")): _*)
  }

  /** Each covered segment of `reads` fanned out to the `windowSize`-bp
    * tiles it overlaps: `(keys..., contig, tile, contrib)`, with tile =
    * `(pos-1) / windowSize` and the overlap length as `contrib`. Rows with
    * a null contig and empty segments contribute nothing. The one tile
    * fan-out of the batch and streaming windowed coverage. */
  private[graft] def tileOverlaps(reads: DataFrame, windowSize: Int,
      keys: Seq[String] = Nil): DataFrame = {
    val k = keys.map(col)
    def tile(pos: String) = (col(pos) - 1).divide(windowSize).cast("long")
    segmentRows(reads, keys)
      .filter(col("contig").isNotNull && col("seg_start") <= col("seg_end"))
      .select(k ++ Seq(col("contig"),
        explode(sequence(tile("seg_start"), tile("seg_end"))).as("tile"),
        col("seg_start"), col("seg_end")): _*)
      .select(k ++ Seq(col("contig"), col("tile"),
        (least(col("seg_end"), (col("tile") + 1) * windowSize)
          - greatest(col("seg_start"), col("tile") * windowSize + 1) + 1)
          .cast("long").as("contrib")): _*)
  }

  /** Mean coverage per fixed-size tiling window (SURVEY §2.5 W1):
    * tile = `(pos-1) / windowSize`, mean over all `windowSize` positions
    * (uncovered positions count as zero); all-zero tiles are not emitted.
    * Depth is linear in the reads, so a tile's summed depth is the summed
    * overlap of the reads' covered segments with it ([[tileOverlaps]]):
    * one aggregate with map-side partial sums and one hash exchange on
    * `(contig, tile)`, no range sweep and no job before the action. The
    * sum is the same integer the RLE blocks would give, so the mean is
    * exact. */
  def windowed(reads: DataFrame, windowSize: Int): DataFrame =
    tileOverlaps(reads, windowSize)
      .groupBy(col("contig"), col("tile"))
      .agg((sum(col("contrib")) / lit(windowSize.toDouble)).as("mean_coverage"))
}
