package graft.operators

import graft.plans.{BroadcastBudget, BroadcastProbe, IntervalProbe, NearestJoinNode, NearestProbe}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Nearest-feature (interval "closest") join — `bedtools closest`
  * semantics, which the reference does not cover (its join surface is
  * overlap-only, `rangejoins/IntervalTree/Interval.scala:5-10`): every
  * left row is paired with ALL right rows on the same contig at the
  * minimum genomic distance, where overlap means distance 0 and disjoint
  * intervals are `gap = max(r.pos_start - l.pos_end,
  * l.pos_start - r.pos_end)` apart. Ties (several features equally
  * close, including both flanks of a gap) all emit — deterministic
  * output with no tie-break rule to mirror in an oracle.
  *
  * Two scale regimes, mirroring the interval join's own:
  *
  * '''Broadcast''' (right side within the broadcast budget): a
  * [[graft.plans.BroadcastProbe]] node. The right side reaches every task
  * through Spark's broadcast exchange (shown in `explain()` and the UI,
  * reused by two joins over one right frame), and each JVM builds from it,
  * once, the same per-contig [[IntervalForest]] the overlap join builds,
  * whose k-nearest probe walks the three candidate classes (overlaps, then
  * the two flanks merged like sorted lists) in O(log n + output). The left
  * side is probed in place — it never shuffles, never sorts — so it may be
  * a stream.
  *
  * '''Merge''' (both sides large): bedtools' own sweep, distributed, in
  * two fixed phases. Phase 1 is ONE endpoint sweep that emits d_k — the
  * k-th smallest distinct valid distance — per distinct left
  * `(contig, pos_start, pos_end)` triple, without materializing any pair
  * (see [[kthDistances]]). Its frame is sized from the sweep's own count
  * of left endpoints. Phase 2 widens each triple by its d_k into a window
  * and overlap-joins the windows to the right side through the engine's
  * interval join, whose budget gate broadcasts the windows into the
  * forest when that count fits (the right side streams past in place,
  * unshuffled) and takes the AQE-skew-splittable bin-range rewrite when
  * it does not; the residual `distance <= d_k` keeps exactly the k nearest
  * distinct distances with all ties, and an equi-join on the triple hands
  * each left row its pairs. At 100 TB nothing collects: phase 1 shuffles
  * O(|L| + |R|) endpoint rows, phase 2's windows are tight by
  * construction. The job count does not depend on the data — a sparse
  * catalogue costs no extra passes. A streaming left side has no merge
  * regime.
  *
  * Dispatch: the `method` argument — `auto` by default ([[regime]]),
  * `broadcast` (forced — the user takes responsibility, standard hint
  * semantics: the runtime budget guard stands down) or `merge`.
  */
object NearestJoinOps {

  /** Inner nearest join: left rows on contigs absent from `right` drop
    * (no feature to be near). Output = left columns ++ right columns ++
    * `distance: Int`; both inputs need `(contig, pos_start, pos_end)`.
    * `method` is the regime ([[regime]]). Nearest is nearest-k at k = 1:
    * both regimes are the k-nearest ones. */
  def nearestJoin(left: DataFrame, right: DataFrame, method: String = "auto"): DataFrame =
    nearestKJoin(left, right, 1, method)

  /** As the flagged [[nearestKJoin]] with no flags and the regime passed
    * explicitly. */
  def nearestKJoin(left: DataFrame, right: DataFrame, k: Int, method: String): DataFrame =
    nearestKJoin(left, right, k, ignoreOverlaps = false, method = method)

  /** K-nearest join (`bedtools closest -k` semantics over DISTINCT
    * distances): every left row pairs with all right rows on its contig
    * whose distance falls in the k smallest distinct distances — at each
    * reported distance ALL ties emit, so the output is deterministic with
    * no tie-break rule to mirror in an oracle. `k = 1` is exactly
    * [[nearestJoin]]. The bedtools `closest -io/-iu/-id/-D ref` surface
    * rides both regimes:
    *   - `ignoreOverlaps`: overlapping rights are not candidates (`-io`);
    *     the nearest flank pair is rank 1 even when an overlap exists.
    *   - `direction`: `"both"` | `"upstream"` (only rights strictly left
    *     of the query — lower coordinates; bedtools `-id` ignores
    *     downstream) | `"downstream"` (`-iu` ignores upstream).
    *     Overlaps are direction-less and stay candidates unless
    *     `ignoreOverlaps`.
    *   - `signed`: emit reference-genome-signed distance (`-D ref`) —
    *     negative for upstream rights, positive downstream, 0 overlap.
    *     Ranking stays by unsigned proximity; sign is output-only.
    *   - `method`: the regime, `auto` | `broadcast` | `merge`. */
  def nearestKJoin(left: DataFrame, right: DataFrame, k: Int,
      ignoreOverlaps: Boolean = false, direction: String = "both", signed: Boolean = false,
      method: String = "auto"): DataFrame = {
    require(k >= 1, s"nearestKJoin needs k >= 1, got $k")
    require(Set("both", "upstream", "downstream")(direction),
      s"nearestKJoin direction must be both|upstream|downstream, got '$direction'")
    regime(method, left.isStreaming, right.queryExecution.optimizedPlan.stats.sizeInBytes,
        left.sparkSession.sessionState.conf) match {
      case "merge" => mergeNearestKJoin(left, right, k, ignoreOverlaps, direction, signed)
      case _ =>
        val (l, r) = NearestJoinNode.sides(left.queryExecution.analyzed,
          right.queryExecution.analyzed)
        // The node plans through graft's strategy, so graft is attached.
        ColumnBridge.frame(graft.Graft.ensure(left.sparkSession), BroadcastProbe(l, r,
          NearestProbe(k, ignoreOverlaps, direction, signed, IntervalProbe.columns(l.output),
            IntervalProbe.columns(r.output)), enforceBudget = method == "auto"))
    }
  }

  /** The regime of a nearest join, the one decision of the Scala API and
    * [[graft.plans.GenomicStrategy]]: `auto` broadcasts while the right
    * side's estimate `rightBytes` fits the [[BroadcastBudget]] and takes
    * the merge regime otherwise. A streaming left side has only the
    * broadcast regime, so over the budget, or pinned to `merge`, it fails
    * here. */
  private[graft] def regime(method: String, streamingLeft: Boolean, rightBytes: => BigInt,
      conf: SQLConf): String = {
    require(Set("auto", "broadcast", "merge")(method),
      s"nearest k-join method must be auto|broadcast|merge, got '$method'")
    val advice = "a streaming left side has only the broadcast regime, within " +
      "spark.graft.rangejoin.maxBroadcastBytes. Filter the right side down, or raise the budget."
    if (streamingLeft) {
      require(method != "merge", s"nearest-join method merge needs a static left side: $advice")
      if (method == "auto")
        BroadcastBudget.requireFits(rightBytes, "nearest-join right side", advice, conf)
      "broadcast"
    } else if (method != "auto") method
    else if (BroadcastBudget.fits(rightBytes, conf)) "broadcast"
    else "merge"
  }

  private val distSchema = StructType(Seq(
    StructField("contig", StringType, nullable = false),
    StructField("pos_start", IntegerType, nullable = false),
    StructField("pos_end", IntegerType, nullable = false),
    StructField("_nds", ArrayType(IntegerType, containsNull = false), nullable = false)))

  // Endpoint tags, in sort order at equal positions: a left start sorts
  // before a right end (the left flank takes only ends strictly < ls), a
  // right start before a left end (overlap counts starts <= le, the right
  // flank takes only starts strictly > le).
  private final val LStart = 0
  private final val RStart = 1
  private final val LEnd = 2
  private final val REnd = 3

  /** One partition's per-contig contribution to the carries: max right
    * end, the k largest distinct right ends (ascending), the k smallest
    * distinct right starts (ascending); its distinct left endpoint count,
    * which bounds the rows the sweep emits; and its left row count. */
  private case class Summary(contig: String, maxEnd: Long, ends: Seq[Int], starts: Seq[Int],
      lefts: Long, leftRows: Long)

  /** The last `k` distinct values of a monotone stream — the k nearest
    * flank coordinates a sweep has passed. Equal values arrive adjacent,
    * so distinctness is one compare; state is O(k). */
  private final class LastK(k: Int) {
    private val buf = new Array[Int](k)
    private var n = 0
    private var head = 0 // slot of the newest value
    def reset(oldestFirst: Seq[Int]): Unit = { n = 0; oldestFirst.foreach(add) }
    def add(v: Int): Unit =
      if (n == 0 || buf(head) != v) {
        head = (head + 1) % k
        buf(head) = v
        if (n < k) n += 1
      }
    def foreach(f: Int => Unit): Unit = {
      var i = 0
      while (i < n) { f(buf((head - i + k) % k)); i += 1 }
    }
    def oldestFirst: Seq[Int] = (n - 1 to 0 by -1).map(i => buf((head - i + k) % k))
  }

  /** Phase 1 of the merge regime: d_k, the k-th smallest distinct valid
    * distance (the largest when fewer than k exist), per DISTINCT left
    * `(contig, pos_start, pos_end)` triple — d_k is a pure function of the
    * triple, so duplicates re-attach by equi-join. Returns
    * `(contig, pos_start, pos_end, _dk)`, where triples with no valid
    * candidate (absent contig, or every right filtered by the flags) are
    * absent, and the number of left rows with both coordinates.
    *
    * One range-partitioned endpoint sweep. Each right becomes a start
    * point carrying its end and an end point; each left row a start point
    * and an end point; all flow through one DataFrame
    * `repartitionByRange` + `sortWithinPartitions` on
    * `(contig, pos, tag, payload)` (Tungsten shuffle + codegen sort), so a
    * duplicate left row's endpoints sit next to the first copy's and the
    * passes skip them: the sweep counts the left rows without a
    * `distinct` exchange of its own. The candidate distances come from
    * three places, read by one partition-local pass per direction:
    *   - overlap (distance 0): the running max right end over starts
    *     `<= le` reaches `ls` (forward);
    *   - left flank: the k largest distinct right ends `< ls` — the last k
    *     distinct end points passed (forward);
    *   - right flank: the k smallest distinct right starts `> le` — the
    *     last k distinct start points passed (backward).
    * Only the endpoint kinds the flags need are emitted, and a disabled
    * class never emits a distance, so candidates are selected exactly as
    * the phase-2 validity filter selects them. The pass emits one row per
    * left endpoint that has a candidate, carrying that endpoint's (at most
    * k + 1) distances as an array, so the summaries' left endpoint counts
    * bound its rows: the sweep's frame carries that bound as its size
    * statistic, and the d_k frame derived from it inherits it.
    *
    * State bounds: O(k) per sweep direction; what crosses partitions is a
    * per-contig [[Summary]] folded on the driver into O(partitions ×
    * contigs × k) carries. The folds merge k-SETS over ALL earlier (or
    * later) partitions: the nearest partition holding a contig may hold
    * fewer than k values, so its set alone would miss the remaining k
    * nearest flanks further away. Each left emits at most 2k + 1 distances
    * over two rows, so the final per-triple aggregate is bounded too. Per-partition memory
    * is O(partition rows): the backward pass needs random access, so the
    * sorted partition is buffered as primitive int arrays plus one
    * interned contig ref per row (~20 bytes/row). A hot contig plus low
    * parallelism concentrates endpoints — raise
    * `spark.sql.shuffle.partitions` (range partitioning splits within a
    * contig freely; correctness never depends on contig-per-partition).
    * The sweep itself, with its persist and carry shipping, is
    * [[RangeSweep]]: nothing it persists outlives the call. */
  private def kthDistances(left: DataFrame, right: DataFrame, k: Int,
      incOverlaps: Boolean, incUp: Boolean, incDown: Boolean): (DataFrame, Long) = {
    val spark = left.sparkSession
    val atEnds = incOverlaps || incDown // overlap and right flank read end points
    def ivs(df: DataFrame): DataFrame = df.select(col("contig"),
      col("pos_start").cast("int").as("s"), col("pos_end").cast("int").as("e")).na.drop()
    def points(df: DataFrame, pts: Seq[(String, Int, Column)]): DataFrame = df
      .select(col("contig"), explode(array(pts.map { case (pos, tag, payload) =>
        struct(col(pos).as("pos"), lit(tag).as("tag"), payload.as("payload"))
      }: _*)).as("pt"))
      .select(col("contig"), col("pt.pos").as("pos"), col("pt.tag").as("tag"),
        col("pt.payload").as("payload"))
    val lPts = points(ivs(left),
      (if (incUp) Seq(("s", LStart, col("e"))) else Nil) ++
        (if (atEnds) Seq(("e", LEnd, col("s"))) else Nil))
    val rPts = points(ivs(right),
      (if (incUp) Seq(("e", REnd, lit(0))) else Nil) ++
        (if (atEnds) Seq(("s", RStart, col("e"))) else Nil))
    // Each left row has one point of this tag.
    val rowTag = if (atEnds) LEnd else LStart
    val nShuffle = math.max(1, spark.sessionState.conf.numShufflePartitions)
    var nLeftRows = 0L
    val dists = RangeSweep(rPts.unionAll(lPts),
        Seq(col("contig"), col("pos"), col("tag"), col("payload")), nShuffle, distSchema)(
      // Per-partition summaries (sorted input: each contig is one run; its
      // string is interned once per run).
      summarize = rows => {
        val out = mutable.ArrayBuffer.empty[Summary]
        val ends = new LastK(k)
        val starts = mutable.ArrayBuffer.empty[Int]
        var cur: UTF8String = null
        var maxEnd = Long.MinValue
        var lefts = 0L
        var leftRows = 0L
        var lastTag = -1 // the previous left endpoint's tag, pos and payload
        var lastPos, lastPay = 0
        def flush(): Unit = if (cur != null)
          out += Summary(cur.toString, maxEnd, ends.oldestFirst, starts.toList, lefts, leftRows)
        rows.foreach { row =>
          val c = row.getUTF8String(0)
          if (cur == null || !c.equals(cur)) {
            flush()
            cur = c.copy(); maxEnd = Long.MinValue; ends.reset(Nil); starts.clear()
            lefts = 0L; leftRows = 0L; lastTag = -1
          }
          val p = row.getInt(1)
          row.getInt(2) match {
            case RStart =>
              maxEnd = math.max(maxEnd, row.getInt(3).toLong)
              if (starts.length < k && (starts.isEmpty || starts.last != p)) starts += p
            case REnd => ends.add(p)
            case t =>
              if (t == rowTag) leftRows += 1
              val pay = row.getInt(3)
              if (t != lastTag || p != lastPos || pay != lastPay) {
                lefts += 1; lastTag = t; lastPos = p; lastPay = pay
              }
          }
        }
        flush()
        out.toSeq
      })(
      fold = summaries => {
        val nParts = summaries.length
        // Forward fold over all EARLIER partitions: max right end and the k
        // largest distinct right ends per contig.
        val carryFwd = new Array[Map[String, (Long, Seq[Int])]](nParts)
        var fwd = Map.empty[String, (Long, Seq[Int])]
        for (i <- 0 until nParts) {
          carryFwd(i) = fwd
          summaries(i).foreach { s =>
            val (m, e) = fwd.getOrElse(s.contig, (Long.MinValue, Nil))
            fwd += s.contig -> ((math.max(m, s.maxEnd), (e ++ s.ends).distinct.sorted.takeRight(k)))
          }
        }
        // Backward fold over all LATER partitions: the k smallest distinct
        // right starts per contig.
        val carryBwd = new Array[Map[String, Seq[Int]]](nParts)
        var bwd = Map.empty[String, Seq[Int]]
        for (i <- nParts - 1 to 0 by -1) {
          carryBwd(i) = bwd
          summaries(i).foreach { s =>
            bwd += s.contig -> (s.starts ++ bwd.getOrElse(s.contig, Nil)).distinct.sorted.take(k)
          }
        }
        carryFwd.zip(carryBwd)
      },
      rowBound = summaries => {
        nLeftRows = summaries.iterator.flatten.map(_.leftRows).sum
        Some(summaries.iterator.flatten.map(_.lefts).sum)
      })(
      pass = { case ((cFwd, cBwd), rows) =>
        val ctg = mutable.ArrayBuffer.empty[UTF8String]
        val posB = new mutable.ArrayBuilder.ofInt
        val tagB = new mutable.ArrayBuilder.ofInt
        val payB = new mutable.ArrayBuilder.ofInt
        var curU: UTF8String = null
        rows.foreach { row =>
          val c = row.getUTF8String(0)
          if (curU == null || !c.equals(curU)) curU = c.copy()
          ctg += curU; posB += row.getInt(1); tagB += row.getInt(2); payB += row.getInt(3)
        }
        val pos = posB.result(); val tag = tagB.result(); val pay = payB.result()
        val n = ctg.length
        // A duplicate left row's endpoint: the previous point is the same.
        def repeat(i: Int): Boolean = i > 0 && (tag(i) == LStart || tag(i) == LEnd) &&
          tag(i) == tag(i - 1) && pos(i) == pos(i - 1) && pay(i) == pay(i - 1) &&
          (ctg(i) eq ctg(i - 1))
        // Distance math in Long (coordinates near Int extremes must not
        // wrap, r8 ADVICE); a true distance beyond Int.MaxValue cannot be
        // represented in the output schema and fails loudly.
        def dist(i: Int, d: Long): Int = {
          if (d > Int.MaxValue) sys.error(
            s"nearest distance $d exceeds Int.MaxValue at (${ctg(i)}, ${pos(i)})")
          d.toInt
        }
        val flank = new LastK(k)
        // Backward: right flank of each left end, as (row index, distance)
        // in descending row order. Carry lookups happen once per contig run
        // (`eq` compare — rows in a run share the ref).
        val flankIdx = new mutable.ArrayBuilder.ofInt
        val flankD = new mutable.ArrayBuilder.ofInt
        var run: UTF8String = null
        for (i <- n - 1 to 0 by -1) {
          if (!(ctg(i) eq run)) {
            run = ctg(i)
            flank.reset(cBwd.getOrElse(run.toString, Nil).reverse)
          }
          tag(i) match {
            case RStart => flank.add(pos(i))
            case LEnd if incDown && !repeat(i) =>
              flank.foreach { rs => flankIdx += i; flankD += dist(i, rs.toLong - pos(i)) }
            case _ =>
          }
        }
        val fi = flankIdx.result().reverse; val fd = flankD.result().reverse
        // Forward: overlap of each left end, left flank of each left start.
        // Each left endpoint with a candidate becomes one output row: its
        // index and the end of its slice of `outD` (at most k + 1 values,
        // distinct within the endpoint).
        val outIdx = new mutable.ArrayBuilder.ofInt
        val outEnd = new mutable.ArrayBuilder.ofInt
        val outD = new mutable.ArrayBuilder.ofInt
        var nd = 0
        var f = 0
        run = null
        var maxEnd = Long.MinValue
        for (i <- 0 until n) {
          if (!(ctg(i) eq run)) {
            run = ctg(i)
            val (m, ends) = cFwd.getOrElse(run.toString, (Long.MinValue, Nil))
            maxEnd = m
            flank.reset(ends)
          }
          val before = nd
          tag(i) match {
            case RStart => maxEnd = math.max(maxEnd, pay(i).toLong)
            case REnd => flank.add(pos(i))
            case _ if repeat(i) =>
            case LStart => flank.foreach { re => outD += dist(i, pos(i).toLong - re); nd += 1 }
            case LEnd =>
              if (incOverlaps && maxEnd >= pay(i)) { outD += 0; nd += 1 }
              while (f < fi.length && fi(f) == i) { outD += fd(f); nd += 1; f += 1 }
          }
          if (nd > before) { outIdx += i; outEnd += nd }
        }
        val oi = outIdx.result(); val oe = outEnd.result(); val od = outD.result()
        val outRow = new GenericInternalRow(4)
        val project = UnsafeProjection.create(distSchema)
        Iterator.range(0, oi.length).map { j =>
          val i = oi(j)
          val (ls, le) = if (tag(i) == LStart) (pos(i), pay(i)) else (pay(i), pos(i))
          outRow.update(0, ctg(i))
          outRow.setInt(1, ls); outRow.setInt(2, le)
          outRow.update(3, UnsafeArrayData.fromPrimitiveArray(
            java.util.Arrays.copyOfRange(od, if (j == 0) 0 else oe(j - 1), oe(j))))
          project(outRow): InternalRow
        }
      })
    // At most two rows and 2k + 1 distances per triple, so the distinct
    // set is bounded and its sorted [min(k, n)] element is d_k.
    val dk = dists.groupBy(col("contig"), col("pos_start"), col("pos_end"))
      .agg(sort_array(array_distinct(flatten(collect_list(col("_nds"))))).as("_ds"))
      .select(col("contig"), col("pos_start"), col("pos_end"),
        element_at(col("_ds"), least(lit(k), size(col("_ds")))).as("_dk"))
    (dk, nLeftRows)
  }

  /** K-nearest through the MERGE regime (both sides large, r10 VERDICT
    * #5): no driver collect of either side, the full `-io/-id/-iu/-D ref`
    * surface. Phase 1 ([[kthDistances]]) finds d_k per distinct left
    * triple in one endpoint sweep; phase 2 joins each triple's window,
    * widened by its d_k, to the right side through the engine's interval
    * join (the windows are the broadcast side when their sweep-counted
    * size fits the budget, else the bin-range rewrite), keeps the valid
    * candidates with `distance <= d_k` — exactly the k smallest distinct
    * distances with all ties — signs the output distance when asked, and
    * re-attaches the pairs to every left row of the triple (duplicates
    * included — multiset semantics) by an equi-join. A fixed job count (no
    * data-dependent rounds), O(k) sweep state per row, and no persisted
    * block outlives the call. */
  private[graft] def mergeNearestKJoin(left: DataFrame, right: DataFrame, k: Int,
      ignoreOverlaps: Boolean = false, direction: String = "both",
      signed: Boolean = false): DataFrame = {
    val (dk, leftRows) = kthDistances(left, right, k, incOverlaps = !ignoreOverlaps,
      incUp = direction != "downstream", incDown = direction != "upstream")

    // Candidate validity under the bedtools variant flags: side sign from
    // the ORIGINAL left coordinates (-1 = right strictly before/upstream,
    // +1 strictly after/downstream, 0 overlap); overlaps are
    // direction-less.
    def side(ls: Column, le: Column, rs: Column, re: Column): Column =
      when(re < ls, lit(-1)).when(rs > le, lit(1)).otherwise(lit(0))
    def validCand(ls: Column, le: Column, rs: Column, re: Column): Column = {
      val sd = side(ls, le, rs, re)
      val dirOk = direction match {
        case "upstream" => sd <= 0
        case "downstream" => sd >= 0
        case _ => lit(true)
      }
      val ovOk = if (ignoreOverlaps) sd =!= 0 else lit(true)
      dirOk && ovOk
    }

    // The windows, not the left rows, meet the right side: one narrow row
    // per distinct triple. The widening runs in Long and clamps back to
    // the Int domain (`r.pos_start <= Int.MaxValue` always, so a clamped
    // bound keeps the predicate equivalent while staying IntegerType for
    // the interval-join extractor).
    val w = dk
      .withColumn("_xs", greatest(col("pos_start").cast("long") - col("_dk"),
        lit(Int.MinValue.toLong)).cast("int"))
      .withColumn("_xe", least(col("pos_end").cast("long") + col("_dk"),
        lit(Int.MaxValue.toLong)).cast("int"))
      .alias("w")
    val r = right.alias("r")
    val sgn = side(col("w.pos_start"), col("w.pos_end"),
      col("r.pos_start"), col("r.pos_end"))
    val pairs = w.join(r, col("w.contig") === col("r.contig") &&
        graft.functions.IntervalOverlaps.of(
          col("w._xs"), col("w._xe"), col("r.pos_start"), col("r.pos_end")))
      .filter(validCand(col("w.pos_start"), col("w.pos_end"),
        col("r.pos_start"), col("r.pos_end")))
      .withColumn("_dist", greatest(col("r.pos_start").cast("long") - col("w.pos_end"),
        col("w.pos_start").cast("long") - col("r.pos_end"), lit(0L)))
      .filter(col("_dist") <= col("w._dk").cast("long"))
      .select(Seq(col("w.contig").as("_lc"), col("w.pos_start").as("_ls"),
          col("w.pos_end").as("_le")) ++
        right.columns.zipWithIndex.map { case (c, i) => col("r." + c).as(s"_r$i") } :+
        (if (signed) when(sgn < 0, -col("_dist")).otherwise(col("_dist"))
         else col("_dist")).cast("int").as("distance"): _*)
      .alias("p")
    // Every left row (duplicates included — multiset semantics) takes the
    // pairs of its triple. The join is chosen here, from the left rows the
    // sweep counted at the default row size (as the windows are sized): a
    // left side within the broadcast budget is broadcast and the pairs
    // stream past it unshuffled. Adaptive execution could make that choice
    // only once the left exchange finished, and whenever the windows
    // finished first the pairs' exchange had already started.
    val leftBytes = EstimationUtils.getSizePerRow(DataTypeUtils.toAttributes(left.schema)) *
      leftRows
    val l = if (BroadcastBudget.fits(leftBytes, left.sparkSession.sessionState.conf)) broadcast(left)
      else left
    l.alias("l").join(pairs, col("l.contig") === col("p._lc") &&
        col("l.pos_start") === col("p._ls") && col("l.pos_end") === col("p._le"))
      .select(left.columns.map(c => col("l." + c)) ++
        right.columns.indices.map(i => col(s"p._r$i").as(right.columns(i))) :+
        col("p.distance"): _*)
  }
}
