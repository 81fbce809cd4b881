package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, BindReferences, Cast, Coalesce, Divide, EvalMode, Expression, GenericInternalRow, If, IsNull, JoinedRow, Literal, Multiply, NamedExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{ByteType, DoubleType, IntegerType, LongType, ShortType}

import scala.collection.mutable

/** Count-only aggregate pushdown into the interval join.
  *
  * `SELECT key, COUNT(*) FROM a JOIN b ON overlap GROUP BY key` is the
  * canonical annotation-count query (reads per feature). Planned naively,
  * the join MATERIALIZES every overlap pair — 3.55M assembled UnsafeRows
  * at sf0.1, billions at 100 TB — only for the aggregate above to collapse
  * them to one long per key. When the aggregate consumes nothing but
  * grouping columns from ONE side plus `COUNT(*)`/`COUNT(1)`, the pair
  * rows are pure waste: the broadcast-forest probe can count matches as it
  * walks the tree and emit one `(side columns..., pair_count)` row per
  * counted row instead.
  *
  * [[IntervalCountPushdownRule]] (pre-CBO, so it sees the Join before
  * [[BinRangeLogicalRule]] can rewrite it, and AQE re-optimization replays
  * it) rewrites the `Aggregate(Join)` to `Aggregate(IntervalCountJoinNode)`
  * with `COUNT(1)` re-expressed as `SUM(pair_count)` — the aggregate stays
  * (counts still merge across partitions and stream rows), only the pair
  * stream between join and aggregate disappears. The aggregate surface:
  *  - `COUNT(*)`/`COUNT(1)` → `SUM(pair_count)` (global shape coalesced
  *    to 0 — COUNT over an empty join is 0 while SUM is NULL);
  *  - `DISTINCT key` (grouping-only) — the node's emitted rows ARE the
  *    keys with >= 1 pair;
  *  - integral `SUM(e)`: same-side e (on the counted side) rewrites to
  *    `SUM(e * pair_count)` (exact, incl. Long wrap — multiplication ==
  *    repeated addition mod 2^64); cross-side e rides the rank machinery
  *    value-weighted as a per-row partial (`SUM(e)` → `SUM(pair_sum)`),
  *    e.g. total read length per feature — featureCounts with weights;
  *  - same-side `MIN(e)`/`MAX(e)` pass through unchanged (multiplicity
  *    blind);
  *  - null-aware `COUNT(e)` (any type): same-side → `SUM(cnt where e
  *    non-null)`; cross-side → the 0/1 non-null weight summed through
  *    the rank machinery;
  *  - integral `AVG(e)` on either side → exact pushed SUM / pushed
  *    non-null COUNT, divided once in double (LEGACY — NULL on zero
  *    divisor, Average's own semantics; agrees with the general path
  *    bit-for-bit wherever that path is deterministic, i.e. running sums
  *    below 2^53).
  *
  * Matching is deliberately narrow: Inner, no residual conjuncts, default
  * overlap semantics (`minOverlap <= 1`, `maxGap = 0` — modified
  * joins take the general path), every aggregate expression a grouping
  * attribute / pair count / integral sum as above, all grouping
  * attributes from one join side. Both join regimes are covered: forest
  * side within the broadcast budget → broadcast rank index
  * ([[IntervalCountJoinExec]]); above it → both sides replicated per
  * genome bin and hash-exchanged on (key, bin) into per-(key,bin) rank
  * indexes ([[IntervalBinCountJoinExec]]) with first-intersection-bin
  * partial counts the surviving aggregate merges.
  *
  * Neither exec enumerates pairs. Both answer through the one count
  * core, [[CountRankIndex]]: `[qs, qe]` overlaps indexed interval `i` iff
  * `bs_i <= qe && be_i >= qs`, and `be < qs` implies `bs <= qe`, so
  * `#overlaps = #(starts <= qe) − #(ends < qs)` — two binary searches per
  * probing row, and cross-side sums are the same differences over prefix
  * sums of the indexed values. The bin-range exec probes each (key, bin)
  * index with its first-intersection-bin rule; the broadcast exec's
  * stream-grouped direction is that probe's one-bin case, and its
  * build-grouped direction folds per-row ranks into per-build-row counts
  * via histograms + suffix sums over the index's ordinals (sums:
  * value-weighted histograms), O(|build| * (1 + nSums)) longs per task.
  * [[graft.streaming.StreamingOps.countStream]] probes the same index.
  *
  * At 100 TB: the unbounded side still never shuffles; what this removes
  * is the per-pair row assembly and the pair stream through the partial
  * aggregate — output volume drops from O(pairs) to O(matched rows) (per
  * partition for the build direction), and probe work from O(pairs) to
  * O(stream rows * log |build|).
  */
case class IntervalCountJoinNode(left: LogicalPlan, right: LogicalPlan,
    keys: IntervalJoinKeys, countLeft: Boolean, buildLeft: Boolean,
    /** Runtime stats-lie guard applies only to stats-made decisions: a
      * broadcast hint on the build side (or method=broadcast) is the user
      * taking responsibility, standard Spark hint semantics — same
      * contract as IntervalForestJoinExec. Resolved at rewrite time, where
      * the JoinHint is still attached. */
    enforceBudget: Boolean,
    cntAttr: AttributeReference,
    /** Cross-side partials: long-typed expressions on the NON-counted
      * side, each emitted as a per-row partial sum over that row's pairs
      * (weighted rank arithmetic — see [[CountRankIndex]]). The rewrite
      * turns `SUM(e)` into `SUM(partial)`. */
    crossSums: Seq[(Expression, AttributeReference)] = Nil,
    /** Shuffle regime: when the build side exceeds the broadcast budget
      * (or the method pins binrange), both children are
      * [[BinRangeRewrite.countBins]] replicas and these are their
      * `(left, right)` bin columns. The node then plans
      * [[IntervalBinCountJoinExec]] — both sides hash-exchanged on
      * (key, bin), per-(key,bin) rank indexes, partial counts merged by the
      * surviving aggregate. Same aggregate surface, no broadcast, no pair
      * materialization. */
    bins: Option[(Attribute, Attribute)] = None,
    binWidth: Int = 5000)
    extends org.apache.spark.sql.catalyst.plans.logical.BinaryNode {
  def binRange: Boolean = bins.isDefined
  override def output: Seq[Attribute] = {
    val counted = if (countLeft) left.output else right.output
    val bin = bins.map(b => if (countLeft) b._1 else b._2)
    (counted.filterNot(a => bin.contains(a)) :+ cntAttr) ++ crossSums.map(_._2)
  }
  override def producedAttributes: AttributeSet =
    AttributeSet(cntAttr +: crossSums.map(_._2))
  // The probe consumes the key expressions of both sides; the counted
  // side passes through. Pin everything (same conservative contract as
  // NearestJoinNode — the rule only fires on aggregates that consume a
  // subset anyway).
  override def references: AttributeSet =
    AttributeSet(left.output ++ right.output)
  /** In the stream-grouped direction (counted side == stream side) each
    * stream row emits at most one row, so the stream side's maxRows bound
    * holds. In the build-grouped direction the exec emits each matched
    * build row once PER STREAM PARTITION (the final aggregate merges the
    * partials), so the counted side's maxRows is NOT an upper bound —
    * advertising it would let OptimizeOneRowPlan drop the group-only
    * Aggregate above a 1-row build side and return per-partition
    * duplicates. (Bin-range: each counted row emits at most one PARTIAL
    * per replica bin — never a bound either.) */
  override def maxRows: Option[Long] =
    if (binRange || countLeft == buildLeft) None
    else (if (countLeft) left else right).maxRows
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalCountJoinNode =
    copy(left = newLeft, right = newRight)
}

case class IntervalCountPushdownRule(session: SparkSession)
    extends Rule[LogicalPlan] {
  import IntervalCountPushdownRule._

  private def conf(key: String, default: String): String =
    session.conf.get(s"spark.graft.rangejoin.$key", default)

  private def integral(e: Expression): Boolean = e.dataType match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** The one classification of an aggregate over the join, or None when
    * the pushdown cannot answer it. Only unfiltered, non-distinct
    * aggregates of deterministic arguments qualify:
    *  - `COUNT` of a non-null constant (`COUNT(*)` parses to `COUNT(1)`)
    *    counts pairs;
    *  - `MIN(e)`/`MAX(e)` over the counted side pass through unchanged:
    *    the node's emitted rows are the matched rows, and min/max are
    *    multiplicity-blind (any data type: no arithmetic is done);
    *  - integral `SUM(e)` and `AVG(e)` and null-aware `COUNT(e)` (any
    *    type: only a null test is done) over either side. A non-nullable
    *    `e` canonicalizes `COUNT(e)` to `COUNT(1)` upstream of this rule,
    *    so reaching here means null awareness is genuinely required.
    *    Floating and decimal sums are NOT taken: fp multiplication rounds
    *    differently from repeated addition.
    * A side's argument must reference columns of that side alone, except
    * that a SUM whose argument references no column at all stays on the
    * counted side (`e * pair_count` per emitted row). */
  private def classify(ae: AggregateExpression, counted: AttributeSet,
      other: AttributeSet): Option[Pushed] = ae match {
    case AggregateExpression(f, Complete, false, None, _) =>
      def on(e: Expression, side: AttributeSet) =
        e.deterministic && e.references.nonEmpty && e.references.subsetOf(side)
      def measure(e: Expression) =
        if (on(e, counted)) Some(Measure(f, e, cross = false))
        else if (on(e, other)) Some(Measure(f, e, cross = true))
        else None
      f match {
        case Count(Seq(Literal(v, _))) => Option.when(v != null)(PairCount)
        case Count(Seq(e)) => measure(e)
        case Sum(e, _) if integral(e) && e.deterministic && e.references.subsetOf(counted) =>
          Some(Measure(f, e, cross = false))
        case Sum(e, _) if integral(e) => measure(e)
        case Average(e, _) if integral(e) => measure(e)
        case Min(e) if on(e, counted) => Some(MinMax)
        case Max(e) if on(e, counted) => Some(MinMax)
        case _ => None
      }
    case _ => None
  }

  /** The Join, or — the usual optimized shape — an attribute-only Project
    * over it (ColumnPruning narrows the join output to the grouping
    * columns; the rewrite drops the Project since the aggregate above
    * references its child by exprId, not position). */
  private object JoinMaybeProjected {
    def unapply(p: LogicalPlan): Option[Join] = p match {
      case j: Join => Some(j)
      case org.apache.spark.sql.catalyst.plans.logical.Project(projList, j: Join)
          if projList.forall(_.isInstanceOf[AttributeReference]) => Some(j)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf("enabled", "true").toBoolean ||
        !conf("countPushdown", "true").toBoolean) return plan
    plan.transform {
      case agg @ Aggregate(groupExprs, aggExprs,
          JoinMaybeProjected(Join(jl, jr, Inner, Some(cond), hint)), aggHint)
          if !jl.isStreaming && !jr.isStreaming =>
        val rewritten = for {
          keys <- ExtractIntervalJoin.extract(jl, jr, cond)
          if keys.residual.isEmpty
          if !BinRangeRewrite.isRewriteJoin(keys)
          // Modified overlap semantics take the general path (the
          // strategy applies minOverlap/maxGap there); plan-embedded pins
          // win over the session confs.
          if RangeJoinChoice.minOverlap(conf, keys) <= 1 &&
            RangeJoinChoice.maxGap(conf, keys) == 0
          groupAttrs <- Some(groupExprs).filter(_.forall(_.isInstanceOf[AttributeReference]))
            .map(_.map(_.asInstanceOf[AttributeReference]))
          countLeft <-
            if (groupAttrs.forall(jl.outputSet.contains)) Some(true)
            else if (groupAttrs.forall(jr.outputSet.contains)) Some(false)
            else None
          (counted, other) =
            if (countLeft) (jl.outputSet, jr.outputSet) else (jr.outputSet, jl.outputSet)
          // Every output is a grouping attribute (None) or a classified
          // aggregate. A renamed grouping column (CollapseProject folds a
          // `SELECT key AS k` on top of the aggregate into aggExprs) is
          // pure output aliasing, unchanged by the rewrite.
          pushed <- {
            def isGroup(a: AttributeReference) = groupAttrs.exists(_.exprId == a.exprId)
            val each = aggExprs.map {
              case a: AttributeReference if isGroup(a) => Some(None)
              case Alias(a: AttributeReference, _) if isGroup(a) => Some(None)
              case Alias(ae: AggregateExpression, _) => classify(ae, counted, other).map(Some(_))
              case _ => None
            }
            Option.when(each.forall(_.isDefined))(each.flatten)
          }
          // Either an aggregate column or pure grouping — the DISTINCT
          // shape: `SELECT DISTINCT key FROM a JOIN b ON overlap` asks
          // "which keys have at least one pair", which is exactly the
          // node's emitted row set (only cnt > 0 rows emit); the surviving
          // aggregate dedups, the unused cnt column is ignored.
          if groupExprs.nonEmpty || pushed.exists(_.isDefined)
          // Regime from the ONE shared mode decision: broadcast rank index
          // under the budget, per-(key,bin) shuffled rank indexes above it
          // (featureCounts-shaped aggregates stay pair-free exactly when
          // data is biggest — r10 VERDICT #1).
          (buildLeft, binRange) = RangeJoinChoice.choose(
            conf, Inner, jl, jr, hint, RangeJoinChoice.method(conf, keys))
        } yield {
          val cnt = AttributeReference("pair_count", LongType, nullable = false)()
          val buildHinted = RangeJoinChoice.hinted(
            if (buildLeft) hint.leftHint else hint.rightHint)
          val enforceBudget = !binRange &&
            RangeJoinChoice.method(conf, keys) != "broadcast" && !buildHinted
          // Probing is O(log n) per replica (no per-pair scan), so wide
          // bins win: fewer replicas, amortized index build (the pair
          // rewrite scans pairs and defaults narrow, RangeJoinChoice.binWidth).
          val binWidth = conf("binWidth", "5000").toInt
          def widen(e: Expression): Expression =
            if (e.dataType == LongType) e
            else Cast(e, LongType)
          // 0/1 non-null indicator: COUNT(e) / AVG's divisor over pairs is
          // the SUM of this weight.
          def nnWeight(e: Expression): Expression =
            If(IsNull(e), Literal(0L), Literal(1L))
          // One partial attr per DISTINCT cross-side long expression
          // (canonicalized, so sum(x) twice shares one partial): a SUM
          // rides widen(e), a null-aware COUNT the 0/1 weight, an AVG both.
          val crossExprs: Seq[Expression] = pushed.flatten.flatMap {
            case Measure(_: Sum, e, true) => Seq(widen(e))
            case Measure(_: Count, e, true) => Seq(nnWeight(e))
            case Measure(_, e, true) => Seq(widen(e), nnWeight(e))
            case _ => Nil
          }
          val crossSums: Seq[(Expression, AttributeReference)] =
            crossExprs.groupBy(_.canonicalized).map { case (_, es) =>
              (es.head,
                AttributeReference("pair_sum", LongType, nullable = es.head.nullable)())
            }.toSeq
          // Shuffle regime: each side becomes its bin replicas, so the
          // exec's exchanges are planned (and seen by AQE) like any join's.
          val (l, r, bins) =
            if (!binRange) (jl, jr, None)
            else {
              val (lb, lBin) = BinRangeRewrite.countBins(
                jl, keys.leftStart, keys.leftEnd, keys.leftEqs, binWidth)
              val (rb, rBin) = BinRangeRewrite.countBins(
                jr, keys.rightStart, keys.rightEnd, keys.rightEqs, binWidth)
              (lb, rb, Some((lBin, rBin)))
            }
          val node = IntervalCountJoinNode(l, r, keys, countLeft, buildLeft,
            enforceBudget, cnt, crossSums, bins, binWidth)
          def partialOf(e: Expression): AttributeReference =
            crossSums.find(_._1.canonicalized == e.canonicalized).get._2
          // A measure's per-emitted-row SUM and non-null COUNT terms: from
          // the counted row itself, weighted by its pair count — exactly
          // the repeated addition over its pairs, Long wrap-around
          // included (multiplication and repeated addition agree mod
          // 2^64), a null e adding nothing either way — or the exec's
          // partials for the other side.
          def sumTerm(e: Expression, cross: Boolean): Expression =
            if (cross) partialOf(widen(e)) else Multiply(widen(e), cnt)
          def countTerm(e: Expression, cross: Boolean): Expression =
            if (cross) partialOf(nnWeight(e)) else If(IsNull(e), Literal(0L), cnt)
          // Fresh AggregateExpression (fresh resultId): AVG splits one
          // original aggregate into TWO — copying the original would
          // duplicate its resultId across different functions.
          def freshAgg(f: AggregateFunction): AggregateExpression =
            AggregateExpression(f, Complete, isDistinct = false, None, NamedExpression.newExprId)
          // COUNT over an empty global aggregate is 0 while SUM is NULL;
          // grouped counts never see an empty group (only cnt > 0 rows
          // emit), so the coalesce is needed exactly when groupExprs is
          // empty and the join has zero pairs.
          def countShape(s: AggregateExpression): Expression =
            if (groupExprs.isEmpty) Coalesce(Seq(s, Literal(0L))) else s
          def rebuild(al: Alias, e: Expression): NamedExpression =
            Alias(e, al.name)(exprId = al.exprId,
              qualifier = al.qualifier, explicitMetadata = Some(al.metadata))
          val newAggExprs: Seq[NamedExpression] = aggExprs.zip(pushed).map {
            case (al @ Alias(ae: AggregateExpression, _), Some(p)) => p match {
              case PairCount =>
                rebuild(al, countShape(ae.copy(aggregateFunction = Sum(cnt))))
              case MinMax => al
              case Measure(_: Sum, e, cross) =>
                rebuild(al, ae.copy(aggregateFunction = Sum(sumTerm(e, cross))))
              case Measure(_: Count, e, cross) =>
                rebuild(al, countShape(ae.copy(aggregateFunction = Sum(countTerm(e, cross)))))
              // AVG = exact pushed SUM / pushed non-null COUNT, divided in
              // double with LEGACY semantics (NULL on zero divisor —
              // Average's own x/0 behavior; an all-null group also yields
              // NULL via the NULL numerator).
              case Measure(_, e, cross) =>
                rebuild(al, Divide(Cast(freshAgg(Sum(sumTerm(e, cross))), DoubleType),
                  Cast(freshAgg(Sum(countTerm(e, cross))), DoubleType), EvalMode.LEGACY))
            }
            case (other, _) => other
          }
          Aggregate(groupExprs, newAggExprs, node, aggHint)
        }
        rewritten.getOrElse(agg)
    }
  }
}

object IntervalCountPushdownRule {
  /** An aggregate's pushed form, from [[IntervalCountPushdownRule]]'s one
    * classification: a pair count, a counted-side MIN/MAX that passes
    * through, or a SUM, COUNT(e) or AVG (`f`) of `e` over the counted side
    * or, when `cross`, the other. */
  private sealed trait Pushed
  private case object PairCount extends Pushed
  private case object MinMax extends Pushed
  private final case class Measure(f: AggregateFunction, e: Expression, cross: Boolean)
      extends Pushed
}

/** Physical count probe in the broadcast regime. The build side reaches
  * every task through Spark's broadcast exchange ([[BroadcastBuild]]),
  * where each JVM folds its rows once into one [[CountRankIndex]] per
  * equality key ([[CountBuild]]); the stream side is probed in place
  * (never shuffled). Grouping by the stream side, each stream row is the
  * index's one-bin probe. Grouping by the build side, each stream row adds
  * its two ranks to its key's histograms, one pair per weight (1, and
  * each stream-side sum's value and 0/1 non-null flag), which one
  * suffix-sum pass per rank order folds into per-build-row totals over
  * the index's ordinals: O(|build| · (1 + nSums)) longs per task, no
  * per-pair work. See [[IntervalCountJoinNode]]. */
case class IntervalCountJoinExec(keys: IntervalJoinKeys, countLeft: Boolean,
    buildLeft: Boolean,
    /** Long-typed expressions on the NON-counted side; each appends a
      * per-row partial-sum column after `pair_count`. */
    crossSumExprs: Seq[Expression],
    override val output: Seq[Attribute],
    left: SparkPlan, right: SparkPlan, enforceBuildBudget: Boolean)
    extends BinaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)
  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "buildRows" -> SQLMetrics.createMetric(sparkContext, "build side rows"),
    "pairCount" -> SQLMetrics.createMetric(sparkContext, "overlap pairs counted"),
    // The rank identity needs well-formed intervals (see the
    // [[graft.functions.IntervalOverlaps]] contract); malformed rows are
    // dropped, and this metric makes the divergence from the general
    // path's per-pair evaluation VISIBLE instead of silent.
    "invertedDropped" -> SQLMetrics.createMetric(sparkContext,
      "malformed (start > end) rows dropped"))

  override def requiredChildDistribution: Seq[Distribution] =
    BroadcastBuild.distribution(buildLeft)

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  private def bound(e: Expression, p: SparkPlan): Expression =
    BindReferences.bindReference(e, p.output)

  override protected def doExecute(): RDD[InternalRow] = {
    val (buildPlan, streamPlan) = if (buildLeft) (left, right) else (right, left)
    val (bStart, bEnd, bEqs) =
      if (buildLeft) (keys.leftStart, keys.leftEnd, keys.leftEqs)
      else (keys.rightStart, keys.rightEnd, keys.rightEqs)
    val (sStart, sEnd, sEqs) =
      if (buildLeft) (keys.rightStart, keys.rightEnd, keys.rightEqs)
      else (keys.leftStart, keys.leftEnd, keys.leftEqs)
    val sIvB = Seq(bound(sStart, streamPlan), bound(sEnd, streamPlan))
    val sEqsB = sEqs.map(bound(_, streamPlan))
    val nEqs = bEqs.length
    val outAttrs = output
    val numOutputRows = longMetric("numOutputRows")
    val pairCountMetric = longMetric("pairCount")
    val invertedDropped = longMetric("invertedDropped")

    val bc = BroadcastBuild.rows(buildPlan, longMetric("buildRows"),
      Option.when(enforceBuildBudget)("interval-count-join build side" ->
        ("raise the budget, broadcast()-hint the side to take responsibility, or set " +
          "spark.graft.rangejoin.countPushdown=false to take the general path.")))
    // Cross-side sums live on whichever side the counted side is NOT.
    val countBuild = countLeft == buildLeft
    val nSums = crossSumExprs.length
    val crossBound = crossSumExprs.map(bound(_, if (countBuild) streamPlan else buildPlan))
    val build = CountBuild(bEqs.map(bound(_, buildPlan)),
      Seq(bound(bStart, buildPlan), bound(bEnd, buildPlan)), if (countBuild) Nil else crossBound)
    // The build's inverted rows, counted once here on the driver.
    invertedDropped += BroadcastBuild.keyed(bc.value, build.eqs, build.iv).count(r => r._2 > r._3)

    streamPlan.execute().mapPartitions { it =>
      val rows = bc.value
      val idxMap = build.index(rows)
      val keyProj = UnsafeProjection.create(sEqsB)
      val ivProj = UnsafeProjection.create(sIvB)
      val joined = new JoinedRow
      val extraRow = new GenericInternalRow(1 + nSums)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      // The stream row's key when it can match: non-null bounds, not
      // inverted (the build side's contract; counted), non-null key.
      def probeKey(row: InternalRow, iv: UnsafeRow): UnsafeRow =
        if (iv.isNullAt(0) || iv.isNullAt(1)) null
        else if (iv.getInt(0) > iv.getInt(1)) { invertedDropped += 1; null }
        else {
          val key = keyProj(row)
          if (nEqs > 0 && key.anyNull) null else key
        }
      def emit(row: InternalRow, c: Long): Iterator[InternalRow] = {
        numOutputRows += 1
        pairCountMetric += c
        Iterator.single(resultProj(joined(row, extraRow)))
      }
      if (countBuild) {
        // Reads-per-feature direction. Weight w of a stream row is 1
        // (w = 0), its sum s's value (1 + s) or its 0/1 non-null flag
        // (1 + nSums + s); per key, byStart(w)(j) totals the weights of
        // stream rows whose qe admits j start ranks, byEnd(w)(p) of those
        // whose qs excludes p end ranks.
        val nW = 1 + 2 * nSums
        val sumProj = UnsafeProjection.create(crossBound)
        val weights = new Array[Long](nW)
        weights(0) = 1L
        final class Hists(n: Int) {
          val byStart, byEnd = Array.fill(nW)(new Array[Long](n + 1))
        }
        val hists = mutable.AnyRefMap.empty[UnsafeRow, Hists]
        it.foreach { srow =>
          val iv = ivProj(srow)
          val key = probeKey(srow, iv)
          if (key != null) idxMap.get(key).foreach { idx =>
            // Copy the (reused) projected key only on a miss.
            var h = hists.getOrNull(key)
            if (h == null) { h = new Hists(idx.size); hists.update(key.copy(), h) }
            val j = idx.startsLe(iv.getInt(1))
            val p = idx.endsLt(iv.getInt(0))
            if (nSums > 0) {
              val vs = sumProj(srow)
              var s = 0
              while (s < nSums) {
                val nonNull = !vs.isNullAt(s)
                weights(1 + s) = if (nonNull) vs.getLong(s) else 0L
                weights(1 + nSums + s) = if (nonNull) 1L else 0L
                s += 1
              }
            }
            var w = 0
            while (w < nW) { h.byStart(w)(j) += weights(w); h.byEnd(w)(p) += weights(w); w += 1 }
          }
        }
        // Build row i's total of weight w: the stream rows admitting it by
        // start rank minus those excluding it by end rank.
        val tot = Array.fill(nW)(new Array[Long](rows.length))
        hists.foreach { case (key, h) =>
          val idx = idxMap(key)
          def fold(hist: Array[Long], ord: Array[Int], into: Array[Long], sign: Long): Unit = {
            var run = 0L
            var r = idx.size - 1
            while (r >= 0) { run += hist(r + 1); into(ord(r)) += sign * run; r -= 1 }
          }
          var w = 0
          while (w < nW) {
            fold(h.byStart(w), idx.ordByStart, tot(w), 1L)
            fold(h.byEnd(w), idx.ordByEnd, tot(w), -1L)
            w += 1
          }
        }
        Iterator.range(0, rows.length).filter(tot(0)(_) > 0L).flatMap { i =>
          extraRow.setLong(0, tot(0)(i))
          var s = 0
          while (s < nSums) {
            if (tot(1 + nSums + s)(i) == 0L) extraRow.setNullAt(1 + s)
            else extraRow.setLong(1 + s, tot(1 + s)(i))
            s += 1
          }
          emit(rows(i), tot(0)(i))
        }
      } else {
        // Features-per-read direction: the one-bin probe. <= 0 (not == 0):
        // a degenerate input slipping past the well-formedness checks must
        // never emit a negative count.
        it.flatMap { srow =>
          val iv = ivProj(srow)
          val key = probeKey(srow, iv)
          val c = if (key == null) 0L else idxMap.get(key)
            .fold(0L)(_.probe(iv.getInt(0), iv.getInt(1), extraRow))
          if (c <= 0L) Iterator.empty else emit(srow, c)
        }
      }
    }
  }
}

/** The count exec's structure over its broadcast build rows: per equality
  * key, the [[CountRankIndex]] of the rows that can match, with the
  * build-side cross sums `sums` when the stream side is counted, its
  * ordinals the rows' indexes in the broadcast. Inverted (start > end)
  * rows are dropped: the rank identity assumes well-formed intervals, and
  * a malformed build row would silently skew counts instead of matching
  * the general path's per-pair predicate evaluation (the exec counts them
  * in `invertedDropped`). A case class: it keys the [[BroadcastBuild]]
  * cache beside the rows. */
private[plans] case class CountBuild(eqs: Seq[Expression], iv: Seq[Expression],
    sums: Seq[Expression]) {
  def index(rows: Array[InternalRow]): Map[UnsafeRow, CountRankIndex] =
    BroadcastBuild.cached(rows, this) {
      val sumProj = UnsafeProjection.create(sums)
      BroadcastBuild.keyed(rows, eqs, iv).filter(r => r._2 <= r._3).toSeq.groupBy(_._1)
        .map { case (k, ivs) =>
          val b = new CountRankIndex.Accumulator(sums.length)
          ivs.foreach { case (_, s, e, i) => b.add(s, e, sumProj(rows(i))) }
          val idx = b.result()
          val ids = ivs.map(_._4).toArray
          k -> idx.copy(ordByStart = idx.ordByStart.map(ids(_)),
            ordByEnd = idx.ordByEnd.map(ids(_)))
        }
    }
}

/** Shuffle-regime count/sum probe — the bin-range analogue of
  * [[IntervalCountJoinExec]], for build sides over the broadcast budget
  * (the featureCounts shape at its biggest). Both children are bin
  * replicas ([[BinRangeRewrite.countBins]]: each row once per fixed-width
  * genome bin its interval overlaps, plus the `bin` column), and the exec
  * requires both clustered on `(eq keys..., bin)`, so `EnsureRequirements`
  * plans a hash `ShuffleExchangeExec` under each: rows cross the shuffle
  * as `UnsafeRow`s, and AQE and `explain()` see both exchanges. Within a
  * partition the NON-counted side's replicas fold into one
  * [[CountRankIndex]] per (key, bin) — primitive ints/longs, never
  * buffered rows — then the counted side STREAMS through, emitting one
  * partial `(counted row, pair_count, partial sums...)` per replica bin
  * with a non-zero count, from the index's probe in that bin. The
  * surviving aggregate merges partials across bins — the same
  * `SUM(pair_count)` rewrite the broadcast path uses, so both regimes
  * share one logical contract. The probe's first-intersection-bin rule
  * counts each pair in exactly one bin, and a partial is NULL iff no
  * non-null value contributed, so SUM's all-null → NULL semantics survive
  * bin splitting.
  *
  * Every cluster key is required (`requireAllClusterKeys`): a child
  * already hash-partitioned on the contig alone must not satisfy the
  * distribution, or one task would index a whole hot contig.
  *
  * At 100 TB: no broadcast, no driver collect, no pair materialization.
  * Shuffle volume is one `UnsafeRow` per replica, its side's columns plus
  * the bin. Probe work is O(replicas · log bin-occupancy), output volume
  * O(counted replicas). Per-task memory is the index side's
  * partition as primitive arrays (8–24 B/row vs full UnsafeRows) — sized
  * by `spark.sql.shuffle.partitions` (or AQE's coalescing, applied to
  * both exchanges alike) like any shuffled-hash build, with (key, bin)
  * granularity far finer than a per-contig skew. */
case class IntervalBinCountJoinExec(keys: IntervalJoinKeys, countLeft: Boolean,
    crossSumExprs: Seq[Expression],
    override val output: Seq[Attribute],
    left: SparkPlan, right: SparkPlan, leftBin: Attribute, rightBin: Attribute,
    binWidth: Int)
    extends BinaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)
  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "indexReplicas" -> SQLMetrics.createMetric(sparkContext, "index side bin replicas"),
    "pairCount" -> SQLMetrics.createMetric(sparkContext, "overlap pairs counted"),
    // Same visibility contract as IntervalCountJoinExec's metric.
    "invertedDropped" -> SQLMetrics.createMetric(sparkContext,
      "malformed (start > end) rows dropped"))

  override def requiredChildDistribution: Seq[Distribution] = Seq(
    ClusteredDistribution(keys.leftEqs :+ leftBin, requireAllClusterKeys = true),
    ClusteredDistribution(keys.rightEqs :+ rightBin, requireAllClusterKeys = true))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  private def bound(e: Expression, p: SparkPlan): Expression =
    BindReferences.bindReference(e, p.output)

  override protected def doExecute(): RDD[InternalRow] = {
    val (countedPlan, indexPlan) = if (countLeft) (left, right) else (right, left)
    val (cStart, cEnd, cKey) =
      if (countLeft) (keys.leftStart, keys.leftEnd, keys.leftEqs :+ leftBin)
      else (keys.rightStart, keys.rightEnd, keys.rightEqs :+ rightBin)
    val (iStart, iEnd, iKey) =
      if (countLeft) (keys.rightStart, keys.rightEnd, keys.rightEqs :+ rightBin)
      else (keys.leftStart, keys.leftEnd, keys.leftEqs :+ leftBin)
    val cIvB = Seq(bound(cStart, countedPlan), bound(cEnd, countedPlan))
    val cKeyB = cKey.map(bound(_, countedPlan))
    val iIvB = Seq(bound(iStart, indexPlan), bound(iEnd, indexPlan))
    val iKeyB = iKey.map(bound(_, indexPlan))
    // The key row is (eq keys..., bin); a null bin marks an inverted
    // interval, replicated once (see BinRangeRewrite.countBins).
    val binOrd = keys.leftEqs.length
    val nSums = crossSumExprs.length
    val crossBound = crossSumExprs.map(bound(_, indexPlan))
    val binW = binWidth
    val outAttrs = output
    // Counted rows keep their bin column; the result drops it.
    val resultInput = countedPlan.output ++ output.takeRight(1 + nSums)
    val numOutputRows = longMetric("numOutputRows")
    val indexReplicas = longMetric("indexReplicas")
    val pairCountMetric = longMetric("pairCount")
    val invertedDropped = longMetric("invertedDropped")

    // The exchanges co-partition both children on (key, bin): the index
    // side folds into rank indexes; the counted side STREAMS — never
    // buffered, unlike a cogroup, whose grouped iterables would
    // materialize both sides per (key, bin).
    indexPlan.execute().zipPartitions(countedPlan.execute()) { (idxIt, cntIt) =>
      // Inverted rows are dropped on BOTH sides — the rank identity needs
      // well-formed intervals (same contract as the broadcast count path).
      val iKeyProj = UnsafeProjection.create(iKeyB)
      val iIvProj = UnsafeProjection.create(iIvB)
      val sumProj = UnsafeProjection.create(crossBound)
      val groups = mutable.AnyRefMap.empty[UnsafeRow, CountRankIndex.Accumulator]
      idxIt.foreach { row =>
        val key = iKeyProj(row)
        if (key.isNullAt(binOrd)) invertedDropped += 1
        else {
          indexReplicas += 1
          val iv = iIvProj(row)
          var acc = groups.getOrNull(key)
          if (acc == null) {
            acc = new CountRankIndex.Accumulator(nSums)
            groups.update(key.copy(), acc)
          }
          acc.add(iv.getInt(0), iv.getInt(1), sumProj(row))
        }
      }
      val index = groups.mapValuesNow(_.result())
      groups.clear()

      val cKeyProj = UnsafeProjection.create(cKeyB)
      val cIvProj = UnsafeProjection.create(cIvB)
      val joined = new JoinedRow
      val extraRow = new GenericInternalRow(1 + nSums)
      val resultProj = UnsafeProjection.create(outAttrs, resultInput)
      cntIt.flatMap { crow =>
        val key = cKeyProj(crow)
        if (key.isNullAt(binOrd)) { invertedDropped += 1; Iterator.empty }
        else index.get(key) match {
          case None => Iterator.empty
          case Some(idx) =>
            val iv = cIvProj(crow)
            val lo = key.getLong(binOrd) * binW
            val c = idx.probe(iv.getInt(0), iv.getInt(1), lo, lo + binW - 1, extraRow)
            if (c <= 0L) Iterator.empty
            else {
              numOutputRows += 1
              pairCountMetric += c
              Iterator.single(resultProj(joined(crow, extraRow)): InternalRow)
            }
        }
      }
    }
  }
}

/** The one count core: the rank index of one group of well-formed
  * intervals — an equality key of [[IntervalCountJoinExec]]'s build side,
  * a (key, bin) of [[IntervalBinCountJoinExec]]'s index side, a contig of
  * [[graft.streaming.StreamingOps.countStream]]'s static side. It holds
  * the interval starts and ends, each ascending with its row's ordinal at
  * every rank (the row's position in [[CountRankIndex.build]]'s input;
  * the broadcast exec renumbers them to indexes in its broadcast rows), and,
  * per cross sum, prefix sums of the values and of the non-null flags in
  * each rank order (length n + 1, entry 0 = 0). */
final case class CountRankIndex(starts: Array[Int], ordByStart: Array[Int],
    ends: Array[Int], ordByEnd: Array[Int],
    sumByStart: Array[Array[Long]], nonNullByStart: Array[Array[Long]],
    sumByEnd: Array[Array[Long]], nonNullByEnd: Array[Array[Long]]) {

  def size: Int = starts.length

  /** #starts <= q. */
  def startsLe(q: Long): Int = CountRankIndex.rankLe(starts, q)

  /** #ends < q. */
  def endsLt(q: Long): Int = CountRankIndex.rankLt(ends, q)

  /** Counts the indexed intervals that overlap `[qs, qe]` and whose FIRST
    * intersection with it falls in bin `[lo, hi]`, the query and the
    * indexed intervals all being replicas of that bin:
    *  - `qs >= lo` (the bin is the query's first): those intersections
    *    are exactly `{bs <= min(qe, hi), be >= qs}` =
    *    `#(starts <= min(qe, hi)) − #(ends < qs)`, valid because
    *    `be < qs <= min(qe, hi)` implies `bs <= be < min(qe, hi)`;
    *  - `qs < lo` (a later bin): the first intersection is at
    *    `max(qs, bs) = bs`, so exactly `{lo <= bs <= min(qe, hi)}` =
    *    `#(starts <= min(qe, hi)) − #(starts <= lo − 1)` (and `be >= bs >=
    *    lo > qs` makes the end test vacuous).
    * With a positive count and an `out` row, fills `out` with the count
    * and then each cross sum's partial: the same difference over its
    * prefix sums — exact under wrap-around, rank differences being
    * differences mod 2^64 — NULL iff no non-null value contributed. */
  def probe(qs: Int, qe: Int, lo: Long, hi: Long, out: InternalRow): Long = {
    val j = startsLe(math.min(qe.toLong, hi))
    val firstBin = qs >= lo
    val p = if (firstBin) endsLt(qs) else startsLe(lo - 1)
    val c = (j - p).toLong
    if (c > 0L && out != null) {
      out.setLong(0, c)
      val sums = if (firstBin) sumByEnd else sumByStart
      val nonNull = if (firstBin) nonNullByEnd else nonNullByStart
      var s = 0
      while (s < sumByStart.length) {
        if (nonNullByStart(s)(j) == nonNull(s)(p)) out.setNullAt(1 + s)
        else out.setLong(1 + s, sumByStart(s)(j) - sums(s)(p))
        s += 1
      }
    }
    c
  }

  /** The one-bin case of [[probe]]: every overlap of `[qs, qe]`. */
  def probe(qs: Int, qe: Int, out: InternalRow): Long =
    probe(qs, qe, Long.MinValue, Long.MaxValue, out)
}

object CountRankIndex {

  /** The index of intervals `[starts(i), ends(i)]`, ordinal `i`, with
    * cross sums `sums(s)(i)`, each counted only where `nonNull(s)(i)`. */
  def build(starts: Array[Int], ends: Array[Int], sums: Array[Array[Long]],
      nonNull: Array[Array[Boolean]]): CountRankIndex = {
    val byStart = order(starts)
    val byEnd = order(ends)
    def prefix(ord: Array[Int])(w: Int => Long): Array[Long] = {
      val out = new Array[Long](ord.length + 1)
      var i = 0
      while (i < ord.length) { out(i + 1) = out(i) + w(ord(i)); i += 1 }
      out
    }
    def values(ord: Array[Int]) = Array.tabulate(sums.length)(s =>
      prefix(ord)(i => if (nonNull(s)(i)) sums(s)(i) else 0L))
    def counts(ord: Array[Int]) = nonNull.map(nn => prefix(ord)(i => if (nn(i)) 1L else 0L))
    CountRankIndex(byStart.map(starts(_)), byStart, byEnd.map(ends(_)), byEnd,
      values(byStart), counts(byStart), values(byEnd), counts(byEnd))
  }

  /** Accumulates one index's intervals for [[build]], in ordinal order. */
  final class Accumulator(nSums: Int) {
    private val starts, ends = new mutable.ArrayBuilder.ofInt
    private val sums = Array.fill(nSums)(new mutable.ArrayBuilder.ofLong)
    private val nonNull = Array.fill(nSums)(new mutable.ArrayBuilder.ofBoolean)

    /** Adds `[start, end]` with its cross sums, fields `0 until nSums` of
      * `vals`. */
    def add(start: Int, end: Int, vals: InternalRow): Unit = {
      starts += start
      ends += end
      var s = 0
      while (s < nSums) {
        nonNull(s) += !vals.isNullAt(s)
        sums(s) += (if (vals.isNullAt(s)) 0L else vals.getLong(s))
        s += 1
      }
    }

    def result(): CountRankIndex =
      build(starts.result(), ends.result(), sums.map(_.result()), nonNull.map(_.result()))
  }

  /** The ordinals of `keys` in ascending key order, sorted as packed
    * `(key, ordinal)` longs. */
  private def order(keys: Array[Int]): Array[Int] = {
    val packed = Array.tabulate(keys.length)(i => (keys(i).toLong << 32) | i)
    java.util.Arrays.sort(packed)
    packed.map(_.toInt)
  }

  /** #elements <= q in an ascending array (a Long query takes bin bounds). */
  private def rankLe(a: Array[Int], q: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) <= q) lo = m + 1 else hi = m }
    lo
  }

  /** #elements < q in an ascending array. */
  private def rankLt(a: Array[Int], q: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < q) lo = m + 1 else hi = m }
    lo
  }
}
