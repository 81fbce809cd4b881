package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, BindReferences, Cast, Coalesce, Divide, EvalMode, Expression, GenericInternalRow, If, IsNull, JoinedRow, Literal, Multiply, NamedExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.LongType

import scala.collection.mutable

import CountRankIndex.{rankLe, rankLt}

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
  * The exec never enumerates pairs: `[qs, qe]` overlaps build interval
  * `i` iff `bs_i <= qe && be_i >= qs`, and `be < qs` implies `bs <= qe`,
  * so `#overlaps = #(starts <= qe) − #(ends < qs)` — two binary searches
  * per stream row. Grouping by the stream side emits the difference
  * directly (sums: the same difference over prefix sums of build
  * values); grouping by the build side folds per-row ranks into
  * per-ordinal counts via histograms + suffix sums per partition (sums:
  * value-weighted histograms), O(|build| * (1 + nSums)) longs per task.
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
    /** Cross-side SUM partials: long-typed, non-nullable expressions on
      * the NON-counted side, each emitted as a per-row partial sum over
      * that row's pairs (weighted rank arithmetic — see the exec). The
      * rewrite turns `SUM(e)` into `SUM(partial)`. */
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

  private def conf(key: String, default: String): String =
    session.conf.get(s"spark.graft.rangejoin.$key", default)

  /** An unfiltered, non-distinct COUNT over a non-null constant — the
    * shapes that count PAIRS (`COUNT(*)` parses to `COUNT(1)`). */
  private def isPairCount(ae: AggregateExpression): Boolean = ae match {
    case AggregateExpression(Count(Seq(Literal(v, _))), Complete, false, None, _) =>
      v != null
    case _ => false
  }

  private def integral(e: Expression): Boolean =
    e.dataType == org.apache.spark.sql.types.LongType ||
      e.dataType == org.apache.spark.sql.types.IntegerType ||
      e.dataType == org.apache.spark.sql.types.ShortType ||
      e.dataType == org.apache.spark.sql.types.ByteType

  /** An unfiltered, non-distinct integral SUM whose argument lives
    * entirely on `side` (the side whose rows the count node emits): each
    * emitted `(row, pair_count)` contributes `e * pair_count`, exactly the
    * repeated addition the pair stream would have produced — including
    * Long wrap-around (multiplication and repeated addition agree mod
    * 2^64) and null handling (null e is ignored by SUM either way).
    * Floating/decimal sums are NOT taken: fp multiplication rounds
    * differently from repeated addition. */
  private def sumOnSide(ae: AggregateExpression, side: LogicalPlan): Option[Expression] =
    ae match {
      case AggregateExpression(Sum(e, _), Complete, false, None, _)
          if integral(e) && e.deterministic && e.references.subsetOf(side.outputSet) =>
        Some(e)
      case _ => None
    }

  /** An integral SUM whose argument lives on the OTHER (non-counted)
    * side: answered by weighted rank arithmetic in the exec, emitted as a
    * per-row partial (NULL when no non-null value contributed — the exec
    * tracks per-sum non-null counts so SUM's all-null → NULL semantics
    * survive the rewrite). */
  private def sumOnOtherSide(ae: AggregateExpression, other: LogicalPlan): Option[Expression] =
    ae match {
      case AggregateExpression(Sum(e, _), Complete, false, None, _)
          if integral(e) && e.deterministic &&
            e.references.nonEmpty && e.references.subsetOf(other.outputSet) =>
        Some(e)
      case _ => None
    }

  /** An unfiltered, non-distinct COUNT over a single column expression on
    * `side` — COUNT(e) counts pairs with non-null e (a non-nullable e
    * canonicalizes to COUNT(1) upstream of this rule, so reaching here
    * means null awareness is genuinely required). Any data type: only a
    * null test is done. Counted side: `SUM(cnt where e non-null)`; other
    * side: the 0/1 weight rides the cross-sum rank machinery. */
  private def countColOn(ae: AggregateExpression, side: LogicalPlan): Option[Expression] =
    ae match {
      case AggregateExpression(Count(Seq(e)), Complete, false, None, _)
          if !e.isInstanceOf[Literal] && e.deterministic &&
            e.references.nonEmpty && e.references.subsetOf(side.outputSet) =>
        Some(e)
      case _ => None
    }

  /** An unfiltered, non-distinct AVG over an integral expression on one
    * side: rewritten to pushed-SUM / pushed-non-null-COUNT divided in
    * double (LEGACY division — NULL on zero count, Average's own
    * semantics). The exact long sums make this agree bit-for-bit with the
    * general path wherever the general path is itself deterministic
    * (Average accumulates integral inputs in double, exact until the
    * running sum passes 2^53 — beyond that the general path is already
    * partition-order-dependent). */
  private def avgOn(ae: AggregateExpression, side: LogicalPlan): Option[Expression] =
    ae match {
      case AggregateExpression(Average(e, _), Complete, false, None, _)
          if integral(e) && e.deterministic &&
            e.references.nonEmpty && e.references.subsetOf(side.outputSet) =>
        Some(e)
      case _ => None
    }

  /** An unfiltered, non-distinct MIN/MAX over the counted side: the
    * node's emitted rows are the matched rows, and min/max are
    * multiplicity-blind, so the aggregate passes through UNCHANGED —
    * no rewrite, no new column. (Any data type: no arithmetic done.) */
  private def isMinMaxOnSide(ae: AggregateExpression, side: LogicalPlan): Boolean =
    ae match {
      case AggregateExpression(
          org.apache.spark.sql.catalyst.expressions.aggregate.Min(e),
          Complete, false, None, _) =>
        e.deterministic && e.references.nonEmpty && e.references.subsetOf(side.outputSet)
      case AggregateExpression(
          org.apache.spark.sql.catalyst.expressions.aggregate.Max(e),
          Complete, false, None, _) =>
        e.deterministic && e.references.nonEmpty && e.references.subsetOf(side.outputSet)
      case _ => false
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
          JoinMaybeProjected(join @ Join(jl, jr, Inner, Some(cond), hint)), aggHint)
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
          // Every output is a grouping attribute, a pair count, or an
          // integral SUM over either side's columns.
          countSide = if (countLeft) jl else jr
          otherSide = if (countLeft) jr else jl
          if aggExprs.forall {
            case a: AttributeReference => groupAttrs.exists(_.exprId == a.exprId)
            // A renamed grouping column (CollapseProject folds a
            // `SELECT key AS k` on top of the aggregate into aggExprs):
            // pure output aliasing, unchanged by the rewrite.
            case Alias(a: AttributeReference, _) =>
              groupAttrs.exists(_.exprId == a.exprId)
            case Alias(ae: AggregateExpression, _) =>
              isPairCount(ae) || sumOnSide(ae, countSide).isDefined ||
                sumOnOtherSide(ae, otherSide).isDefined ||
                isMinMaxOnSide(ae, countSide) ||
                countColOn(ae, countSide).isDefined ||
                countColOn(ae, otherSide).isDefined ||
                avgOn(ae, countSide).isDefined ||
                avgOn(ae, otherSide).isDefined
            case _ => false
          }
          // Either an aggregate column (COUNT/SUM shape) or pure
          // grouping — the DISTINCT shape: `SELECT DISTINCT key FROM a
          // JOIN b ON overlap` asks "which keys have at least one pair",
          // which is exactly the node's emitted row set (only cnt > 0
          // rows emit); the surviving aggregate dedups, the unused cnt
          // column is ignored.
          if groupExprs.nonEmpty ||
            aggExprs.exists { case Alias(_: AggregateExpression, _) => true; case _ => false }
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
          // (canonicalized, so sum(x) twice shares one partial): plain
          // sums ride widen(e); null-aware counts and AVG divisors ride
          // the 0/1 weight; AVG needs both.
          val crossExprs: Seq[Expression] = aggExprs.flatMap {
            case Alias(ae: AggregateExpression, _)
                if !isPairCount(ae) && sumOnSide(ae, countSide).isEmpty &&
                  !isMinMaxOnSide(ae, countSide) &&
                  countColOn(ae, countSide).isEmpty && avgOn(ae, countSide).isEmpty =>
              sumOnOtherSide(ae, otherSide).map(e => Seq(widen(e)))
                .orElse(countColOn(ae, otherSide).map(e => Seq(nnWeight(e))))
                .orElse(avgOn(ae, otherSide).map(e => Seq(widen(e), nnWeight(e))))
                .getOrElse(Nil)
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
          // Fresh AggregateExpression (fresh resultId): AVG splits one
          // original aggregate into TWO — copying the original would
          // duplicate its resultId across different functions.
          def freshAgg(f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction)
              : AggregateExpression =
            AggregateExpression(f, Complete, isDistinct = false, None, NamedExpression.newExprId)
          // COUNT over an empty global aggregate is 0 while SUM is NULL;
          // grouped counts never see an empty group (only cnt > 0 rows
          // emit), so the coalesce is needed exactly when groupExprs is
          // empty and the join has zero pairs.
          def countShape(s: AggregateExpression): Expression =
            if (groupExprs.isEmpty) Coalesce(Seq(s, Literal(0L))) else s
          // AVG = exact pushed SUM / pushed non-null COUNT, divided in
          // double with LEGACY semantics (NULL on zero divisor — Average's
          // own x/0 behavior; an all-null group also yields NULL via the
          // NULL numerator).
          def avgShape(sumAgg: AggregateExpression, cntAgg: AggregateExpression): Expression =
            Divide(Cast(sumAgg, org.apache.spark.sql.types.DoubleType),
              Cast(cntAgg, org.apache.spark.sql.types.DoubleType), EvalMode.LEGACY)
          def rebuild(al: Alias, e: Expression): NamedExpression =
            Alias(e, al.name)(exprId = al.exprId,
              qualifier = al.qualifier, explicitMetadata = Some(al.metadata))
          val newAggExprs: Seq[NamedExpression] = aggExprs.map {
            case al @ Alias(ae: AggregateExpression, _) if isPairCount(ae) =>
              rebuild(al, countShape(ae.copy(aggregateFunction = Sum(cnt))))
            case al @ Alias(ae: AggregateExpression, _)
                if sumOnSide(ae, countSide).isDefined =>
              // SUM(e) over pairs == SUM(e * pair_count) over emitted rows;
              // cast e to long first so the multiply is long domain (the
              // general path's Sum also widens integral inputs to long).
              val e = sumOnSide(ae, countSide).get
              rebuild(al, ae.copy(aggregateFunction = Sum(Multiply(widen(e), cnt))))
            case al @ Alias(ae: AggregateExpression, _)
                if isMinMaxOnSide(ae, countSide) =>
              al
            case al @ Alias(ae: AggregateExpression, _)
                if countColOn(ae, countSide).isDefined =>
              // COUNT(e) over pairs == SUM(cnt over emitted rows with
              // non-null e).
              val e = countColOn(ae, countSide).get
              rebuild(al, countShape(
                ae.copy(aggregateFunction = Sum(If(IsNull(e), Literal(0L), cnt)))))
            case al @ Alias(ae: AggregateExpression, _)
                if avgOn(ae, countSide).isDefined =>
              val e = avgOn(ae, countSide).get
              rebuild(al, avgShape(
                freshAgg(Sum(Multiply(widen(e), cnt))),
                freshAgg(Sum(If(IsNull(e), Literal(0L), cnt)))))
            case al @ Alias(ae: AggregateExpression, _)
                if sumOnOtherSide(ae, otherSide).isDefined =>
              val e = widen(sumOnOtherSide(ae, otherSide).get)
              rebuild(al, ae.copy(aggregateFunction = Sum(partialOf(e))))
            case al @ Alias(ae: AggregateExpression, _)
                if countColOn(ae, otherSide).isDefined =>
              val e = countColOn(ae, otherSide).get
              rebuild(al, countShape(
                ae.copy(aggregateFunction = Sum(partialOf(nnWeight(e))))))
            case al @ Alias(ae: AggregateExpression, _)
                if avgOn(ae, otherSide).isDefined =>
              val e = avgOn(ae, otherSide).get
              rebuild(al, avgShape(
                freshAgg(Sum(partialOf(widen(e)))),
                freshAgg(Sum(partialOf(nnWeight(e))))))
            case other => other
          }
          Aggregate(groupExprs, newAggExprs, node, aggHint)
        }
        rewritten.getOrElse(agg)
    }
  }
}

/** Physical count-probe: broadcast rank index of the build side, stream
  * side probed in place (never shuffled). See [[IntervalCountJoinNode]]. */
case class IntervalCountJoinExec(keys: IntervalJoinKeys, countLeft: Boolean,
    buildLeft: Boolean,
    /** Long-typed non-nullable expressions on the NON-counted side; each
      * appends a per-row partial-sum column after `pair_count`. */
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
    val bIvB = Seq(bound(bStart, buildPlan), bound(bEnd, buildPlan))
    val bEqsB = bEqs.map(bound(_, buildPlan))
    val sIvB = Seq(bound(sStart, streamPlan), bound(sEnd, streamPlan))
    val sEqsB = sEqs.map(bound(_, streamPlan))
    val nEqs = bEqs.length
    val outAttrs = output
    val numOutputRows = longMetric("numOutputRows")
    val pairCountMetric = longMetric("pairCount")
    val invertedDropped = longMetric("invertedDropped")

    // Build-side collect, the forest join's; a row's position in it is
    // the ordinal the count arrays index. Inverted (start > end) rows are
    // dropped: the rank identity assumes well-formed intervals, and a
    // malformed build row would silently skew counts instead of matching
    // the general path's per-pair predicate evaluation. Counted in
    // invertedDropped so the contract breach is visible.
    val (collected, bytes) = BroadcastBudget.collectKeyed(
      buildPlan, bEqsB, bIvB, dropInverted = Some(invertedDropped))
    longMetric("buildRows") += collected.length
    if (enforceBuildBudget) BroadcastBudget.checkCollected(bytes,
      "interval-count-join build side", "raise the budget, broadcast()-hint the side to " +
        "take responsibility, or set spark.graft.rangejoin.countPushdown=false to take " +
        "the general path.", conf)
    val rowsArr: Array[InternalRow] = collected.map(_._4)
    // Cross-side SUM plumbing: the exprs live on whichever side the
    // counted side is NOT.
    val countBuildV = countLeft == buildLeft // grouping side is the broadcast side
    val crossOnBuild = !countBuildV && crossSumExprs.nonEmpty
    val nSums = crossSumExprs.length
    val crossBoundStream: Seq[Expression] =
      if (countBuildV) crossSumExprs.map(bound(_, streamPlan)) else Nil
    // Build-side cross exprs evaluate once per collected row (driver,
    // interpreted — |build| evals, amortized by the collect itself).
    // Null values contribute 0 to sums and 0 to the non-null counts the
    // NULL-iff-all-null semantics need.
    val (buildVals, buildNonNull): (Array[Array[Long]], Array[Array[Boolean]]) =
      if (crossOnBuild) {
        val boundB = crossSumExprs.map(bound(_, buildPlan))
        val vals = Array.tabulate(nSums) { s =>
          collected.map { c =>
            boundB(s).eval(c._4) match { case null => 0L; case v => v.asInstanceOf[Long] }
          }
        }
        val nn = Array.tabulate(nSums) { s =>
          collected.map(c => boundB(s).eval(c._4) != null)
        }
        (vals, nn)
      } else (null, null)
    // Per-key rank index: overlap COUNTS need no tree walk at all.
    // A stream query [qs, qe] overlaps build interval i iff
    // bs_i <= qe AND be_i >= qs; since be_i < qs implies bs_i <= qe
    // (bs <= be < qs <= qe + 1), the count is a pure rank difference:
    //   #overlaps = #(starts <= qe) - #(ends < qs)
    // — two binary searches per stream row, O(log n) regardless of how
    // many pairs the general join would have enumerated. This is what
    // makes the pushdown asymptotically different from "join then
    // count": at 65M pairs (sf0.1, widened features) the pair walk and
    // the rank version part ways by the full pair count. Cross-side
    // sums use the same identity weighted by the summed value: prefix
    // sums of build values by rank (stream-grouped direction), or
    // value-weighted stream histograms (build-grouped direction) —
    // wrap-around stays exact because rank differences are differences
    // mod 2^64.
    val index: Map[UnsafeRow, CountRankIndex] = collected.iterator.zipWithIndex
      .map { case ((k, s, e, _), i) => (k, s, e, i) }.toSeq
      .groupBy(_._1)
      .map { case (k, items) =>
        // Arrays, not the groupBy's List: the prefix loops below index
        // positionally, and ord(i) on a List is O(i) — an O(n^2) driver
        // build for a broadcast-budget-sized contig.
        val byStart = items.sortBy(_._2).toArray
        val byEnd = items.sortBy(_._3).toArray
        // Prefix sums of each cross expr's build values (and non-null
        // counts) in both rank orders (length n+1, entry 0 = 0): per
        // stream row the partial is psStart(j) - psEnd(p), NULL when the
        // non-null-count difference is 0.
        def prefix(ord: Array[(UnsafeRow, Int, Int, Int)], s: Int): Array[Long] = {
          val out = new Array[Long](ord.length + 1)
          var i = 0
          while (i < ord.length) { out(i + 1) = out(i) + buildVals(s)(ord(i)._4); i += 1 }
          out
        }
        def prefixN(ord: Array[(UnsafeRow, Int, Int, Int)], s: Int): Array[Long] = {
          val out = new Array[Long](ord.length + 1)
          var i = 0
          while (i < ord.length) {
            out(i + 1) = out(i) + (if (buildNonNull(s)(ord(i)._4)) 1L else 0L); i += 1
          }
          out
        }
        val (psStart, psEnd, pnStart, pnEnd) =
          if (crossOnBuild)
            (Array.tabulate(nSums)(prefix(byStart, _)), Array.tabulate(nSums)(prefix(byEnd, _)),
             Array.tabulate(nSums)(prefixN(byStart, _)), Array.tabulate(nSums)(prefixN(byEnd, _)))
          else (null, null, null, null)
        k -> CountRankIndex(
          byStart.map(_._2).toArray, byStart.map(_._4).toArray,
          byEnd.map(_._3).toArray, byEnd.map(_._4).toArray,
          psStart, psEnd, pnStart, pnEnd)
      }
    val bc = sparkContext.broadcast((index, rowsArr))

    streamPlan.execute().mapPartitions { it =>
      val (idxMap, rows) = bc.value
      val keyProj = UnsafeProjection.create(sEqsB)
      val ivProj = UnsafeProjection.create(sIvB)
      val joined = new JoinedRow
      val extraRow = new GenericInternalRow(1 + nSums)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      if (countBuildV) {
        // Reads-per-feature direction: per-key histograms over the two
        // rank axes — hA(j) streams whose qe admits j start-ranks,
        // hB(p) streams whose qs excludes p end-ranks — folded into
        // per-ordinal counts by one suffix-sum pass per axis at the end.
        // Cross-side sums ride the same passes with value-weighted
        // histograms. O(|build| * (1 + nSums)) longs per task; zero
        // per-pair work.
        // One codegen'd projection evaluates every sum expr per row.
        val sumProj = if (nSums > 0) UnsafeProjection.create(crossBoundStream) else null
        val cnts = new Array[Long](rows.length)
        val sums = Array.fill(nSums)(new Array[Long](rows.length))
        val nncnts = Array.fill(nSums)(new Array[Long](rows.length))
        final class Hists(n: Int) {
          val hA = new Array[Long](n + 1); val hB = new Array[Long](n + 1)
          val wA = Array.fill(nSums)(new Array[Long](n + 1))
          val wB = Array.fill(nSums)(new Array[Long](n + 1))
          // Non-null contribution counts per sum (SUM(all-null) is NULL).
          val cA = Array.fill(nSums)(new Array[Long](n + 1))
          val cB = Array.fill(nSums)(new Array[Long](n + 1))
        }
        val hists = mutable.AnyRefMap.empty[UnsafeRow, Hists]
        it.foreach { srow =>
          val iv = ivProj(srow)
          // Inverted stream intervals skipped, same rationale as the
          // build-side collect.
          if (!iv.isNullAt(0) && !iv.isNullAt(1) && iv.getInt(0) <= iv.getInt(1)) {
            val key = keyProj(srow)
            if (nEqs == 0 || !key.anyNull) idxMap.get(key).foreach { idx =>
              val h = hists.getOrElseUpdate(key.copy(), new Hists(idx.starts.length))
              val j = rankLe(idx.starts, iv.getInt(1))
              val p = rankLt(idx.endsSorted, iv.getInt(0))
              h.hA(j) += 1L
              h.hB(p) += 1L
              if (nSums > 0) {
                val vs = sumProj(srow)
                var s = 0
                while (s < nSums) {
                  if (!vs.isNullAt(s)) {
                    val v = vs.getLong(s)
                    h.wA(s)(j) += v; h.wB(s)(p) += v
                    h.cA(s)(j) += 1L; h.cB(s)(p) += 1L
                  }
                  s += 1
                }
              }
            }
          }
        }
        hists.foreach { case (key, h) =>
          val idx = idxMap(key)
          val n = idx.starts.length
          def fold(hist: Array[Long], ord: Array[Int], into: Array[Long], sign: Long): Unit = {
            var run = 0L
            var r = n - 1
            while (r >= 0) { run += hist(r + 1); into(ord(r)) += sign * run; r -= 1 }
          }
          fold(h.hA, idx.ordByStart, cnts, 1L)
          fold(h.hB, idx.ordByEnd, cnts, -1L)
          var s = 0
          while (s < nSums) {
            fold(h.wA(s), idx.ordByStart, sums(s), 1L)
            fold(h.wB(s), idx.ordByEnd, sums(s), -1L)
            fold(h.cA(s), idx.ordByStart, nncnts(s), 1L)
            fold(h.cB(s), idx.ordByEnd, nncnts(s), -1L)
            s += 1
          }
        }
        Iterator.range(0, cnts.length).filter(cnts(_) > 0L).map { i =>
          numOutputRows += 1
          pairCountMetric += cnts(i)
          extraRow.setLong(0, cnts(i))
          var s = 0
          while (s < nSums) {
            if (nncnts(s)(i) == 0L) extraRow.setNullAt(1 + s)
            else extraRow.setLong(1 + s, sums(s)(i))
            s += 1
          }
          resultProj(joined(rows(i), extraRow)): InternalRow
        }
      } else {
        // Features-per-read direction: the rank difference IS the count;
        // cross-side sums are the same difference over the build values'
        // prefix sums.
        it.flatMap { srow =>
          val iv = ivProj(srow)
          if (iv.isNullAt(0) || iv.isNullAt(1) || iv.getInt(0) > iv.getInt(1)) {
            if (!iv.isNullAt(0) && !iv.isNullAt(1)) invertedDropped += 1
            Iterator.empty
          } else {
            val key = keyProj(srow)
            if (nEqs > 0 && key.anyNull) Iterator.empty
            else idxMap.get(key) match {
              case None => Iterator.empty
              case Some(idx) =>
                val j = rankLe(idx.starts, iv.getInt(1))
                val p = rankLt(idx.endsSorted, iv.getInt(0))
                val c = (j - p).toLong
                // <= 0 (not == 0): a degenerate input slipping past the
                // well-formedness skips must never emit a negative count.
                if (c <= 0L) Iterator.empty
                else {
                  numOutputRows += 1
                  pairCountMetric += c
                  extraRow.setLong(0, c)
                  var s = 0
                  while (s < nSums) {
                    if (idx.pnStart(s)(j) - idx.pnEnd(s)(p) == 0L) extraRow.setNullAt(1 + s)
                    else extraRow.setLong(1 + s, idx.psStart(s)(j) - idx.psEnd(s)(p))
                    s += 1
                  }
                  Iterator.single(resultProj(joined(srow, extraRow)): InternalRow)
                }
            }
          }
        }
      }
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
  * partition the NON-counted side's replicas fold into per-(key,bin) rank
  * indexes (sorted starts/ends + per-sum prefix arrays — primitive
  * ints/longs, never buffered rows), then the counted side STREAMS
  * through, emitting one partial `(counted row, pair_count, partial
  * sums...)` per replica bin with a non-zero count. The surviving
  * aggregate merges partials across bins — the same `SUM(pair_count)`
  * rewrite the broadcast path uses, so both regimes share one logical
  * contract.
  *
  * Every cluster key is required (`requireAllClusterKeys`): a child
  * already hash-partitioned on the contig alone must not satisfy the
  * distribution, or one task would index a whole hot contig.
  *
  * Exactly-once across bins by first-intersection-bin rank arithmetic
  * (no per-pair scan, unlike the general bin-range join): for a counted
  * replica `[qs, qe]` in bin B = `[lo, hi]`,
  *  - `qs >= lo` (B is the row's FIRST replica bin): pairs whose first
  *    intersection falls in B are exactly `{bs <= min(qe, hi), be >= qs}`
  *    = `#(starts <= min(qe,hi)) − #(ends < qs)` — valid because
  *    `be < qs <= min(qe, hi)` implies `bs <= be < min(qe,hi)`;
  *  - `qs < lo` (a later replica bin): the first intersection is at
  *    `max(qs, bs) = bs`, so exactly `{lo <= bs <= min(qe, hi)}`
  *    = `#(starts <= min(qe,hi)) − #(starts <= lo−1)` (and `be >= bs >=
  *    lo > qs` makes the end test vacuous).
  * Cross-side sums ride the identical differences over value/non-null
  * prefix arrays in the matching rank order; per-bin partials are NULL
  * iff zero non-null values contributed, so SUM's all-null → NULL
  * semantics survive bin splitting.
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
    val emptyVals = Array.emptyLongArray

    // The exchanges co-partition both children on (key, bin): the index
    // side folds into primitive-array rank indexes; the counted side
    // STREAMS — never buffered, unlike a cogroup, whose grouped iterables
    // would materialize both sides per (key, bin).
    indexPlan.execute().zipPartitions(countedPlan.execute()) { (idxIt, cntIt) =>
      // Index side: (key, bin) -> (start, end, [sum values..., non-null
      // 0/1 flags...]). Inverted rows are dropped on BOTH sides — the
      // rank identity needs well-formed intervals (same contract as the
      // broadcast count path).
      val iKeyProj = UnsafeProjection.create(iKeyB)
      val iIvProj = UnsafeProjection.create(iIvB)
      val sumProj = if (nSums > 0) UnsafeProjection.create(crossBound) else null
      val groups = mutable.AnyRefMap
        .empty[UnsafeRow, mutable.ArrayBuffer[(Int, Int, Array[Long])]]
      idxIt.foreach { row =>
        val key = iKeyProj(row)
        if (key.isNullAt(binOrd)) invertedDropped += 1
        else {
          indexReplicas += 1
          val iv = iIvProj(row)
          val vals = if (nSums == 0) emptyVals else {
            val vs = sumProj(row)
            val a = new Array[Long](2 * nSums)
            var i = 0
            while (i < nSums) {
              if (!vs.isNullAt(i)) { a(i) = vs.getLong(i); a(nSums + i) = 1L }
              i += 1
            }
            a
          }
          groups.getOrElseUpdate(key.copy(), new mutable.ArrayBuffer[(Int, Int, Array[Long])]) +=
            ((iv.getInt(0), iv.getInt(1), vals))
        }
      }
      // Finalize: sorted rank arrays + prefix sums per order; the tuple
      // buffers are released group by group.
      final case class Idx(starts: Array[Int], ends: Array[Int],
          psStart: Array[Array[Long]], pnStart: Array[Array[Long]],
          psEnd: Array[Array[Long]], pnEnd: Array[Array[Long]])
      def prefixes(ord: Array[(Int, Int, Array[Long])])
          : (Array[Array[Long]], Array[Array[Long]]) =
        if (nSums == 0) (null, null) else {
          val n = ord.length
          val ps = Array.fill(nSums)(new Array[Long](n + 1))
          val pn = Array.fill(nSums)(new Array[Long](n + 1))
          var i = 0
          while (i < n) {
            val v = ord(i)._3
            var s = 0
            while (s < nSums) {
              ps(s)(i + 1) = ps(s)(i) + v(s)
              pn(s)(i + 1) = pn(s)(i) + v(nSums + s)
              s += 1
            }
            i += 1
          }
          (ps, pn)
        }
      val index = mutable.AnyRefMap.empty[UnsafeRow, Idx]
      groups.foreach { case (k, buf) =>
        val arr = buf.toArray
        val byStart = arr.sortBy(_._1)
        val byEnd = arr.sortBy(_._2)
        val (psS, pnS) = prefixes(byStart)
        val (psE, pnE) = prefixes(byEnd)
        index.update(k, Idx(byStart.map(_._1), byEnd.map(_._2), psS, pnS, psE, pnE))
      }
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
            val qs = iv.getInt(0); val qe = iv.getInt(1)
            val lo = key.getLong(binOrd) * binW
            val hi = lo + binW - 1
            val boundHi = math.min(qe.toLong, hi)
            val j = rankLe(idx.starts, boundHi)
            val firstBin = qs >= lo
            val p = if (firstBin) rankLt(idx.ends, qs) else rankLe(idx.starts, lo - 1)
            val c = (j - p).toLong
            if (c <= 0L) Iterator.empty
            else {
              numOutputRows += 1
              pairCountMetric += c
              extraRow.setLong(0, c)
              var s = 0
              while (s < nSums) {
                val (ps, pn) = if (firstBin) (idx.psEnd, idx.pnEnd) else (idx.psStart, idx.pnStart)
                if (idx.pnStart(s)(j) - pn(s)(p) == 0L) extraRow.setNullAt(1 + s)
                else extraRow.setLong(1 + s, idx.psStart(s)(j) - ps(s)(p))
                s += 1
              }
              Iterator.single(resultProj(joined(crow, extraRow)): InternalRow)
            }
        }
      }
    }
  }
}

/** Per-equality-key rank index of the build side: interval starts and
  * ends, each ascending, with the global build ordinal at every rank —
  * plus, when cross-side sums push down in the stream-grouped direction,
  * per-sum prefix sums of the build values in each rank order (length
  * n + 1, entry 0 = 0; null otherwise). */
case class CountRankIndex(starts: Array[Int], ordByStart: Array[Int],
    endsSorted: Array[Int], ordByEnd: Array[Int],
    psStart: Array[Array[Long]] = null, psEnd: Array[Array[Long]] = null,
    pnStart: Array[Array[Long]] = null, pnEnd: Array[Array[Long]] = null)

object CountRankIndex {

  /** #elements <= q in an ascending array (a Long query takes bin bounds). */
  def rankLe(a: Array[Int], q: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) <= q) lo = m + 1 else hi = m }
    lo
  }

  /** #elements < q in an ascending array. */
  def rankLt(a: Array[Int], q: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < q) lo = m + 1 else hi = m }
    lo
  }
}
