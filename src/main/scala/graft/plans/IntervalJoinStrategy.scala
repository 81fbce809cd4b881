package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy}

/** Plans [[IntervalForestJoinExec]] (broadcast) or the
  * [[BinRangeRewrite]] (shuffle) for joins matched by
  * [[ExtractIntervalJoin]] (reference strategy:
  * `rangejoins/methods/IntervalTree/IntervalTreeJoinStrategyOptim.scala:16-51`).
  *
  * Build-side and broadcast-vs-two-phase selection use Catalyst plan
  * statistics instead of the reference's runtime `count()` jobs + JOL object
  * sizing (`IntervalTreeJoinOptimChromosome.scala:72-88`,
  * `rangejoins/optimizer/JoinOptimizerChromosome.scala:19-63`) — zero extra
  * jobs, same decision. Conf knobs (defaults in parens):
  *
  *  - `spark.graft.rangejoin.enabled` (true) — fall back to stock Spark
  *    (BroadcastNestedLoopJoin) when false; used by differential tests.
  *  - `spark.graft.rangejoin.minOverlap` (1), `spark.graft.rangejoin.maxGap` (0)
  *  - `spark.graft.rangejoin.method` (auto | broadcast | binrange;
  *    `twophase` accepted as a legacy alias for the shuffle fallback)
  *  - `spark.graft.rangejoin.buildSide` (auto | left | right) — the
  *    reference's `useJoinOrder` analogue (auto picks the smaller by stats).
  *  - `spark.graft.rangejoin.maxBroadcastBytes`, `buildBytesSlack` — the
  *    auto threshold between broadcast and the bin-range shuffle join and
  *    its runtime guard; see [[BroadcastBudget]].
  *  - `spark.graft.rangejoin.binWidth` (300) — genome-bin width of the
  *    [[BinRangeRewrite]] shuffle path; both sides replicate per
  *    overlapped bin. The count pushdown's bin join defaults to 5000
  *    (see [[IntervalCountPushdownRule]]).
  *  - `spark.graft.rangejoin.intervalHolderClass`
  *    (graft.operators.IntervalForestFactory) — the broadcast-side
  *    structure factory, the reference's `intervalHolderClassName`
  *    analogue (`IntervalHolderChromosome.scala:6-26`).
  */
case class IntervalJoinStrategy(session: SparkSession) extends SparkStrategy {

  private def conf(key: String, default: String): String =
    session.conf.get(s"spark.graft.rangejoin.$key", default)

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ExtractIntervalJoin(left, right, joinType, keys, hint)
        if conf("enabled", "true").toBoolean && !BinRangeRewrite.isRewriteJoin(keys) =>
      // Operator-authored IntervalOverlaps predicates pin the overlap
      // semantics (and optionally the method) in the plan; the session
      // confs are the defaults-only surface for user-authored
      // comparison-pair joins (see IntervalJoinKeys.minOverlap/maxGap).
      val minOverlap = RangeJoinChoice.minOverlap(conf, keys)
      val maxGap = RangeJoinChoice.maxGap(conf, keys)
      val method = RangeJoinChoice.method(conf, keys)
      // Build side + mode come from the ONE decision shared with the
      // logical bin-range rewrite ([[RangeJoinChoice]] — hints over
      // stats, non-inner build pinning, the [[BroadcastBudget]]);
      // FullOuter preserves both sides (build-side matched-ness is
      // tracked globally by the exec), so either side may build.
      val (buildLeft, binRange) = RangeJoinChoice.choose(
        conf, joinType, left, right, hint, method)
      // A join with a streaming child plans here only as the broadcast
      // forest with a static build child, which each micro-batch
      // broadcasts again: a full outer join would emit the unmatched build
      // rows once per batch, and the bin-range rewrite aggregates both
      // sides. Everything else falls through to Spark's stream-aware
      // planning (stream-stream joins: StreamingOps.joinStreams).
      if ((left.isStreaming || right.isStreaming) &&
          (binRange || joinType == FullOuter || (if (buildLeft) left else right).isStreaming))
        return Nil
      // At shuffle scale every join type plans as the Catalyst bin
      // rewrite. BinRangeLogicalRule normally applies it first; this
      // branch covers joins created after its batch (subqueries turned
      // into semi/anti joins).
      if (binRange) {
        return planLater(BinRangeRewrite.rewrite(left, right, joinType, keys, buildLeft,
          minOverlap, maxGap, RangeJoinChoice.binWidth(conf))) :: Nil
      }
      val holderClass = conf("intervalHolderClass",
        classOf[graft.operators.IntervalForestFactory].getName)
      // Inner: residual stays a post-join FilterExec (whole-stage codegen
      // fuses it). Non-inner: the residual decides matched-ness per
      // candidate pair, so it must run inside the join.
      val residualInExec = if (joinType == Inner) None else keys.residual
      // The runtime build-budget guard applies only when WE decided to
      // broadcast from stats; a hint or an explicit method=broadcast is
      // the user's call (standard Spark hint semantics).
      val buildHinted = if (buildLeft) RangeJoinChoice.hinted(hint.leftHint)
        else RangeJoinChoice.hinted(hint.rightHint)
      val enforceBudget = method != "broadcast" && !buildHinted
      val exec = IntervalForestJoinExec(
        keys, buildLeft, minOverlap, maxGap, holderClass,
        joinType, residualInExec, planLater(left), planLater(right), enforceBudget)
      if (joinType == Inner) keys.residual.map(FilterExec(_, exec)).getOrElse(exec) :: Nil
      else exec :: Nil
    case _ => Nil
  }
}
