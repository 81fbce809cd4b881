package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.{JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, Join, JoinHint, LogicalPlan, BROADCAST}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** The build-side + broadcast-vs-bin-range decision for a range join —
  * ONE implementation shared by [[BinRangeLogicalRule]] (the logical
  * rewrite) and [[IntervalJoinStrategy]] (the physical planner, which
  * also keeps a bin-range branch). Duplicating it would let a future
  * conf tweak make the two placements silently choose different modes
  * for the same query.
  *
  * Standard Spark broadcast hints (`broadcast(df)` / SQL BROADCAST hint)
  * name the side the USER wants built — honored like stock Spark's join
  * selection, and trusted over statistics (a driver-computed frame's
  * stats default to 8 EB, which would otherwise force the shuffle path
  * for a provably tiny build side). One-sided non-inner joins pin the
  * build side: the preserved side must stream so unmatched rows can be
  * emitted locally (same restriction as Spark's BroadcastHashJoinExec).
  * A streaming child is never the build side.
  */
object RangeJoinChoice {

  def hinted(h: Option[HintInfo]): Boolean =
    h.exists(_.strategy.contains(BROADCAST))

  /** Join semantics / method resolution: plan-embedded pins on the keys
    * (from the operator-authored [[graft.functions.IntervalOverlaps]]
    * predicate) win; the session confs are defaults-only — immune to
    * concurrent queries mutating the session. */
  def minOverlap(conf: (String, String) => String, keys: IntervalJoinKeys): Int =
    keys.minOverlap.getOrElse(conf("minOverlap", "1").toInt)
  def maxGap(conf: (String, String) => String, keys: IntervalJoinKeys): Int =
    keys.maxGap.getOrElse(conf("maxGap", "0").toInt)
  def method(conf: (String, String) => String, keys: IntervalJoinKeys): String =
    keys.method.getOrElse(conf("method", "auto"))
  /** Genome-bin width of the bin-range rewrite. Narrow bins win: each
    * (key, bin) group's candidate pairs are scanned, and pairs per bin
    * shrink faster than replication grows until the width nears the
    * interval length (sf0.1, 600k x 20k, 3.55M pairs: 1.15 s at 300,
    * 2.8 s at 5000). */
  def binWidth(conf: (String, String) => String): Int = conf("binWidth", "300").toInt

  /** Returns `(buildLeft, useBinRange)` under the resolved `method` and
    * the `spark.graft.rangejoin` confs read through `conf(key, default)`. */
  def choose(conf: (String, String) => String, joinType: JoinType,
      left: LogicalPlan, right: LogicalPlan, hint: JoinHint,
      method: String): (Boolean, Boolean) = {
    val (hintLeft, hintRight) = (hinted(hint.leftHint), hinted(hint.rightHint))
    val buildLeft = joinType match {
      case RightOuter => true
      case LeftOuter | LeftSemi | LeftAnti => false
      // A streaming child streams, whatever its micro-batch stats say.
      case _ if left.isStreaming || right.isStreaming => right.isStreaming
      case _ if hintLeft && !hintRight => true
      case _ if hintRight && !hintLeft => false
      case _ => conf("buildSide", "auto") match {
        case "left" => true
        case "right" => false
        case _ => left.stats.sizeInBytes <= right.stats.sizeInBytes
      }
    }
    val buildSize = if (buildLeft) left.stats.sizeInBytes else right.stats.sizeInBytes
    val buildHinted = if (buildLeft) hintLeft else hintRight
    val binRange = method match {
      case "binrange" | "twophase" => true
      case "broadcast" => false
      case _ if buildHinted => false
      case _ => !BroadcastBudget.fits(buildSize, SQLConf.get)
    }
    (buildLeft, binRange)
  }
}

/** Applies [[BinRangeRewrite]] at LOGICAL optimization time (injected as a
  * pre-CBO rule) rather than inside the planner strategy.
  *
  * Why the placement matters — AQE re-optimization: when a strategy emits
  * `planLater(rewrittenLogical)`, the physical stages link to logical
  * nodes that do NOT exist in `AdaptiveSparkPlanExec`'s logical plan (it
  * holds the ORIGINAL interval join). AQE then cannot fold materialized
  * stages back into the logical plan, `reOptimize` never runs, and every
  * runtime optimization this engine's scaladocs promise for the shuffle
  * path — skew-join splitting of a hot contig above all — silently never
  * applies (verified: no `LogicalQueryStage` stats, `isSkewJoin=false`
  * even under forced skew confs). Rewriting in the optimizer puts the
  * Generates, equi-joins and verdict aggregates into the logical plan
  * itself, so stages map back, replanning works, and `OptimizeSkewedJoin`
  * fires exactly as it does for any stock equi-join (pinned by
  * IntervalJoinSpec's AQE skew test).
  *
  * The decision is [[RangeJoinChoice]], shared with
  * [[IntervalJoinStrategy]]. The strategy keeps its own rewrite branch
  * for interval joins that only exist after the pre-CBO batch — the
  * optimizer's later `RewriteSubquery` batch turns `EXISTS`/`IN`
  * subqueries into semi/anti joins — and refuses joins this rule already
  * rewrote via [[BinRangeRewrite.isRewriteJoin]].
  */
case class BinRangeLogicalRule(session: SparkSession) extends Rule[LogicalPlan] {

  private def conf(key: String, default: String): String =
    session.conf.get(s"spark.graft.rangejoin.$key", default)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf("enabled", "true").toBoolean) return plan
    plan.transformUp {
      case j @ Join(_, _, _, Some(_), _) =>
        ExtractIntervalJoin.unapply(j) match {
          case Some((left, right, joinType, keys, hint))
              if !left.isStreaming && !right.isStreaming &&
                !BinRangeRewrite.isRewriteJoin(keys) =>
            val (buildLeft, binRange) = RangeJoinChoice.choose(
              conf, joinType, left, right, hint, RangeJoinChoice.method(conf, keys))
            if (binRange) {
              // Same plan-embedded pin as IntervalJoinStrategy (see
              // IntervalJoinKeys.minOverlap/maxGap).
              BinRangeRewrite.rewrite(left, right, joinType, keys, buildLeft,
                RangeJoinChoice.minOverlap(conf, keys), RangeJoinChoice.maxGap(conf, keys),
                RangeJoinChoice.binWidth(conf))
            } else j
          case _ => j
        }
    }
  }
}
