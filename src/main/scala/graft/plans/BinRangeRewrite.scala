package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

/** Inner bin-range interval join as a pure Catalyst rewrite — the shape
  * the engine plans at shuffle scale (build side over the broadcast
  * budget). Both sides explode to the fixed-width genome bins their
  * interval overlaps, join on `(eq keys..., bin)` — a stock equi-join,
  * so Tungsten shuffle serialization, whole-stage codegen, and AQE skew
  * splitting all apply — with the widened overlap core and the
  * exactly-once first-intersection-bin dedup as non-equi join conjuncts
  * evaluated inside the join's generated loop.
  *
  * Semantics identical to [[IntervalForestJoinExec]]'s non-inner
  * BinRangeMode (maxGap widens the build side before binning and
  * overlap/minOverlap use the widened values, reference
  * `IntervalTreeJoinOptimChromosomeImpl.scala:82-87`): a pair is emitted
  * exactly once because the first bin of its (widened) intersection is
  * provably covered by both sides' replica ranges whenever the join
  * predicate holds — including degenerate (start > end) rows, whose
  * replicas cover their coordinate envelope.
  *
  * All arithmetic is in Long: genomic coordinates fit, and a single type
  * avoids int/long comparison mismatches in hand-built resolved
  * expressions.
  */
object BinRangeRewrite {

  /** Marker prefix of the generated bin attributes;
    * [[IntervalJoinStrategy]] refuses to re-extract a join whose equality
    * keys carry it (the rewrite's own join would otherwise recurse). */
  val BinAttr = "__graft_bin"

  def isRewriteJoin(keys: IntervalJoinKeys): Boolean =
    (keys.leftEqs ++ keys.rightEqs).exists {
      case a: AttributeReference => a.name.startsWith(BinAttr)
      case _ => false
    }

  private def asLong(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)

  /** floorDiv in expressions: `(x - pmod(x, w)) div w` — pmod is
    * non-negative for a positive modulus, so the subtraction lands
    * exactly on the floor multiple (IntegralDivide alone truncates
    * toward zero, wrong for negative coordinates after gap widening). */
  private def floorDiv(x: Expression, w: Long): Expression = {
    val xl = asLong(x)
    IntegralDivide(Subtract(xl, Pmod(xl, Literal(w))), Literal(w))
  }

  /** `x ± widen`, eliding the no-op when `widen` is 0 (the common case;
    * Catalyst does not fold `x - 0`, and the leftover arithmetic would
    * run per candidate pair inside the join's generated loop). */
  private def widened(x: Expression, widen: Int, add: Boolean): Expression =
    if (widen == 0) asLong(x)
    else if (add) Add(asLong(x), Literal(widen.toLong))
    else Subtract(asLong(x), Literal(widen.toLong))

  /** Explode `plan` to one row per overlapped bin of `[min(s,e)-widen,
    * max(s,e)+widen]`. Null intervals vanish (Sequence of a null bound is
    * null; Explode of null emits nothing) — inner-join semantics.
    *
    * Also returns a `dedupLo` attribute: the side's first-candidate bin
    * `floorDiv(min(widened s, widened e))`, PRECOMPUTED once per input
    * row and carried through the explode, so the join's exactly-once
    * conjunct is a `Greatest` of two ready columns instead of a deep
    * tree re-evaluated per candidate pair (the r11 generalization paid
    * ~1.5× wall-clock on the flagship binrange join for exactly that).
    * For `widen == 0` it equals the sequence lower bound and the column
    * is shared; they differ only on widened inverted (start > end) rows,
    * where the envelope floor `min(s,e) - widen` undershoots
    * `min(s - widen, e + widen)`. */
  private def binned(plan: LogicalPlan, s: Expression, e: Expression,
      widen: Int, binW: Long, suffix: String): (LogicalPlan, Attribute, Attribute) = {
    val seqLoE = floorDiv(
      widened(Least(Seq(asLong(s), asLong(e))), widen, add = false), binW)
    val seqHiE = floorDiv(
      widened(Greatest(Seq(asLong(s), asLong(e))), widen, add = true), binW)
    val dedupLoE =
      if (widen == 0) seqLoE
      else floorDiv(Least(Seq(
        widened(s, widen, add = false), widened(e, widen, add = true))), binW)
    val seqLo = Alias(seqLoE, s"${BinAttr}_seqlo$suffix")()
    val seqHi = Alias(seqHiE, s"${BinAttr}_seqhi$suffix")()
    val dedupLo =
      if (widen == 0) seqLo else Alias(dedupLoE, s"${BinAttr}_deduplo$suffix")()
    val extras = if (widen == 0) Seq(seqLo, seqHi) else Seq(seqLo, seqHi, dedupLo)
    val projected = Project(
      plan.output.map(a => a: NamedExpression) ++ extras, plan)
    val binAttr = AttributeReference(s"$BinAttr$suffix", LongType, nullable = false)()
    // timeZoneId must be set: a TimeZoneAwareExpression with None counts
    // as UNRESOLVED, and the optimizer's plan validator rejects a rule
    // output containing it (the value is irrelevant for a Long sequence).
    val seq = new Sequence(seqLo.toAttribute, seqHi.toAttribute).withTimeZone(
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    val gen = Generate(Explode(seq), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(binAttr), child = projected)
    (gen, binAttr, dedupLo.toAttribute)
  }

  /** `plan` plus a `bin` column, one row per bin of width `binWidth` that
    * `[s, e]` overlaps: the input of [[IntervalBinCountJoinExec]], whose
    * exchanges hash on `(eqs..., bin)`. A row that can never match — a
    * null bound or a null equality key — emits nothing. An inverted
    * (`s > e`) row emits ONE row with a null bin, so the exec can drop it
    * and count it once in its `invertedDropped` metric. */
  def countBins(plan: LogicalPlan, s: Expression, e: Expression, eqs: Seq[Expression],
      binWidth: Int): (LogicalPlan, AttributeReference) = {
    val w = binWidth.toLong
    val bins = new Sequence(floorDiv(s, w), floorDiv(e, w)).withTimeZone(
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    val nullKey = eqs.map(k => IsNull(k): Expression).reduceOption(Or)
    val branches = Seq(GreaterThan(s, e) -> CreateArray(Seq(Literal(null, LongType)))) ++
      nullKey.map(_ -> Literal.create(null, ArrayType(LongType)))
    val bin = AttributeReference("bin", LongType, nullable = true)()
    (Generate(Explode(CaseWhen(branches, bins)), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(bin), child = plan), bin)
  }

  /** The rewritten logical plan: binned(left) ⋈ binned(right) on
    * `(eqKeys, bin, widened overlap, minOverlap, first-bin dedup)`,
    * projected back to `left.output ++ right.output`, residual filter on
    * top. The exactly-once conjunct uses the per-side precomputed
    * first-bin columns: floor division is monotonic, so
    * `floorDiv(max(loL, loR)) == max(floorDiv(loL), floorDiv(loR))`. */
  def rewrite(left: LogicalPlan, right: LogicalPlan, keys: IntervalJoinKeys,
      buildLeft: Boolean, minOverlap: Int, maxGap: Int, binWidth: Int): LogicalPlan = {
    val binW = binWidth.toLong
    val (gl, gr) = if (buildLeft) (maxGap, 0) else (0, maxGap)
    val (lb, binL, dedupL) = binned(left, keys.leftStart, keys.leftEnd, gl, binW, "_l")
    val (rb, binR, dedupR) = binned(right, keys.rightStart, keys.rightEnd, gr, binW, "_r")

    // Widened interval bounds (only the build side moves; zero gap elides
    // the arithmetic entirely).
    val ls = widened(keys.leftStart, gl, add = false)
    val le = widened(keys.leftEnd, gl, add = true)
    val rs = widened(keys.rightStart, gr, add = false)
    val re = widened(keys.rightEnd, gr, add = true)

    val conjuncts = Seq.newBuilder[Expression]
    keys.leftEqs.zip(keys.rightEqs).foreach { case (a, b) => conjuncts += EqualTo(a, b) }
    conjuncts += EqualTo(binL, binR)
    // Overlap core on the widened bounds.
    conjuncts += LessThanOrEqual(ls, re)
    conjuncts += LessThanOrEqual(rs, le)
    if (minOverlap > 1) {
      conjuncts += GreaterThanOrEqual(
        Add(Subtract(Least(Seq(le, re)), Greatest(Seq(ls, rs))), Literal(1L)),
        Literal(minOverlap.toLong))
    }
    // Exactly-once: only the first bin of the pair's intersection emits.
    conjuncts += EqualTo(Greatest(Seq(dedupL, dedupR)), binL)

    val join = Join(lb, rb, Inner, Some(conjuncts.result().reduce(And)), JoinHint.NONE)
    val projected = Project((left.output ++ right.output).map(a => a: NamedExpression), join)
    keys.residual.map(Filter(_, projected)).getOrElse(projected)
  }
}
