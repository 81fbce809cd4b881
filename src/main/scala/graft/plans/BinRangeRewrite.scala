package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{First, Max}
import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, FullOuter, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, Join, JoinHint, LogicalPlan, Project, Union}
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, LongType, StringType}

/** Bin-range interval join as a pure Catalyst rewrite — the shape every
  * join type plans as at shuffle scale (build side over the broadcast
  * budget). Both sides explode to the fixed-width genome bins their
  * interval overlaps, join on `(eq keys..., bin)` — stock equi-joins, so
  * Tungsten shuffle serialization, whole-stage codegen, AQE and
  * `explain()` all apply — with the widened overlap core and minOverlap
  * as non-equi join conjuncts evaluated inside the join's generated loop.
  *
  * Semantics (maxGap widens the build side before binning and
  * overlap/minOverlap use the widened values, reference
  * `IntervalTreeJoinOptimChromosomeImpl.scala:82-87`): a pair is emitted
  * exactly once because the first bin of its (widened) intersection is
  * provably covered by both sides' replica ranges whenever the join
  * predicate holds — including degenerate (start > end) rows, whose
  * replicas cover their coordinate envelope.
  *
  * Non-inner joins add per-row verdicts for each preserved side: a row id
  * projected before binning, an existence join of its replicas against the
  * other side's, and one aggregate on the row id (`max(exists)` plus each
  * preserved column once). Semi and anti filter the verdicts; outer joins
  * are the pairs plus the null-padded unmatched rows. Pairs and verdicts
  * join the same replica subplans; the optimizer's later column pruning
  * still trims each copy to what its join reads (the row id only feeds
  * the verdicts, the other side's payload only the pairs), so Spark
  * shuffles each copy on its own.
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

  /** One side's bin replicas: the replica plan, its bin, its
    * first-candidate bin (see [[binned]]) and, on a preserved side, the
    * row id its verdicts aggregate on. */
  private case class Replicas(
      plan: LogicalPlan, bin: Attribute, dedupLo: Attribute, rowId: Option[Attribute])

  /** Explode `plan` to one row per overlapped bin of `[min(s,e)-widen,
    * max(s,e)+widen]`. Off a preserved side, null intervals vanish
    * (Sequence of a null bound is null; Explode of null emits nothing).
    * A preserved side first gets a row id, and a row that can never
    * match — a null bound or a null equality key — keeps one null-bin
    * replica, so its verdict still exists.
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
  private def binned(plan: LogicalPlan, s: Expression, e: Expression, eqs: Seq[Expression],
      widen: Int, binW: Long, suffix: String, preserve: Boolean): Replicas = {
    val rowId =
      if (preserve) Some(Alias(MonotonicallyIncreasingID(), s"${BinAttr}_rid$suffix")())
      else None
    val withId = rowId.map(id => Project(plan.output :+ id, plan)).getOrElse(plan)
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
      withId.output.map(a => a: NamedExpression) ++ extras, withId)
    val binAttr = AttributeReference(s"$BinAttr$suffix", LongType, nullable = preserve)()
    // timeZoneId must be set: a TimeZoneAwareExpression with None counts
    // as UNRESOLVED, and the optimizer's plan validator rejects a rule
    // output containing it (the value is irrelevant for a Long sequence).
    val seq = new Sequence(seqLo.toAttribute, seqHi.toAttribute).withTimeZone(
      org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    val bins =
      if (!preserve) seq
      else CaseWhen(
        Seq((s +: e +: eqs).map(IsNull(_): Expression).reduce(Or) ->
          CreateArray(Seq(Literal(null, LongType)))), seq)
    val gen = Generate(Explode(bins), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(binAttr), child = projected)
    Replicas(gen, binAttr, dedupLo.toAttribute, rowId.map(_.toAttribute))
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

  /** The rewritten logical plan, with the original join's output.
    *
    * Pairs: binned(left) ⋈ binned(right) on `(eqKeys, bin, widened
    * overlap, minOverlap, first-bin dedup)`, projected back to
    * `left.output ++ right.output`, residual filter on top. The
    * exactly-once conjunct uses the per-side precomputed first-bin
    * columns: floor division is monotonic, so
    * `floorDiv(max(loL, loR)) == max(floorDiv(loL), floorDiv(loR))`.
    *
    * Verdicts (see [[verdictRows]]) match on the same conjuncts minus the
    * dedup, plus the residual: any shared bin shows a match. Left semi and
    * anti keep the left rows whose verdict is matched / unmatched; left,
    * right and full outer add each preserved side's unmatched rows,
    * null-padded, to the pairs. */
  def rewrite(left: LogicalPlan, right: LogicalPlan, joinType: JoinType,
      keys: IntervalJoinKeys, buildLeft: Boolean, minOverlap: Int, maxGap: Int,
      binWidth: Int): LogicalPlan = {
    val binW = binWidth.toLong
    val (gl, gr) = if (buildLeft) (maxGap, 0) else (0, maxGap)
    val (keepL, keepR) = joinType match {
      case Inner => (false, false)
      case RightOuter => (false, true)
      case FullOuter => (true, true)
      case _ => (true, false) // LeftOuter, LeftSemi, LeftAnti
    }
    val l = binned(left, keys.leftStart, keys.leftEnd, keys.leftEqs, gl, binW, "_l", keepL)
    val r = binned(right, keys.rightStart, keys.rightEnd, keys.rightEqs, gr, binW, "_r", keepR)

    // Widened interval bounds (only the build side moves; zero gap elides
    // the arithmetic entirely).
    val ls = widened(keys.leftStart, gl, add = false)
    val le = widened(keys.leftEnd, gl, add = true)
    val rs = widened(keys.rightStart, gr, add = false)
    val re = widened(keys.rightEnd, gr, add = true)

    val conjuncts = Seq.newBuilder[Expression]
    keys.leftEqs.zip(keys.rightEqs).foreach { case (a, b) => conjuncts += EqualTo(a, b) }
    conjuncts += EqualTo(l.bin, r.bin)
    // Overlap core on the widened bounds.
    conjuncts += LessThanOrEqual(ls, re)
    conjuncts += LessThanOrEqual(rs, le)
    if (minOverlap > 1) {
      conjuncts += GreaterThanOrEqual(
        Add(Subtract(Least(Seq(le, re)), Greatest(Seq(ls, rs))), Literal(1L)),
        Literal(minOverlap.toLong))
    }
    val matches = conjuncts.result().reduce(And)
    // Exactly-once: only the first bin of the pair's intersection emits.
    val dedup = EqualTo(Greatest(Seq(l.dedupLo, r.dedupLo)), l.bin)

    val join = Join(l.plan, r.plan, Inner, Some(And(matches, dedup)), JoinHint.NONE)
    val projected = Project((left.output ++ right.output).map(a => a: NamedExpression), join)
    val pairs = keys.residual.map(Filter(_, projected)).getOrElse(projected)

    val matchCond = keys.residual.map(And(matches, _)).getOrElse(matches)
    def nulls(attrs: Seq[Attribute]): Seq[NamedExpression] =
      attrs.map(a => Alias(Literal(null, a.dataType), a.name)())
    def leftUnmatched = Project(left.output ++ nulls(right.output),
      verdictRows(l, left.output, r, matchCond, matched = false))
    def rightUnmatched = Project(nulls(left.output) ++ right.output,
      verdictRows(r, right.output, l, matchCond, matched = false))
    joinType match {
      case Inner => pairs
      case LeftSemi | LeftAnti => Project(left.output,
        verdictRows(l, left.output, r, matchCond, matched = joinType == LeftSemi))
      case LeftOuter => Union(pairs, leftUnmatched)
      case RightOuter => Union(pairs, rightUnmatched)
      case FullOuter => Union(Seq(pairs, leftUnmatched, rightUnmatched))
      case other => throw new IllegalArgumentException(s"BinRangeRewrite: unsupported join type $other")
    }
  }

  /** The rows of a preserved side (its attributes `cols`) whose verdict
    * is `matched`: an existence join of its replicas against `other`'s on
    * `cond`, one aggregate on the row id — `max(exists)` plus each column
    * once — and a filter on the verdict. Each carried column keeps its
    * attribute's exprId, so the rewrite's output is the original join's.
    * String and binary columns are grouping keys beside the row id, which
    * fixes their values, and neither type is float-normalized as a key:
    * through `first` their variable-width buffer would make Spark plan a
    * sort aggregate. Every other column rides through `first`.
    * The aggregate is built directly: a `Deduplicate` would need
    * `ReplaceDeduplicateWithAggregate`, which runs before this rewrite. */
  private def verdictRows(side: Replicas, cols: Seq[Attribute], other: Replicas,
      cond: Expression, matched: Boolean): LogicalPlan = {
    val exists = AttributeReference(s"${BinAttr}_exists", BooleanType, nullable = false)()
    val probed = Join(side.plan, other.plan, ExistenceJoin(exists), Some(cond), JoinHint.NONE)
    def keyed(a: Attribute): Boolean = a.dataType match {
      case _: StringType | BinaryType => true
      case _ => false
    }
    val carried = cols.map(a => if (keyed(a)) a: NamedExpression
      else Alias(First(a, ignoreNulls = false).toAggregateExpression(),
        a.name)(exprId = a.exprId, qualifier = a.qualifier))
    val flag = Alias(Max(exists).toAggregateExpression(), s"${BinAttr}_matched")()
    Filter(if (matched) flag.toAttribute else Not(flag.toAttribute),
      Aggregate(side.rowId.toSeq ++ cols.filter(keyed), carried :+ flag, probed))
  }
}
