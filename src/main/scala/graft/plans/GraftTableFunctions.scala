package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, ExpressionInfo, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Table-valued functions (SURVEY §2.7), registered via
  * `SparkSessionExtensions.injectTableFunction` — the Spark-4-native
  * replacement for the reference's forked Analyzer
  * (`utvf/ResolveTableValuedFunctionsSeq.scala:87-128`).
  *
  *  - `grange(contig, start, end)` / `bdg_grange(...)` — one-row genomic
  *    interval relation (reference `utvf/GenomicInterval.scala:30-38` +
  *    `GenomicIntervalStrategy.scala:11-36`). Instead of a dedicated leaf
  *    node + planner strategy for a single literal row, this folds the
  *    arguments at resolution time into a `LocalRelation` — zero runtime
  *    cost, and every Catalyst rule (broadcast, constant propagation) sees
  *    straight through it.
  *  - `range(n)` needs nothing: stock Spark resolves it natively.
  *  - coverage/pileup TVFs are registered below in this object; resolution
  *    builds lazy [[CoverageNode]]/[[PileupNode]] plans executed by
  *    [[GenomicStrategy]].
  */
object GraftTableFunctions {

  type Builder = Seq[Expression] => LogicalPlan

  private def grangeOutput: Seq[Attribute] = Seq(
    AttributeReference("contig", StringType, nullable = false)(),
    AttributeReference("pos_start", IntegerType, nullable = false)(),
    AttributeReference("pos_end", IntegerType, nullable = false)())

  private val grangeB: Builder = { args =>
    require(args.length == 3, s"grange expects (contig, pos_start, pos_end), got ${args.length} args")
    require(args.forall(_.foldable), "grange arguments must be literals")
    val contig = args.head.eval() match {
      case s: UTF8String => s
      case other => UTF8String.fromString(String.valueOf(other))
    }
    def intArg(e: Expression, name: String): Int = e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(s"grange $name must be integral, got $other")
    }
    val row: InternalRow = new GenericInternalRow(
      Array[Any](contig, intArg(args(1), "pos_start"), intArg(args(2), "pos_end")))
    LocalRelation(grangeOutput, Seq(row))
  }

  private def str(e: Expression): String = String.valueOf(e.eval())

  /** The TVF's sampleId arg as a logical `Filter` UNDER the genomic node,
    * not a runtime filter inside the exec: adjacent to the relation,
    * Catalyst pushes the predicate into the scan (parquet row-group stats,
    * and partition pruning on hive `sample_id=` layouts) — the reference's
    * sample pushdown (`SequilaDataSourceStrategy.scala:38-54`). A runtime
    * filter after a full scan read every sample's rows first (measured
    * ~2x on the sf0.1 window-coverage TVF). */
  private def sampled(view: String, sample: Option[String]): LogicalPlan = {
    val rel = org.apache.spark.sql.catalyst.analysis.UnresolvedRelation(Seq(view))
    sample.fold(rel: LogicalPlan) { s =>
      org.apache.spark.sql.catalyst.plans.logical.Filter(
        org.apache.spark.sql.catalyst.expressions.EqualTo(
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("sample_id"),
          org.apache.spark.sql.catalyst.expressions.Literal(s)), rel)
    }
  }

  private def intVal(e: Expression, what: String): Int = e.eval() match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(s"$what must be integral, got $other")
  }

  /** `coverage(viewName[, sampleId[, 'blocks' | 'bases' | windowSize]])`
    * TVF (reference overloads at
    * `utvf/ResolveTableValuedFunctionsSeq.scala:111-116` and the
    * blocks/bases/window result targets of
    * `docs/source/modules/coverage/coverage.rst:70-110`; the refPath arg
    * is dropped — no FASTA in the relational surface). Resolution builds a
    * [[CoverageNode]] over the unresolved relation; the pipeline runs at
    * execution time via [[GenomicStrategy]]. */
  private val coverageB: Builder = { args =>
    require(args.nonEmpty && args.length <= 3,
      s"coverage expects (tableName[, sampleId[, 'blocks'|'bases'|windowSize]]), got ${args.length} args")
    require(args.forall(_.foldable), "coverage arguments must be literals")
    val target: Option[Either[String, Int]] =
      if (args.length < 3) None
      else args(2).dataType match {
        case StringType => str(args(2)).toLowerCase match {
          case "blocks" => None
          case "bases" => Some(Left("bases"))
          case w if w.forall(_.isDigit) && w.nonEmpty => Some(Right(w.toInt))
          case other => throw new IllegalArgumentException(
            s"coverage target must be 'blocks', 'bases' or a window size, got '$other'")
        }
        case _ => Some(Right(intVal(args(2), "coverage window size")))
      }
    val schema = target match {
      case Some(Right(_)) => GenomicSchemas.coverageWindow
      case Some(Left(_)) => GenomicSchemas.coverageBases
      case None => GenomicSchemas.coverage
    }
    CoverageNode(
      sampled(str(args.head), if (args.length >= 2) Some(str(args(1))) else None),
      sampleId = None, // the sample filter is in the child plan (pushed down)
      target,
      GenomicSchemas.attrs(schema))
  }

  private def boolVal(e: Expression, what: String): Boolean = e.eval() match {
    case b: Boolean => b
    case s: UTF8String => s.toString.toBoolean
    case other => throw new IllegalArgumentException(s"$what must be boolean, got $other")
  }

  /** `pileup(viewName[, sampleId[, alts[, quals[, binSize]]]])` TVF
    * (reference overloads at
    * `utvf/ResolveTableValuedFunctionsSeq.scala:88-109`; no refPath in the
    * relational surface — the ref base comes from
    * [[graft.operators.MockReference]]). The alts/quals flags select the
    * reference's per-flag output schema
    * (`ResolveTableValuedFunctionsSeq.scala:176-201`):
    * `(false, false)` is depth-only — the coverage-blocks schema —
    * `(true, false)` drops the quals column, `(true, true)` is the full
    * schema. `binSize` coarsens the quality axis (SURVEY §2.4 A5). */
  private val pileupB: Builder = { args =>
    require(args.nonEmpty && args.length <= 5,
      s"pileup expects (tableName[, sampleId[, alts[, quals[, binSize]]]]), got ${args.length} args")
    require(args.forall(_.foldable), "pileup arguments must be literals")
    val alts = if (args.length >= 3) boolVal(args(2), "pileup alts flag") else true
    val quals = if (args.length >= 4) boolVal(args(3), "pileup quals flag") else alts
    require(alts || !quals, "pileup quals=true requires alts=true")
    val child = sampled(str(args.head), if (args.length >= 2) Some(str(args(1))) else None)
    if (!alts) {
      // Depth-only pileup IS coverage blocks (reference emits the coverage
      // schema for this flag combination) — reuse the coverage node.
      CoverageNode(child, sampleId = None, target = None)
    } else {
      PileupNode(child,
        sampleId = None, // the sample filter is in the child plan (pushed down)
        binSize = if (args.length >= 5) Some(intVal(args(4), "pileup binSize")) else None,
        output = GenomicSchemas.attrs(
          if (quals) GenomicSchemas.pileup else GenomicSchemas.pileupNoQuals))
    }
  }

  /** The two nearest-TVF relation args, with the right side re-aliased
    * (fresh ExprIds) whenever its resolved output collides with the
    * left's — THE self-join dedup, performed at BUILD time so it works
    * identically on both attachment paths. The stock analyzer dedups only
    * `Join`'s right side; an injected resolution rule covered the
    * extensions path (r9 ADVICE, [[NearestJoinDedupRule]]), but
    * `Graft.ensure` cannot host analysis rules (the session's analyzer is
    * already built), so the ensure path used to loud-fail on self
    * nearest-joins (r15 VERDICT #6). Builders run DURING analysis with
    * the active session set; resolving the named views here is the same
    * nested-analysis pattern stock view resolution uses
    * (`Analyzer.execute` saves/restores `AnalysisContext`). Detection is
    * by resolved OUTPUT collision, not name equality, so two different
    * view names registered over the same DataFrame (same stored analyzed
    * plan, same ExprIds) dedup too. */
  private def nearestSides(leftName: String, rightName: String): (LogicalPlan, LogicalPlan) = {
    val session = org.apache.spark.sql.SparkSession.active
    val l = session.table(leftName).queryExecution.analyzed
    val r0 = session.table(rightName).queryExecution.analyzed
    val r = if (l.outputSet.intersect(r0.outputSet).nonEmpty) {
      import org.apache.spark.sql.catalyst.expressions.Alias
      org.apache.spark.sql.catalyst.plans.logical.Project(
        r0.output.map(a => Alias(a, a.name)()), r0)
    } else r0
    (l, r)
  }

  /** `nearest_join(leftView, rightView[, 'auto'|'broadcast'|'merge'])` —
    * SQL surface for the bedtools-closest nearest join
    * ([[graft.operators.NearestJoinOps]]): every left row paired with ALL
    * same-contig right rows at minimum distance (0 on overlap; all ties
    * emit), output = left columns ++ right columns ++ `distance: Int`.
    * Both views need `(contig, pos_start, pos_end)`. Resolution builds a
    * lazy [[NearestJoinNode]]; no jobs until execution. */
  private val nearestJoinB: Builder = { args =>
    require(args.length == 2 || args.length == 3,
      s"nearest_join expects (leftView, rightView[, method]), got ${args.length} args")
    require(args.forall(_.foldable), "nearest_join arguments must be literals")
    val method = if (args.length == 3) str(args(2)) else "auto"
    require(Set("auto", "broadcast", "merge")(method),
      s"nearest_join method must be auto|broadcast|merge, got '$method'")
    val (l, r) = nearestSides(str(args.head), str(args(1)))
    NearestJoinNode(l, r, method)
  }

  /** `nearest_k_join(leftView, rightView, k)` — SQL surface for the
    * k-nearest join ([[graft.operators.NearestJoinOps.nearestKJoin]],
    * `bedtools closest -k` over DISTINCT distances): every left row
    * paired with all same-contig right rows whose distance is among the
    * k smallest distinct distances, all ties at each. The regime is
    * `auto`, as for `nearest_join`: [[GenomicStrategy]] gates the right
    * side's logical stats against the [[BroadcastBudget]] at planning
    * time — broadcast when it fits, the merge sweep when not. */
  private val nearestKJoinB: Builder = { args =>
    require(args.length == 3,
      s"nearest_k_join expects (leftView, rightView, k), got ${args.length} args")
    require(args.forall(_.foldable), "nearest_k_join arguments must be literals")
    val k = intVal(args(2), "nearest_k_join k")
    require(k >= 1, s"nearest_k_join needs k >= 1, got $k")
    val (l, r) = nearestSides(str(args.head), str(args(1)))
    NearestJoinNode(l, r, method = "auto", k = k)
  }

  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] =
    Seq("grange", "bdg_grange").map { n =>
      (FunctionIdentifier(n), new ExpressionInfo(GraftTableFunctions.getClass.getName, n), grangeB)
    } ++ Seq("coverage", "bdg_coverage").map { n =>
      (FunctionIdentifier(n), new ExpressionInfo(GraftTableFunctions.getClass.getName, n), coverageB)
    } ++ Seq("pileup", "bdg_pileup").map { n =>
      (FunctionIdentifier(n), new ExpressionInfo(GraftTableFunctions.getClass.getName, n), pileupB)
    } ++ Seq("nearest_join").map { n =>
      (FunctionIdentifier(n), new ExpressionInfo(GraftTableFunctions.getClass.getName, n), nearestJoinB)
    } ++ Seq("nearest_k_join").map { n =>
      (FunctionIdentifier(n), new ExpressionInfo(GraftTableFunctions.getClass.getName, n), nearestKJoinB)
    }
}
