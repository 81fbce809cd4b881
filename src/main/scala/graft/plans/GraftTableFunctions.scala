package graft.plans

import org.apache.spark.sql.SparkSession
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

  /** `nearest_join(leftView, rightView[, 'auto'|'broadcast'|'merge'])` —
    * SQL surface for the bedtools-closest nearest join
    * ([[graft.operators.NearestJoinOps]]): every left row paired with ALL
    * same-contig right rows at minimum distance (0 on overlap; all ties
    * emit), output = left columns ++ right columns ++ `distance: Int` —
    * and, `withK`, `nearest_k_join(leftView, rightView, k)`, the k-nearest
    * join ([[graft.operators.NearestJoinOps.nearestKJoin]], `bedtools
    * closest -k` over DISTINCT distances): every left row paired with all
    * same-contig right rows whose distance is among the k smallest
    * distinct distances, all ties at each, in the `auto` regime. Both
    * views need `(contig, pos_start, pos_end)`. Resolution builds a lazy
    * [[NearestJoinNode]]; no jobs until execution. [[GenomicStrategy]]
    * resolves its regime from the right side's logical stats at planning
    * time ([[graft.operators.NearestJoinOps.regime]]), which also rejects
    * an unknown method. */
  private def nearestB(name: String, withK: Boolean): Builder = { args =>
    require(args.length == 3 || (!withK && args.length == 2), s"$name expects " +
      s"(leftView, rightView${if (withK) ", k" else "[, method]"}), got ${args.length} args")
    require(args.forall(_.foldable), s"$name arguments must be literals")
    val k = if (withK) intVal(args(2), s"$name k") else 1
    require(k >= 1, s"$name needs k >= 1, got $k")
    // The self-join dedup runs here, at BUILD time, so it works
    // identically on both attachment paths: the stock analyzer dedups only
    // `Join`'s right side, and `Graft.ensure` cannot host analysis rules
    // (the session's analyzer is already built), so the ensure path used
    // to loud-fail on self nearest-joins (r15 VERDICT #6). Builders run
    // DURING analysis with the active session set; resolving the named
    // views here is the nested-analysis pattern stock view resolution
    // uses. The dedup detects resolved OUTPUT collision, not name
    // equality, so two view names over one DataFrame dedup too.
    def view(e: Expression) = SparkSession.active.table(str(e)).queryExecution.analyzed
    val (l, r) = NearestJoinNode.sides(view(args.head), view(args(1)))
    NearestJoinNode(l, r, if (!withK && args.length == 3) str(args(2)) else "auto", k)
  }

  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    "grange" -> grangeB, "bdg_grange" -> grangeB, "coverage" -> coverageB,
    "bdg_coverage" -> coverageB, "pileup" -> pileupB, "bdg_pileup" -> pileupB,
    "nearest_join" -> nearestB("nearest_join", withK = false),
    "nearest_k_join" -> nearestB("nearest_k_join", withK = true)).map { case (n, b) =>
    (FunctionIdentifier(n), new ExpressionInfo(GraftTableFunctions.getClass.getName, n), b)
  }
}
