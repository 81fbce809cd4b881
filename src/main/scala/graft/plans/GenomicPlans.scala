package graft.plans

import graft.operators.{Converters, CoverageOps, PileupOps}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Custom logical nodes for the coverage/pileup TVFs — the analogue of the
  * reference's `PileupTemplate` leaf + `PileupStrategy`
  * (`utvf/ResolveTableValuedFunctionsSeq.scala:214-237`,
  * `pileup/PileupStrategy.scala:37-56`), but as UnaryNodes over a child
  * relation the stock analyzer resolves. TVF resolution just builds the
  * node; **no jobs run until execution** (an earlier iteration built the
  * whole pipeline eagerly at analysis time — `EXPLAIN` triggered Spark
  * jobs).
  */
object GenomicSchemas {
  val coverage: StructType = CoverageOps.blockSchema
  /** Fixed-window variant (`coverage(view, sample, N)`). */
  val coverageWindow: StructType = StructType(Seq(
    StructField("contig", StringType), StructField("tile", LongType),
    StructField("mean_coverage", DoubleType)))
  /** Per-base variant (`coverage(view, sample, 'bases')`). */
  val coverageBases: StructType = StructType(Seq(
    StructField("contig", StringType), StructField("pos", IntegerType),
    StructField("coverage", IntegerType)))
  val pileup: StructType = StructType(Seq(
    StructField("contig", StringType), StructField("pos", IntegerType, nullable = false),
    StructField("ref", StringType),
    StructField("coverage", IntegerType), StructField("count_ref", LongType),
    StructField("count_nonref", LongType), StructField("alts", StringType),
    StructField("quals", StringType)))
  /** `pileup(view, sample, true, false)` — alt counts, no qualities
    * (reference per-flag schemas,
    * `utvf/ResolveTableValuedFunctionsSeq.scala:176-201`). */
  val pileupNoQuals: StructType = StructType(pileup.fields.filterNot(_.name == "quals"))

  def attrs(s: StructType): Seq[Attribute] =
    s.fields.toIndexedSeq.map(f => AttributeReference(f.name, f.dataType, f.nullable)())

  val coverageInputs: Set[String] = Set("contig", "pos_start", "pos_end", "sample_id", "cigar")
  /** Either mismatch shape works: raw BAM tag/sequence columns (md_tag/
    * seq/qual_str — parsed by the MD walk) or the pre-digested alt
    * columns; [[graft.operators.PileupOps.altRows]] picks per input. */
  val pileupInputs: Set[String] =
    coverageInputs ++ Set("has_alt", "alt_pos", "alt_base", "base_qual",
      "md_tag", "seq", "qual_str")
}

/** `target` selects the output form (reference `coverage(..., 'blocks' |
  * 'bases' | N)` overloads, `docs/source/modules/coverage/coverage.rst:70-110`):
  * None = RLE blocks, Some(Left("bases")) = per-base rows,
  * Some(Right(n)) = mean depth per fixed n-bp window. */
case class CoverageNode(child: LogicalPlan, sampleId: Option[String],
    target: Option[Either[String, Int]] = None,
    override val output: Seq[Attribute] = GenomicSchemas.attrs(GenomicSchemas.coverage))
    extends UnaryNode {
  // The whole output is synthesized here, not projected from the child.
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    outputSet
  // Declare the child columns the pipeline consumes, otherwise column
  // pruning strips the child bare under narrow consumers like count(*).
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      child.output.filter(a => GenomicSchemas.coverageInputs(a.name)))
  override protected def withNewChildInternal(newChild: LogicalPlan): CoverageNode =
    copy(child = newChild)
}

case class PileupNode(child: LogicalPlan, sampleId: Option[String], binSize: Option[Int],
    override val output: Seq[Attribute] = GenomicSchemas.attrs(GenomicSchemas.pileup))
    extends UnaryNode {
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    outputSet
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      child.output.filter(a => GenomicSchemas.pileupInputs(a.name)))
  override protected def withNewChildInternal(newChild: LogicalPlan): PileupNode =
    copy(child = newChild)
}

/** Runs a DataFrame-expressed pipeline over the child's execution-time
  * rows. The multi-stage pipelines (distributed prefix scan, two-level
  * aggregation + interval join) launch their jobs from here — execution
  * time, not analysis time. */
abstract class GenomicPipelineExec extends UnaryExecNode {
  def sampleId: Option[String]

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  protected def pipeline(reads: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame

  override protected def doExecute(): RDD[InternalRow] = {
    // `session` is captured by SparkPlan at planning time — correct even
    // when several sessions are active in the JVM (r2 ADVICE: don't re-read
    // SparkSession.active at execution time).
    val spark = session
    val reads = ColumnBridge.internalFrame(spark, child.execute(), child.schema)
    val filtered = sampleId.fold(reads)(s => reads.filter(col("sample_id") === s))
    pipeline(filtered).queryExecution.toRdd
  }
}

case class CoverageExec(override val output: Seq[Attribute],
    sampleId: Option[String], target: Option[Either[String, Int]],
    child: SparkPlan) extends GenomicPipelineExec {
  override protected def pipeline(reads: org.apache.spark.sql.DataFrame) =
    target match {
      case Some(Right(window)) => CoverageOps.windowed(reads, window)
      case Some(Left("bases")) => Converters.blocksToPerBase(CoverageOps.blocks(reads))
      case _ => CoverageOps.blocks(reads)
    }
  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

case class PileupExec(override val output: Seq[Attribute],
    sampleId: Option[String], binSize: Option[Int], child: SparkPlan)
    extends GenomicPipelineExec {
  // The node's output schema IS the quals decision: when
  // `pileup(..., alts, quals=false)` asked for the narrower reference
  // schema, the operator runs its quals-free fast path (no histogram
  // aggregation at all) rather than computing quals and projecting them
  // away here.
  override protected def pipeline(reads: org.apache.spark.sql.DataFrame) =
    PileupOps.pileup(reads, binSize,
        withQuals = output.exists(_.name == "quals"))
      .select(output.map(a => col(a.name)): _*)
  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** `nearest_join(leftView, rightView[, method])` TVF plan node — the SQL
  * surface for [[graft.operators.NearestJoinOps]] (r8 VERDICT #5: the
  * operator was Scala-API only). Output = left columns ++ right columns
  * ++ `distance: Int`; the regime argument maps to the operator's
  * explicit-method dispatch. A BinaryNode, not a rewrite to `Join`: the
  * nearest semantics (min-distance window with all ties) has no stock
  * join equivalent, so the node survives to [[GenomicStrategy]], which
  * plans the broadcast regime as a [[BroadcastProbeExec]] and the merge
  * regime as a [[NearestJoinExec]]. */
case class NearestJoinNode(left: LogicalPlan, right: LogicalPlan, method: String,
    k: Int = 1,
    distAttr: AttributeReference =
      AttributeReference("distance", IntegerType, nullable = false)())
    extends org.apache.spark.sql.catalyst.plans.logical.BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output :+ distAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(distAttr)
  // The operator consumes (contig, pos_start, pos_end) and passes every
  // column through; nothing is prunable below the node.
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(left.output ++ right.output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): NearestJoinNode =
    copy(left = newLeft, right = newRight)
}

object NearestJoinNode {
  /** The two sides of a nearest join, the right one re-aliased (fresh
    * ExprIds) when its output collides with the left's: the node's output
    * is both sides', and the stock analyzer dedups only `Join`'s right
    * side. */
  def sides(left: LogicalPlan, right: LogicalPlan): (LogicalPlan, LogicalPlan) =
    if (left.outputSet.intersect(right.outputSet).isEmpty) (left, right)
    else (left, Project(right.output.map(a => Alias(a, a.name)()), right))
}

/** The merge regime of a [[NearestJoinNode]] (the broadcast regime plans
  * as a [[BroadcastProbeExec]]): the distributed sweep over both
  * children's execution-time rows. */
case class NearestJoinExec(override val output: Seq[Attribute], k: Int,
    left: SparkPlan, right: SparkPlan)
    extends org.apache.spark.sql.execution.BinaryExecNode {
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  override protected def doExecute(): RDD[InternalRow] = {
    val spark = session
    val l = ColumnBridge.internalFrame(spark, left.execute(), left.schema)
    val r = ColumnBridge.internalFrame(spark, right.execute(), right.schema)
    // Positional contract: the operator emits left ++ right ++ distance,
    // exactly this node's declared output order.
    graft.operators.NearestJoinOps.mergeNearestKJoin(l, r, k).queryExecution.toRdd
  }
  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): SparkPlan =
    copy(left = l, right = r)
}

/** Optimizer rule: projection pruning through [[NearestJoinNode]]
  * (r9 VERDICT stretch #7). The node passes every child column through
  * positionally, so its `references` pin all child outputs and stock
  * ColumnPruning can never prune below it — a `SELECT a_key, distance`
  * over the TVF would ride every wide column through the merge regime's
  * phase-2 shuffle. When a parent Project consumes only a subset, push a
  * Project under each side keeping the operator's own inputs
  * (contig/pos_start/pos_end) plus the referenced pass-through columns;
  * the node's output recomputes from the pruned children, preserving the
  * positional contract. Strict-subset guard keeps the rule fixed-point
  * safe; ColumnPruning then pushes the inserted Projects into the scans. */
case class NearestJoinPruneRule(session: SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  private val operatorInputs = Set("contig", "pos_start", "pos_end")
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(_, n: NearestJoinNode) if n.resolved =>
      def prune(side: LogicalPlan): Option[LogicalPlan] = {
        val keep = side.output.filter(a =>
          operatorInputs(a.name) || p.references.contains(a))
        if (keep.length < side.output.length) Some(Project(keep, side)) else None
      }
      val (nl, nr) = (prune(n.left), prune(n.right))
      if (nl.isEmpty && nr.isEmpty) p
      else p.copy(child =
        n.copy(left = nl.getOrElse(n.left), right = nr.getOrElse(n.right)))
  }
}

case class GenomicStrategy(session: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CoverageNode(child, sample, target, out) =>
      CoverageExec(out, sample, target, planLater(child)) :: Nil
    case PileupNode(child, sample, bin, out) =>
      PileupExec(out, sample, bin, planLater(child)) :: Nil
    case n @ NearestJoinNode(l, r, method, k, distance) =>
      // Internal invariant, not a user path: self nearest-joins dedup
      // when the node is built ([[NearestJoinNode.sides]], on both
      // attachment paths — r15 VERDICT #6 deleted the ensure-path
      // loud-fail). A collision here means a construction site bypassed
      // it; positional binding would silently emit the LEFT side's values
      // for the right columns, so assert rather than plan.
      require(l.outputSet.intersect(r.outputSet).isEmpty,
        "nearest-join children share ExprIds at planning — a construction " +
          "site bypassed the build-time self-join dedup")
      // The regime comes from the logical children's stats, by the Scala
      // API's own decision; a broadcast the estimate chose keeps the
      // runtime guard, a pinned method stands it down.
      graft.operators.NearestJoinOps.regime(method, l.isStreaming, r.stats.sizeInBytes,
          session.sessionState.conf) match {
        case "merge" => NearestJoinExec(n.output, k, planLater(l), planLater(r)) :: Nil
        case _ =>
          BroadcastProbeExec(NearestProbe(k, ignoreOverlaps = false, direction = "both",
              signed = false, IntervalProbe.columns(l.output), IntervalProbe.columns(r.output),
              distance), enforceBudget = method == "auto", planLater(l), planLater(r)) :: Nil
      }
    case BroadcastProbe(stream, build, spec, enforceBudget) =>
      BroadcastProbeExec(spec, enforceBudget, planLater(stream), planLater(build)) :: Nil
    case n: IntervalCountJoinNode => n.bins match {
      case Some((leftBin, rightBin)) =>
        // Shuffle regime (build side over the broadcast budget, or the
        // method pinned binrange): the children are bin replicas, hash
        // exchanged on (key, bin) by EnsureRequirements — no broadcast,
        // no budget guard needed.
        IntervalBinCountJoinExec(n.keys, n.countLeft, n.crossSums.map(_._1),
          n.output, planLater(n.left), planLater(n.right), leftBin, rightBin,
          n.binWidth) :: Nil
      case None =>
        // Broadcast regime: the rewrite rule fired because the build
        // side's stats fit the budget; the runtime guard still backstops
        // a stats lie (hint/method exemptions resolved at rewrite time,
        // where the JoinHint was available).
        IntervalCountJoinExec(n.keys, n.countLeft, n.buildLeft, n.crossSums.map(_._1),
          n.output, planLater(n.left), planLater(n.right),
          enforceBuildBudget = n.enforceBudget) :: Nil
    }
    case _ => Nil
  }
}
