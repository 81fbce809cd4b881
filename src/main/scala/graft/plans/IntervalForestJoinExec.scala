package graft.plans

import graft.operators.{IntervalForest, IntervalForestFactory, IntervalHolder, IntervalHolderFactory}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan}
import org.apache.spark.sql.execution.metric.SQLMetrics

import scala.collection.mutable

/** Physical broadcast interval join: the build side reaches every task
  * through Spark's broadcast exchange ([[BroadcastBuild]]), and each JVM
  * assembles its rows once into a per-key
  * [[graft.operators.IntervalForest]] ([[ForestBuild]]); the stream side
  * probes it per partition — **no shuffle** of either side. That is the
  * property that makes this beat a shuffle or nested-loop join by ~an order of
  * magnitude at scale (SURVEY §6): the 100 TB side streams through untouched
  * while only the small annotation side moves. A join whose build side is
  * over the broadcast budget never reaches this exec: every join type then
  * plans as [[BinRangeRewrite]], stock Catalyst joins over genome-bin
  * replicas.
  *
  * Re-expression of the reference's
  * `IntervalTreeJoinOptimChromosome{,Impl}.scala` (see SURVEY §2.3 J1-J7):
  *  - minOverlap: emitted pair needs `min(e1,e2)-max(s1,s2)+1 >= minOverlap`
  *    (`IntervalTreeJoinOptimChromosomeImpl.scala:110-117`). Applied only
  *    when `minOverlap > 1`: for the default the forest emission condition
  *    `be >= qs && bs <= qe` is *exactly* the matched join predicate, and the
  *    overlap-length form would silently drop degenerate (start > end) rows
  *    that stock Spark keeps.
  *  - maxGap: build intervals widened ±gap before insertion (`:82-87`);
  *
  * Unlike the reference (which runs `count()` jobs to pick the build side,
  * `IntervalTreeJoinOptimChromosome.scala:72-88`), the side and mode are
  * chosen at *planning* time from Catalyst statistics — no extra Spark jobs.
  */
case class IntervalForestJoinExec(
    keys: IntervalJoinKeys,
    buildLeft: Boolean,
    minOverlap: Int,
    maxGap: Int,
    holderClass: String,
    joinType: JoinType,
    residual: Option[Expression],
    left: SparkPlan,
    right: SparkPlan,
    // True only when the broadcast decision came from Catalyst STATS
    // (auto method, no user hint): the runtime build-budget guard then
    // protects against a stats lie. A broadcast hint or an explicit
    // method=broadcast conf is the user taking responsibility — standard
    // Spark hint semantics — so the guard stands down.
    enforceBuildBudget: Boolean = true) extends BinaryExecNode with CodegenSupport {

  // Non-inner joins (beyond the reference): for one-sided types the
  // preserved side is always the stream side (strategy guarantees
  // buildLeft=false for Left*, buildLeft=true for RightOuter), so unmatched
  // stream rows can be emitted locally — no global matched-set tracking,
  // the same restriction Spark's own BroadcastHashJoinExec imposes.
  // FullOuter additionally tracks matched build rows globally in a bitset
  // side-job — one exec over each child, unlike the LeftOuter ∪ RightAnti
  // decomposition it replaced (which built the forest twice).
  override def output: Seq[Attribute] = joinType match {
    case Inner => left.output ++ right.output
    case LeftOuter => left.output ++ right.output.map(_.withNullability(true))
    case RightOuter => left.output.map(_.withNullability(true)) ++ right.output
    case FullOuter =>
      left.output.map(_.withNullability(true)) ++ right.output.map(_.withNullability(true))
    case LeftSemi | LeftAnti => left.output
    case x => throw new IllegalArgumentException(s"IntervalForestJoinExec: unsupported join type $x")
  }

  @transient private lazy val buildPlan = if (buildLeft) left else right
  @transient private lazy val streamedPlan = if (buildLeft) right else left

  // Key expressions of each role, bound to their side's output.
  @transient private lazy val (bStartB, bEndB, bEqsB) = {
    val (s, e, eqs) =
      if (buildLeft) (keys.leftStart, keys.leftEnd, keys.leftEqs)
      else (keys.rightStart, keys.rightEnd, keys.rightEqs)
    (bound(s, buildPlan), bound(e, buildPlan), eqs.map(bound(_, buildPlan)))
  }
  @transient private lazy val (sStartB, sEndB, sEqsB) = {
    val (s, e, eqs) =
      if (buildLeft) (keys.rightStart, keys.rightEnd, keys.rightEqs)
      else (keys.leftStart, keys.leftEnd, keys.leftEqs)
    (bound(s, streamedPlan), bound(e, streamedPlan), eqs.map(bound(_, streamedPlan)))
  }

  override def requiredChildDistribution: Seq[Distribution] =
    BroadcastBuild.distribution(buildLeft)

  /** The broadcast build rows, shared by the interpreted and codegen probe
    * paths: counted, and held to the [[BroadcastBudget]] when the
    * broadcast was the estimate's decision (see enforceBuildBudget). */
  @transient private lazy val buildBroadcast = BroadcastBuild.rows(buildPlan,
    longMetric("buildRows"), Option.when(enforceBuildBudget)("interval-join build side" ->
      ("either raise the budget if the cluster can hold the broadcast, force the side " +
        "with a broadcast() hint to take responsibility, or set " +
        "spark.graft.rangejoin.method=binrange to take the shuffle path.")))

  private def forestBuild(byIndex: Boolean) =
    ForestBuild(bEqsB, Seq(bStartB, bEndB), maxGap, holderClass, byIndex)

  // The probe runs per partition over the unshuffled stream side, so the
  // stream partitioning survives — except full outer, whose output is a
  // union with the driver-parallelized unmatched-build rows.
  override def outputPartitioning: Partitioning =
    if (joinType == FullOuter) UnknownPartitioning(0)
    else streamedPlan.outputPartitioning

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "buildRows" -> SQLMetrics.createMetric(sparkContext, "build side rows"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  private def bound(e: Expression, plan: SparkPlan): Expression =
    BindReferences.bindReference(e, plan.output)

  override protected def doExecute(): RDD[InternalRow] = {
    val streamPlan = streamedPlan
    // Start/end are projected through UnsafeProjection (codegen'd) rather
    // than interpreted Expression.eval — the probe runs once per stream row.
    val sIvB = Seq(sStartB, sEndB)
    val sEqsBL = sEqsB
    val buildIsLeft = buildLeft
    val minOv = minOverlap
    val outAttrs = output
    val numOutputRows = longMetric("numOutputRows")
    val jt = joinType
    val residLocal = residual
    // Candidate pair rows are always assembled in (left, right) order.
    val pairSchema = left.output ++ right.output
    val nBuildCols = buildPlan.output.length
    val bc = buildBroadcast
    val build = forestBuild(byIndex = true)
    // Function values, not methods, so the task closures do not capture
    // the exec. One partition's probe over the broadcast rows, calling
    // back with each match's index in them:
    val probeOf = (pidx: Int) => {
      val rows = bc.value
      (rows, IntervalForestJoinExec.prober(rows, build.holders[Int](rows),
        sEqsBL, sIvB, minOv, residLocal, pairSchema, buildIsLeft, pidx))
    }
    // and one partition's output row of a build row and a stream row.
    val pairer = () => {
      val joinedRow = new JoinedRow
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      (brow: InternalRow, srow: InternalRow) => {
        numOutputRows += 1
        val joined = if (buildIsLeft) joinedRow(brow, srow) else joinedRow(srow, brow)
        resultProj(joined): InternalRow
      }
    }

    // Stream side probes the broadcast forests per partition; no
    // shuffle. Inner emits the matched pairs; a stream row with no
    // (residual-surviving) match is preserved (outer: build side
    // null-padded; anti: emitted bare) or used as the existence test
    // (semi). Non-inner residuals must be decided per candidate pair
    // HERE — a post-join filter would wrongly drop preserved rows.
    val probed = streamPlan.execute().mapPartitionsWithIndex[InternalRow] { (pidx, it) =>
      val (rows, probe) = probeOf(pidx)
      val pair = pairer()
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val nullBuild = new GenericInternalRow(nBuildCols)
      it.flatMap { srow =>
        val matches = mutable.ArrayBuffer.empty[InternalRow]
        probe(srow, matches += rows(_))
        jt match {
          case Inner => matches.iterator.map(pair(_, srow))
          case LeftSemi =>
            if (matches.nonEmpty) { numOutputRows += 1; Iterator.single(resultProj(srow)) }
            else Iterator.empty
          case LeftAnti =>
            if (matches.isEmpty) { numOutputRows += 1; Iterator.single(resultProj(srow)) }
            else Iterator.empty
          case _ => // Left/RightOuter (stream = preserved side), FullOuter's stream rows
            if (matches.isEmpty) Iterator.single(pair(nullBuild, srow))
            else matches.iterator.map(pair(_, srow))
        }
      }
    }
    if (jt != FullOuter) return probed

    // Full outer, single-plan (replaces the LeftOuter ∪ null-padded
    // RightAnti decomposition that scanned both children twice and built
    // the forest twice). Shape mirrors Spark's own
    // BroadcastNestedLoopJoinExec full-outer:
    //   (1) the broadcast keeps every build row, those with a null
    //       interval/key too (they can never match but must be
    //       preserved),
    //   (2) a probe-only side-job over the stream side computes the
    //       global matched-build bitset (no output materialization — far
    //       cheaper than the RightAnti join it replaces),
    //   (3) the pass above emits matched pairs + null-padded unmatched
    //       stream rows (LeftOuter shape),
    //   (4) unmatched build rows null-pad from the driver's copy of the
    //       broadcast — the build side is broadcast-small by mode
    //       selection.
    val driverRows = bc.value
    val nBuild = driverRows.length
    val matchedBits = streamPlan.execute().mapPartitionsWithIndex { (pidx, it) =>
      val (_, probe) = probeOf(pidx)
      val bits = new java.util.BitSet(nBuild)
      it.foreach(srow => probe(srow, bits.set(_)))
      Iterator.single(bits)
    }.fold(new java.util.BitSet(nBuild)) { (a, b) => a.or(b); a }
    val unmatchedBuild: IndexedSeq[InternalRow] =
      driverRows.indices.collect { case i if !matchedBits.get(i) => driverRows(i) }
    val nStreamCols = streamPlan.output.length
    val padded = sparkContext
      .parallelize(unmatchedBuild, math.max(1, math.min(
        conf.numShufflePartitions, 1 + unmatchedBuild.length / 65536)))
      .mapPartitions[InternalRow] { it =>
        val pair = pairer()
        val nullStream = new GenericInternalRow(nStreamCols)
        it.map(pair(_, nullStream))
      }
    probed.union(padded)
  }

  // ---------------------------------------------------------------- codegen
  //
  // Whole-stage codegen for the broadcast probe (the hot path: runs once per
  // row of the 100 TB stream side). The stream child produces; this node
  // consumes each row inline — key + interval exprs evaluated as generated
  // expressions, an [[graft.operators.IntervalForestCursor]] drives the
  // forest traversal as a flat `while` loop, and matched build rows flow
  // straight into the parent's generated consume. Compared with the
  // interpreted path this removes the iterator boundary between the scan
  // and the join, the per-row UnsafeProjections, and the per-probe match
  // buffer, and lets a downstream aggregate fuse into the same stage.
  // Custom interval holders keep the interpreted path (a holder only
  // promises a callback API; the cursor needs the array forest).
  //
  // LeftSemi/LeftAnti/LeftOuter/RightOuter codegen too (r10 VERDICT #2):
  // the stream-side probe is the 100 TB hot loop for existence filters and
  // preserved-side joins just as for Inner. Semi emits on the FIRST
  // cursor hit (no full match enumeration); anti emits when the cursor is
  // empty, including the null-interval/null-key/absent-contig rows the
  // interpreted path preserves; one-sided outer streams the preserved
  // side and pads a null build row for match-less stream rows (Spark's
  // own BroadcastHashJoin outer-codegen loop shape — build columns read
  // through a `matched == null` guard). Residual-carrying non-inner joins
  // stay interpreted: the residual decides matched-ness per candidate
  // pair inside the loop. FullOuter keeps the interpreted path (its
  // unmatched-build pad is a separate driver phase, not a probe shape).

  override def supportCodegen: Boolean =
    (joinType == Inner ||
      ((joinType == LeftSemi || joinType == LeftAnti ||
        joinType == LeftOuter || joinType == RightOuter) && residual.isEmpty)) &&
      holderClass == classOf[IntervalForestFactory].getName

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    streamedPlan.asInstanceOf[CodegenSupport].inputRDDs()

  override protected def doProduce(ctx: CodegenContext): String =
    streamedPlan.asInstanceOf[CodegenSupport].produce(ctx, this)

  // Every probe can emit many rows referencing the same buffers.
  override def needCopyResult: Boolean = true

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    // Evaluate all stream-side columns up front: they are referenced both
    // by the key expressions and (possibly) inside the match loop, and a
    // deferred evaluation inside a conditional scope would be unreachable
    // from the loop body.
    val evalInput = evaluateVariables(input)
    ctx.currentVars = input
    val sStartEv = sStartB.genCode(ctx)
    val sEndEv = sEndB.genCode(ctx)
    val keyEv = GenerateUnsafeProjection.createCode(ctx, sEqsB)
    val keyNull = if (sEqsB.nonEmpty) s"${keyEv.value}.anyNull()" else "false"

    val bcastTerm = ctx.addReferenceObj("buildBcast", buildBroadcast)
    val buildTerm = ctx.addReferenceObj("forestBuild", forestBuild(byIndex = false))
    val mapTerm = ctx.addMutableState("scala.collection.immutable.Map", "forestMap",
      v => s"$v = $buildTerm.holders((InternalRow[]) $bcastTerm.value());")
    val cursorTerm = ctx.addMutableState(
      "graft.operators.IntervalForestCursor", "forestCursor",
      v => s"$v = new graft.operators.IntervalForestCursor();")
    val forest = ctx.freshName("forest")
    val matched = ctx.freshName("buildRow")
    val numOutput = metricTerm(ctx, "numOutputRows")

    val lookup =
      s"""
         |$evalInput
         |${sStartEv.code}
         |${sEndEv.code}
         |${keyEv.code}
         |graft.operators.IntervalForest $forest = null;
         |if (!(${sStartEv.isNull}) && !(${sEndEv.isNull}) && !($keyNull)) {
         |  $forest = graft.plans.IntervalForestJoinExec.lookup($mapTerm, ${keyEv.value});
         |}
       """.stripMargin

    joinType match {
      case LeftSemi =>
        // Existence test: the first cursor hit emits the stream row and
        // stops — no match enumeration at all.
        s"""
           |$lookup
           |if ($forest != null) {
           |  $cursorTerm.reset($forest, ${sStartEv.value}, ${sEndEv.value}, $minOverlap);
           |  if ($cursorTerm.advance()) {
           |    $numOutput.add(1);
           |    ${consume(ctx, input)}
           |  }
           |}
         """.stripMargin
      case LeftAnti =>
        // Absence test: null interval/key and absent contig rows have no
        // matches by construction ($forest stays null) and are emitted —
        // same preservation as the interpreted path.
        val found = ctx.freshName("found")
        s"""
           |$lookup
           |boolean $found = false;
           |if ($forest != null) {
           |  $cursorTerm.reset($forest, ${sStartEv.value}, ${sEndEv.value}, $minOverlap);
           |  $found = $cursorTerm.advance();
           |}
           |if (!$found) {
           |  $numOutput.add(1);
           |  ${consume(ctx, input)}
           |}
         """.stripMargin
      case LeftOuter | RightOuter =>
        // Preserved side streams (the stream child IS the preserved side —
        // RangeJoinChoice pins the build side opposite it). Loop shape is
        // BroadcastHashJoinExec's codegenOuter: iterate matches; a
        // match-less row takes exactly one pass with `matched == null`,
        // reading every build column through a null guard.
        import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, JavaCode}
        import org.apache.spark.sql.catalyst.expressions.codegen.Block._
        val matchedTerm = ctx.addMutableState("InternalRow", "outerMatched")
        val buildVars = buildPlan.output.zipWithIndex.map { case (a, i) =>
          val isNull = ctx.freshName("bIsNull")
          val value = ctx.freshName("bValue")
          val jt = CodeGenerator.javaType(a.dataType)
          val rowVal = CodeGenerator.getValue(matchedTerm, a.dataType, i.toString)
          val c =
            code"""
               |boolean $isNull = $matchedTerm == null || $matchedTerm.isNullAt($i);
               |$jt $value = $isNull ? ${CodeGenerator.defaultValue(a.dataType)} : ($rowVal);
             """.stripMargin
          ExprCode(c, JavaCode.isNullVariable(isNull), JavaCode.variable(value, a.dataType))
        }
        val resultVars = if (buildLeft) buildVars ++ input else input ++ buildVars
        val found = ctx.freshName("found")
        s"""
           |$lookup
           |if ($forest != null) {
           |  $cursorTerm.reset($forest, ${sStartEv.value}, ${sEndEv.value}, $minOverlap);
           |}
           |boolean $found = false;
           |while (true) {
           |  $matchedTerm = ($forest != null && $cursorTerm.advance())
           |    ? (InternalRow) $cursorTerm.value() : null;
           |  if ($matchedTerm == null && $found) break;
           |  $found = true;
           |  $numOutput.add(1);
           |  ${consume(ctx, resultVars)}
           |  if ($matchedTerm == null) break;
           |}
         """.stripMargin
      case _ => // Inner
        // Build-side output columns read from the matched row inside the
        // loop.
        ctx.INPUT_ROW = matched
        ctx.currentVars = null
        val buildVars = buildPlan.output.zipWithIndex.map { case (a, i) =>
          BoundReference(i, a.dataType, a.nullable).genCode(ctx)
        }
        val resultVars = if (buildLeft) buildVars ++ input else input ++ buildVars
        s"""
           |$lookup
           |if ($forest != null) {
           |  $cursorTerm.reset($forest, ${sStartEv.value}, ${sEndEv.value}, $minOverlap);
           |  while ($cursorTerm.advance()) {
           |    InternalRow $matched = (InternalRow) $cursorTerm.value();
           |    $numOutput.add(1);
           |    ${consume(ctx, resultVars)}
           |  }
           |}
         """.stripMargin
    }
  }
}

/** The forest exec's structure over its broadcast build rows: one holder
  * per key from the configured [[IntervalHolderFactory]] (the reference's
  * `intervalHolderClassName`), each interval widened by `maxGap`, whose
  * payload is the build row (read by the codegen cursor) or, `byIndex`,
  * its index in the rows (the interpreted probe, whose full outer marks
  * matched rows by index). A case class: it keys the [[BroadcastBuild]] cache
  * beside the rows. */
private[plans] case class ForestBuild(eqs: Seq[Expression], iv: Seq[Expression], maxGap: Int,
    holderClass: String, byIndex: Boolean) {
  def holders[T](rows: Array[InternalRow]): Map[UnsafeRow, IntervalHolder[T]] =
    BroadcastBuild.cached[AnyRef](rows, this) {
      val factory = IntervalHolderFactory.forName(holderClass)
      val items = BroadcastBuild.keyed(rows, eqs, iv)
      if (byIndex) factory.build[UnsafeRow, Int](items, maxGap)
      else factory.build[UnsafeRow, InternalRow](
        items.map { case (k, s, e, i) => (k, s, e, rows(i)) }, maxGap)
    }.asInstanceOf[Map[UnsafeRow, IntervalHolder[T]]]
}

object IntervalForestJoinExec {
  /** The per-stream-row forest probe that every interpreted pass runs:
    * project the stream row's key and interval, skip the row when a bound
    * or (with equality keys) the key is null, walk the key's holder, and
    * call `f` with the index in `rows` of each build row whose interval
    * also passes minOverlap and the residual. Built once per partition. */
  private[plans] def prober(rows: Array[InternalRow], forests: Map[UnsafeRow, IntervalHolder[Int]],
      sEqs: Seq[Expression], sIv: Seq[Expression], minOverlap: Int,
      residual: Option[Expression], pairSchema: Seq[Attribute], buildLeft: Boolean,
      partition: Int): (InternalRow, Int => Unit) => Unit = {
    val keyProj = UnsafeProjection.create(sEqs)
    val ivProj = UnsafeProjection.create(sIv)
    val joinedRow = new JoinedRow
    val pred = residual.map(Predicate.create(_, pairSchema))
    pred.foreach(_.initialize(partition))
    def pair(brow: InternalRow, srow: InternalRow): InternalRow =
      if (buildLeft) joinedRow(brow, srow) else joinedRow(srow, brow)
    (srow, f) => {
      val iv = ivProj(srow)
      if (!iv.isNullAt(0) && !iv.isNullAt(1)) {
        val key = keyProj(srow)
        if (!(sEqs.nonEmpty && key.anyNull)) forests.get(key).foreach { forest =>
          val qs = iv.getInt(0)
          val qe = iv.getInt(1)
          forest.foreachOverlap(qs, qe) { (bs, be, v) =>
            if ((minOverlap <= 1 || math.min(be, qe) - math.max(bs, qs) + 1 >= minOverlap) &&
                pred.forall(_.eval(pair(rows(v), srow))))
              f(v)
          }
        }
      }
    }
  }

  /** Codegen helper: holder lookup returning the array forest or null
    * (called through the companion's static forwarder from generated Java;
    * Scala `Map.getOrElse` isn't callable from Java directly). */
  def lookup(
      map: Map[UnsafeRow, IntervalHolder[InternalRow]],
      key: UnsafeRow): IntervalForest[InternalRow] =
    map.getOrElse(key, null) match {
      case f: IntervalForest[InternalRow @unchecked] => f
      case _ => null
    }
}
