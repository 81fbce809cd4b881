package graft.plans

import graft.operators.{IntervalForest, IntervalForestFactory}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, BoundReference, Cast, Expression, GenericInternalRow, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}

import scala.collection.mutable

/** A broadcast probe: the build child (`right`) ships whole to every task
  * through Spark's broadcast exchange, and each row of the stream child
  * (`left`) probes what `spec` builds from it. The node pins every child
  * column (the spec's expressions are bound by position), so nothing is
  * pruned below it. `enforceBudget` holds the broadcast rows to the
  * [[BroadcastBudget]]'s runtime guard: set when the broadcast was the
  * estimate's decision, not the caller's. */
case class BroadcastProbe(left: LogicalPlan, right: LogicalPlan, spec: ProbeSpec,
    enforceBudget: Boolean) extends BinaryNode {
  override def output: Seq[Attribute] = spec.output(left.output, right.output)
  override def references: AttributeSet = AttributeSet(left.output ++ right.output)
  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): BroadcastProbe =
    copy(left = l, right = r)
}

/** What a [[BroadcastProbeExec]] builds from its broadcast rows and what
  * each stream row emits against it. Its expressions are bound to the
  * build row or the stream row. */
trait ProbeSpec extends Serializable {
  /** Names the probe in the plan, e.g. `nearest-k k=3 both`. */
  def describe: String

  /** What the build side is and what to do when it is over the budget. */
  def guard: (String, String)

  /** The node's output after its stream and build children's. */
  def output(stream: Seq[Attribute], build: Seq[Attribute]): Seq[Attribute]

  /** The structure over the broadcast build rows, built once per JVM and
    * broadcast value through [[BroadcastBuild.cached]] (as [[ForestBuild]]
    * and [[CountBuild]] do). */
  def build(rows: Array[InternalRow]): AnyRef

  /** One partition's probe of `built`: the output rows, of `types`, of each
    * stream row. */
  def prober(built: AnyRef, types: Seq[DataType]): InternalRow => Iterator[InternalRow]
}

/** Physical [[BroadcastProbe]]. The build child requires
  * [[BroadcastBuild.distribution]], so `EnsureRequirements` plans a stock
  * `BroadcastExchangeExec` over it (a `BroadcastQueryStageExec` under
  * AQE, a `ReusedExchangeExec` when two probes share it). The driver counts
  * and guards the rows ([[BroadcastBuild.rows]]); each JVM builds the
  * spec's structure once per broadcast value ([[BroadcastBuild.cached]]),
  * and the stream side is probed in place, never shuffled. */
case class BroadcastProbeExec(spec: ProbeSpec, enforceBudget: Boolean,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = spec.output(left.output, right.output)
  override def requiredChildDistribution: Seq[Distribution] =
    BroadcastBuild.distribution(buildLeft = false)
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override protected def stringArgs: Iterator[Any] = Iterator(spec.describe)

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "buildRows" -> SQLMetrics.createMetric(sparkContext, "build side rows"),
    "buildTime" -> SQLMetrics.createTimingMetric(sparkContext, "time to build"))

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): SparkPlan =
    copy(left = l, right = r)

  override protected def doExecute(): RDD[InternalRow] = {
    val bc = BroadcastBuild.rows(right, longMetric("buildRows"),
      Option.when(enforceBudget)(spec.guard))
    val s = spec
    val types = output.map(_.dataType)
    val (numOutputRows, buildTime) = (longMetric("numOutputRows"), longMetric("buildTime"))
    left.execute().mapPartitions { it =>
      val t0 = System.nanoTime()
      val built = s.build(bc.value)
      buildTime += (System.nanoTime() - t0) / 1000000
      val probe = s.prober(built, types)
      it.flatMap(row => probe(row).map { out => numOutputRows += 1; out })
    }
  }
}

/** A probe of each stream row's `(contig, pos_start, pos_end)` against the
  * structure of its contig (a `T`), which [[ProbeSpec.build]] keys by the
  * build side's contig. `streamColumns` and `buildColumns` are the two
  * sides' [[IntervalProbe.columns]]; a row with a null contig or bound
  * never matches. */
abstract class IntervalProbe[T](streamColumns: Seq[Expression], buildColumns: Seq[Expression])
    extends ProbeSpec {

  /** One partition's output rows of a stream row whose contig holds `t`,
    * given its bounds. */
  def rowProber(types: Seq[DataType]): (InternalRow, T, Int, Int) => Iterator[InternalRow]

  override def prober(built: AnyRef, types: Seq[DataType]): InternalRow => Iterator[InternalRow] = {
    val byContig = built.asInstanceOf[Map[UnsafeRow, T]]
    val keyProj = UnsafeProjection.create(streamColumns.take(1))
    val ivProj = UnsafeProjection.create(streamColumns.drop(1))
    val rowProbe = rowProber(types)
    row => {
      val iv = ivProj(row)
      val key = keyProj(row)
      if (iv.isNullAt(0) || iv.isNullAt(1) || key.anyNull) Iterator.empty
      else byContig.get(key).fold(Iterator.empty[InternalRow])(
        rowProbe(row, _, iv.getInt(0), iv.getInt(1)))
    }
  }
}

object IntervalProbe {
  /** `(contig, pos_start, pos_end)` of `attrs`, bound to its rows by name:
    * the contig as a string, the bounds as ints. */
  def columns(attrs: Seq[Attribute]): Seq[Expression] =
    Seq("contig" -> StringType, "pos_start" -> IntegerType, "pos_end" -> IntegerType).map {
      case (name, t) =>
        val i = attrs.indexWhere(_.name == name)
        require(i >= 0, s"an interval probe needs a $name column, got ${attrs.map(_.name)}")
        Cast(BoundReference(i, attrs(i).dataType, attrs(i).nullable), t)
    }
}

/** The k-nearest probe (`bedtools closest -k -io/-id/-iu/-D ref`, see
  * [[graft.operators.NearestJoinOps]]): per contig, an
  * [[graft.operators.IntervalForest]] whose payloads are the build rows
  * ([[ForestBuild]]); each stream row emits itself ++ each build row at
  * one of its k smallest distinct distances ++ that distance. */
case class NearestProbe(k: Int, ignoreOverlaps: Boolean, direction: String, signed: Boolean,
    streamColumns: Seq[Expression], buildColumns: Seq[Expression],
    distance: Attribute = AttributeReference("distance", IntegerType, nullable = false)())
    extends IntervalProbe[IntervalForest[InternalRow]](streamColumns, buildColumns) {

  override def describe: String =
    s"nearest-k k=$k $direction${if (ignoreOverlaps) " -io" else ""}${if (signed) " -D" else ""}"

  override def guard: (String, String) = "nearest-join right side" -> ("raise the budget, or " +
    "pin the method: merge to take the distributed sweep, broadcast to take responsibility.")

  override def output(s: Seq[Attribute], b: Seq[Attribute]): Seq[Attribute] = s ++ b :+ distance

  override def build(rows: Array[InternalRow]): AnyRef =
    ForestBuild(buildColumns.take(1), buildColumns.drop(1), 0,
      classOf[IntervalForestFactory].getName, byIndex = false).holders[InternalRow](rows)

  override def rowProber(types: Seq[DataType])
      : (InternalRow, IntervalForest[InternalRow], Int, Int) => Iterator[InternalRow] = {
    val (incUp, incDown) = (direction != "downstream", direction != "upstream")
    val (pair, withDist, distRow) = (new JoinedRow, new JoinedRow, new GenericInternalRow(1))
    val project = UnsafeProjection.create(types.toArray)
    // A stream row's (build row, signed distance) hits, buffered: the
    // forest's callback must not interleave with the reused rows. The
    // buffers are reused across rows, as flatMap drains each row's
    // iterator before the next probe refills them.
    val hitRow = mutable.ArrayBuffer.empty[InternalRow]
    var hitDist = new Array[Int](64)
    (row, forest, qs, qe) => {
      hitRow.clear()
      forest.foreachNearestKDir(qs, qe, k, !ignoreOverlaps, incUp, incDown) { (_, _, r, d, side) =>
        if (hitRow.length == hitDist.length)
          hitDist = java.util.Arrays.copyOf(hitDist, 2 * hitDist.length)
        hitDist(hitRow.length) = if (signed && side < 0) -d else d
        hitRow += r
      }
      Iterator.range(0, hitRow.length).map { i =>
        distRow.setInt(0, hitDist(i))
        project(withDist(pair(row, hitRow(i)), distRow)): InternalRow
      }
    }
  }
}

/** The overlap-count probe: per contig, the [[CountRankIndex]] of the
  * build rows ([[CountBuild]]); each stream row with at least one overlap
  * emits itself ++ its overlap count, from the index's one-bin probe.
  * Inverted (start > end) rows never count, on either side. */
case class CountProbe(streamColumns: Seq[Expression], buildColumns: Seq[Expression],
    count: Attribute) extends IntervalProbe[CountRankIndex](streamColumns, buildColumns) {

  override def describe: String = "overlap-count"

  override def guard: (String, String) = "countStream static side" ->
    "filter or project the annotation table down, or raise the budget."

  override def output(s: Seq[Attribute], b: Seq[Attribute]): Seq[Attribute] = s :+ count

  override def build(rows: Array[InternalRow]): AnyRef =
    CountBuild(buildColumns.take(1), buildColumns.drop(1), Nil).index(rows)

  override def rowProber(types: Seq[DataType])
      : (InternalRow, CountRankIndex, Int, Int) => Iterator[InternalRow] = {
    val (joined, countRow) = (new JoinedRow, new GenericInternalRow(1))
    val project = UnsafeProjection.create(types.toArray)
    (row, index, qs, qe) => {
      // <= 0: a degenerate row must never emit a negative count.
      val c = if (qs > qe) 0L else index.probe(qs, qe, null)
      if (c <= 0L) Iterator.empty
      else {
        countRow.setLong(0, c)
        Iterator.single(project(joined(row, countRow)))
      }
    }
  }
}
