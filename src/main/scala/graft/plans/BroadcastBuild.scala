package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, UnspecifiedDistribution}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.metric.SQLMetric

/** The build side of the broadcast execs ([[IntervalForestJoinExec]],
  * [[IntervalCountJoinExec]], [[BroadcastProbeExec]]). Each exec
  * requires [[distribution]] of its children, so `EnsureRequirements`
  * plans a stock `BroadcastExchangeExec` over the build child (a
  * `BroadcastQueryStageExec` under AQE, a `ReusedExchangeExec` when two
  * execs share it) and the exec reads its rows with `executeBroadcast`,
  * as Spark's `BroadcastNestedLoopJoinExec` does. The driver only counts
  * and guards the rows ([[rows]]); each JVM builds the exec's structure
  * from them once per broadcast value ([[cached]]). */
private[plans] object BroadcastBuild {

  /** The children's distributions of an exec that builds its left or its
    * right child. */
  def distribution(buildLeft: Boolean): Seq[Distribution] = {
    val build = BroadcastDistribution(IdentityBroadcastMode)
    if (buildLeft) Seq(build, UnspecifiedDistribution) else Seq(UnspecifiedDistribution, build)
  }

  /** The broadcast rows of `plan`, read on the driver: counted once into
    * `buildRows` and, with a `guard` (what the side is, the advice), held
    * to [[BroadcastBudget.checkCollected]] before any stream task runs. */
  def rows(plan: SparkPlan, buildRows: SQLMetric,
      guard: Option[(String, String)]): Broadcast[Array[InternalRow]] = {
    val bc = plan.executeBroadcast[Array[InternalRow]]()
    buildRows += bc.value.length
    guard.foreach { case (what, advice) =>
      BroadcastBudget.checkCollected(BroadcastBudget.rowBytes(bc.value), what, advice, plan.conf)
    }
    bc
  }

  /** `(key, start, end, index)` of every row of `rows` that can match,
    * keyed by the equality expressions `eqs`, with `iv` its `[start, end]`:
    * a row with a null bound, or a null key when there are keys, never
    * matches and is left out. */
  def keyed(rows: Array[InternalRow], eqs: Seq[Expression],
      iv: Seq[Expression]): Iterator[(UnsafeRow, Int, Int, Int)] = {
    val keyProj = UnsafeProjection.create(eqs)
    val ivProj = UnsafeProjection.create(iv)
    rows.iterator.zipWithIndex.flatMap { case (row, i) =>
      val bounds = ivProj(row)
      if (bounds.isNullAt(0) || bounds.isNullAt(1)) None
      else {
        val key = keyProj(row)
        if (eqs.nonEmpty && key.anyNull) None
        else Some((key.copy(), bounds.getInt(0), bounds.getInt(1), i))
      }
    }
  }

  private final class Slot { var value: AnyRef = _ }

  // Weak on the broadcast value (an array: identity hashCode), so an entry
  // lives as long as Spark holds the value; the structures hold its rows,
  // never the array itself.
  private val built = new java.util.WeakHashMap[Array[InternalRow], java.util.Map[AnyRef, Slot]]

  /** `build`, run once per JVM for the broadcast value `rows` and the build
    * `spec` (an exec's key expressions, shape and parameters: two execs
    * reading one reused exchange never share a structure they would build
    * differently). Concurrent tasks wait for the one build. */
  def cached[T <: AnyRef](rows: Array[InternalRow], spec: AnyRef)(build: => T): T = {
    val slot = built.synchronized {
      built.computeIfAbsent(rows, _ => new java.util.HashMap[AnyRef, Slot])
        .computeIfAbsent(spec, _ => new Slot)
    }
    slot.synchronized {
      if (slot.value == null) slot.value = build
      slot.value.asInstanceOf[T]
    }
  }
}
