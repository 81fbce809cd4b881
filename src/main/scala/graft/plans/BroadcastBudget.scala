package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.internal.SQLConf

/** The broadcast budget: the one policy for every side graft collects to
  * the driver and ships to every task. It is the only reader of its two
  * confs:
  *  - `spark.graft.rangejoin.maxBroadcastBytes` (default 256 MiB): a side
  *    is broadcast only when its Catalyst size estimate fits. Planners
  *    choose a regime with [[fits]]; operators with no other regime refuse
  *    with [[requireFits]].
  *  - `spark.graft.rangejoin.buildBytesSlack` (default 4.0): estimates can
  *    under-shoot by orders of magnitude after selective filters, so a
  *    collect the estimate decided re-checks the bytes it actually holds
  *    ([[checkCollected]]) and fails past slack × budget. The slack keeps
  *    estimate noise from flipping a working query; Spark's
  *    `spark.driver.maxResultSize` still backstops the collect.
  *
  * Unlike the reference, which sizes the build side with runtime `count()`
  * jobs (`IntervalTreeJoinOptimChromosome.scala:72-88`), the decision costs
  * no job; the runtime guard checks it against what the run produced.
  * A broadcast hint or an explicit `method=broadcast` is the user taking
  * responsibility (standard Spark hint semantics): callers skip the
  * runtime guard then. */
object BroadcastBudget {

  private val BudgetKey = "spark.graft.rangejoin.maxBroadcastBytes"

  private def bytes(conf: SQLConf): Long =
    conf.getConfString(BudgetKey, (256L << 20).toString).toLong

  /** Does a side of `size` bytes fit the budget? */
  def fits(size: BigInt, conf: SQLConf): Boolean = size <= BigInt(bytes(conf))

  /** Does `df`'s Catalyst size estimate fit the budget? */
  def fits(df: DataFrame): Boolean = fits(estimate(df), df.sparkSession.sessionState.conf)

  private def estimate(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Refuses `df` when its Catalyst size estimate is over the budget. */
  def requireFits(df: DataFrame, what: String, advice: String): Unit =
    requireFits(estimate(df), what, advice, df.sparkSession.sessionState.conf)

  /** Refuses a side of `size` bytes when it is over the budget. */
  def requireFits(size: BigInt, what: String, advice: String, conf: SQLConf): Unit = {
    val budget = bytes(conf)
    require(size <= BigInt(budget),
      s"$what is estimated at $size bytes, over $BudgetKey=$budget — $advice")
  }

  /** Fails when a collect holds more than slack × the budget at runtime. */
  def checkCollected(collected: Long, what: String, advice: String, conf: SQLConf): Unit = {
    val budget = bytes(conf)
    val slack = conf.getConfString("spark.graft.rangejoin.buildBytesSlack", "4.0").toDouble
    if (collected > budget * slack) throw new IllegalStateException(
      s"$what is $collected bytes at runtime, over ${slack}x the $BudgetKey budget " +
        s"($budget) its broadcast was planned against (the size estimate under-shot) — $advice")
  }

  /** Driver bytes of collected rows: each row's `UnsafeRow` size (64 for
    * any other row) plus 16 per entry. */
  def rowBytes(rows: Array[InternalRow]): Long =
    rows.foldLeft(0L)((acc, r) => acc + 16L + sizeOf(r))

  private def sizeOf(r: InternalRow): Long = r match {
    case null => 0L
    case u: UnsafeRow => u.getSizeInBytes.toLong
    case _ => 64L
  }

  /** The interval execs' build-side collect. Every row of `plan` is copied
    * and returned as `(key, start, end, row)`, keyed by the equality
    * expressions `eqs`, with `iv` its `[start, end]`. A row with a null
    * bound or a null key can never match: it is dropped, or kept with a
    * null key when `keepUnmatchable` (full outer preserves it). With
    * `dropInverted`, rows whose start is past their end are dropped and
    * counted in that metric (the count joins' rank identity needs
    * well-formed intervals). Also returns the collected bytes, keys
    * included, for [[checkCollected]]. */
  def collectKeyed(plan: SparkPlan, eqs: Seq[Expression], iv: Seq[Expression],
      keepUnmatchable: Boolean = false, dropInverted: Option[SQLMetric] = None)
      : (Array[(UnsafeRow, Int, Int, InternalRow)], Long) = {
    val nEqs = eqs.length
    val rows = plan.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(eqs)
      val ivProj = UnsafeProjection.create(iv)
      def unmatchable(copy: => InternalRow): Iterator[(UnsafeRow, Int, Int, InternalRow)] =
        if (keepUnmatchable) Iterator.single((null, 0, 0, copy)) else Iterator.empty
      it.flatMap { row =>
        val bounds = ivProj(row)
        if (bounds.isNullAt(0) || bounds.isNullAt(1)) unmatchable(row.copy())
        else if (dropInverted.isDefined && bounds.getInt(0) > bounds.getInt(1)) {
          dropInverted.get += 1
          Iterator.empty
        } else {
          val copy = row.copy()
          val key = keyProj(copy)
          if (nEqs > 0 && key.anyNull) unmatchable(copy)
          else Iterator.single((key.copy(), bounds.getInt(0), bounds.getInt(1), copy))
        }
      }
    }.collect()
    (rows, rows.foldLeft(0L) { case (acc, (k, _, _, r)) => acc + sizeOf(k) + 16L + sizeOf(r) })
  }
}
