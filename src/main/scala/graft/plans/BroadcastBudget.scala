package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.internal.SQLConf

/** The broadcast budget: the one policy for every side graft ships whole
  * to every task — the build sides of the interval execs and the
  * [[BroadcastProbeExec]], which Spark's broadcast exchange collects
  * ([[BroadcastBuild]]), and the sides operators collect to the driver
  * themselves. It is the only reader of
  * its two confs:
  *  - `spark.graft.rangejoin.maxBroadcastBytes` (default 256 MiB): a side
  *    is broadcast only when its Catalyst size estimate fits. Planners
  *    choose a regime with [[fits]]; operators with no other regime refuse
  *    with [[requireFits]].
  *  - `spark.graft.rangejoin.buildBytesSlack` (default 4.0): estimates can
  *    under-shoot by orders of magnitude after selective filters, so a
  *    side the estimate decided to broadcast re-checks the bytes it
  *    actually holds on the driver ([[checkCollected]]) and fails past
  *    slack × budget, before any task reads it. The slack keeps estimate
  *    noise from flipping a working query; Spark's
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

  /** Fails when a side holds more than slack × the budget at runtime. */
  def checkCollected(collected: Long, what: String, advice: String, conf: SQLConf): Unit = {
    val budget = bytes(conf)
    val slack = conf.getConfString("spark.graft.rangejoin.buildBytesSlack", "4.0").toDouble
    if (collected > budget * slack) throw new IllegalStateException(
      s"$what is $collected bytes at runtime, over ${slack}x the $BudgetKey budget " +
        s"($budget) its broadcast was planned against (the size estimate under-shot) — $advice")
  }

  /** Driver bytes of collected rows: each row's `UnsafeRow` size (64 for
    * any other row) plus 16 per entry. */
  def rowBytes(rows: Array[InternalRow]): Long = rows.foldLeft(0L) {
    case (acc, u: UnsafeRow) => acc + 16L + u.getSizeInBytes
    case (acc, _) => acc + 16L + 64L
  }
}
