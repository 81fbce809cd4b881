package graft.operators

import graft.plans.BroadcastBudget

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.SizeEstimator

import scala.collection.mutable
import scala.reflect.ClassTag

/** The range-partitioned seeded prefix scan behind coverage
  * ([[CoverageOps.blocks]]), interval merge ([[RangeSetOps.merge]]) and
  * the nearest-k merge regime's d_k sweep:
  *  1. the input is range-partitioned on `key` into at most `nParts`
  *     partitions and sorted within each, so the partitions are slices of
  *     one global order;
  *  2. `summarize` reduces each sorted partition to a small summary, and
  *     one job collects them; past 1 MiB they are held to
  *     [[BroadcastBudget.checkCollected]];
  *  3. `fold`, on the driver, turns the summaries (in partition order)
  *     into one carry per partition — what that partition needs to know
  *     about all the others;
  *  4. `pass` walks each sorted partition again, seeded with its carry,
  *     and emits rows of `schema`.
  *
  * Steps 1–3 run when the sweep is called, in two jobs: range sampling,
  * then the summary job, which also runs the shuffle map stage; step 4
  * runs with the returned frame's action and re-reads the shuffle files.
  * The sweep's own exchange is planned without adaptive execution: AQE
  * can neither coalesce nor split an explicit range repartition, and it
  * would submit the map stage and the cached input as jobs of their own.
  * The input is persisted only so that range sampling and the shuffle map
  * stage share one scan of it, and is released once the summary job has
  * run or thrown. Each task receives only its own carry, zipped in as a
  * one-element partition: nothing is broadcast, nothing stays persisted.
  * `RangePartitioner` can return fewer partitions than asked, so the
  * carries are as many as the summaries. The input must be a frame the
  * caller derived for the sweep: an already-cached plan would be released
  * with it.
  *
  * The returned frame carries statistics derived from the summaries when
  * `rowBound` gives a bound on the rows `pass` emits in all: its size is
  * that many rows of `schema`'s default row size, so a join above it is
  * planned from what the sweep counted rather than from
  * `spark.sql.defaultSizeInBytes`, the size of a frame without them.
  */
private[graft] object RangeSweep {

  private val GuardFloorBytes = 1L << 20

  def apply[S: ClassTag, C: ClassTag](input: DataFrame, key: Seq[Column], nParts: Int,
      schema: StructType)(summarize: Iterator[InternalRow] => S)(fold: Array[S] => Array[C],
      rowBound: Array[S] => Option[Long] = (_: Array[S]) => None)(
      pass: (C, Iterator[InternalRow]) => Iterator[InternalRow]): DataFrame = {
    val spark = input.sparkSession
    val persisted = input.persist(StorageLevel.MEMORY_AND_DISK)
    val (sorted, summaries) =
      try {
        val sorted = ColumnBridge.staticRdd(
          persisted.repartitionByRange(nParts, key: _*).sortWithinPartitions(key: _*))
        (sorted, sorted.mapPartitions(rows => Iterator.single(summarize(rows))).collect())
      } finally persisted.unpersist(blocking = false)
    // The sweep has no other regime to fall back to, so summaries too
    // small to strain the driver pass whatever the budget (a budget that
    // low only serves to force the joins off broadcast).
    val bytes = SizeEstimator.estimate(summaries)
    if (bytes > GuardFloorBytes) BroadcastBudget.checkCollected(bytes,
      "range-sweep partition summaries", "lower spark.sql.shuffle.partitions, or raise " +
        "the budget if the driver can hold them.", spark.sessionState.conf)
    val carries = fold(summaries)
    val out =
      if (carries.isEmpty) spark.sparkContext.emptyRDD[InternalRow]
      else sorted.zipPartitions(spark.sparkContext.parallelize(carries.toSeq, carries.length)) {
        (rows, carry) => pass(carry.next(), rows)
      }
    rowBound(summaries) match {
      case Some(n) => ColumnBridge.internalFrame(spark, out, schema, n)
      case None => ColumnBridge.internalFrame(spark, out, schema)
    }
  }

  /** The fold coverage and merge share. Each summary lists one `(contig,
    * t)` per contig of its partition, in sort order; `step` threads one
    * state per contig through the partitions in order. Partition i's
    * carry is the state its first contig enters with (None when no
    * earlier partition holds that contig) and whether a later partition
    * still holds its last contig — only the next non-empty partition can,
    * as its first contig. Only the first contig of a partition can have
    * rows in earlier partitions, so the carry covers it alone. */
  def contigCarries[T, V](parts: Array[Seq[(String, T)]])(step: (Option[V], T) => V)
      : Array[(Option[V], Boolean)] = {
    val state = mutable.HashMap.empty[String, V]
    val in = parts.map { p =>
      val carry = p.headOption.flatMap(h => state.get(h._1))
      p.foreach { case (c, t) => state(c) = step(state.get(c), t) }
      carry
    }
    val continues = new Array[Boolean](parts.length)
    var next: Option[String] = None
    for (i <- parts.indices.reverse) {
      continues(i) = parts(i).lastOption.exists(l => next.contains(l._1))
      if (parts(i).nonEmpty) next = Some(parts(i).head._1)
    }
    in.zip(continues)
  }
}
