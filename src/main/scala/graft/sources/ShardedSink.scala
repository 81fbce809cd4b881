package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one directory lifecycle behind the genomic file sinks (`writeBam`,
  * `writeCram`, `writeSam`, `writeVcf`, `writeBcf`) — the hadoop-bam
  * output shape, one fully-headed file per task:
  *
  *  - overwrite deletes the directory; append keeps it and suffixes one
  *    per-job token to every new shard, like Spark's own writers;
  *  - shards are named `part-NNNNN[-token]<ext>` after their partition;
  *    empty partitions write nothing;
  *  - when no task wrote a shard and the directory holds none with the
  *    extension, the driver writes `part-00000<ext>` through the same
  *    shard writer with zero rows, so an empty frame still leaves a
  *    readable header-only file (sidecars included).
  *
  * A format supplies only its projection, its header and a
  * [[ShardWriter]]. */
private[sources] object ShardedSink {

  /** Writes one shard file: opens it (and any sidecars named after it)
    * on the file system, writes every row, closes. */
  type ShardWriter[T] = (FileSystem, Path, Iterator[T]) => Unit

  def write[T](rows: RDD[T], path: String, ext: String, overwrite: Boolean)(
      shard: ShardWriter[T]): Unit = {
    val taskConf = SourceUtil.taskConf(rows.sparkContext)
    val dir = new Path(path)
    val fs = dir.getFileSystem(rows.sparkContext.hadoopConfiguration)
    if (overwrite && fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(dir)
    val token = if (overwrite) "" else "-" + java.util.UUID.randomUUID.toString.take(8)
    val wrote = rows.mapPartitionsWithIndex { (idx, it) =>
      if (it.isEmpty) Iterator.empty
      else {
        val p = new Path(path, f"part-$idx%05d$token$ext")
        shard(p.getFileSystem(taskConf.value.value), p, it)
        Iterator.single(1)
      }
    }.count()
    if (wrote == 0L && !fs.listStatus(dir).exists(_.getPath.getName.endsWith(ext)))
      shard(fs, new Path(dir, s"part-00000$ext"), Iterator.empty)
  }

  /** The reference dictionary of an alignment frame, from one driver
    * aggregation: its non-null contigs, sorted, each with length max
    * `pos_end` + 1000. A null `pos_end` (an unmapped read) counts as 0,
    * so a contig whose every `pos_end` is null still gets a length. */
  def referenceDictionary(reads: DataFrame): (Array[String], Array[Int]) = {
    val refs = reads.filter(col("contig").isNotNull)
      .groupBy(col("contig"))
      .agg(max(coalesce(col("pos_end").cast("int"), lit(0))).as("m"))
      .collect().sortBy(_.getString(0))
    (refs.map(_.getString(0)), refs.map(_.getInt(1) + 1000))
  }

  /** Column `n` of `df`, or `default` when the frame has no such column. */
  def optCol(df: DataFrame, n: String, default: Column): Column =
    if (df.columns.contains(n)) col(n) else default
}
