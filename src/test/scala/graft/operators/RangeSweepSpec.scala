package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.TestListeners
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import scala.util.Random

/** Lifecycle of the three [[RangeSweep]] operators: the Spark jobs one call
  * plus one `count()` costs, and no persisted RDD left behind once the
  * action has run. Inputs are built from RDDs, so no operator can take a
  * size-estimate shortcut around the sweep. */
class RangeSweepSpec extends SparkSpec {

  private def intervals(n: Int, seed: Long, key: String): DataFrame = {
    val rnd = new Random(seed)
    val rows = Seq.tabulate(n) { i =>
      val s = rnd.nextInt(200000) + 1
      Row(i.toLong, rnd.nextInt(3).toString, s, s + rnd.nextInt(300))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField(key, LongType), StructField("contig", StringType),
      StructField("pos_start", IntegerType), StructField("pos_end", IntegerType))))
  }

  private def lifecycle(name: String, maxJobs: Int)(op: => DataFrame): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (rows, jobs) = TestListeners.jobsIn(spark, s"range-sweep-$name")(op.count())
    assert(rows > 0)
    assert(jobs <= maxJobs, s"$name ran $jobs jobs including one count(), want <= $maxJobs")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"$name left persisted RDDs behind: $leaked")
  }

  test("coverage: at most 7 jobs with one count(), nothing left persisted") {
    lifecycle("coverage", 7)(CoverageOps.blocks(intervals(5000, 1, "read_id")))
  }

  test("merge: at most 4 jobs with one count(), nothing left persisted") {
    lifecycle("merge", 4)(RangeSetOps.merge(intervals(5000, 2, "iv_id")))
  }

  test("nearest-k merge regime: at most 11 jobs with one count(), nothing left persisted") {
    lifecycle("nearest", 11)(NearestJoinOps.nearestKJoin(
      intervals(2000, 3, "a_key"), intervals(3000, 4, "b_key"), 3, "merge"))
  }
}
