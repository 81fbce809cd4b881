package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites, built like the tools'
  * sessions ([[GraftSession.localBuilder]]). */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.localBuilder(4)
      .appName("graft-tests")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` with `spark.sql.shuffle.partitions` set to `n`, then
    * restores the previous value. */
  def withShufflePartitions[T](n: Int)(body: => T): T = {
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SharedSpark.spark
  def sf0001: String = SharedSpark.sf0001
}
