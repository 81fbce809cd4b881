package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.sql.Timestamp
import scala.util.Random

/** Per-micro-batch latency of the stream-static interval operators: each
  * of `annotateStream`, `countStream` and `nearestKStream` (k = 2) runs
  * `batches` micro-batches of `reads` rows against `targets` static
  * targets, and the median `triggerExecution` duration of its batches
  * (the first batch, which plans and compiles, reported apart) is printed
  * as one JSON line per operator.
  *
  * Usage: `sbt "Test/runMain graft.streaming.StreamLatency [targets] [batches] [reads]"`
  * (defaults 10000, 20, 2000; `SPARK_GRAFT_CPUS` sets the local cores). */
object StreamLatency {
  def main(args: Array[String]): Unit = {
    val nTargets = args.lift(0).map(_.toInt).getOrElse(10000)
    val batches = args.lift(1).map(_.toInt).getOrElse(20)
    val nReads = args.lift(2).map(_.toInt).getOrElse(2000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.GraftSession.localBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val span = 10000000
    val rnd = new Random(17)
    val targets = Seq.tabulate(nTargets) { i =>
      val s = rnd.nextInt(span) + 1
      ((1 + i % 4).toString, s, s + rnd.nextInt(2000), s"t$i")
    }.toDF("contig", "pos_start", "pos_end", "name").cache()
    targets.count()
    val ops = Seq[(String, org.apache.spark.sql.Dataset[StreamingOps.StreamRead] =>
        org.apache.spark.sql.DataFrame)](
      "annotateStream" -> (StreamingOps.annotateStream(_, targets)),
      "countStream" -> (StreamingOps.countStream(_, targets)),
      "nearestKStream" -> (StreamingOps.nearestKStream(_, targets, 2)))
    for ((name, op) <- ops) {
      val in = MemoryStream[StreamingOps.StreamRead]
      val q = op(in.toDS()).writeStream.format("noop").start()
      try {
        val ms = (0 until batches).map { b =>
          in.addData(Seq.tabulate(nReads) { _ =>
            val s = rnd.nextInt(span) + 1
            StreamingOps.StreamRead((1 + rnd.nextInt(4)).toString, s, s + 150,
              new Timestamp(1700000000000L + b * 1000L))
          })
          q.processAllAvailable()
          q.lastProgress.durationMs.get("triggerExecution").longValue
        }
        val rest = ms.tail.sorted
        val median = if (rest.isEmpty) 0L else rest(rest.length / 2)
        println(s"""{"op": "$name", "targets": $nTargets, "batches": $batches, """ +
          s""""reads_per_batch": $nReads, "first_ms": ${ms.head}, "median_ms": $median, """ +
          s""""all_ms": [${ms.mkString(", ")}]}""")
      } finally q.stop()
    }
    spark.stop()
  }
}
