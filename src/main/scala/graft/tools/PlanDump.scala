package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` of named SparkEntry queries to files —
  * the before/after plan evidence for optimization rounds
  * (`plans/r<N>/<query>_{before,after}.txt`).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [names...]
  * (no names = every query).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    val suffix = args(2)
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    Files.createDirectories(outDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.localBuilder(cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      graft.SparkEntry.queries.get(n) match {
        case None => System.err.println(s"unknown query: $n")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val text = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), text)
            println(s"dumped $n")
          } catch {
            case e: Throwable =>
              System.err.println(s"FAILED $n: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
