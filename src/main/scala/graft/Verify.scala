package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: regex over query names for local iteration;
    // the driver always runs with two args (full suite).
    val nameFilter = args.lift(2).map(_.r)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = GraftSession.localBuilder(cpus.toInt)
    // Robustness-sweep hook (local use only; the driver never sets it):
    // SPARK_GRAFT_CONF="k=v;k2=v2" overrides session confs, e.g.
    // spark.sql.adaptive.enabled=false to prove no plan depends on AQE.
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => builder.config(k, v)
          case _ => sys.error(
            s"SPARK_GRAFT_CONF entry '$kv' is malformed: expected key=value")
        }
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => nameFilter.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Same cache hygiene as Bench: operator-persisted frames are scoped
      // to their query here.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
