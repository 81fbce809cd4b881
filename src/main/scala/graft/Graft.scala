package graft

import graft.plans.IntervalJoinStrategy

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.graft.ExtensionsBridge
import org.apache.spark.sql.internal.StaticSQLConf
import org.slf4j.LoggerFactory

/** Attaches the engine to an existing session — the runtime twin of
  * `spark.sql.extensions=graft.GraftExtensions`, called by
  * [[GraftSession]] on construction. It installs exactly what
  * [[GraftExtensions.parts]] builds, so the two paths attach the same parts; a
  * session whose planner already holds the engine is left untouched.
  * Idempotent and thread-safe.
  *
  * Resolution rules cannot be added to a live analyzer; self
  * nearest-joins are deduplicated by `NearestJoinNode.sides`.
  * Nor can Spark's generated-class cache be resized once `CodeGenerator`
  * has read its size, so a session below
  * [[GraftExtensions.CodegenCacheEntries]] is only reported, once per JVM
  * at INFO.
  */
object Graft {

  private var cacheReported = false

  def ensure(spark: SparkSession): SparkSession = synchronized {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!classic.sessionState.planner.strategies.exists(_.isInstanceOf[IntervalJoinStrategy])) {
      val ext = new SparkSessionExtensions
      GraftExtensions.parts(ext)
      ExtensionsBridge.install(classic, ext)
      reportCodegenCache(classic.sessionState.conf.codegenCacheMaxEntries)
    }
    spark
  }

  private def reportCodegenCache(entries: Int): Unit =
    if (entries < GraftExtensions.CodegenCacheEntries && !cacheReported) {
      cacheReported = true
      LoggerFactory.getLogger(getClass).info(s"Spark's generated-class cache holds at most " +
        s"$entries classes, below graft's ${GraftExtensions.CodegenCacheEntries}: queries " +
        "that run again recompile their generated code. The cache cannot be resized in a " +
        s"running JVM; set ${StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key} when building the " +
        "session, or attach graft with spark.sql.extensions=graft.GraftExtensions.")
    }
}
