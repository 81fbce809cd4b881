package graft

import graft.plans.IntervalJoinStrategy

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.graft.ExtensionsBridge

/** Attaches the engine to an existing session — the runtime twin of
  * `spark.sql.extensions=graft.GraftExtensions`, called by
  * [[GraftSession]] on construction. It installs exactly what
  * [[GraftExtensions]] builds, so the two paths attach the same parts; a
  * session whose planner already holds the engine is left untouched.
  * Idempotent and thread-safe.
  *
  * Resolution rules cannot be added to a live analyzer; self
  * nearest-joins are deduplicated by `GraftTableFunctions.nearestSides`.
  */
object Graft {

  def ensure(spark: SparkSession): SparkSession = synchronized {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!classic.sessionState.planner.strategies.exists(_.isInstanceOf[IntervalJoinStrategy])) {
      val ext = new SparkSessionExtensions
      new GraftExtensions()(ext)
      ExtensionsBridge.install(classic, ext)
    }
    spark
  }
}
