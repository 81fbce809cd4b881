package org.apache.spark.sql.graft

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.classic.SparkSession

/** Installs into a live session what a `SparkSessionExtensions` builds —
  * its `build*`/`register*` methods are `private[sql]`, hence this
  * accessor inside the sql namespace (the [[ColumnBridge]] pattern).
  * Strategies go to the experimental strategies, pre-CBO rules and then
  * optimizer rules to the extra optimizations, functions and TVFs to the
  * session registries.
  */
object ExtensionsBridge {
  def install(spark: SparkSession, ext: SparkSessionExtensions): Unit = {
    val x = spark.experimental
    x.extraStrategies = x.extraStrategies ++ ext.buildPlannerStrategies(spark)
    x.extraOptimizations = x.extraOptimizations ++
      ext.buildPreCBORules(spark) ++ ext.buildOptimizerRules(spark)
    ext.registerFunctions(spark.sessionState.functionRegistry)
    ext.registerTableFunctions(spark.sessionState.tableFunctionRegistry)
  }

  /** The live conf of the JVM's active SparkContext (`SparkContext.conf`
    * and `getActive` are `private[spark]`; `getConf` returns a copy).
    * Extensions applied by `SparkSession.Builder.build` run after the
    * context exists and before the session's `SQLConf` is made from this
    * conf, so a static SQL conf set here reaches the new session. */
  def activeContextConf: Option[SparkConf] = SparkContext.getActive.map(_.conf)
}
