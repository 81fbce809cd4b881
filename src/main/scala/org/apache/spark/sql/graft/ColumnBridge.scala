package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}

/** Column ↔ catalyst Expression bridge. `classic.ExpressionUtils` is
  * `private[sql]`, so third-party engines that build native expressions
  * (e.g. [[graft.functions.CosineSimilarity]]) need this one-hop accessor
  * inside the sql namespace — the conventional extension-library pattern.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Convert eagerly to a plain catalyst tree (`UnresolvedFunction` etc.)
    * instead of the lazy `ColumnNodeExpression` wrapper [[expression]]
    * yields. Required when the expression is returned from an
    * `injectFunction` builder: the analyzer resolves nested unresolved
    * functions in its normal fixpoint, but never looks inside a
    * ColumnNode wrapper (it reaches codegen Unevaluable). */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** The DataFrame over a logical plan (`Dataset.ofRows` is `private[sql]`). */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Wrap an execution-time `RDD[InternalRow]` back into a DataFrame so a
    * physical operator can run a DataFrame-expressed pipeline over its
    * child's output (`internalCreateDataFrame` is `private[sql]`). */
  def internalFrame(
      spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** As [[internalFrame]], for an RDD known to hold at most `rowBound`
    * rows: the relation's statistics say `rowBound` rows of the schema's
    * default row size instead of `spark.sql.defaultSizeInBytes`, so the
    * planner can size the joins above it. */
  def internalFrame(
      spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType,
      rowBound: Long): org.apache.spark.sql.DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
    val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(sizeInBytes =
      org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
        .getSizePerRow(attrs) * rowBound)
    org.apache.spark.sql.classic.Dataset.ofRows(session,
      org.apache.spark.sql.execution.LogicalRDD(attrs, rdd)(session, Some(stats)))
  }

  /** The rows of `df`, planned without adaptive execution. An explicit
    * exchange then runs its map stage inside the first job that reads its
    * output, not as a job of its own at planning time, and a cached
    * relation fills inside the first job that scans it. A cached
    * relation's own plan keeps whatever the cache planned it with. */
  def staticRdd(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    org.apache.spark.sql.execution.QueryExecution.prepareExecutedPlan(
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.optimizedPlan).execute()
}
