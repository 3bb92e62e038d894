package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Narrow bridge to `private[sql]` constructors needed when building
  * DataFrames from custom logical plans (standard technique for Spark
  * extension libraries; no behavior is modified). */
object Shim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .logicalPlan

  /** Plan a custom node in `spark`: appends `strategy` to the session's
    * extra strategies unless it is there already. Plain sessions plan these
    * nodes too, so this cannot live in `GraftExtensions` alone. */
  def installStrategy(spark: SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(strategy))
        exp.extraStrategies = exp.extraStrategies :+ strategy
    }
  }

  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** The compiled `InternalRow` RDD of a DataFrame (lazy-val on the
    * QueryExecution: repeated calls return the SAME RDD instance, so jobs
    * built over it share its shuffle dependencies — map stages run once and
    * are skipped on later actions). */
  def internalRdd(df: DataFrame): org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.queryExecution.toRdd

  /** Wrap an InternalRow RDD back into a DataFrame with the given plan's
    * output attributes — the un-materialized cousin of Dataset.checkpoint's
    * LogicalRDD pinning: two passes built over the same wrapped RDD see the
    * same shuffle output (deterministic partition assignment) WITHOUT
    * writing a block-store copy. Rows must be consumed pipelined (they may
    * be reused buffers); every Spark operator that buffers copies first. */
  def ofInternalRdd(spark: SparkSession, template: DataFrame,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]): DataFrame =
    ofRows(spark, org.apache.spark.sql.execution.LogicalRDD(
      logicalPlan(template).output, rdd)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]))

  /** Block until every event posted to `sc`'s (asynchronous) listener bus
    * has been delivered. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
