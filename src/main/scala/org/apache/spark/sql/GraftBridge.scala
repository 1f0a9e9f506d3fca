package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Column/Dataset ↔ catalyst bridge for the classic API (these
  * constructors are `private[sql]` in Spark 4). Lives in the sql
  * package solely to re-export those capabilities to graft's native
  * expressions and custom logical plans.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** Register a SQL function on an already-built session
    * (`sessionState` is `private[sql]`; sessions built with
    * `.withExtensions(new GraftExtensions)` get the same functions via
    * `injectFunction` without needing this).
    */
  def registerFunction(spark: SparkSession, name: String, usage: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.functions", null, name, usage, ""),
        builder)

  /** Apply an extensions installer to a fresh FunctionRegistry and
    * return it — lets specs assert the `injectFunction` path without
    * building a new SparkContext (`spark.sql.extensions` is a static
    * conf read at context construction).
    */
  def injectedFunctionRegistry(ext: SparkSessionExtensions => Unit)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry = {
    val e = new SparkSessionExtensions
    ext(e)
    e.registerFunctions(
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.clone())
  }

  /** A copy of the calling thread's SparkContext local properties
    * (`getLocalProperties` is `private[spark]`).
    */
  def localProperties(sc: org.apache.spark.SparkContext): java.util.Properties =
    org.apache.spark.util.Utils.cloneProperties(sc.getLocalProperties)

  /** `body` under a copy of `props` as this thread's local properties;
    * the thread's own are restored afterwards.
    */
  def withLocalProperties[T](sc: org.apache.spark.SparkContext,
      props: java.util.Properties)(body: => T): T = {
    val own = sc.getLocalProperties
    sc.setLocalProperties(org.apache.spark.util.Utils.cloneProperties(props))
    try body finally sc.setLocalProperties(own)
  }

  /** The materialized RDD behind a (local)checkpointed DataFrame, for
    * explicit block release — `Dataset.unpersist` doesn't reach
    * checkpoint blocks (they aren't in the CacheManager).
    */
  def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    analyzedPlan(df) match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }
}
