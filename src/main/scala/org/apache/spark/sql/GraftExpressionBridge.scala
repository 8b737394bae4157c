package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Column <-> catalyst Expression
  * conversion, so custom codegen expressions (graft.functions.*) can be
  * exposed as ordinary `Column`s without a UDF. This is the standard
  * technique public Spark extension libraries use — the only member of
  * the Spark namespace this project defines, and it adds no behavior.
  * It also reaches the `private[spark]` listener bus for the profilers.
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a temp SQL function on a LIVE session (the post-build twin
    * of SparkSessionExtensions.injectFunction, which only applies at
    * session construction). `sessionState` is `private[sql]`, hence the
    * bridge placement; `createOrReplaceTempFunction` makes the call
    * idempotent. Used by graft.GraftExtensions.register.
    */
  def registerTempFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Block until every listener event posted so far has been delivered
    * (the `private[spark]` LiveListenerBus), so a SparkListener or
    * StreamingQueryListener read after an action sees all of its jobs,
    * stages and progress. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
