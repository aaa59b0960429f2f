package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column↔Expression converters in Spark 4's
  * split sql-api (Column wraps a ColumnNode; catalyst Expressions need the
  * classic converter). Standard extension-library technique — same-package
  * access, no reflection.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The optimizer rules a [[SparkSessionExtensions]] instance would
    * inject (`buildOptimizerRules` is `private[sql]`) — lets tests verify
    * extension registration without a fresh SparkContext, since
    * `spark.sql.extensions` is a static conf that only applies at first
    * session creation in a JVM.
    */
  def injectedOptimizerRules(ext: SparkSessionExtensions, s: SparkSession)
      : Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    ext.buildOptimizerRules(s)

  /** The names of the SQL functions a [[SparkSessionExtensions]]
    * instance would register (`registerFunctions` is `private[sql]`).
    */
  def injectedFunctionNames(ext: SparkSessionExtensions): Seq[String] =
    ext.registerFunctions(new catalyst.analysis.SimpleFunctionRegistry)
      .listFunction().map(_.funcName)

  /** Block until the listener bus has delivered every event posted so
    * far (`listenerBus` is `private[spark]`); throws
    * `java.util.concurrent.TimeoutException` after Spark's default wait.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
