package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Catalyst-Expression bridge plus session-level function
  * registration. Lives under org.apache.spark.sql because the classic
  * converters and the session state are package-private — the standard
  * pattern for Spark extension libraries.
  */
object ColumnBridge {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a Column's node tree to a catalyst expression.
    * [[expression]] returns a lazy ColumnNodeExpression placeholder
    * that only standard Dataset operator construction unwraps; custom
    * logical nodes must convert up front or the internal (and
    * non-serializable) column nodes leak into the physical plan.
    */
  def expressionEager(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Register a native function into an EXISTING session's registry
    * (the SparkSessionExtensions path only applies at builder time).
    */
  def registerFunction(spark: SparkSession, name: String, className: String,
                       builder: Seq[Expression] => Expression): Unit = {
    org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark)
      .sessionState.functionRegistry
      .registerFunction(FunctionIdentifier(name),
        new ExpressionInfo(className, name), builder)
    ()
  }

  /** Wrap a (possibly unresolved) logical plan as a DataFrame — the
    * analyzer resolves expressions inside custom nodes generically.
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark), plan)

  /** `df.collect()` without the external conversion: the rows the
    * plan returns to the driver, run as one SQL execution like any
    * other action. */
  def collectInternal(df: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val qe = org.apache.spark.sql.classic.ClassicConversions.castToImpl(df).queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
  }

  /** The analyzed logical plan backing a DataFrame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    org.apache.spark.sql.classic.ClassicConversions.castToImpl(df.sparkSession)
      .sessionState.executePlan(
        org.apache.spark.sql.classic.ClassicConversions.castToImpl(df).queryExecution.logical).analyzed

  /** Install an extra physical-planning strategy on a live session. */
  def addStrategy(spark: SparkSession,
                  strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }
}
