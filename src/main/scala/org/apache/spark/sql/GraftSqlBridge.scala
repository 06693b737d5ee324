package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the `private[sql]` Column ↔ catalyst Expression converters
  * (`classic.ExpressionUtils`), needed to expose graft's custom codegen
  * expressions ([[graft.functions.VectorExpressions]]) as `Column`s
  * without forcing every SparkSession to be built with an extensions
  * config. Standard extension-library technique; no Spark internals are
  * modified.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a function builder in THIS session's registry so
    * `spark.sql("... name(...)")` resolves it — the imperative twin of
    * `SparkSessionExtensions.injectFunction` for sessions built without
    * the extensions config. */
  def registerFunction(spark: SparkSession, name: String, builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "internal")

  /** A DataFrame over a hand-built logical plan — the `private[sql]`
    * factory [[graft.core.Reliability.cut]] uses to rewrap checkpointed
    * blocks with the partitioning they were written under. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
