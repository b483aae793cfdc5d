// Bridge into Spark's classic-mode internals: Spark 4 removed the public
// Column(expr) constructor (Connect refactor); the supported path for
// libraries embedding custom Catalyst Expressions is the private[sql]
// ExpressionUtils — exposed here via a same-package shim.
package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

object DataFrameBridge {
  /** A frame over `plan`, in the session of `df` (the classic-mode
    * `Dataset.ofRows`, private[sql]). */
  def ofRows(df: org.apache.spark.sql.DataFrame,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
