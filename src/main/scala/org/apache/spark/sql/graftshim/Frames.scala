package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** `classic.Dataset.ofRows`, `Dataset.logicalPlan` and the Column ↔
  * Expression conversions are `private[sql]`; this package sits inside
  * `org.apache.spark.sql` to reach them. */
object Frames {

  /** The frame whose plan is `f` applied to `df`'s plan, in `df`'s session. */
  def mapPlan(df: DataFrame)(f: LogicalPlan => LogicalPlan): DataFrame = {
    val d = df.asInstanceOf[classic.Dataset[_]]
    classic.Dataset.ofRows(d.sparkSession, f(d.logicalPlan))
  }

  /** `df`'s plan and `c` resolved against it. */
  def resolved(df: DataFrame, c: Column): (LogicalPlan, Expression) = {
    val d = df.asInstanceOf[classic.Dataset[_]]
    val Project(Seq(e), _) = d.select(c).queryExecution.analyzed
    (d.logicalPlan, e match { case Alias(child, _) => child; case _ => e })
  }

  /** A resolved expression as a column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)
}
