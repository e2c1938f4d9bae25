package org.apache.spark.sql.graftshim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** `classic.Dataset.ofRows` and `Dataset.logicalPlan` are `private[sql]`;
  * this package sits inside `org.apache.spark.sql` to reach them. */
object Frames {

  /** The frame whose plan is `f` applied to `df`'s plan, in `df`'s session. */
  def mapPlan(df: DataFrame)(f: LogicalPlan => LogicalPlan): DataFrame = {
    val d = df.asInstanceOf[classic.Dataset[_]]
    classic.Dataset.ofRows(d.sparkSession, f(d.logicalPlan))
  }
}
