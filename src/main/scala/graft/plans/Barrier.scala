package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftshim.Frames

/** A plan barrier: a logical node whose output is its child's output.
  * Catalyst pushes a filter only through a fixed list of unary nodes, and
  * this node is not on it, so `Barrier(df).where(pred)` keeps the Filter
  * directly above `df`'s top node: above a repartition (the kernel-heavy
  * filter runs on the spread, not in a single scan task), above a
  * DISTINCT (once per group) or above a projection (the condition reads
  * the projected columns instead of inlining their expressions).
  * [[BarrierStrategy]] plans the node as its child, so no physical
  * operator is left and the barrier costs nothing at run time. Column
  * pruning still reaches through it. */
final case class Barrier(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): Barrier =
    copy(child = newChild)
}

object Barrier {
  def apply(df: DataFrame): DataFrame = Frames.mapPlan(df)(new Barrier(_))
}

/** Plans a [[Barrier]] as its child. `Geo.register` and `GraftExtensions`
  * both install it; a session without it cannot plan a barrier. */
object BarrierStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Barrier(child) => planLater(child) :: Nil
    case _ => Nil
  }
}
