package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.spark_partition_id

/** Pins a filter above the nearest exchange or aggregate below it:
  * `pred OR spark_partition_id() < 0`. The disjunct is always false
  * (partition ids are never negative), so the pinned filter keeps exactly
  * the rows `pred` keeps; but the predicate becomes nondeterministic, and
  * Catalyst never pushes a nondeterministic predicate below those
  * operators. Use it when pushdown would sink a kernel-heavy filter below
  * a repartition into a single scan task, or below a DISTINCT to run once
  * per input row instead of once per group.
  *
  * It does not hold a filter above a deterministic projection: Catalyst
  * still pushes it through, inlining the projected aliases into the
  * condition (PlanSpec checks both).
  */
object FilterPin {

  def apply(pred: Column): Column = pred || spark_partition_id() < 0

  /** The SQL form, for a `WHERE` clause. */
  def sql(pred: String): String = s"($pred) OR spark_partition_id() < 0"
}
