package graft.operators

import org.apache.spark.sql.Observation

/** Reading `Dataset.observe` metrics in the iterative operator loops. */
private[operators] object Observations {

  /** Read an observed long metric. The metric arrives on the listener bus,
    * usually within a few ms of the action that observed it, but a busy bus
    * can lag unboundedly: poll briefly, then fall back to the supplied
    * (structural) probe rather than stall the round. A null metric (an
    * empty input) reads as 0. */
  def observedLong(obs: Observation, fallback: => Long): Long = {
    val fut = obs.future
    val deadline = System.nanoTime() + 100L * 1000 * 1000
    while (!fut.isCompleted && System.nanoTime() < deadline) Thread.sleep(2)
    fut.value.flatMap(_.toOption) match {
      case Some(r) => if (r.isNullAt(0)) 0L else r.getLong(0)
      case None => fallback
    }
  }
}
