package graft.operators

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.Observation

/** Reading `Dataset.observe` metrics in the iterative operator loops. */
private[operators] object Observations {

  /** Read an observed long metric. The metric arrives on the listener bus,
    * usually within a few ms of the action that observed it, but a busy bus
    * can lag unboundedly: wait at most 100 ms, then fall back to the
    * supplied (structural) probe rather than stall the round. A null metric
    * (an empty input) reads as 0. */
  def observedLong(obs: Observation, fallback: => Long): Long = {
    val done =
      try Await.ready(obs.future, 100.millis).value
      catch { case _: TimeoutException => None }
    done.flatMap(_.toOption) match {
      case Some(r) => if (r.isNullAt(0)) 0L else r.getLong(0)
      case None => fallback
    }
  }
}
