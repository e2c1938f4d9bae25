package graft.operators

import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{sum, when}

/** The round driver under the iterative loops (kNN, CC, k-core, PageRank):
  * how a round is materialized and counted, and when a count may stop a
  * loop. Each loop keeps its own round body. */
private[operators] object Rounds {

  /** How often [[trusted]] took the exact count, to confirm or for want. */
  val confirms, fallbacks = new AtomicLong

  /** `df` as an eager local checkpoint under job description `label`
    * (`<op> round <n>`): stages are named by it, not by this file. */
  def materialize(df: DataFrame, label: String): DataFrame =
    described(df, label)(df.localCheckpoint(eager = true))

  /** [[materialize]], and the rows where `flag` holds, counted on the same
    * action; `ends(n)`: would acting on n end the loop or drop open work? */
  def counted(df: DataFrame, label: String, flag: Column)(
      ends: Long => Boolean): (DataFrame, Long) = {
    val obs = Observation()
    val out = materialize(
      df.observe(obs, sum(when(flag, 1L).otherwise(0L)).as("__n")), label)
    // the metric arrives on the listener bus, usually within ms, but a
    // busy bus can lag unboundedly
    val observed = Try(Await.result(obs.future, 100.millis)).toOption
      .map(r => if (r.isNullAt(0)) 0L else r.getLong(0)) // no rows: null
    (out, trusted(observed, ends,
      described(out, label)(out.filter(flag).count())))
  }

  /** An observed count is at-least-once: a retried task adds its rows again,
    * nothing takes them away. So it is trusted unless it is missing or
    * acting on it would end the loop or drop open work; then `exact`. */
  def trusted(observed: Option[Long], ends: Long => Boolean,
              exact: => Long): Long = observed match {
    case Some(n) if !ends(n) => n
    case Some(_) => confirms.incrementAndGet(); exact
    case None => fallbacks.incrementAndGet(); exact
  }

  private def described[T](df: DataFrame, label: String)(body: => T): T = {
    val sc = df.sparkSession.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prev)
  }
}
