package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.StageMetricsListener

/** The round driver's trust rule: an observed count is at-least-once, so
  * it is acted on as-is unless acting on it would end a loop or drop open
  * work, or unless it never arrived. */
class RoundsSpec extends AnyFunSuite {
  lazy val spark = graft.sql.SparkTestSession.spark

  private def never: Long = fail("the exact count must not run")

  test("an inflated count that would end the loop is replaced by the exact count") {
    val before = Rounds.confirms.get
    // kNN: a retry inflated 7 retired queries to 10 of 10 open; acting on
    // it would retire the 3 still open
    assert(Rounds.trusted(Some(10L), _ >= 10L, 7L) == 7L)
    // kCore: a kept-edge count inflated up to the previous count reads as
    // "no edge dropped"
    assert(Rounds.trusted(Some(40L), _ >= 40L, 36L) == 36L)
    // a true end is confirmed too, and stays an end
    assert(Rounds.trusted(Some(10L), _ >= 10L, 10L) == 10L)
    assert(Rounds.confirms.get - before == 3L)
  }

  test("any other observed count is used as-is") {
    val before = (Rounds.confirms.get, Rounds.fallbacks.get)
    assert(Rounds.trusted(Some(4L), _ >= 10L, never) == 4L)
    // an open-set or changed-label count never ends a loop by inflation
    assert(Rounds.trusted(Some(0L), _ => false, never) == 0L)
    assert(Rounds.trusted(Some(123L), _ => false, never) == 123L)
    assert((Rounds.confirms.get, Rounds.fallbacks.get) == before)
  }

  test("a timed-out observation uses the exact count") {
    val before = Rounds.fallbacks.get
    assert(Rounds.trusted(None, _ => false, 3L) == 3L)
    assert(Rounds.trusted(None, _ >= 10L, 4L) == 4L)
    assert(Rounds.fallbacks.get - before == 2L)
  }

  test("counted: one materialization under its round's job description") {
    val sc = spark.sparkContext
    val listener = new StageMetricsListener
    sc.setJobDescription("caller")
    sc.addSparkListener(listener)
    try {
      val (out, n) = Rounds.counted(spark.range(0, 10, 1, 3).toDF(),
        "test round 1", col("id") % 2 === 0)(_ => false)
      assert(n == 5L)
      assert(out.count() == 10L)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      graft.pipeline.Metrics.awaitListener(spark, listener)
      val names = listener.drain().map(_.name)
      assert(names.contains("test round 1"), names)
      assert(!names.exists(_.contains("Rounds.scala")), names)
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
    }
  }
}
