package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ProfileSpec extends AnyFunSuite {
  lazy val spark = graft.sql.SparkTestSession.spark

  private def isMarker(props: java.util.Properties): Boolean =
    props != null && Option(props.getProperty("spark.jobGroup.id"))
      .exists(_.startsWith("graft-metrics-marker"))

  /** Jobs and stages the body submits, seen by a second listener. */
  private class Submitted extends SparkListener {
    val jobs = ConcurrentHashMap.newKeySet[Int]()
    val stages = ConcurrentHashMap.newKeySet[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (!isMarker(e.properties)) jobs.add(e.jobId)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (!isMarker(e.properties)) stages.add(e.stageInfo.stageId)
  }

  test("Profile.measure reports every stage of a two-job run with its span") {
    val seen = new Submitted
    spark.sparkContext.addSparkListener(seen)
    val ((n1, n2), run) = try Profile.measure(spark) {
      val df = spark.range(0, 20000, 1, 4).withColumn("k", col("id") % 7)
      val a = df.repartition(3).count()
      val b = df.groupBy("k").count().collect().length.toLong
      (a, b)
    } finally spark.sparkContext.removeSparkListener(seen)
    assert(n1 == 20000L && n2 == 7L)
    assert(seen.jobs.size >= 2)

    val reported = run.stages.map(_.stageId)
    assert(reported.distinct.size == reported.size)
    assert(reported.toSet == seen.stages.toArray.toSet)
    run.stages.foreach { s =>
      assert(s.submittedMs > 0, s)
      assert(s.completedMs >= s.submittedMs, s)
      assert(s.json.contains(s""""submitted_ms":${s.submittedMs},"completed_ms":${s.completedMs}}"""))
    }
    assert(run.stages.map(_.submittedMs) == run.stages.map(_.submittedMs).sorted)
    assert(run.coveredMs > 0)
    assert(run.coveredMs <= run.wallMs)

    val text = Profile.report("two_jobs", run)
    assert(run.stages.forall(s => text.contains(s.name)))
    assert(text.contains("driver/planning"))
  }

  test("coveredMs is the length of the union of intervals") {
    // [0,10) and [5,15) overlap into [0,15); [20,25) is disjoint: 15 + 5
    assert(Profile.coveredMs(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Profile.coveredMs(Seq((20L, 25L), (5L, 15L), (0L, 10L))) == 20L)
    // a nested interval adds nothing; empty and inverted ones count as 0
    assert(Profile.coveredMs(Seq((0L, 10L), (2L, 4L), (7L, 7L), (9L, 3L))) == 10L)
    assert(Profile.coveredMs(Nil) == 0L)
  }
}
