package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Metrics, StageMetricsListener}
import graft.sql.GeoOps

/** What each iterative loop costs in Spark actions, and what it leaves
  * behind in the cache. */
class LoopActionsSpec extends AnyFunSuite {
  lazy val spark = graft.sql.SparkTestSession.spark
  import spark.implicits._

  /** SQL executions started by `body`, less the exact counts [[Rounds]]
    * ran only because an observed count was late (timing, not the loop's
    * design). Jobs are not counted: AQE splits one action into several. */
  private def executions(body: => Unit): Long = {
    val sc = spark.sparkContext
    val n = new AtomicLong
    val counter = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => n.incrementAndGet()
        case _ =>
      }
    }
    // same listener queue as the counter, so the barrier flushes it too
    val barrier = new StageMetricsListener
    sc.addSparkListener(counter)
    sc.addSparkListener(barrier)
    try {
      assert(Metrics.awaitListener(spark, barrier))
      n.set(0)
      val fallbacks = Rounds.fallbacks.get
      body
      assert(Metrics.awaitListener(spark, barrier))
      n.get - (Rounds.fallbacks.get - fallbacks)
    } finally {
      sc.removeSparkListener(counter)
      sc.removeSparkListener(barrier)
    }
  }

  private def chain: DataFrame =
    (0 until 5).map(i => (200L + i, 201L + i)).toDF("src", "dst")

  private def planar: (DataFrame, DataFrame) = {
    val pts = (0 until 4000).map { i =>
      val h = GeoOps.splitmix64(100L + i)
      (i.toLong, java.lang.Long.remainderUnsigned(h, 3600000L) / 10000.0 - 180.0,
        java.lang.Long.remainderUnsigned(
          java.lang.Long.divideUnsigned(h, 3600000L), 1700000L) / 10000.0 - 85.0)
    }.toDF("pid", "lon", "lat")
    val qs = (0 until 200).map { i =>
      val h = GeoOps.splitmix64(9999L + i)
      (i.toLong, java.lang.Long.remainderUnsigned(h, 3400000L) / 10000.0 - 170.0,
        java.lang.Long.remainderUnsigned(
          java.lang.Long.divideUnsigned(h, 3400000L), 1500000L) / 10000.0 - 75.0)
    }.toDF("qid", "qlon", "qlat")
    (pts, qs)
  }

  /** A dense town plus a sparse global scatter: queries start at several
    * levels. */
  private def town: (DataFrame, DataFrame) = {
    val pts = ((0 until 2000).map { i =>
      val h = GeoOps.splitmix64(42L + i)
      (i.toLong, 10.0 + java.lang.Long.remainderUnsigned(h, 10000L) / 10000.0,
        50.0 + java.lang.Long.remainderUnsigned(
          java.lang.Long.divideUnsigned(h, 10000L), 10000L) / 10000.0)
    } ++ (0 until 100).map { i =>
      val h = GeoOps.splitmix64(900L + i)
      (2000L + i, java.lang.Long.remainderUnsigned(h, 3600000L) / 10000.0 - 180.0,
        java.lang.Long.remainderUnsigned(
          java.lang.Long.divideUnsigned(h, 3600000L), 1600000L) / 10000.0 - 80.0)
    }).toDF("pid", "lon", "lat")
    val qs = Seq((1L, 10.5, 50.5), (2L, -120.0, -30.0), (3L, 10.5, 49.0),
      (4L, 170.0, 75.0)).toDF("qid", "qlon", "qlat")
    (pts, qs)
  }

  private def ccChain: DataFrame =
    (0 until 199).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")

  private val web = Seq((1L, 0L), (2L, 0L), (3L, 0L), (1L, 2L), (2L, 1L),
    (3L, 4L), (0L, 1L))

  // Each figure counts the call and one collect of its result. "was" is
  // the figure before the loops shared one round driver.
  test("actions per loop call") {
    // 3 peel rounds + the round that drops nothing: input, 4 rounds, the
    // confirmed stop, result, collect (was 10, two per peel round)
    assert(executions(Graph.kCore(chain, "src", "dst", 2).collect()) == 8L)
    val (pts, qs) = planar
    // the open count rides the open-set checkpoint (was 6)
    assert(executions(Knn.knnJoin(pts, qs, k = 3, res = 6.0,
      tieCols = Seq("pid")).collect()) == 6L)
    val (tpts, tqs) = town
    // no count per entering level; a level group that retires whole folds
    // its anti-join into the next entry (was 14)
    assert(executions(Knn.knnMetersJoinAdaptive(tpts, tqs, k = 4,
      tieCols = Seq("pid")).collect()) == 13L)
    assert(executions(Dedup.dupClusters(ccChain).collect()) == 12L) // was 12
    val edges = web.toDF("src", "dst")
    assert(executions(Graph.pageRank(edges, "src", "dst", 3).collect()) == 1L) // was 1
    // one checkpoint at round 8 (was 2)
    assert(executions(Graph.pageRank(edges, "src", "dst", 10).collect()) == 2L)
  }

  test("operators leave nothing in the cache") {
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val pts = (0 until 300).map { i =>
      val h = GeoOps.splitmix64(7L + i)
      (i.toLong, java.lang.Long.remainderUnsigned(h, 1000L) / 100.0,
        java.lang.Long.remainderUnsigned(h >>> 20, 1000L) / 100.0)
    }.toDF("id", "lon", "lat")
    val runs: Seq[(String, () => DataFrame)] = Seq(
      "dbscan" -> (() => Cluster.dbscan(pts, "id", "lon", "lat", 0.5, 3)),
      "pageRank" -> (() => Graph.pageRank(web.toDF("src", "dst"), "src", "dst", 10)),
      "kCore" -> (() => Graph.kCore(chain, "src", "dst", 2)),
      "dupClusters" -> (() => Dedup.dupClusters(ccChain)),
      "knnJoin" -> (() => Knn.knnJoin(planar._1, planar._2, k = 3, res = 6.0,
        tieCols = Seq("pid"))),
      "knnMetersJoinAdaptive" -> (() => Knn.knnMetersJoinAdaptive(
        town._1, town._2, k = 4, tieCols = Seq("pid"))))
    runs.foreach { case (name, run) =>
      run().collect()
      assert(cache.isEmpty, s"$name left a cache entry")
    }
  }
}
