package graft.operators

import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sql.GeoOps

/** DBSCAN vs an independent single-node reference (BFS over the literal
  * definition), plus determinism and structure tests. */
class ClusterSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = graft.sql.SparkTestSession.spark
  import spark.implicits._

  /** Literal-definition DBSCAN: O(n^2) neighborhoods, BFS over core-core
    * edges, min-core-id labels, borders to min adjacent label. */
  private def referenceDbscan(pts: Seq[(Long, Double, Double)], eps: Double,
                              minPts: Int): Map[Long, (String, Option[Long])] = {
    val e2 = eps * eps
    def near(a: (Long, Double, Double), b: (Long, Double, Double)) =
      (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3) <= e2
    val neigh = pts.map(p => p._1 ->
      pts.filter(q => q._1 != p._1 && near(p, q)).map(_._1).toSet).toMap
    val core = pts.map(_._1).filter(id => neigh(id).size + 1 >= minPts).toSet
    // min core id per connected core component
    var label = core.map(id => id -> id).toMap
    var changed = true
    while (changed) {
      changed = false
      for (a <- core; b <- neigh(a) if core(b)) {
        val m = math.min(label(a), label(b))
        if (label(a) != m) { label += a -> m; changed = true }
        if (label(b) != m) { label += b -> m; changed = true }
      }
    }
    pts.map { p =>
      val id = p._1
      if (core(id)) id -> ("core", Some(label(id)))
      else {
        val adj = neigh(id).filter(core).map(label)
        if (adj.nonEmpty) id -> ("border", Some(adj.min))
        else id -> ("noise", None)
      }
    }.toMap
  }

  private def seededPoints(n: Int, span: Double): Seq[(Long, Double, Double)] =
    (0 until n).map { i =>
      val lon = (GeoOps.splitmix64(i * 2L + 1) % 100000L).toDouble / 100000.0 * span - span / 2
      val lat = (GeoOps.splitmix64(i * 2L + 2) % 50000L).toDouble / 50000.0 * span / 2 - span / 4
      (i.toLong, lon, lat)
    }

  private def run(pts: Seq[(Long, Double, Double)], eps: Double, minPts: Int,
                  parts: Int = 7): Map[Long, (String, Option[Long])] = {
    val df = spark.createDataFrame(pts).toDF("id", "lon", "lat")
      .repartition(parts)
    Cluster.dbscan(df, "id", "lon", "lat", eps, minPts)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
  }

  test("matches the literal-definition reference across eps/minPts") {
    val pts = seededPoints(300, 20.0)
    for ((eps, minPts) <- Seq((0.8, 3), (1.5, 5), (0.4, 2), (3.0, 8))) {
      val got = run(pts, eps, minPts)
      val want = referenceDbscan(pts, eps, minPts)
      assert(got === want, s"eps=$eps minPts=$minPts")
      // sanity: the parameter grid actually exercises all three roles
      if (eps == 1.5) {
        val roles = got.values.map(_._1).toSet
        assert(roles === Set("core", "border", "noise"))
      }
    }
  }

  test("minPts=1: every point core, isolated points singleton clusters") {
    val pts = Seq((10L, 0.0, 0.0), (11L, 0.1, 0.0), (99L, 50.0, 50.0))
    val got = run(pts, eps = 0.5, minPts = 1)
    assert(got(10L) === ("core", Some(10L)))
    assert(got(11L) === ("core", Some(10L)))
    assert(got(99L) === ("core", Some(99L)))
  }

  test("planted blobs + uniform noise recover exactly the planted clusters") {
    // 3 tight blobs of 40 points (sigma ~0.1) + 50 far-flung noise points
    val blobs = for {
      b <- 0 until 3; i <- 0 until 40
      id = (b * 40 + i).toLong
      cx = b * 30.0; cy = b * 10.0
    } yield (id,
      cx + (GeoOps.splitmix64(id * 7 + 1) % 2000L).toDouble / 10000.0,
      cy + (GeoOps.splitmix64(id * 7 + 2) % 2000L).toDouble / 10000.0)
    val noise = (0 until 50).map { i =>
      val id = (1000 + i).toLong
      (id, 500.0 + i * 17.0, -200.0 - i * 13.0)
    }
    val got = run(blobs ++ noise, eps = 0.5, minPts = 4)
    // note .toSeq first: collecting (c -> id) pairs straight off the Map
    // would collapse to one id per cluster key
    val clusters = got.toSeq
      .collect { case (id, ("core" | "border", Some(c))) => c -> id }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(clusters.keySet === Set(0L, 40L, 80L), "min-id labels per blob")
    assert(clusters(0L) === (0L until 40L).toSet)
    assert(clusters(40L) === (40L until 80L).toSet)
    assert(clusters(80L) === (80L until 120L).toSet)
    noise.foreach { case (id, _, _) => assert(got(id) === ("noise", None)) }
  }

  test("partition-count invariance: 1 vs 13 partitions identical") {
    val pts = seededPoints(200, 12.0)
    assert(run(pts, 1.0, 4, parts = 1) === run(pts, 1.0, 4, parts = 13))
  }

  test("border ambiguity resolves to the minimum adjacent cluster") {
    // two tight 4-point cores 2.0 apart; the midpoint reaches exactly ONE
    // point of each core (the others sit 1.05 / ~1.001 away, > eps), so it
    // has 2 neighbors + itself = 3 < minPts=4 -> border of BOTH clusters
    // -> must take the SMALLER label
    val a = Seq((0L, 0.0, 0.0), (1L, -0.05, 0.0),
      (2L, 0.0, 0.05), (3L, -0.05, 0.05))
    val b = Seq((5L, 2.0, 0.0), (6L, 2.05, 0.0),
      (7L, 2.0, 0.05), (8L, 2.05, 0.05))
    val mid = Seq((9L, 1.0, 0.0))
    val got = run(a ++ b ++ mid, eps = 1.0, minPts = 4)
    assert(got(9L) === ("border", Some(0L)))
    assert(got(0L) === ("core", Some(0L)) && got(5L) === ("core", Some(5L)))
  }

  test("pair join: one ring explode, the cell side broadcast only when it fits") {
    val pts = seededPoints(300, 20.0)
    val want = referenceDbscan(pts, 0.9, 3)
    // dbscan's result and the executed plan of its cached (ida, idb)
    // pairs; each call partitions differently, so no cache is shared
    def pairsPlan(parts: Int): SparkPlan = {
      val out = Cluster.dbscan(spark.createDataFrame(pts).toDF("id", "lon", "lat")
        .repartition(parts), "id", "lon", "lat", 0.9, 3)
      val got = out.collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      assert(got === want)
      out.queryExecution.optimizedPlan.collectFirst {
        case r: InMemoryRelation if r.output.map(_.name) == Seq("ida", "idb") =>
          r.cachedPlan
      }.get
    }
    def generates(p: SparkPlan) = collect(p) { case g: GenerateExec => g }
    def check(p: SparkPlan): Seq[BroadcastHashJoinExec] = {
      assert(generates(p).size == 1, p)
      assert(collect(p) { case j: BroadcastNestedLoopJoinExec => j
        case j: CartesianProductExec => j }.isEmpty, p)
      collect(p) { case j: BroadcastHashJoinExec => j }
    }
    // 300 rows of (idb, blon, blat, __key) estimate at 12,000 B
    val Seq(bhj) = check(pairsPlan(5))
    assert(bhj.buildSide == BuildRight && generates(bhj.right).isEmpty, bhj)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1k")
    try assert(check(pairsPlan(6)).isEmpty)
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
