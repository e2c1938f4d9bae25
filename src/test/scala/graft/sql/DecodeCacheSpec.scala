package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.{StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Geom, Measure, Pip, Wkt}
import graft.operators.SpatialJoins

/** The per-thread polygon decode cache behind `st_containsxy`,
  * `st_contains`, `st_intersects` and the rasterizer. Its key reads only a
  * bounded prefix of the row, so the fixtures here are polygons whose keys
  * collide on purpose: the same vertex count and the same first seven
  * vertices, different further along the ring. Every join result must
  * equal the brute-force predicate over the decoded geometries. */
class DecodeCacheSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  // shared prefix along the bottom edge, then a top edge whose three
  // heights differ for every i < 504 (CRT over 8, 9, 7)
  private def collidingWkt(i: Int): String = {
    val a = 2 + i % 8
    val b = 1 + (i * 3) % 9
    val c = 2 + (i * 5) % 7
    s"POLYGON ((0 0, 1 0, 2 0, 3 0, 4 0, 5 0, 10 0, 10 $a, 5 $b, 0 $c, 0 0))"
  }

  private val nPolys = 40
  private lazy val polyWkt = (0 until nPolys).map(i => (i.toLong, collidingWkt(i)))
  private lazy val polyGeoms = polyWkt.map { case (id, w) => (id, Wkt.parse(w)) }
  private def polyDf = polyWkt.toDF("poly_id", "wkt")
    .selectExpr("poly_id", "st_geomfromwkt(wkt) AS poly")

  private def rand(seed: Long, i: Int, lo: Double, hi: Double): Double =
    lo + java.lang.Long.remainderUnsigned(GeoOps.splitmix64(seed * 1000003L + i),
      1000000L) / 1000000.0 * (hi - lo)

  private lazy val points = (0 until 3000).map { i =>
    (i.toLong, rand(1L, i, -0.5, 10.5), rand(2L, i, -0.5, 9.5))
  }

  private val nested = UnsafeProjection.create(
    StructType(Seq(StructField("g", GeoStruct.dataType))))

  /** The geometry as the nested UnsafeRow a kernel receives inside a plan;
    * the projection reuses one buffer, so the row is only valid until the
    * next call. */
  private def unsafeRow(g: Geom): UnsafeRow =
    nested(InternalRow(GeoStruct.encode(g))).getStruct(0, GeoStruct.dataType.length)

  private lazy val expectedPip: Set[(Long, Long)] = (for {
    (pid, x, y) <- points
    (polyId, g) <- polyGeoms
    if Pip.containsPoint(g, x, y)
  } yield (pid, polyId)).toSet

  test("fixture polygons share one cache key") {
    val keys = polyGeoms.map { case (_, g) => GeoOps.cacheKey(unsafeRow(g)) }.toSet
    assert(keys.size == 1, s"expected one colliding key, got ${keys.size}")
    // the key still tells apart rows that differ in the first coordinates,
    // also past 256 vertices where the coordinate array's null bitset alone
    // outgrows a 128-byte prefix
    def ring(x0: Double): Geom = {
      val n = 300
      val pts = (0 to n).map { k =>
        val t = 2 * math.Pi * (k % n) / n
        s"${math.cos(t) + (if (k % n == 0) x0 else 0.0)} ${math.sin(t)}"
      }
      Wkt.parse(pts.mkString("POLYGON ((", ", ", "))"))
    }
    assert(GeoOps.cacheKey(unsafeRow(ring(0.0))) != GeoOps.cacheKey(unsafeRow(ring(0.5))))
  }

  test("a reused row buffer never serves the previous polygon") {
    for ((_, g) <- polyGeoms; (_, x, y) <- points.take(200)) {
      // every call rewrites the projection's buffer with a colliding polygon
      assert(GeoOps.containsXY(unsafeRow(g), x, y) == Pip.containsPoint(g, x, y))
    }
  }

  test("pipJoin, broadcast polygons: equals brute-force Pip.containsPoint") {
    val got = SpatialJoins.pipJoin(points.toDF("pid", "lon", "lat"), polyDf, "poly",
        "lon", "lat", zoom = 6, broadcastPolys = true)
      .select("pid", "poly_id").as[(Long, Long)].collect()
    assert(got.length == got.toSet.size)
    assert(got.toSet == expectedPip)
    assert(expectedPip.nonEmpty)
  }

  test("pipJoin, sort-merge path over shuffle buffers: equals brute force") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SpatialJoins.pipJoin(points.toDF("pid", "lon", "lat"), polyDf, "poly",
          "lon", "lat", zoom = 6, broadcastPolys = false)
        .select("pid", "poly_id").as[(Long, Long)]
      val got = df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      assert(got.length == got.toSet.size)
      assert(got.toSet == expectedPip)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("st_intersects with colliding second arguments: equals brute-force Measure.intersects") {
    val segs = (0 until 600).map { i =>
      val x = rand(3L, i, -0.5, 10.5)
      val y = rand(4L, i, 0.5, 9.5)
      (i.toLong, s"LINESTRING ($x $y, ${x + 0.3} ${y + rand(5L, i, -0.4, 0.4)})")
    }
    val left = segs.toDF("sid", "w").selectExpr("sid", "st_geomfromwkt(w) AS seg")
    val got = SpatialJoins.intersectsJoin(left, polyDf, "seg", "poly", zoom = 6)
      .select("sid", "poly_id").as[(Long, Long)].collect()
    val expected = (for {
      (sid, w) <- segs
      seg = Wkt.parse(w)
      (polyId, g) <- polyGeoms
      if Measure.intersects(seg, g)
    } yield (sid, polyId)).toSet
    assert(got.length == got.toSet.size)
    assert(got.toSet == expected)
    // the segments end inside the top band, so some cross only part of the
    // family: the answer depends on which colliding polygon is decoded
    assert(expected.nonEmpty && expected.size < segs.size * nPolys)
  }
}
