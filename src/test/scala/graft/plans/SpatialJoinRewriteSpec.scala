package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SpatialJoins
import graft.sources.ImagesTable
import graft.sql.Geo

class SpatialJoinRewriteSpec extends AnyFunSuite {
  lazy val spark = graft.sql.SparkTestSession.spark
  import spark.implicits._

  /** `n` points over the whole lon/lat range: (pid, lon, lat). */
  private def lonLat(n: Int, seed: Long) = (0 until n).map { i =>
    val h = graft.sql.GeoOps.splitmix64(seed + i)
    (i.toLong,
      java.lang.Long.remainderUnsigned(h, 3600000L) / 10000.0 - 180.0,
      java.lang.Long.remainderUnsigned(
        java.lang.Long.divideUnsigned(h, 3600000L), 1700000L) / 10000.0 - 85.0)
  }.toDF("pid", "lon", "lat")

  /** `n` points in [0, 60) × [0, 40). */
  private def points(seed: Long, n: Int) = (0 until n).map { i =>
    val h = graft.sql.GeoOps.splitmix64(seed + i)
    (i.toLong,
      java.lang.Long.remainderUnsigned(h, 600000L) / 10000.0,
      java.lang.Long.remainderUnsigned(
        java.lang.Long.divideUnsigned(h, 600000L), 400000L) / 10000.0)
  }

  /** `n` 4°×3° boxes: (bid, bg). */
  private def boxes(n: Int, seed: Long) = {
    Geo.register(spark)
    (0 until n).map { i =>
      val h = graft.sql.GeoOps.splitmix64(seed + i)
      (i.toLong,
        java.lang.Long.remainderUnsigned(h, 3400000L) / 10000.0 - 170.0,
        java.lang.Long.remainderUnsigned(
          java.lang.Long.divideUnsigned(h, 3400000L), 1500000L) / 10000.0 - 75.0)
    }.toDF("bid", "lon", "lat")
      .selectExpr("bid",
        "st_boxtopolygon(lon - 2.0, lat - 1.5, lon + 2.0, lat + 1.5) AS bg")
  }

  private def generates(df: DataFrame): Seq[Generate] =
    df.queryExecution.optimizedPlan.collect { case g: Generate => g }

  // --- contains / containsXY

  test("naive st_contains join is rewritten to a hash-joinable equi-join") {
    Geo.register(spark)
    val pts = lonLat(2000, 55L)
    val polys = ImagesTable.polygonLayer(spark)

    // the naive formulation a user would write: no join keys, just the
    // spatial predicate
    val naive = pts.join(polys,
      call_function("st_containsxy", col("poly"), col("lon"), col("lat")))
    val plan = naive.queryExecution.executedPlan.toString

    assert(!plan.contains("NestedLoopJoin"),
      s"rewrite should eliminate the nested-loop join:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected a keyed join in:\n$plan")

    // results identical to the hand-built cover join
    val got = naive.select("pid", "poly_id").as[(Long, Long)].collect().toSet
    val expected = SpatialJoins.pipJoin(pts, polys, "poly", "lon", "lat", zoom = 6)
      .select("pid", "poly_id").as[(Long, Long)].collect().toSet
    assert(got == expected && got.nonEmpty)
  }

  test("st_contains (geometry-geometry) joins rewrite too") {
    Geo.register(spark)
    val pts = lonLat(500, 77L)
      .withColumn("pt", call_function("st_point", col("lon"), col("lat")))
    val polys = ImagesTable.polygonLayer(spark)
    val naive = polys.join(pts, call_function("st_contains", col("poly"), col("pt")))
    val plan = naive.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin"), plan)
    val got = naive.select("pid", "poly_id").as[(Long, Long)].collect().toSet
    val expected = SpatialJoins.pipJoin(pts, polys, "poly", "lon", "lat", zoom = 6)
      .select("pid", "poly_id").as[(Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("joins that already have an equality are left alone") {
    Geo.register(spark)
    val a = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val b = Seq((1L, "x"), (3L, "y")).toDF("k2", "w")
    val joined = a.join(b, col("k") === col("k2"))
    assert(joined.count() == 1)
  }

  // --- dwithinXY

  test("naive st_dwithinxy join is rewritten to a grid equi-join") {
    Geo.register(spark)
    val a = points(11L, 3000).toDF("aid", "ax", "ay")
    val b = points(99L, 60).toDF("bid", "bx", "by")

    val naive = a.join(b, call_function("st_dwithinxy",
      col("ax"), col("ay"), col("bx"), col("by"), lit(0.5)))
    val plan = naive.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"rewrite should eliminate the nested-loop join:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected a keyed join in:\n$plan")

    // results identical to the brute-force distance filter
    val got = naive.select("aid", "bid").as[(Long, Long)].collect().toSet
    val expected = a.crossJoin(b)
      .filter((col("ax") - col("bx")) * (col("ax") - col("bx")) +
        (col("ay") - col("by")) * (col("ay") - col("by")) <= 0.25)
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    assert(got == expected && got.nonEmpty)
  }

  test("non-literal radius is left alone (no silent wrong cover)") {
    Geo.register(spark)
    val a = points(5L, 50).toDF("aid", "ax", "ay")
    val b = points(6L, 50).toDF("bid", "bx", "by")
    // radius comes from a column — cell res can't be chosen at plan time
    val naive = a.crossJoin(b).filter(call_function("st_dwithinxy",
      col("ax"), col("ay"), col("bx"), col("by"), col("ax") * 0 + 0.3))
    val expected = a.crossJoin(b)
      .filter((col("ax") - col("bx")) * (col("ax") - col("bx")) +
        (col("ay") - col("by")) * (col("ay") - col("by")) <= 0.09)
      .count()
    assert(naive.count() == expected)
  }

  // --- intersects

  test("naive st_intersects join is rewritten to a hash-joinable equi-join, exactly once") {
    val left = boxes(1500, 91L)
    val polys = ImagesTable.polygonLayer(spark).selectExpr("poly_id", "poly AS pg")

    // the naive formulation a user would write: no join keys at all
    val naive = left.join(polys,
      call_function("st_intersects", col("bg"), col("pg")))
    val plan = naive.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin"),
      s"rewrite should eliminate the nested-loop join:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)

    // results identical to the hand-built operator — and each pair once
    // (the min-shared-cover-tile claim rides the rewritten condition)
    val got = naive.select("bid", "poly_id").as[(Long, Long)].collect().toSeq
    assert(got.size == got.toSet.size, "rewrite must not duplicate pairs")
    val expected = SpatialJoins.intersectsJoin(left, polys, "bg", "pg",
        zoom = 6)
      .select("bid", "poly_id").as[(Long, Long)].collect().toSet
    assert(got.toSet == expected && expected.nonEmpty)
  }

  test("joins that already have an equality key are left alone") {
    val a = boxes(50, 13L).withColumn("k", col("bid") % 5)
    // same positions slightly shifted — guaranteed overlaps per key
    val b = boxes(50, 13L).withColumn("k", col("bid") % 5)
      .selectExpr("k",
        "st_translate(bg, CAST(0.5 AS DOUBLE), CAST(0.5 AS DOUBLE)) AS bg2")
    val keyed = a.join(b, a("k") === b("k") &&
      call_function("st_intersects", col("bg"), col("bg2")))
    val analyzed = keyed.queryExecution.optimizedPlan.toString
    assert(!analyzed.contains("__ltile"),
      s"hash-joinable joins must not be rewritten:\n$analyzed")
    assert(keyed.count() > 0)
  }

  // --- all three

  test("a join with a cross-side equality gets no cover or ring explode, for each predicate") {
    Geo.register(spark)
    val pts = lonLat(400, 31L).withColumn("k", col("pid") % 3)
      .withColumn("pt", call_function("st_point", col("lon"), col("lat")))
    val polys = ImagesTable.polygonLayer(spark).withColumn("k2", col("poly_id") % 3)
    val keyed = Seq(
      "st_containsxy" -> pts.join(polys, col("k") === col("k2") &&
        call_function("st_containsxy", col("poly"), col("lon"), col("lat"))),
      "st_dwithinxy" -> pts.join(
        lonLat(50, 32L).toDF("qid", "qlon", "qlat").withColumn("k2", col("qid") % 3),
        col("k") === col("k2") && call_function("st_dwithinxy",
          col("lon"), col("lat"), col("qlon"), col("qlat"), lit(20.0))),
      "st_intersects" -> pts.join(polys, col("k") === col("k2") &&
        call_function("st_intersects", col("poly"), col("pt"))))
    keyed.foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan
      assert(generates(df).isEmpty, s"$name: keyed join was rewritten:\n$plan")
      assert(df.count() > 0, name)
    }
  }

  test("every SpatialJoins operator is keyed once, by its CoverKeys shape") {
    Geo.register(spark)
    val pts = lonLat(500, 77L)
    val polys = ImagesTable.polygonLayer(spark)
    val queries = lonLat(20, 78L).toDF("qid", "qlon", "qlat")
    val (a, b) = (boxes(60, 79L), boxes(40, 80L).toDF("bid2", "bg2"))
    // key × cover explodes one side, cover × cover both
    val ops = Seq(
      ("pipJoin", 1, SpatialJoins.pipJoin(pts, polys, "poly", "lon", "lat")),
      ("pipJoinCells", 1, SpatialJoins.pipJoinCells(pts, polys, "poly", "lon", "lat")),
      ("withinDistanceJoin", 1, SpatialJoins.withinDistanceJoin(pts, queries, 5.0)),
      ("withinDistanceMetersJoin", 1,
        SpatialJoins.withinDistanceMetersJoin(pts, queries, 500000.0)),
      ("intersectsJoin", 2, SpatialJoins.intersectsJoin(a, b, "bg", "bg2")),
      ("hausdorffJoin", 2, SpatialJoins.hausdorffJoin(a, b, "bg", "bg2", 3.0)))
    ops.foreach { case (name, explodes, df) =>
      val plan = df.queryExecution.optimizedPlan.toString
      assert(generates(df).size == explodes, s"$name:\n$plan")
      assert(!df.queryExecution.executedPlan.toString.contains("NestedLoopJoin"),
        s"$name:\n${df.queryExecution.executedPlan}")
      df.count()
    }
  }

  test("a join on st_containsxy AND st_intersects is keyed once, on the contains tile") {
    Geo.register(spark)
    val pts = lonLat(500, 41L)
      .withColumn("pt", call_function("st_point", col("lon"), col("lat")))
    val polys = ImagesTable.polygonLayer(spark)
    val both = pts.join(polys,
      call_function("st_containsxy", col("poly"), col("lon"), col("lat")) &&
        call_function("st_intersects", col("poly"), col("pt")))
    val plan = both.queryExecution.optimizedPlan.toString
    // keyed by the contains case: its one explode is the polygons'
    // zoom-7 tile cover, and no intersects claim was added
    val Seq(gen) = generates(both)
    assert(gen.generator.toString.contains("tileCover(poly"), plan)
    assert(gen.generator.toString.contains(", 7)"), plan)
    assert(!plan.contains("minSharedTile"), plan)

    // brute force: every pair, both predicates evaluated as columns (a
    // join with no condition is never rewritten)
    val expected = pts.crossJoin(polys)
      .select(col("pid"), col("poly_id"),
        call_function("st_containsxy", col("poly"), col("lon"), col("lat")).as("c"),
        call_function("st_intersects", col("poly"), col("pt")).as("i"))
      .as[(Long, Long, Boolean, Boolean)].collect()
      .collect { case (pid, polyId, true, true) => (pid, polyId) }.toSet
    val got = both.select("pid", "poly_id").as[(Long, Long)].collect().toSet
    assert(got == expected && got.nonEmpty)
  }
}
