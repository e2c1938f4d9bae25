package graft.sql

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AdaptiveCells

/** Inference / coercion fixtures (FIXTURES.md §3, mirroring
  * `/root/reference/tests/testthat/test-infer-default.R`), metadata
  * round-trips, common-type concat, and adaptive cell split. */
class GeoSchemaSpec extends AnyFunSuite {
  lazy val spark = graft.sql.SparkTestSession.spark
  import spark.implicits._

  private def geoms(wkts: String*) =
    wkts.toSeq.toDF("wkt")
      .withColumn("g", call_function("st_geomfromwkt", col("wkt")))

  test("coercion: multi promotion") {
    import GeoSchema._
    assert(inferGeoType(geoms("POINT (1 2)", "MULTIPOINT (1 2, 3 4)"), "g")
      == InferredType(4, 1, isWkbFallback = false))
    assert(inferGeoType(geoms("LINESTRING (1 2, 3 4)",
      "MULTILINESTRING ((1 2, 3 4))"), "g")
      == InferredType(5, 1, isWkbFallback = false))
    assert(inferGeoType(geoms("POLYGON ((0 0, 1 0, 1 1, 0 0))",
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))"), "g")
      == InferredType(6, 1, isWkbFallback = false))
  }

  test("coercion: single type, mixed dims promote to union") {
    import GeoSchema._
    assert(inferGeoType(geoms("POINT (1 2)"), "g")
      == InferredType(1, 1, isWkbFallback = false))
    assert(inferGeoType(geoms("POINT (1 2)", "POINT Z (1 2 3)"), "g")
      == InferredType(1, 2, isWkbFallback = false))
    assert(inferGeoType(geoms("POINT Z (1 2 3)", "POINT M (1 2 3)"), "g")
      == InferredType(1, 4, isWkbFallback = false))
  }

  test("coercion: mixed types and collections fall back to WKB") {
    import GeoSchema._
    assert(inferGeoType(geoms("POINT (1 2)", "LINESTRING (1 2, 3 4)"), "g")
      .isWkbFallback)
    assert(inferGeoType(
      geoms("GEOMETRYCOLLECTION (POINT (1 2))"), "g").isWkbFallback)
    // EMPTYs don't count as any type (K6 semantics)
    assert(inferGeoType(geoms("POINT EMPTY", "LINESTRING (1 2, 3 4)"), "g")
      == InferredType(2, 1, isWkbFallback = false))
  }

  test("metadata JSON round trip incl. quote escaping and projjson") {
    import GeoSchema._
    assert(serializeMetadata(None) == "{}")
    assert(serializeMetadata(Some("EPSG:4326")) == """{"crs":"EPSG:4326"}""")
    assert(serializeMetadata(Some("""has "quote""""))
      == """{"crs":"has \"quote\""}""")
    assert(serializeMetadata(None, "spherical") == """{"edges":"spherical"}""")
    val m = serializeMetadata(Some(Crs84Projjson), "spherical")
    val (crs, edges) = parseMetadata(m)
    assert(crs.contains(Crs84Projjson) && edges == "spherical")
    val (crs2, edges2) = parseMetadata("""{"crs":"has \"quote\""}""")
    assert(crs2.contains("""has "quote"""") && edges2 == "planar")
    intercept[IllegalArgumentException](parseMetadata("not json"))
  }

  test("jsonMembers: decoded strings, raw objects, null apart from missing") {
    import GeoSchema._
    val m = jsonMembers(
      s"""{ "s" : "a\\"b\\\\c\\u00e9" , "o":$Crs84Projjson, "a":[1, {"x":"]"}],
         |"n":null, "num":-1.5e3, "t":true }""".stripMargin)
    assert(m("s").contains("a\"b\\cé"))
    assert(m("o").contains(Crs84Projjson)) // raw text, byte for byte
    assert(m("a").contains("""[1, {"x":"]"}]"""))
    assert(m("n").isEmpty && m.contains("n") && !m.contains("missing"))
    assert(m("num").contains("-1.5e3") && m("t").contains("true"))
    assert(jsonMembers("{}").isEmpty)
    for (bad <- Seq("not json", "[1]", """{"a":1""", """{"a":1} x""", ""))
      intercept[IllegalArgumentException](jsonMembers(bad))
    // "crs": null is no crs, not the text "null"
    assert(parseMetadata("""{"crs":null,"edges":"spherical"}""") ==
      ((None, "spherical")))
  }

  test("crs with a control character survives withGeoMetadata -> parseField") {
    import GeoSchema._
    val crs = "AUTH:\u0001ctl\bb\ff"
    val df = withGeoMetadata(geoms("POINT (1 2)"), "g", 1, 1, Some(crs))
    assert(parseField(df.schema("g")).crs.contains(crs))
  }

  test("foreign metadata with \\b, \\f and \\/ escapes reads back") {
    import GeoSchema._
    assert(parseMetadata("""{"crs":"a\bb\fc\/dA"}""")._1
      .contains("a\bb\fc/dA"))
  }

  test("field metadata attach + parse (S1/S2)") {
    import GeoSchema._
    val df = withGeoMetadata(geoms("POINT Z (1 2 3)"), "g", 1, 2,
      Some(Crs84Projjson), "spherical")
    val parsed = parseField(df.schema(df.schema.fieldIndex("g")))
    assert(parsed.geometryType == 1 && parsed.dims == 2)
    assert(parsed.extension == "geoarrow.point")
    assert(parsed.coordType == CoordType.Interleaved)
    assert(parsed.crsType == CrsType.Projjson && parsed.crs.contains(Crs84Projjson))
    assert(parsed.edges == "spherical")
  }

  test("all six serialized type ids parse; large/view normalize (type.R:393-401)") {
    import GeoSchema._
    import org.apache.spark.sql.types._
    for ((raw, norm) <- Seq(WkbId -> WkbId, LargeWkbId -> WkbId,
        WkbViewId -> WkbId, WktId -> WktId, LargeWktId -> WktId,
        WktViewId -> WktId)) {
      val md = new MetadataBuilder()
        .putString("geoarrow.extension",
          if (norm == WkbId) "geoarrow.wkb" else "geoarrow.wkt")
        .putLong("geoarrow.type_id", raw.toLong)
        .build()
      val dt = if (norm == WkbId) BinaryType else StringType
      val p = parseField(StructField("g", dt, nullable = true, md))
      assert(p.typeId == norm, s"raw id $raw must normalize to $norm")
      assert(p.geometryType == 0 && p.dims == 0) // serialized: type unknown
    }
  }

  test("crs/edges propagate through casts (test-array.R:21-30)") {
    // kernel-output schema copies input crs/edges (geoarrow.c:1599-1606)
    val df = GeoSchema.withGeoMetadata(geoms("POINT (1 2)"), "g",
      geometryType = 1, dims = 1, crs = Some(GeoSchema.Crs84Projjson),
      edges = "planar")
    val cast = GeoSchema.castType(df, "g", "multipoint")
    val p = GeoSchema.parseField(cast.schema("g"))
    assert(p.geometryType == 4) // type id updated by the cast
    assert(p.crs.contains(GeoSchema.Crs84Projjson)) // crs carried over
    assert(p.edges == "planar")
    assert(cast.select(call_function("st_typeid", col("g")))
      .collect()(0).getInt(0) == 4)
    // dims cast keeps crs and updates dims
    val dcast = GeoSchema.castDims(cast, "g", "xyz")
    val pd = GeoSchema.parseField(dcast.schema("g"))
    assert(pd.dims == 2 && pd.crs.contains(GeoSchema.Crs84Projjson))
  }

  test("planar-only kernels refuse non-planar edges (geoarrow.c:1747-1750)") {
    Geo.register(spark)
    val df = GeoSchema.withGeoMetadata(geoms("POINT (1 2)"), "g",
      geometryType = 1, dims = 1, crs = None, edges = "spherical")
    val err = intercept[Exception] {
      df.select(call_function("st_envelope", col("g"))).collect()
    }
    assert(err.getMessage.contains("non-planar"))
    val errAgg = intercept[Exception] {
      df.agg(call_function("st_box_agg", col("g"))).collect()
    }
    assert(errAgg.getMessage.contains("non-planar"))
    // planar-tagged columns pass
    val ok = GeoSchema.withGeoMetadata(geoms("POINT (1 2)"), "g", 1, 1)
    assert(ok.select(call_function("st_envelope", col("g"))).count() == 1)
  }

  test("concatGeo: same type unions natively, mixed casts to WKB") {
    import GeoSchema._
    val a = geoms("POINT (1 2)")
    val b = geoms("POINT (3 4)")
    val same = concatGeo(a, b, "g")
    assert(same.schema("g").dataType == GeoStruct.dataType)
    assert(same.count() == 2)
    val c = geoms("LINESTRING (1 2, 3 4)")
    val mixed = concatGeo(a, c, "g")
    assert(mixed.schema("g").dataType == org.apache.spark.sql.types.BinaryType)
    assert(mixed.count() == 2)
  }

  test("adaptive cell split re-keys hot cells to finer level") {
    // 1000 points in one tight cluster (hot cell) + 50 scattered
    val hot = (0 until 1000).map(i => (5.001 + (i % 10) * 1e-4, 45.001 + (i / 10) * 1e-4))
    val cold = (0 until 50).map(i => (-150.0 + i * 5.0, -60.0 + i * 2.0))
    val df = (hot ++ cold).toDF("lon", "lat")
    val out = AdaptiveCells.splitHotCells(df, "lon", "lat",
      baseLevel = 4, fineLevel = 10, threshold = 100)
    val counts = out.groupBy("cell").count().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // hot cluster got split across multiple finer cells
    val hotCells = counts.filter(_._2 > 10)
    assert(counts.length > 2)
    hotCells.foreach { case (cell, _) =>
      assert(graft.core.Cells.level(cell) == 10,
        s"hot cell $cell should be re-keyed to level 10")
    }
    // every cold point keeps its base-level cell
    assert(counts.exists { case (c, _) => graft.core.Cells.level(c) == 4 })
    assert(out.count() == 1050)
  }
}
