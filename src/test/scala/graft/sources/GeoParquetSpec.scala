package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.sql.{Geo, GeoSchema}

class GeoParquetSpec extends AnyFunSuite {
  lazy val spark = graft.sql.SparkTestSession.spark

  /** A one-file parquet table of `sql`'s rows whose footer carries `geo` as
    * its GeoParquet metadata, the way a foreign writer leaves it (no
    * sidecar). */
  private def foreignTable(sql: String, geo: String): String = {
    Geo.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("geoparquet_foreign").toString
    spark.sql(sql).coalesce(1).write.mode("overwrite").parquet(dir)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try files.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(GeoParquet.setFooterKeyValue(_, "geo", geo))
    finally files.close()
    dir
  }

  private def wkbTable(geo: String) = foreignTable(
    "SELECT id, st_aswkb(st_point(CAST(id AS DOUBLE), 1.0)) AS geom FROM range(3)",
    geo)

  private def parsedGeom(df: org.apache.spark.sql.DataFrame) =
    GeoSchema.parseField(df.schema("geom"))

  test("GeoParquet write/read round trip with metadata") {
    Geo.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("geoparquet").toString
    val df = spark.sql(
      """SELECT id, st_point(CAST(id AS DOUBLE), CAST(id AS DOUBLE) + 1) AS geom
        |FROM range(100)""".stripMargin)
    GeoParquet.write(df, "geom", dir)

    // foreign readers see plain ISO WKB binary
    val raw = spark.read.parquet(dir)
    assert(raw.schema("geom").dataType == org.apache.spark.sql.types.BinaryType)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_geo_metadata.json")))

    val back = GeoParquet.read(spark, dir, "geom")
    assert(back.schema("geom").dataType == graft.sql.GeoStruct.dataType)
    val parsed = GeoSchema.parseField(back.schema(back.schema.fieldIndex("geom")))
    assert(parsed.geometryType == 1 && parsed.dims == 1)
    assert(parsed.crsType == GeoSchema.CrsType.Projjson)
    val xs = back.select(call_function("st_x", col("geom")).as("x"))
      .collect().map(_.getDouble(0)).sorted
    assert(xs.toSeq == (0 until 100).map(_.toDouble))
  }

  test("native point layout emit: separate struct-of-arrays in parquet") {
    Geo.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("geoparquet_native").toString
    val df = spark.sql(
      """SELECT id, st_point(CAST(id AS DOUBLE) / 4, CAST(id AS DOUBLE) - 50) AS geom
        |FROM range(100)""".stripMargin)
    GeoParquet.writeNative(df, "geom", dir, geometryType = "point",
      dims = "xy", coordType = "separate")

    // foreign readers see the GeoArrow separate point layout: struct<x,y>
    // — in parquet each ordinate is its own column chunk
    val raw = spark.read.parquet(dir)
    val dt = raw.schema("geom").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(dt.fieldNames.toSeq == Seq("x", "y"))

    val back = GeoParquet.readNative(spark, dir, "geom")
    assert(back.schema("geom").dataType == graft.sql.GeoStruct.dataType)
    val parsed = GeoSchema.parseField(back.schema(back.schema.fieldIndex("geom")))
    assert(parsed.geometryType == 1 && parsed.dims == 1)
    val pts = back.select(col("id"),
        call_function("st_x", col("geom")).as("x"),
        call_function("st_y", col("geom")).as("y"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(pts.forall { case (id, x, y) => x == id / 4.0 && y == id - 50.0 })
  }

  test("standard GeoParquet footer metadata: read works with no sidecar") {
    Geo.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("geoparquet_footer").toString
    val df = spark.sql(
      """SELECT id, st_point(CAST(id AS DOUBLE), CAST(id AS DOUBLE) * 2) AS geom
        |FROM range(50)""".stripMargin)
    GeoParquet.write(df, "geom", dir)
    // the spec location: footer key-value "geo" in every data file
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator()
    var found = 0
    while (files.hasNext) {
      val p = files.next()
      if (p.getFileName.toString.endsWith(".parquet")) {
        val kv = GeoParquet.footerKeyValue(p, "geo")
        assert(kv.isDefined, s"no geo footer entry in $p")
        assert(kv.get.contains("\"encoding\":\"WKB\""))
        found += 1
      }
    }
    assert(found > 0)
    // a spec-compliant file from the ecosystem carries ONLY the footer
    // entry — delete the sidecar and the read must still see metadata
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_geo_metadata.json"))
    val back = GeoParquet.read(spark, dir, "geom")
    val parsed = GeoSchema.parseField(back.schema(back.schema.fieldIndex("geom")))
    assert(parsed.geometryType == 1 && parsed.dims == 1)
    assert(parsed.crsType == GeoSchema.CrsType.Projjson)
    // and the footer rewrite didn't corrupt the data pages
    assert(spark.read.parquet(dir).count() == 50)
  }

  test("bbox covering column: box predicate pushes to the parquet scan") {
    Geo.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("geoparquet_cov").toString
    // triangles spread over the world; no lon/lat point column exists
    val df = spark.sql(
      """SELECT id, st_geomfromwkt(concat('POLYGON ((',
        |  CAST(CAST(id % 340 AS DOUBLE) - 170.0 AS STRING), ' ',
        |  CAST(CAST(id % 160 AS DOUBLE) - 80.0 AS STRING), ', ',
        |  CAST(CAST(id % 340 AS DOUBLE) - 168.0 AS STRING), ' ',
        |  CAST(CAST(id % 160 AS DOUBLE) - 80.0 AS STRING), ', ',
        |  CAST(CAST(id % 340 AS DOUBLE) - 169.0 AS STRING), ' ',
        |  CAST(CAST(id % 160 AS DOUBLE) - 78.0 AS STRING), ', ',
        |  CAST(CAST(id % 340 AS DOUBLE) - 170.0 AS STRING), ' ',
        |  CAST(CAST(id % 160 AS DOUBLE) - 80.0 AS STRING), '))')) AS geom
        |FROM range(2000)""".stripMargin)
    GeoParquet.writeCovering(df, "geom", dir)
    // covering metadata present in the footer
    val meta = GeoParquet.geoMetadataJson(dir).get
    assert(meta.contains("\"covering\"") && meta.contains("geom_bbox"))
    // box query: bbox predicate reaches the scan as PushedFilters
    val got = GeoParquet.readCoveringBox(spark, dir, "geom",
      10.0, 10.0, 30.0, 30.0)
    val plan = got.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters") && plan.contains("geom_bbox"), plan)
    // results match the brute-force envelope filter
    val expected = df.filter(
      call_function("st_envelope", col("geom"))("xmin") <= 30.0 &&
      call_function("st_envelope", col("geom"))("xmax") >= 10.0 &&
      call_function("st_envelope", col("geom"))("ymin") <= 30.0 &&
      call_function("st_envelope", col("geom"))("ymax") >= 10.0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got.select("id").collect().map(_.getLong(0)).toSet == expected)
    assert(expected.nonEmpty)
  }

  test("sidecar metadata survives quotes/backslashes in crs strings") {
    Geo.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("geoparquet_esc").toString
    val df = spark.sql(
      """SELECT id, st_point(CAST(id AS DOUBLE), CAST(id AS DOUBLE)) AS geom
        |FROM range(5)""".stripMargin)
    val nasty = """AUTH:"42\slash" and	tab"""
    GeoParquet.write(df, "geom", dir, crs = Some(nasty))
    // the sidecar must still be valid JSON and the crs must round-trip
    val back = GeoParquet.read(spark, dir, "geom")
    val parsed = GeoSchema.parseField(back.schema(back.schema.fieldIndex("geom")))
    assert(parsed.crs.contains(nasty), parsed.crs)
  }

  test("native interleaved layout round-trips through parquet") {
    Geo.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("geoparquet_il").toString
    val df = spark.sql(
      """SELECT id, st_geomfromwkt(concat('LINESTRING (0 0, ',
        |  CAST(id AS STRING), ' 1, 2 ', CAST(id AS STRING), ')')) AS geom
        |FROM range(10)""".stripMargin)
    val before = df.selectExpr("id", "st_aswkt(geom) AS w").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    GeoParquet.writeNative(df, "geom", dir, geometryType = "linestring",
      coordType = "interleaved")
    val raw = spark.read.parquet(dir)
    assert(raw.schema("geom").dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
    val after = GeoParquet.readNative(spark, dir, "geom")
      .selectExpr("id", "st_aswkt(geom) AS w").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after == before)
  }

  test("native polygon layout round-trips through parquet") {
    Geo.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("geoparquet_poly").toString
    val df = spark.sql(
      """SELECT id, st_geomfromwkt(concat('POLYGON ((0 0, ', CAST(id + 1 AS STRING),
        |  ' 0, 1 ', CAST(id + 1 AS STRING), ', 0 0))')) AS geom FROM range(20)"""
        .stripMargin)
    val wktBefore = df.selectExpr("id", "st_aswkt(geom) AS w").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    GeoParquet.writeNative(df, "geom", dir, geometryType = "polygon")
    val back = GeoParquet.readNative(spark, dir, "geom")
    val wktAfter = back.selectExpr("id", "st_aswkt(geom) AS w").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(wktAfter == wktBefore)
  }

  test("empty frames write valid metadata without a bbox and read back") {
    Geo.register(spark)
    for (sql <- Seq(
      "SELECT id, st_point(CAST(id AS DOUBLE), 0.0) AS geom FROM range(0)",
      "SELECT id, st_geomfromwkt('POINT EMPTY') AS geom FROM range(3)")) {
      val dir = java.nio.file.Files.createTempDirectory("geoparquet_empty").toString
      val df = spark.sql(sql)
      GeoParquet.write(df, "geom", dir)
      val sidecar = java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, "_geo_metadata.json"))
      for (meta <- Seq(sidecar, GeoParquet.geoMetadataJson(dir).get)) {
        assert(!meta.contains("Infinity") && !meta.contains("bbox"), meta)
        // strict JSON: jackson-databind without non-numeric numbers
        new com.fasterxml.jackson.databind.ObjectMapper().readTree(meta)
      }
      assert(GeoParquet.read(spark, dir, "geom").count() == df.count())
    }
    // a footer that already carries a non-finite bbox (older writers, and
    // Python's json module) still reads
    val legacy = wkbTable(
      """{"version":"1.1.0","primary_column":"geom","columns":{"geom":{"encoding":"WKB","geometry_types":[],"crs":"EPSG:4326","bbox":[Infinity,Infinity,-Infinity,NaN]}}}""")
    assert(parsedGeom(GeoParquet.read(spark, legacy, "geom")).crs.contains("EPSG:4326"))
  }

  test("footer crs: missing key is OGC:CRS84, null is unknown") {
    val noKey = wkbTable(
      """{"version":"1.1.0","primary_column":"geom","columns":{"geom":{"encoding":"WKB","geometry_types":[]}}}""")
    assert(parsedGeom(GeoParquet.read(spark, noKey, "geom")).crs
      .contains(GeoSchema.Crs84Projjson))
    val nullCrs = wkbTable(
      """{"version":"1.1.0","primary_column":"geom","columns":{"geom":{"encoding":"WKB","geometry_types":[],"crs":null}}}""")
    val p = parsedGeom(GeoParquet.read(spark, nullCrs, "geom"))
    assert(p.crs.isEmpty && p.crsType == GeoSchema.CrsType.None)
  }

  test("footer edges reach the field metadata; planar kernels refuse spherical") {
    val dir = wkbTable(
      """{"version":"1.1.0","primary_column":"geom","columns":{"geom":{"encoding":"WKB","geometry_types":[],"edges":"spherical"}}}""")
    val back = GeoParquet.read(spark, dir, "geom")
    assert(parsedGeom(back).edges == "spherical")
    val err = intercept[Exception] {
      back.select(call_function("st_envelope", col("geom"))).collect()
    }
    assert(err.getMessage.contains("non-planar"))
  }

  test("foreign footer crs with \\b, \\f and \\/ escapes reads back") {
    val dir = wkbTable(
      """{"version":"1.1.0","primary_column":"geom","columns":{"geom":{"encoding":"WKB","geometry_types":[],"crs":"a\bb\fc\/d"}}}""")
    assert(parsedGeom(GeoParquet.read(spark, dir, "geom")).crs
      .contains("a\bb\fc/d"))
  }

  test("two-column footer: read and readNative take the named column's metadata") {
    val geo =
      """{"version":"1.1.0","primary_column":"a","columns":{
        |"a":{"encoding":"WKB","geometry_types":[],"dims":"xy","coord_type":"separate","crs":null},
        |"b":{"encoding":"geoarrow.point","dims":"xyz","coord_type":"interleaved","crs":"EPSG:3857"}}}"""
        .stripMargin
    val wkb = foreignTable(
      """SELECT st_aswkb(st_point(1.0, 2.0)) AS a,
        |  st_aswkb(st_point(CAST(id AS DOUBLE), 3.0)) AS b FROM range(3)""".stripMargin,
      geo)
    val pb = GeoSchema.parseField(GeoParquet.read(spark, wkb, "b").schema("b"))
    assert(pb.crs.contains("EPSG:3857"))
    val native = foreignTable(
      """SELECT st_aswkb(st_point(1.0, 2.0)) AS a,
        |  st_tonative(st_geomfromwkt(concat('POINT Z (', CAST(id AS STRING), ' 3 4)')),
        |    'point', 'xyz', 'interleaved') AS b FROM range(3)""".stripMargin,
      geo)
    val back = GeoParquet.readNative(spark, native, "b")
    val pn = GeoSchema.parseField(back.schema("b"))
    assert(pn.geometryType == 1 && pn.dims == 2 && pn.crs.contains("EPSG:3857"))
    assert(back.selectExpr("st_aswkt(b)").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("POINT Z (0 3 4)", "POINT Z (1 3 4)", "POINT Z (2 3 4)"))
  }

  test("write computes its input once") {
    Geo.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("geoparquet_once").toString
    val rows = spark.sparkContext.longAccumulator("geoparquet_input_rows")
    val bump = udf { (x: Long) => rows.add(1L); x.toDouble }
    val df = spark.range(0, 100, 1, 4).select(col("id"),
      call_function("st_point", bump(col("id")), lit(1.0)).as("geom"))
    GeoParquet.write(df, "geom", dir)
    assert(rows.value == 100L)
    assert(spark.read.parquet(dir).count() == 100L)
    assert(!df.storageLevel.useMemory, "write left its input cached")
    // the bbox still reaches the footer
    assert(GeoParquet.geoMetadataJson(dir).exists(_.contains(""""bbox":[0.0,1.0,99.0,1.0]""")))
  }
}
