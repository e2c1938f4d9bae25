package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sql.{Geo, GeoSchema}

class ArrowIpcSpec extends AnyFunSuite {
  lazy val spark = graft.sql.SparkTestSession.spark

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"arrowipc_$tag").toString

  test("generic IPC roundtrip: scalars, nulls, struct, arrays, binary") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("n", IntegerType, nullable = true),
      StructField("f", FloatType, nullable = true),
      StructField("d", DoubleType, nullable = true),
      StructField("b", BooleanType, nullable = true),
      StructField("s", StringType, nullable = true),
      StructField("bin", BinaryType, nullable = true),
      StructField("arr", ArrayType(LongType, containsNull = true), nullable = true),
      StructField("st", StructType(Seq(
        StructField("x", DoubleType, nullable = true),
        StructField("tags", ArrayType(StringType, containsNull = true), nullable = true))),
        nullable = true)))
    val rows = Seq(
      Row(1L, 10, 1.5f, 2.5, true, "héllo", Array[Byte](1, 2, 3),
        Seq(1L, 2L, 3L), Row(9.5, Seq("a", "b"))),
      Row(2L, null, null, null, null, null, null, null, null),
      Row(3L, -7, -0.5f, Double.NaN, false, "", Array.empty[Byte],
        Seq.empty[Long], Row(null, Seq(null, "c"))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val dir = tmp("generic")
    ArrowIpc.write(df, dir, batchRows = 2)
    val back = ArrowIpc.read(spark, dir)
    assert(back.schema == schema.copy()
      || back.schema.map(f => (f.name, f.dataType)).toSeq ==
         schema.map(f => (f.name, f.dataType)).toSeq)
    def render(r: Row): String = r.toSeq.map {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case v => String.valueOf(v)
    }.mkString("|")
    val a = df.collect().map(render).sorted.toSeq
    val b = back.collect().map(render).sorted.toSeq
    assert(a == b)
    // part file per partition, standard .arrow extension
    val files = new java.io.File(dir).list().filter(_.endsWith(".arrow"))
    assert(files.length == 2)
  }

  test("commit protocol: _SUCCESS gates reads; foreign dirs opt out") {
    val df = spark.range(10).toDF("id")
    val dir = tmp("commit")
    ArrowIpc.write(df, dir)
    val d = new java.io.File(dir)
    assert(d.list().contains("_SUCCESS"))
    assert(!d.list().exists(_.endsWith(".inprogress")))
    // a markerless directory (job died mid-write / foreign writer) is
    // refused by default, accepted with requireSuccess = false
    assert(new java.io.File(d, "_SUCCESS").delete())
    intercept[IllegalArgumentException](ArrowIpc.read(spark, dir))
    assert(ArrowIpc.read(spark, dir, requireSuccess = false).count() == 10)
  }

  test("IPC STREAM format roundtrip (.arrows)") {
    val df = spark.range(100).select(col("id"),
      (col("id") * 2).cast("double").as("v"))
    val dir = tmp("stream")
    ArrowIpc.write(df, dir, stream = true)
    assert(new java.io.File(dir).list().exists(_.endsWith(".arrows")))
    val back = ArrowIpc.read(spark, dir)
    assert(back.as[(Long, Double)](org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaDouble))
      .collect().toSet == (0L until 100L).map(i => (i, i * 2.0)).toSet)
  }

  test("geoarrow extension tags: every geometry type roundtrips bit-exact") {
    Geo.register(spark)
    val wkts = Seq(
      ("point", "POINT (1.5 2.5)"),
      ("linestring", "LINESTRING (0 0, 1 1, 2 0.5)"),
      ("polygon", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"),
      ("multipoint", "MULTIPOINT (1 2, 3 4)"),
      ("multilinestring", "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3, 4 4))"),
      ("multipolygon", "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))"))
    for ((gt, wkt) <- wkts; coordType <- Seq("separate", "interleaved")) {
      val df = spark.sql(
        s"""SELECT id, st_geomfromwkt('$wkt') AS geom FROM range(5)""")
      val dir = tmp(s"geo_${gt}_$coordType")
      ArrowIpc.writeGeo(df, "geom", dir, gt, "xy", coordType)
      // the extension tag is on the wire, spec-named
      val meta = ArrowIpc.fieldMetadata(dir)("geom")
      assert(meta("ARROW:extension:name") == s"geoarrow.$gt")
      assert(meta("ARROW:extension:metadata").contains("crs"))
      val back = ArrowIpc.readGeo(spark, dir)
      assert(back.schema("geom").dataType == graft.sql.GeoStruct.dataType)
      val got = back.select(call_function("st_aswkt", col("geom")).as("w"))
        .collect().map(_.getString(0)).toSeq
      assert(got == Seq.fill(5)(wkt), s"$gt/$coordType")
      // crs metadata re-attached (C1/C2 propagation through interchange)
      val parsed = GeoSchema.parseField(back.schema(back.schema.fieldIndex("geom")))
      assert(parsed.crsType == GeoSchema.CrsType.Projjson, s"$gt/$coordType")
    }
  }

  test("empty-input write round-trips (schema-only part file)") {
    val df = spark.range(10).toDF("id").filter(col("id") < 0)
      .repartition(1).filter(lit(false)) // still 1 partition, zero rows
    val dir = tmp("empty")
    ArrowIpc.write(df, dir)
    assert(ArrowIpc.read(spark, dir).count() == 0)
    // the degenerate zero-PARTITION case: rdd has no partitions at all
    val zeroPart = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("id", LongType))))
    val dir2 = tmp("zeropart")
    ArrowIpc.write(zeroPart, dir2)
    val back = ArrowIpc.read(spark, dir2)
    assert(back.count() == 0 && back.schema.fieldNames.toSeq == Seq("id"))
  }

  test("scan-grade read: batch-split tasks return the same rows") {
    val df = spark.range(1000).select(col("id"),
      (col("id") * 3).cast("double").as("v")).repartition(2)
    val dir = tmp("split")
    ArrowIpc.write(df, dir, batchRows = 64) // ~8 batches per part
    val whole = ArrowIpc.read(spark, dir)
    val split = ArrowIpc.read(spark, dir, maxBatchesPerTask = 3)
    // splitting multiplied the task count without changing the data
    assert(split.rdd.getNumPartitions > whole.rdd.getNumPartitions)
    assert(split.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 1000L).toSeq)
    // footer-only batch count helper sees the per-part batches
    val part = new java.io.File(dir).list().filter(_.endsWith(".arrow")).head
    assert(ArrowIpc.batchCount(s"$dir/$part") >= 8)
  }

  test("seekable channel reads past 2 GiB without whole-file buffering") {
    // a sparse 3 GiB file (instant to create, ~0 disk): the channel must
    // report the true size and serve positioned reads beyond Int.MaxValue —
    // the old read path required the WHOLE part to fit one byte array and
    // threw on >2 GiB parts before reading a byte
    val f = java.nio.file.Files.createTempFile("arrowipc_big", ".raw")
    val raf = new java.io.RandomAccessFile(f.toFile, "rw")
    val size = 3L * 1024 * 1024 * 1024
    raf.setLength(size)
    raf.seek(size - 4)
    raf.write(Array[Byte](9, 8, 7, 6))
    raf.close()
    val conf = new org.apache.hadoop.conf.Configuration()
    val hp = new org.apache.hadoop.fs.Path(f.toString)
    val fs = hp.getFileSystem(conf)
    val ch = new ArrowIpc.HadoopSeekableChannel(fs.open(hp), size)
    try {
      assert(ch.size() == size)
      val buf = java.nio.ByteBuffer.allocate(4)
      ch.position(size - 4)
      assert(ch.read(buf) == 4)
      assert(buf.array().toSeq == Seq[Byte](9, 8, 7, 6))
      assert(ch.position() == size)
      assert(ch.read(java.nio.ByteBuffer.allocate(1)) == -1) // clean EOF
    } finally { ch.close(); java.nio.file.Files.delete(f) }
  }

  test("xyz dims survive interleaved interchange via extension metadata") {
    Geo.register(spark)
    val wkt = "LINESTRING Z (0 0 1, 1 1 2)"
    val df = spark.sql(s"SELECT st_geomfromwkt('$wkt') AS geom")
    val dir = tmp("xyz")
    ArrowIpc.writeGeo(df, "geom", dir, "linestring", "xyz", "interleaved")
    val back = ArrowIpc.readGeo(spark, dir)
    val got = back.select(call_function("st_aswkt", col("geom")))
      .collect()(0).getString(0)
    assert(got == wkt)
  }

  test("foreign extension metadata: empty string reads as {}, edges carried") {
    Geo.register(spark)
    val nat = spark.sql(
      "SELECT st_tonative(st_point(1.0, 2.0), 'point', 'xy', 'separate') AS geom")
    def readBack(extMeta: String) = {
      val dir = tmp("extmeta")
      ArrowIpc.write(nat, dir, Map("geom" -> Map(
        "ARROW:extension:name" -> "geoarrow.point",
        "ARROW:extension:metadata" -> extMeta)))
      GeoSchema.parseField(ArrowIpc.readGeo(spark, dir).schema("geom"))
    }
    val empty = readBack("")
    assert(empty.crs.isEmpty && empty.edges == "planar")
    val spherical = readBack("""{"crs":"EPSG:4326","edges":"spherical"}""")
    assert(spherical.crs.contains("EPSG:4326") && spherical.edges == "spherical")
  }
}
