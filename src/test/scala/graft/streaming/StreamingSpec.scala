package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SpatialJoins

class StreamingSpec extends AnyFunSuite {
  lazy val spark = graft.sql.SparkTestSession.spark

  test("streaming tile assignment + windowed counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Double, Double)]
    val df = input.toDF().toDF("ts", "lon", "lat")
    val counts = StreamingTiles.tileCounts(df, "ts", "lon", "lat",
      zoom = 4, windowDur = "10 minutes", watermark = "5 minutes")
    val q = counts.writeStream.format("memory").queryName("tile_counts")
      .outputMode("update").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:01:00")
      input.addData((t0, 5.0, 45.0), (t0, 5.01, 45.01), (t0, -150.0, -60.0))
      q.processAllAvailable()
      val rows = spark.table("tile_counts")
        .selectExpr("tile_id", "n").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(rows.values.sum == 3)
      assert(rows.size == 2) // two distinct z4 tiles
      assert(rows.values.toSeq.sorted == Seq(1L, 2L))
    } finally q.stop()
  }

  test("streaming rendered tiles: byte-identical to batch render per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Double, Double)]
    val df = input.toDF().toDF("ts", "lon", "lat")
    val counts = StreamingTiles.tilePixelCounts(df, "ts", "lon", "lat",
      zoom = 3, size = 64, windowDur = "10 minutes", watermark = "5 minutes")
    val outDir = java.nio.file.Files.createTempDirectory("tiles_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("tiles_ckpt").toString
    val q = StreamingTiles.renderedTileSink(counts, 64, outDir, ckpt)
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:01:00")
      val pts = Seq((5.0, 45.0), (5.0, 45.0), (5.01, 45.01), (-150.0, -60.0))
      input.addData(pts.map { case (lo, la) => (t0, lo, la) }: _*)
      q.processAllAvailable()
      // advance the watermark past the window so the groups finalize
      input.addData((java.sql.Timestamp.valueOf("2026-01-01 01:00:00"),
        0.0, 0.0))
      q.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
        .select("tile_id", "png").collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
      val batch = graft.operators.TileRender.renderTiles(
          pts.toDF("lon", "lat"), "lon", "lat", zoom = 3, size = 64)
        .collect()
        .map(r => r.getAs[Long]("tile_id") -> r.getAs[Array[Byte]]("png").toSeq)
        .toMap
      assert(streamed.keySet == batch.keySet)
      for ((k, png) <- batch) assert(streamed(k) == png,
        s"streamed tile $k differs from batch render")
    } finally q.stop()
  }

  test("streaming sessionization: gap-based session_window per key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val df = input.toDF().toDF("ts", "user_id")
    val sessions = StreamingTiles.sessionCounts(df, "user_id", "ts",
      gap = "30 minutes", watermark = "1 hour")
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    try {
      def t(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 ${m / 60}%02d:${m % 60}%02d:00")
      // user 1: events at 0,10,20 (one session), then 60 (new session);
      // user 2: one event
      input.addData((t(0), 1L), (t(10), 1L), (t(20), 1L), (t(60), 1L), (t(5), 2L))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .selectExpr("user_id", "n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).sorted.toSeq).toMap
      assert(rows(1L) == Seq(1L, 3L), rows.toString) // two sessions: 3 + 1
      assert(rows(2L) == Seq(1L))
    } finally q.stop()
  }

  test("stream-static intersects join: exact pairs, exactly once, per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.sql.Geo.register(spark)
    val zones = spark.sql(
      """SELECT 'z1' AS zone_id, st_boxtopolygon(0.0, 0.0, 40.0, 30.0) AS zg
        |UNION ALL
        |SELECT 'z2', st_boxtopolygon(50.0, 0.0, 90.0, 30.0)""".stripMargin)
    val input = MemoryStream[(Long, Double, Double)]
    val boxes = input.toDF().toDF("id", "lon", "lat")
      .selectExpr("id",
        "st_boxtopolygon(lon - 5.0, lat - 5.0, lon + 5.0, lat + 5.0) AS bg")
    val q = SpatialJoins.intersectsJoin(boxes, zones, "bg", "zg", zoom = 4)
      .select("id", "zone_id")
      .writeStream.format("memory").queryName("isect_stream")
      .outputMode("append").start()
    try {
      // box 1 inside z1; box 2 touches z2; box 3 in the gap (overlaps
      // neither); box 4 spans MANY tiles and both zones — exactly one row
      // per overlapped zone despite the multi-tile cover
      input.addData((1L, 20.0, 15.0), (2L, 55.0, 15.0), (3L, 45.5, 40.0))
      q.processAllAvailable()
      input.addData((4L, 45.0, 15.0))
      q.processAllAvailable()
      val rows = spark.table("isect_stream").as[(Long, String)].collect().toSeq
      assert(rows.size == rows.toSet.size, s"duplicate pairs: $rows")
      assert(rows.toSet == Set((1L, "z1"), (2L, "z2"), (4L, "z1"), (4L, "z2")))
    } finally q.stop()
  }

  test("stream-static PIP join enriches a point stream against polygons") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.sql.Geo.register(spark)
    val polys = spark.sql(
      """SELECT 'sq1' AS poly_id, st_geomfromwkt('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))') AS poly
        |UNION ALL
        |SELECT 'sq2', st_geomfromwkt('POLYGON ((20 20, 30 20, 30 30, 20 30, 20 20))')"""
        .stripMargin)
    val input = MemoryStream[(Long, Double, Double)]
    val df = input.toDF().toDF("id", "lon", "lat")
    val q = SpatialJoins.pipJoin(df, polys, "poly", "lon", "lat", zoom = 4)
      .select("id", "poly_id")
      .writeStream.format("memory").queryName("pip_stream").outputMode("append")
      .start()
    try {
      input.addData((1L, 5.0, 5.0), (2L, 25.0, 25.0), (3L, 15.0, 15.0), (4L, 9.9, 0.1))
      q.processAllAvailable()
      val rows = spark.table("pip_stream").as[(Long, String)].collect().toSet
      assert(rows == Set((1L, "sq1"), (4L, "sq1"), (2L, "sq2"))) // 3 is outside
    } finally q.stop()
  }

  test("watermarked streaming dedup drops dups within horizon, bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp, Int)]
    val df = input.toDF().toDF("image_id", "ts", "v")
    val q = StreamingTiles.dedupStreamWatermarked(df, "image_id", "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup_wm_out")
      .outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:05:00")
      input.addData(("a", t0, 1), ("b", t0, 2), ("a", t1, 3))
      q.processAllAvailable()
      input.addData(("a", t1, 4), ("c", t1, 5))
      q.processAllAvailable()
      val rows = spark.table("dedup_wm_out")
        .selectExpr("image_id", "v").as[(String, Int)].collect().toSet
      // within the 10-minute horizon each key emits exactly once
      assert(rows.map(_._1) == Set("a", "b", "c"))
      assert(rows.count(_._1 == "a") == 1)
    } finally q.stop()
  }

  test("streaming dedup keeps first occurrence across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val df = input.toDF().toDF("image_id", "v")
    val q = StreamingTiles.dedupStream(df, "image_id")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(("a", 1), ("b", 2), ("a", 3))
      q.processAllAvailable()
      input.addData(("a", 4), ("c", 5))
      q.processAllAvailable()
      val rows = spark.table("dedup_out").as[(String, Int)].collect().toSet
      assert(rows.map(_._1) == Set("a", "b", "c"))
      assert(rows.contains(("b", 2)) && rows.contains(("c", 5)))
      // first "a" within batch 1 won (v=1 or 3 depending on per-key iterator
      // order — both are "one exactly" semantics; assert single emission)
      assert(rows.count(_._1 == "a") == 1)
    } finally q.stop()
  }

  test("streamTable tails committed pipeline snapshots as micro-batches") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.Pipeline
    val dir = java.nio.file.Files.createTempDirectory("stream_table").toString
    val images = Pipeline.withBucket(
      graft.sources.ImagesTable.generate(spark, 600L), "lon", "lat", zoom = 3)
    Pipeline.writeSnapshot(images.limit(300), dir, 1L)
    val schema = spark.read.parquet(s"$dir/data").schema
    val stream = StreamingTiles.streamTable(spark, dir, schema)
    assert(stream.isStreaming)
    val q = stream.groupBy(col("snapshot_id")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("table_tail")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val afterOne = spark.table("table_tail")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(afterOne.keySet == Set(1) && afterOne(1) == 300L)
      // a new snapshot commit appears as a later micro-batch — the
      // streaming twin of readIncremental, exactly-once via file tracking
      Pipeline.writeSnapshot(images.limit(450), dir, 2L)
      q.processAllAvailable()
      val afterTwo = spark.table("table_tail")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(afterTwo == Map(1 -> 300L, 2 -> 450L), afterTwo.toString)
    } finally q.stop()
  }
}
