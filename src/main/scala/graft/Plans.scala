package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Ann, Dedup, SpatialJoins}
import graft.sources.ImagesTable
import graft.sql.Geo

/** Dumps `explain("formatted")` for the headline physical plans into
  * PLANS.md — the evidence that joins broadcast, scans prune/push down, and
  * operators stay inside whole-stage codegen (the plan-review loop the
  * build contract asks for). Run: `sbt "runMain graft.Plans"`. */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.session(4, "graft-plans")
    spark.conf.set("spark.sql.shuffle.partitions", 8)
    Geo.register(spark)

    val images = ImagesTable.generate(spark, 10000L)
    val imgPath = "target/plans_images"
    if (!new java.io.File(imgPath).exists())
      images.write.mode("overwrite").parquet(imgPath)
    val imagesPq = spark.read.parquet(imgPath)
    val polys = ImagesTable.polygonLayer(spark)

    // scan locations print relative to the working directory, so the file
    // does not change with the checkout path
    val cwd = Paths.get("").toAbsolutePath.toString
    def fmt(df: DataFrame): String = {
      val qe = df.queryExecution
      qe.explainString(org.apache.spark.sql.execution.FormattedMode)
        .replace(s"file:$cwd/", "file:./")
    }

    val sections = Seq(
      "Flagship: PIP join (broadcast) + tile assignment + partial-agg count" ->
        fmt(SpatialJoins.assignTiles(
            SpatialJoins.pipJoin(imagesPq, polys, "poly", "lon", "lat", zoom = 6),
            "lon", "lat", zoom = 12)
          .groupBy(col("poly_id"), col("tile_id")).agg(count(lit(1)).as("n"))),
      "Column pruning + filter pushdown on the image table scan" ->
        fmt(imagesPq.filter(col("phash") > 0).select("image_id", "lon", "lat")),
      "Tile assignment alone (codegen'd static calls, no shuffle)" ->
        fmt(SpatialJoins.assignTiles(imagesPq, "lon", "lat", zoom = 8)),
      "PIP join, large-dim path (broadcastPolys=false + auto-broadcast off " +
        "-> sort-merge on the cell key; AQE skew-split applies to hot cells)" -> {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val p = fmt(SpatialJoins.pipJoin(imagesPq, polys, "poly", "lon", "lat",
          zoom = 6, broadcastPolys = false)
          .groupBy(col("poly_id")).count())
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        p
      },
      "SpatialJoinRewrite, contains: naive st_contains join auto-indexed (no join " +
        "keys written by the user; the rule injects the tile-cover equi-join)" ->
        fmt(imagesPq.join(polys, call_function("st_containsxy",
          col("poly"), col("lon"), col("lat")))
          .groupBy(col("poly_id")).count()),
      "MinHash LSH near-dup candidates (band equi-join, no cross product)" ->
        fmt(Dedup.minhashNearDups(
          spark.range(100).select(col("id").as("doc_id"),
            concat(lit("text of doc "), col("id")).as("text")),
          "text", "doc_id")),
      "SpatialJoinRewrite, dwithin: naive st_dwithinxy join auto-indexed (grid " +
        "cell equi-join + 3x3 ring explode on the small side)" ->
        fmt(imagesPq.join(
          spark.range(20).select(col("id").as("qid"),
            (rand(1) * 100).as("qlon"), (rand(2) * 50).as("qlat")),
          call_function("st_dwithinxy", col("lon"), col("lat"),
            col("qlon"), col("qlat"), lit(1.5)))
          .groupBy(col("qid")).count()),
      "SQ8 ANN (int8 candidate scan 4x smaller, broadcast id-join rerank " +
        "touches floats only for k*rerank candidates)" ->
        fmt(Ann.sq8TopK(
          spark.range(100).select(col("id").as("vec_id"),
            array((0 until 4).map(i => (rand(42 + i) * 2 - 1).cast("float")): _*)
              .as("embedding")),
          spark.range(3).select(col("id").as("qid"),
            array((0 until 4).map(i => (rand(7 + i) * 2 - 1).cast("float")): _*)
              .as("qvec")),
          "embedding", "vec_id", "qid", "qvec", 5)),
      "ANN brute-force top-k (broadcast query side + window)" ->
        fmt(Ann.bruteForceTopK(
          spark.range(100).select(col("id").as("vec_id"),
            array((0 until 4).map(i => (rand(42 + i) * 2 - 1).cast("float")): _*)
              .as("embedding")),
          spark.range(3).select(col("id").as("qid"),
            array((0 until 4).map(i => (rand(7 + i) * 2 - 1).cast("float")): _*)
              .as("qvec")),
          "embedding", "vec_id", "qid", "qvec", 5)),
      "Range (interval) join: chunk-binned hash equi-join + BETWEEN " +
        "refine — no BroadcastNestedLoopJoin anywhere" ->
        fmt(graft.operators.RangeJoin.intervalJoin(
          spark.range(1000).select(col("id").as("pid"),
            (col("id") % 97).cast("double").as("v")),
          "v",
          spark.range(20).select(col("id").as("iid"),
            (col("id") * 4).cast("double").as("lo"),
            (col("id") * 4 + 10).cast("double").as("hi")),
          "lo", "hi", chunkWidth = 8.0)),
      "Time-chunked as-of join: the big window partitions by (key, chunk) " +
        "— a monster key splits across tasks" ->
        fmt(graft.operators.AsOf.asofJoinChunked(
          spark.range(1000).select(col("id").as("event_id"),
            (col("id") % 5).as("user_id"), (col("id") * 7 % 1000).as("ts")),
          spark.range(100).select((col("id") % 5).as("user_id"),
            (col("id") * 11 % 1000).as("ts"), col("id").as("quote_id")),
          "user_id", "ts", "quote_id", chunkWidth = 100.0)),
      "Spherical meters-radius join: cell equi-join + haversine refine " +
        "(no lon/lat-grid latitude distortion, no nested loop)" ->
        fmt(SpatialJoins.withinDistanceMetersJoin(
          imagesPq.select(col("image_id"), col("lon"), col("lat")),
          spark.range(20).select(col("id").as("qid"),
            (rand(3) * 340 - 170).as("qlon"), (rand(4) * 160 - 80).as("qlat")),
          radiusMeters = 50000.0)),
      "Tile rendering: map-side (tile,pixel) partial combine bounds the " +
        "only data-sized shuffle; per-tile render state <= size^2 longs" ->
        fmt(graft.operators.TileRender.renderTiles(
          imagesPq, "lon", "lat", zoom = 6, size = 256)),
      "Tile pyramid: ONE projection + ONE hash-agg probe per point " +
        "(finest level aggregates first), coarser levels explode from the " +
        "already-aggregated pixels by integer shifts — the second " +
        "exchange is occupied-pixels-sized, never input-sized" ->
        fmt(graft.operators.TileRender.renderPyramid(
          imagesPq, "lon", "lat", minZoom = 2, maxZoom = 6, size = 256)),
      "Polygon rasterization: cover explode + scanline kernel inside " +
        "codegen — per-polygon work ∝ covered pixels; the only data-sized " +
        "shuffle is the (tile, pixel) aggregation, bounded by tiles×size²" ->
        fmt(graft.operators.TileRender.renderPolygonTiles(
          spark.range(25).selectExpr(
            "st_boxtopolygon(CAST(id % 5 AS DOUBLE) * 60.0 - 170.0," +
              " CAST(id DIV 5 AS DOUBLE) * 30.0 - 80.0," +
              " CAST(id % 5 AS DOUBLE) * 60.0 - 130.0," +
              " CAST(id DIV 5 AS DOUBLE) * 30.0 - 60.0) AS g",
            "id % 7 + 1 AS w"),
          "g", zoom = 4, size = 256, weightCol = Some("w"))),
      "Zonal statistics (raster→vector): the tile store flows through a " +
        "codegen'd decode explode + BroadcastHashJoin + partial agg on " +
        "zone_id — no raster-side shuffle at all" ->
        fmt(graft.operators.TileRender.zonalStats(
          graft.operators.TileRender.renderTiles(
            imagesPq, "lon", "lat", zoom = 4, size = 256)
            .select("tile_id", "png"),
          spark.range(25).selectExpr("id AS zone_id",
            "st_boxtopolygon(CAST(id % 5 AS DOUBLE) * 60.0 - 170.0," +
              " CAST(id DIV 5 AS DOUBLE) * 30.0 - 80.0," +
              " CAST(id % 5 AS DOUBLE) * 60.0 - 130.0," +
              " CAST(id DIV 5 AS DOUBLE) * 30.0 - 60.0) AS g"),
          "zone_id", "g", zoom = 4, size = 256)),
      "Geometry-geometry INTERSECTS join: cover-explode candidates meet in " +
        "a BroadcastHashJoin (big side never shuffles); the min-shared-tile " +
        "claim + exact refine ride the join condition — no distinct pass " +
        "anywhere" ->
        fmt(SpatialJoins.intersectsJoin(
          imagesPq.selectExpr("image_id",
            "st_boxtopolygon(lon - 2.0, lat - 1.0, lon + 2.0, lat + 1.0) AS bg"),
          polys.selectExpr("poly_id", "poly AS pg"), "bg", "pg", zoom = 5)
          .groupBy(col("poly_id")).count()),
      "k-means iteration: codegen'd argmin assignment + the array-summing " +
        "VecFixedSumAgg — ONE exchange carrying k aggregate buffers (no " +
        "rows×dim explode anywhere); the corpus itself never shuffles" ->
        fmt(imagesPq
          .select(col("image_id"), array(col("lon").cast("float"),
            col("lat").cast("float")).as("embedding"))
          .withColumn("__c", call_function("vec_argmin_l2",
            col("embedding"), lit(Array.fill(8)(0.1f))))
          .groupBy(col("__c"))
          .agg(call_function("vec_fixedsum_agg", call_function("vec_fixed",
            col("embedding"), lit(20))).as("fs"))),
      "Row-level merged read (Iceberg-v2 equality tombstones): the data " +
        "side streams through a broadcast anti-join on the key — the " +
        "tombstone set is the only collected state" -> {
        val rowDir = "target/plans_rowlevel"
        // guard on the LAST artifact (deletes/): a crash between the
        // snapshot write and the merge would otherwise leave a half-built
        // fixture that silently dumps a plan with no anti-join; rebuild
        // from scratch when incomplete
        if (!new java.io.File(rowDir + "/deletes").exists()) {
          val root = java.nio.file.Paths.get(rowDir)
          if (java.nio.file.Files.exists(root)) {
            val st = java.nio.file.Files.walk(root)
            try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .forEach(p => java.nio.file.Files.delete(p))
            finally st.close()
          }
          val b = graft.pipeline.Pipeline.withBucket(
            imagesPq.limit(2000), "lon", "lat", 3)
          graft.pipeline.Pipeline.writeSnapshot(b, rowDir, 1L)
          // a non-empty batch: an empty merge writes no tombstones, and
          // the plan below would have no anti-join to show
          graft.pipeline.Pipeline.mergeSnapshot(
            b.limit(200).withColumn("caption", lit("v2")), rowDir, 2L,
            mergeKeyCol = "image_id")
        }
        fmt(graft.pipeline.Pipeline.readCurrent(spark, rowDir)
          .groupBy("snapshot_id").count())
      },
      "Hash-sample quantiles: the sample rides TakeOrderedAndProject " +
        "(per-partition partial top-k — no full sort, no full shuffle)" ->
        fmt(imagesPq
          .select(col("phash").cast("double").as("__v"), col("image_id"))
          .orderBy(md5(col("image_id").cast("binary")), col("image_id"))
          .limit(1024)),
      "Dissolve (st_union_agg): ObjectHashAggregate with partial_collect " +
        "before the ONE key exchange — buffers, not rows, cross the wire; " +
        "the cascaded-union finisher is a codegen'd static_invoke over the " +
        "merged buffer, parallel across final-agg partitions" ->
        fmt(graft.operators.Dissolve.dissolve(
          imagesPq.withColumn("g", call_function("st_boxtopolygon",
            col("lon"), col("lat"), col("lon") + lit(1.0), col("lat") + lit(1.0))),
          Seq("phash"), "g")))

    // drive GeoParquet + Multimodal end-to-end through their public API
    val gpDir = "target/plans_geoparquet"
    val geoDf = imagesPq.limit(1000)
      .withColumn("geom", call_function("st_point", col("lon"), col("lat")))
    graft.sources.GeoParquet.write(geoDf, "geom", gpDir)
    val gpBack = graft.sources.GeoParquet.read(spark, gpDir, "geom")

    // DataSourceV2 format names: pruning/pushdown must reach the scan
    val ipcDir = "target/plans_arrowipc"
    graft.sources.ArrowIpc.write(
      imagesPq.select("image_id", "lon", "lat"), ipcDir)
    val gjDir = "target/plans_geojsonseq"
    graft.sources.GeoJsonSeq.write(
      geoDf.select("image_id", "geom"), "geom", gjDir)
    val dsv2Sections = Seq(
      "DSv2 geoparquet: parquet pushdown/pruning inherited verbatim " +
        "(PushedFilters + 2-column ReadSchema on a 7-column table)" ->
        fmt(spark.read.format("geoparquet").load(gpDir)
          .filter(col("w") > 4).select("image_id", "w")),
      "DSv2 arrowipc: decode-level column pruning (ReadSchema in the " +
        "BatchScan description)" ->
        fmt(spark.read.format("arrowipc").load(ipcDir).select("lon")),
      "DSv2 geojsonseq: byte-offset split planning + pruned decode (a " +
        "properties-only projection never encodes geometry structs)" ->
        fmt(spark.read.format("geojsonseq").load(gjDir)
          .select("properties")))
    val pngDf = ImagesTable.generate(spark, 100L, png = true)
    val metaDf = graft.operators.Multimodal.withImageMeta(pngDf, "bytes")
    val metaCounts = metaDf.groupBy("detected_fmt", "decoded_w").count().collect()
      .map(r => s"${r.get(0)}x${r.get(1)}:${r.get(2)}").mkString(", ")

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence (generated by `graft.Plans`)\n\n")
    sb.append("Generated against Spark " + spark.version + ". Things to see:\n")
    sb.append("- `BroadcastHashJoin` (no shuffle of the big side) in the PIP join\n")
    sb.append("- `PushedFilters` + pruned `ReadSchema` on parquet scans\n")
    sb.append("- `WholeStageCodegen` spans covering the `static_invoke` kernels\n")
    sb.append("- `partial_count` before the exchange (map-side combine)\n\n")
    (sections ++ dsv2Sections).foreach { case (title, plan) =>
      sb.append(s"## $title\n\n```\n$plan```\n\n")
    }
    sb.append("## GeoParquet round trip (WKB interchange)\n\n```\n")
    sb.append(s"rows written+read: ${gpBack.count()}; geom column type: " +
      s"${gpBack.schema("geom").dataType.typeName}; metadata: " +
      s"${graft.sql.GeoSchema.parseField(gpBack.schema(gpBack.schema.fieldIndex("geom")))}\n")
    sb.append("```\n\n## Multimodal header decode over real PNGs\n\n```\n")
    sb.append(s"detected (fmt x width : count): $metaCounts\n```\n")
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("wrote PLANS.md")
    spark.stop()
  }
}
