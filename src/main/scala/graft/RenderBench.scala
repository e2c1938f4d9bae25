package graft

import org.apache.spark.sql.SparkSession

import graft.operators.TileRender
import graft.sources.ImagesTable

/** Tile-render scale probe: renderPyramid over the bench point table at
  * two parallelism levels (N vs 4N cores), same input — the north rule's
  * two-cluster-size criterion applied to the renderer specifically.
  * Prints ONE JSON line: wall seconds, rows/sec and tiles at N and 4N,
  * and the scaling efficiency. Results feed SCALING.md. */
object RenderBench {

  private def session(cores: Int): SparkSession =
    LocalSpark.session(cores, "graft-render-bench")

  def main(args: Array[String]): Unit = {
    if (sys.env.get("RENDER_BENCH_MODE").contains("poly")) return polyMain()
    val nPts = sys.env.getOrElse("RENDER_BENCH_POINTS", "64000000").toLong
    val nCores = sys.env.getOrElse("RENDER_BENCH_N", "4").toInt
    // default z1-4: a HEATMAP workload (multiple points per pixel, so the
    // input-sized partial agg actually combines). Rendering at zooms where
    // pixels are mostly unique is a scatterplot — cost is then dominated
    // by the irreducible ~N-row shuffle whatever the plan shape.
    val minZ = sys.env.getOrElse("RENDER_BENCH_MINZ", "1").toInt
    val maxZ = sys.env.getOrElse("RENDER_BENCH_MAXZ", "4").toInt

    // ---- input (materialized once; synthesis excluded from timing)
    val ptsPath = s"target/bench_images_$nPts"
    locally {
      val s = session(16)
      if (!new java.io.File(ptsPath).exists())
        ImagesTable.generate(s, nPts, png = false, partitions = 64)
          .write.mode("overwrite").parquet(ptsPath)
      s.stop()
    }

    def leg(cores: Int): (Double, Long) = {
      val s = session(cores)
      val pts = s.read.parquet(ptsPath)
      // JIT/IO warmup pass, then the timed pass
      TileRender.renderPyramid(pts, "lon", "lat", minZ, maxZ).count()
      val t0 = System.nanoTime()
      val tiles = TileRender.renderPyramid(pts, "lon", "lat", minZ, maxZ).count()
      val secs = (System.nanoTime() - t0) / 1e9
      s.stop()
      (secs, tiles)
    }

    // interleave 2 rounds per leg, min per leg (uncontended estimate;
    // same discipline as graft.Bench)
    var tN = Vector.empty[Double]; var t4N = Vector.empty[Double]
    var tiles = 0L
    for (_ <- 0 until 2) {
      val (a, c1) = leg(nCores); tN :+= a; tiles = c1
      val (b, _) = leg(nCores * 4); t4N :+= b
    }
    val thrN = nPts / tN.min
    val thr4N = nPts / t4N.min
    val eff = thr4N / (4.0 * thrN)
    println(
      f"""{"metric":"pyramid-render throughput","points":$nPts,"zooms":"$minZ-$maxZ","tiles":$tiles,"n_cores":$nCores,"secs_N":[${tN.map(t => f"$t%.2f").mkString(",")}],"secs_4N":[${t4N.map(t => f"$t%.2f").mkString(",")}],"rows_per_sec":{"N":${thrN.toLong},"4N":${thr4N.toLong}},"scaling_efficiency":$eff%.3f}""")
  }

  /** Polygon-rasterization scale probe (RENDER_BENCH_MODE=poly): a
    * distributed grid of small boxes rendered at z6 — per-polygon work is
    * its covered pixels, so throughput is reported in LIT PIXELS per
    * second (the operator's real unit of work), N vs 4N cores. */
  private def polyMain(): Unit = {
    val nPolys = sys.env.getOrElse("RENDER_BENCH_POLYS", "400000").toLong
    // the grid has exactly 1000x400 distinct positions — more polygons
    // would wrap onto exact duplicates and silently turn the "disjoint"
    // regime into the heatmap regime, corrupting the comparison
    require(nPolys <= 400000L,
      s"RENDER_BENCH_POLYS > 400000 wraps the position grid: $nPolys")
    val nCores = sys.env.getOrElse("RENDER_BENCH_N", "4").toInt
    val zoom = sys.env.getOrElse("RENDER_BENCH_ZOOM", "6").toInt

    // grid step 0.34° > width 0.3° → DISJOINT boxes (zone-raster regime:
    // no two boxes share a pixel, map-side combine never fires, the
    // exchange carries every lit-pixel row). RENDER_BENCH_OVERLAP=1
    // shrinks the step to 0.11° → ~3× pixel overlap (heatmap regime:
    // partial agg combines before the shuffle).
    val step = if (sys.env.contains("RENDER_BENCH_OVERLAP")) 0.11 else 0.34
    def polys(s: SparkSession) = {
      graft.sql.Geo.register(s)
      // ~0.3°x0.22° boxes on a lon/lat grid: ~140 lit pixels each at z6
      s.range(nPolys).selectExpr(
        "st_boxtopolygon(" +
          s"CAST(id % 1000 AS DOUBLE) * $step - 170.0," +
          "CAST((id DIV 1000) % 400 AS DOUBLE) * 0.35 - 70.0," +
          s"CAST(id % 1000 AS DOUBLE) * $step - 170.0 + 0.3," +
          "CAST((id DIV 1000) % 400 AS DOUBLE) * 0.35 - 70.0 + 0.22) AS g",
        "id % 7 + 1 AS w")
    }

    def leg(cores: Int): (Double, Long, Long) = {
      val s = session(cores)
      val df = polys(s)
      // lit pixels = the work unit (sum over tiles of nonzero pixels)
      import org.apache.spark.sql.functions._
      def run() = TileRender.renderPolygonTiles(df, "g", zoom, 256, Some("w"))
        .agg(sum(call_function("img_nonzero", col("png"))), count(lit(1)))
        .collect()(0)
      run() // warmup
      val t0 = System.nanoTime()
      val row = run()
      val secs = (System.nanoTime() - t0) / 1e9
      s.stop()
      (secs, row.getLong(0), row.getLong(1))
    }

    var tN = Vector.empty[Double]; var t4N = Vector.empty[Double]
    var pixels = 0L; var tiles = 0L
    for (_ <- 0 until 2) {
      val (a, px, tl) = leg(nCores); tN :+= a; pixels = px; tiles = tl
      val (b, _, _) = leg(nCores * 4); t4N :+= b
    }
    val thrN = pixels / tN.min
    val thr4N = pixels / t4N.min
    val eff = thr4N / (4.0 * thrN)
    println(
      f"""{"metric":"polygon-render throughput","polygons":$nPolys,"zoom":$zoom,"lit_pixels":$pixels,"tiles":$tiles,"n_cores":$nCores,"secs_N":[${tN.map(t => f"$t%.2f").mkString(",")}],"secs_4N":[${t4N.map(t => f"$t%.2f").mkString(",")}],"pixels_per_sec":{"N":${thrN.toLong},"4N":${thr4N.toLong}},"scaling_efficiency":$eff%.3f}""")
  }
}
