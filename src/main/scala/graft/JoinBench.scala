package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.SpatialJoins
import graft.sources.ImagesTable

/** Intersects-join scale probe: N small boxes (derived from the bench
  * image table's lon/lat) joined against the ~200-polygon layer at two
  * parallelism levels (N vs 4N cores), same input — the north rule's
  * two-cluster-size criterion applied to the geometry-geometry join.
  * Prints ONE JSON line: wall seconds, rows/sec at N and 4N, output
  * pairs, and the scaling efficiency. Results feed SCALING.md. */
object JoinBench {

  private def session(cores: Int): SparkSession =
    LocalSpark.session(cores, "graft-join-bench")

  def main(args: Array[String]): Unit = {
    if (sys.env.get("JOIN_BENCH_MODE").contains("kmeans")) return kmeansMain()
    val nRows = sys.env.getOrElse("JOIN_BENCH_ROWS", "16000000").toLong
    val nCores = sys.env.getOrElse("JOIN_BENCH_N", "4").toInt
    val nPolys = sys.env.getOrElse("JOIN_BENCH_POLYS", "200").toInt

    // ---- input (materialized once; synthesis excluded from timing)
    val ptsPath = s"target/bench_images_$nRows"
    locally {
      val s = session(16)
      if (!new java.io.File(ptsPath).exists())
        ImagesTable.generate(s, nRows, png = false, partitions = 64)
          .write.mode("overwrite").parquet(ptsPath)
      s.stop()
    }

    def leg(cores: Int): (Double, Long) = {
      val s = session(cores)
      graft.sql.Geo.register(s)
      val boxes = s.read.parquet(ptsPath)
        .selectExpr("image_id",
          "st_boxtopolygon(lon - 0.4, lat - 0.25, lon + 0.4, lat + 0.25) AS bg")
      val polys = ImagesTable.polygonLayer(s, nPolys)
        .selectExpr("poly_id", "poly AS pg")
      def run(): Long =
        SpatialJoins.intersectsJoin(boxes, polys, "bg", "pg", zoom = 6).count()
      run() // JIT/IO warmup pass, then the timed pass
      val t0 = System.nanoTime()
      val pairs = run()
      val secs = (System.nanoTime() - t0) / 1e9
      s.stop()
      (secs, pairs)
    }

    // interleave 2 rounds per leg, min per leg (uncontended estimate;
    // same discipline as graft.Bench)
    var tN = Vector.empty[Double]; var t4N = Vector.empty[Double]
    var pairs = 0L
    for (_ <- 0 until 2) {
      val (a, p) = leg(nCores); tN :+= a; pairs = p
      val (b, _) = leg(nCores * 4); t4N :+= b
    }
    val thrN = nRows / tN.min
    val thr4N = nRows / t4N.min
    val eff = thr4N / (4.0 * thrN)
    println(
      f"""{"metric":"intersects-join throughput","rows":$nRows,"polys":$nPolys,"pairs":$pairs,"n_cores":$nCores,"secs_N":[${tN.map(t => f"$t%.2f").mkString(",")}],"secs_4N":[${t4N.map(t => f"$t%.2f").mkString(",")}],"rows_per_sec":{"N":${thrN.toLong},"4N":${thr4N.toLong}},"scaling_efficiency":$eff%.3f}""")
  }

  /** k-means training scale probe (JOIN_BENCH_MODE=kmeans): distributed
    * Lloyd's over a synthesized vector table, N vs 4N cores. Per
    * iteration: map-side codegen'd argmin + one partial-aggregated
    * exchange of k·dim group rows — the corpus never shuffles, so the
    * wall is scan + kernel bound and should scale near-linearly. */
  private def kmeansMain(): Unit = {
    val nRows = sys.env.getOrElse("KMEANS_BENCH_ROWS", "4000000").toLong
    val dim = sys.env.getOrElse("KMEANS_BENCH_DIM", "16").toInt
    val k = sys.env.getOrElse("KMEANS_BENCH_K", "16").toInt
    val iters = sys.env.getOrElse("KMEANS_BENCH_ITERS", "2").toInt
    val nCores = sys.env.getOrElse("JOIN_BENCH_N", "4").toInt

    val vecPath = s"target/bench_vecs_${nRows}_$dim"
    locally {
      val s = session(16)
      graft.sql.Geo.register(s)
      if (!new java.io.File(vecPath).exists())
        s.range(0, nRows, 1, 64).selectExpr("id AS vec_id",
          s"transform(sequence(0, ${dim - 1}), j -> " +
            "CAST(CAST(splitmix64(id * " + dim + " + j) % 1000 AS DOUBLE)" +
            " / 500.0 AS FLOAT)) AS embedding")
          .write.mode("overwrite").parquet(vecPath)
      s.stop()
    }

    def leg(cores: Int): Double = {
      val s = session(cores)
      val df = s.read.parquet(vecPath)
      def run() = graft.operators.Ann.trainKmeans(
        df, "embedding", "vec_id", k, iters)
      run() // warmup
      val t0 = System.nanoTime()
      run()
      val secs = (System.nanoTime() - t0) / 1e9
      s.stop()
      secs
    }
    var tN = Vector.empty[Double]; var t4N = Vector.empty[Double]
    for (_ <- 0 until 2) {
      tN :+= leg(nCores)
      t4N :+= leg(nCores * 4)
    }
    val thrN = nRows * iters / tN.min
    val thr4N = nRows * iters / t4N.min
    val eff = thr4N / (4.0 * thrN)
    println(
      f"""{"metric":"kmeans-train throughput (rows x iters / sec)","rows":$nRows,"dim":$dim,"k":$k,"iters":$iters,"n_cores":$nCores,"secs_N":[${tN.map(t => f"$t%.2f").mkString(",")}],"secs_4N":[${t4N.map(t => f"$t%.2f").mkString(",")}],"rows_per_sec":{"N":${thrN.toLong},"4N":${thr4N.toLong}},"scaling_efficiency":$eff%.3f}""")
  }
}
