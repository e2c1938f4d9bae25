package graft

import org.apache.spark.sql.SparkSession

import graft.operators.{Dedup, SpatialJoins}

/** Scale probes for the round-5 similarity joins, N vs 4N cores on the
  * same input — the north rule's two-cluster-size criterion applied to
  * the two new candidate-generation shapes:
  *
  *  - `SIM_BENCH_MODE=hausdorff` (default): millions of short synthetic
  *    tracks on an anchor grid, Hausdorff-joined against a broadcast
  *    track layer (expanded-envelope tile-cover candidates + exact
  *    refine — the intersectsJoin plan shape carrying a heavier kernel).
  *  - `SIM_BENCH_MODE=edit`: millions of short hex strings with planted
  *    one-edit twins through the deletion-neighborhood join (capped
  *    mode — the 100-TB shape: hash equi-join on ~(len+1)·rows keys,
  *    then exact levenshtein on candidates).
  *
  * Prints ONE JSON line with per-leg seconds (2 interleaved rounds, min
  * per leg), rows/sec at N and 4N, output pairs, and the scaling
  * efficiency. Results feed SCALING.md. */
object SimilarityBench {

  private def session(cores: Int): SparkSession =
    LocalSpark.session(cores, "graft-similarity-bench")

  def main(args: Array[String]): Unit = {
    val mode = sys.env.getOrElse("SIM_BENCH_MODE", "hausdorff")
    val nRows = sys.env.getOrElse("SIM_BENCH_ROWS",
      if (mode == "edit") "8000000" else "4000000").toLong
    val nCores = sys.env.getOrElse("SIM_BENCH_N", "4").toInt

    // ---- inputs (materialized once; synthesis excluded from timing)
    val path = s"target/bench_sim_${mode}_$nRows"
    locally {
      val s = session(16)
      graft.sql.Geo.register(s)
      if (!new java.io.File(path).exists()) {
        val df =
          if (mode == "edit")
            // even ids: 10 hex chars of splitmix64(id/2); odd ids: the
            // same string with one substituted char -> a planted
            // distance-1 twin for every even id
            s.range(0, nRows, 1, 64).selectExpr("id",
              """CASE WHEN id % 2 = 0
                |  THEN substring(hex(splitmix64(CAST(id / 2 AS BIGINT))), 1, 10)
                |  ELSE concat(
                |    substring(substring(hex(splitmix64(CAST(id / 2 AS BIGINT))), 1, 10),
                |      1, CAST(id % 9 AS INT)),
                |    'z',
                |    substring(substring(hex(splitmix64(CAST(id / 2 AS BIGINT))), 1, 10),
                |      CAST(id % 9 AS INT) + 2, 10))
                |END AS text""".stripMargin)
          else
            // 3-vertex tracks jittered 0..0.2 deg around a 40x13-slot
            // anchor grid (9 x 6.5 deg pitch) — the q142 geometry at
            // bench cardinality
            // WKB on disk (geometry structs don't parquet-round-trip raw:
            // the reader drops field NOT NULLs); legs decode on scan like
            // the other benches' in-leg constructors
            s.range(0, nRows, 1, 64).selectExpr("id",
              """st_aswkb(st_linefromxy(array(
                |  CAST(id % 40 AS DOUBLE) * 9.0D - 178.0D
                |    + CAST(splitmix64(id) % 2000 AS DOUBLE) / 10000.0D,
                |  CAST(CAST(id / 40 AS BIGINT) % 13 AS DOUBLE) * 6.5D - 80.0D
                |    + CAST(splitmix64(id + 1) % 2000 AS DOUBLE) / 10000.0D,
                |  CAST(id % 40 AS DOUBLE) * 9.0D - 178.0D
                |    + CAST(splitmix64(id + 2) % 2000 AS DOUBLE) / 10000.0D,
                |  CAST(CAST(id / 40 AS BIGINT) % 13 AS DOUBLE) * 6.5D - 80.0D
                |    + CAST(splitmix64(id + 3) % 2000 AS DOUBLE) / 10000.0D,
                |  CAST(id % 40 AS DOUBLE) * 9.0D - 178.0D
                |    + CAST(splitmix64(id + 4) % 2000 AS DOUBLE) / 10000.0D,
                |  CAST(CAST(id / 40 AS BIGINT) % 13 AS DOUBLE) * 6.5D - 80.0D
                |    + CAST(splitmix64(id + 5) % 2000 AS DOUBLE) / 10000.0D
                |))) AS wkb""".stripMargin)
        df.write.mode("overwrite").parquet(path)
      }
      s.stop()
    }

    def leg(cores: Int): (Double, Long) = {
      val s = session(cores)
      graft.sql.Geo.register(s)
      def run(): Long =
        if (mode == "edit")
          Dedup.editNearDups(s.read.parquet(path), "text", "id", maxBand = 64)
            .count()
        else {
          val left = s.read.parquet(path)
            .selectExpr("id", "st_geomfromwkb(wkb) AS track")
          val right = s.read.parquet(path)
            .where("id % 2000 = 0")
            .selectExpr("id AS id_b", "st_geomfromwkb(wkb) AS track_b")
          SpatialJoins.hausdorffJoin(left, right, "track", "track_b",
            maxDist = 0.05, zoom = 6).count()
        }
      run() // JIT/IO warmup pass, then the timed pass
      val t0 = System.nanoTime()
      val pairs = run()
      val secs = (System.nanoTime() - t0) / 1e9
      s.stop()
      (secs, pairs)
    }

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
      f"""{"metric":"$mode%s-similarity-join throughput","rows":$nRows,"pairs":$pairs,"n_cores":$nCores,"secs_N":[${tN.map(t => f"$t%.2f").mkString(",")}],"secs_4N":[${t4N.map(t => f"$t%.2f").mkString(",")}],"rows_per_sec":{"N":${thrN.toLong},"4N":${thr4N.toLong}},"scaling_efficiency":$eff%.3f}""")
  }
}
