package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Dissolve

/** Dissolve scale probe: `st_union_agg` over a synthetic parcel table at
  * two parallelism levels (N vs 4N cores), same input — the north rule's
  * two-cluster-size criterion applied to the dissolve operator.
  *
  * Two workloads:
  *  - "wide": many keys, moderate group size (parcels per admin region) —
  *    the common dissolve; per-key cascaded-union work dominates and is
  *    embarrassingly parallel across the final-aggregate partitions.
  *  - "hot": few keys, huge groups — the monster-key shape the two-level
  *    (hex-bucketed) Dissolve exists for; the probe times direct vs
  *    two-level on the SAME input at 4N to measure the bucketing win.
  *
  * Boxes sit on an integer grid so adjacent parcels weld (the union does
  * real boundary work, not disjoint-collect). Prints ONE JSON line;
  * results feed SCALING.md. */
object DissolveBench {

  private def session(cores: Int): SparkSession = {
    val s = LocalSpark.session(cores, "graft-dissolve-bench")
    s.conf.set("spark.sql.adaptive.enabled",
      sys.env.getOrElse("DISSOLVE_BENCH_AQE", "true"))
    graft.sql.Geo.register(s)
    s
  }

  def main(args: Array[String]): Unit = {
    val nRows = sys.env.getOrElse("DISSOLVE_BENCH_ROWS", "8000000").toLong
    val nKeys = sys.env.getOrElse("DISSOLVE_BENCH_KEYS", "50000").toInt
    val hotKeys = sys.env.getOrElse("DISSOLVE_BENCH_HOTKEYS", "32").toInt
    val nCores = sys.env.getOrElse("DISSOLVE_BENCH_N", "4").toInt

    // ---- input (materialized once; synthesis excluded from timing).
    // Per key, boxes tile rows of a 64-wide strip: j-th box of a key is
    // [j%64, j%64+1] × [j/64, j/64+1] — every box shares edges with its
    // neighbors, so the union welds long runs, not disjoint islands.
    val path = s"target/bench_dissolve_$nRows"
    locally {
      val s = session(16)
      if (!new java.io.File(path).exists())
        s.range(0, nRows, 1, 64).selectExpr(
          s"CAST(id % $nKeys AS INT) AS k",
          s"CAST(id % $hotKeys AS INT) AS hk",
          s"CAST((id DIV $nKeys) % 64 AS DOUBLE) AS x0",
          s"CAST((id DIV $nKeys) DIV 64 AS DOUBLE) AS y0")
          .write.mode("overwrite").parquet(path)
      s.stop()
    }

    def load(s: SparkSession) =
      s.read.parquet(path).withColumn("g",
        expr("st_boxtopolygon(x0, y0, x0 + 1.0d, y0 + 1.0d)"))

    // NB: the probe must CONSUME the union output — a bare count() after
    // the aggregation lets Catalyst prune the unused st_union_agg
    // expression and the "dissolve" degenerates to a key distinct-count
    // (measured: 17M rows/s of nothing). Summing st_npoints forces every
    // group's cascaded union and doubles as a cross-leg checksum.
    def consume(out: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = out.agg(count(lit(1)), sum(expr("st_npoints(g)"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }

    def leg(cores: Int): (Double, Long, Long) = {
      val s = session(cores)
      val df = load(s)
      consume(Dissolve.dissolve(df, Seq("k"), "g")) // JIT/IO warmup
      val t0 = System.nanoTime()
      val (groups, check) = consume(Dissolve.dissolve(df, Seq("k"), "g"))
      val secs = (System.nanoTime() - t0) / 1e9
      s.stop()
      (secs, groups, check)
    }

    // interleave 2 rounds per leg, min per leg (same discipline as Bench)
    var tN = Vector.empty[Double]; var t4N = Vector.empty[Double]
    var groups = 0L; var checkN = 0L; var check4N = 0L
    for (_ <- 0 until 2) {
      val (a, g1, c1) = leg(nCores); tN :+= a; groups = g1; checkN = c1
      val (b, _, c2) = leg(nCores * 4); t4N :+= b; check4N = c2
    }
    require(checkN == check4N,
      s"dissolve checksum differs across parallelism: $checkN vs $check4N")
    val thrN = nRows / tN.min
    val thr4N = nRows / t4N.min
    val eff = thr4N / (4.0 * thrN)

    // ---- hot-key probe at 4N: direct vs two-level on the same input
    def hotLeg(cellSize: Option[Double]): (Double, Long) = {
      val s = session(nCores * 4)
      val df = load(s)
      def run(): Long =
        Dissolve.dissolve(df, Seq("hk"), "g", cellSize)
          .agg(sum(expr("st_npoints(g)"))).collect()(0).getLong(0)
      run() // JIT/IO warmup
      val t0 = System.nanoTime()
      val check = run()
      val secs = (System.nanoTime() - t0) / 1e9
      s.stop()
      (secs, check)
    }
    // interleaved min-of-2, like the wide legs — a single round per
    // variant made the hot comparison co-tenant-noise-bound
    var hd = Vector.empty[Double]; var ht = Vector.empty[Double]
    var hc1 = 0L; var hc2 = 0L
    for (_ <- 0 until 2) {
      val (d1, c1) = hotLeg(None); hd :+= d1; hc1 = c1
      val (t1, c2) = hotLeg(Some(8.0)); ht :+= t1; hc2 = c2
    }
    val hotDirect = hd.min
    val hotTwoLevel = ht.min
    // grid-exact inputs: two-level must be value-identical to direct
    require(hc1 == hc2, s"hot-key checksum differs: direct $hc1 vs two-level $hc2")

    println(
      f"""{"metric":"dissolve throughput","rows":$nRows,"keys":$nKeys,"groups":$groups,"checksum_npoints":$checkN,"n_cores":$nCores,"secs_N":[${tN.map(t => f"$t%.2f").mkString(",")}],"secs_4N":[${t4N.map(t => f"$t%.2f").mkString(",")}],"rows_per_sec":{"N":${thrN.toLong},"4N":${thr4N.toLong}},"scaling_efficiency":$eff%.3f,"hot":{"keys":$hotKeys,"secs_direct_4N":$hotDirect%.2f,"secs_twolevel_4N":$hotTwoLevel%.2f,"checksum_npoints":$hc1}}""")
  }
}
