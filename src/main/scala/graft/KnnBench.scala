package graft

import org.apache.spark.sql.functions._

import graft.operators.Knn
import graft.sources.ImagesTable

/** Spherical-kNN scale probe: 10^5 queries against a skewed point set
  * (90% uniform globe + 10% dense city), adaptive per-query start level
  * vs fixed start levels. Prints ONE JSON line with wall seconds and the
  * per-round (level, retired-queries) histogram for each variant — the
  * evidence that adaptive starts retire dense-region queries in round 0
  * instead of paying max-rounds, without the giant round-0 joins a
  * uniformly-coarse start would cost. Results feed SCALING.md. */
object KnnBench {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nPts = sys.env.getOrElse("KNN_BENCH_POINTS", "4000000").toLong
    val nQ = sys.env.getOrElse("KNN_BENCH_QUERIES", "100000").toLong
    val spark = LocalSpark.session(cpus, "graft-knn-bench")

    // ---- input (materialized once; synthesis excluded from timing)
    val ptsPath = s"target/knn_bench_pts_$nPts"
    if (!new java.io.File(ptsPath).exists()) {
      // 10% of rows re-homed into a 1x1-degree "city": the density skew
      // that makes one fixed start level wrong for somebody
      ImagesTable.generate(spark, nPts, partitions = 64)
        .select(col("image_id"), col("phash"),
          when(pmod(col("phash"), lit(10)) === 0,
            lit(10.0) + pmod(col("phash"), lit(10000)).cast("double") / 10000.0)
            .otherwise(col("lon")).as("lon"),
          when(pmod(col("phash"), lit(10)) === 0,
            lit(50.0) + pmod(floor(col("phash") / 10000), lit(10000))
              .cast("double") / 10000.0)
            .otherwise(col("lat")).as("lat"))
        .drop("phash")
        .write.mode("overwrite").parquet(ptsPath)
    }
    val pts = spark.read.parquet(ptsPath)
    // queries mirror the mix: 10% city, 90% uniform — all deterministic
    val qs = spark.range(nQ)
      .withColumn("h", abs(xxhash64(col("id"))))
      .select(col("id").as("qid"),
        when(pmod(col("id"), lit(10)) === 0,
          lit(10.0) + pmod(col("h"), lit(10000)).cast("double") / 10000.0)
          .otherwise(pmod(col("h"), lit(3600000)).cast("double") / 10000.0 - 180.0)
          .as("qlon"),
        when(pmod(col("id"), lit(10)) === 0,
          lit(50.0) + pmod(floor(col("h") / 10000), lit(10000))
            .cast("double") / 10000.0)
          .otherwise(pmod(floor(col("h") / 3600000), lit(1700000))
            .cast("double") / 10000.0 - 85.0)
          .as("qlat"))
      .localCheckpoint(true)

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def hist(buf: Seq[(Int, Int, Long)]): String =
      buf.map { case (r, lvl, n) => s"[$r,$lvl,$n]" }.mkString("[", ",", "]")

    // (count, content checksum) — a bare row count is VACUOUS as an
    // exactness gate here (with >= k points every variant returns exactly
    // nQ*k rows, wrong neighbors included); the order-independent hash sum
    // over (qid, rank, image_id) pins the actual assignment
    def sig(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("qid"), col("rank"), col("image_id")))).head()
      (r.getLong(0), r.getLong(1))
    }
    // adaptive (histogram collected in the same run; the per-round
    // doneIds.count() is a tiny job on a checkpointed <=k-rows-per-query
    // frame — disclosed, not hidden)
    val aRounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    val ((aCount, aSig), aSecs) = time {
      sig(Knn.knnMetersJoinAdaptive(pts, qs, k = 5, tieCols = Seq("image_id"),
        onRound = (r, l, n) => aRounds += ((r, l, n))))
    }
    // fixed fine (the q88 default shape) and fixed coarse, same histogram
    val f12Rounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    val ((f12Count, f12Sig), f12Secs) = time {
      sig(Knn.knnMetersJoin(pts, qs, k = 5, startLevel = 12,
        tieCols = Seq("image_id"),
        onRound = (r, l, n) => f12Rounds += ((r, l, n))))
    }
    val f8Rounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    val ((f8Count, f8Sig), f8Secs) = time {
      sig(Knn.knnMetersJoin(pts, qs, k = 5, startLevel = 8,
        tieCols = Seq("image_id"),
        onRound = (r, l, n) => f8Rounds += ((r, l, n))))
    }
    require(aCount == f12Count && aCount == f8Count &&
      aSig == f12Sig && aSig == f8Sig,
      s"exactness violated: rows $aCount/$f12Count/$f8Count " +
        s"sig $aSig/$f12Sig/$f8Sig")
    println(
      f"""{"metric":"knn-meters 10^5 queries","n_points":$nPts,"n_queries":$nQ,"rows_out":$aCount,"adaptive":{"secs":$aSecs%.2f,"rounds":${hist(aRounds.toSeq)}},"fixed12":{"secs":$f12Secs%.2f,"rounds":${hist(f12Rounds.toSeq)}},"fixed8":{"secs":$f8Secs%.2f,"rounds":${hist(f8Rounds.toSeq)}}}""")
    spark.stop()
  }
}
