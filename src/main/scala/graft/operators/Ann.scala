package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sql.Geo

/** Approximate-nearest-neighbor over embedding columns.
  *
  * - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline. The
  *   query side broadcasts; the corpus streams through one codegen'd
  *   projection + window, no corpus shuffle beyond the per-query top-k.
  * - [[lshTopK]]: random-hyperplane LSH bucketing — the 100-TB scale path:
  *   corpus hashed once, probed per bucket, exact rerank inside buckets.
  */
object Ann {

  /** Distributed Lloyd's k-means — trains the IVF codebook in-engine
    * instead of requiring a pre-supplied one ([[ivfTopK]]'s "first nlist
    * vectors" stand-in). Fully deterministic, bit-for-bit, under ANY
    * partitioning / retry / speculative-execution schedule:
    *
    *  - seeding: the k rows with the smallest (md5(id), id) — a total
    *    order both engines can replicate (strings, no sign pitfalls);
    *  - assignment: `vec_argmin_l2` against the broadcast flat codebook —
    *    one codegen'd map-side projection, ZERO data shuffle (the same
    *    shape as IVF assignment);
    *  - update: per-dimension FIXED-POINT sums (`vec_fixed`,
    *    floor(v·2^20+0.5) longs). Integer addition commutes, so the
    *    reduction is partition-order-free — a double sum would make the
    *    trained model depend on the task schedule. The only shuffle per
    *    iteration is the partial-aggregated k·dim group rows.
    *
    * Driver state is the codebook itself (k·dim floats) — model, not
    * data. Empty clusters keep their previous centroid (cnt 0).
    *
    * Returns (flat row-major codebook — feed straight to [[ivfTopK]]-style
    * probes — and a summary DataFrame (c, i, cnt, val) of the final
    * centroids with last-iteration cluster sizes). */
  def trainKmeans(data: DataFrame, vecCol: String, idCol: String, k: Int,
                  iters: Int, scaleBits: Int = 20): (Array[Float], DataFrame) = {
    val spark = data.sparkSession
    Geo.register(spark)
    val scale = (1L << scaleBits).toDouble
    // one pass materializes the (id, vec) projection; the seed scan and
    // every Lloyd's iteration then read the cached columns instead of
    // re-executing the input lineage iters+1 times (at corpus scale each
    // re-execution is a full table read)
    // null vectors are dropped up front: they carry no centroid signal,
    // and a null assignment key would otherwise surface as a null group
    // row in the update collect (the exploded formulation dropped them
    // implicitly; the aggregate one must do it explicitly)
    val base = data.select(col(idCol), col(vecCol))
      .filter(col(vecCol).isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seedRows = base
        .withColumn("__h", md5(col(idCol).cast("string").cast("binary")))
        .orderBy(col("__h"), col(idCol))
        .limit(k)
        .select(col(vecCol)).collect()
      require(seedRows.length == k, s"k-means needs >= $k rows")
      var codebook: Array[Float] =
        seedRows.flatMap(_.getSeq[Float](0)).toArray
      val dim = codebook.length / k
      var counts = Array.fill(k)(0L)
      for (_ <- 1 to iters) {
        // centroid update via the array-summing aggregate: each partition
        // folds its vectors into ONE dim+1 long buffer per cluster, so
        // the exchange carries k buffers — not rows×dim exploded rows
        // (the posexplode formulation measured memory-bandwidth-bound)
        val sums = base
          .withColumn("__c",
            call_function("vec_argmin_l2", col(vecCol), lit(codebook)))
          .groupBy(col("__c"))
          .agg(call_function("vec_fixedsum_agg",
            call_function("vec_fixed", col(vecCol), lit(scaleBits))).as("fs"))
          .select(col("__c"), col("fs.n"), col("fs.sums"))
          .collect()
        val newCb = codebook.clone()
        counts = Array.fill(k)(0L)
        sums.foreach { r =>
          val c = r.getInt(0)
          val n = r.getLong(1)
          val arr = r.getSeq[Long](2)
          counts(c) = n
          var i = 0
          while (i < dim) {
            newCb(c * dim + i) = ((arr(i).toDouble / n.toDouble) / scale).toFloat
            i += 1
          }
        }
        codebook = newCb
      }
      import spark.implicits._
      val rows = for (c <- 0 until k; i <- 0 until dim)
        yield (c, i, counts(c), codebook(c * dim + i).toDouble)
      (codebook, rows.toDF("c", "i", "cnt", "val"))
    } finally base.unpersist()
  }

  /** Exact top-k by cosine for each query row. Output: qid, rank, id, cos. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
                     idCol: String, qidCol: String, qvecCol: String,
                     k: Int): DataFrame = {
    Geo.register(corpus.sparkSession)
    val joined = corpus.crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("cos", call_function("vec_cosine", col(vecCol), col(qvecCol)))
    topKByCos(joined, qidCol, idCol, k)
  }

  /** The exact rerank every top-k ends on: per query, the `k` rows of
    * highest `cos` (ties to the lower id) as (qid, rank, id, cos). */
  private def topKByCos(scored: DataFrame, qidCol: String, idCol: String,
                        k: Int): DataFrame = {
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("cos").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col("rank"), col(idCol), col("cos"))
  }

  /** Mutual-kNN clustering over an embedding corpus — the standard
    * embedding-cluster pipeline: exact kNN graph (top-k cosine neighbors
    * per vector), MUTUAL edges only (a in b's top-k AND b in a's —
    * the density-robust pruning that stops hub vectors welding unrelated
    * clusters), then min-label connected components (the [[Dedup]] CC
    * machinery). Vectors in no mutual edge are singleton clusters of
    * themselves. Returns (id, cluster).
    *
    * The graph stage here is the exact broadcast brute force (right for
    * the ≤10^5-vector regimes where exactness is wanted — and what makes
    * q151's oracle possible); at corpus scale swap it for
    * [[ivfTopK]]/[[pqTopK]] candidates — the mutual filter and CC stages
    * are unchanged. */
  def mutualKnnClusters(corpus: DataFrame, vecCol: String, idCol: String,
                        k: Int, maxIter: Int = 50): DataFrame = {
    val queries = corpus.select(col(idCol).as("__qid"),
      col(vecCol).as("__qvec"))
    val knn = bruteForceTopK(corpus, queries, vecCol, idCol, "__qid",
        "__qvec", k)
      .select(col("__qid").as("a"), col(idCol).as("b"))
    val mutual = knn.as("x").join(knn.as("y"),
        col("x.a") === col("y.b") && col("x.b") === col("y.a") &&
          col("x.a") < col("x.b"))
      .select(col("x.a").as("id_a"), col("x.b").as("id_b"))
    val clusters = Dedup.dupClusters(mutual, maxIter = maxIter)
    corpus.select(col(idCol).as("id"))
      .join(clusters, Seq("id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("id")))
  }

  /** Projection-pruned top-k: both sides reduce to `projDim` dims via the
    * deterministic Rademacher JL transform (`vec_project`), a cheap
    * low-dim cosine picks `k * rerank` candidates per query, and the
    * exact full-dim cosine reranks only those.
    *
    * 100-TB shape: the expensive distance runs on `projDim/dim` of the
    * bandwidth (64→16-d = 4× less vector traffic through the candidate
    * scan), and the full vectors are fetched for candidates only via a
    * broadcast-query join — the same two-phase discipline as [[sq8TopK]],
    * trading quantization error for projection error. JL guarantees the
    * distortion concentrates, so recall stays high at modest rerank.
    * Output: qid, rank, id, cos (exact cosines). */
  def projectedTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
                    idCol: String, qidCol: String, qvecCol: String,
                    k: Int, projDim: Int = 16, rerank: Int = 4,
                    seed: Long = 11L): DataFrame = {
    Geo.register(corpus.sparkSession)
    val projCorpus = corpus.select(col(idCol),
      call_function("vec_project", col(vecCol), lit(projDim), lit(seed))
        .as("__pv"))
    val projQueries = queries.select(col(qidCol),
      call_function("vec_project", col(qvecCol), lit(projDim), lit(seed))
        .as("__qpv"))
    val wP = Window.partitionBy(col(qidCol))
      .orderBy(col("__pcos").desc, col(idCol))
    val candidates = projCorpus.crossJoin(broadcast(projQueries))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("__pcos", call_function("vec_cosine", col("__pv"), col("__qpv")))
      .withColumn("__prank", row_number().over(wP))
      .filter(col("__prank") <= k * rerank)
      .select(col(idCol), col(qidCol))
    topKByCos(candidates
      .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(queries.select(col(qidCol), col(qvecCol))), Seq(qidCol))
      .withColumn("cos", call_function("vec_cosine", col(vecCol), col(qvecCol))),
      qidCol, idCol, k)
  }

  /** IVF-style approximate top-k: a deterministic centroid codebook (first
    * `nlist` corpus vectors by id — reproducible without an iterative
    * training job), corpus assigned to its nearest centroid once, queries
    * probe their `nprobe` nearest centroid lists and rerank exactly.
    *
    * 100-TB scale shape: the codebook is driver/broadcast model state
    * (nlist*dim floats, bounded) shipped as an array literal into a
    * codegen'd `vec_argmax_centroid` projection — assignment is pure
    * map-side, ZERO corpus shuffle (no crossJoin, no window exchange).
    * Each query then probes nprobe/nlist of the corpus via the broadcast
    * inverted-list equi-join. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
              idCol: String, qidCol: String, qvecCol: String, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              codebook: Option[Array[Float]] = None): DataFrame = {
    Geo.register(corpus.sparkSession)
    // codebook: a TRAINED model when provided ([[trainKmeans]] output
    // plugs in directly — q118 oracles that end-to-end), else the
    // deterministic first-nlist-by-id sample (reproducible without a
    // training job); collected once — model state, not data
    val cbArr: Array[Float] = codebook.getOrElse(
      corpus.orderBy(col(idCol)).limit(nlist)
        .select(col(vecCol)).collect()
        .flatMap(_.getSeq[Float](0)).map(f => f: Float))
    val cm = lit(cbArr)
    // invert: nearest centroid index per corpus vector, one map-side pass
    val assigned = corpus
      .withColumn("cid", call_function("vec_argmax_centroid", col(vecCol), cm))
      .select(col(idCol), col(vecCol), col("cid"))
    // queries probe their nprobe nearest centroid indices
    val probes = queries
      .withColumn("cid", explode(call_function("vec_topcentroids",
        col(qvecCol), cm, lit(nprobe))))
      .select(col(qidCol), col(qvecCol), col("cid"))
    // inverted-list equi-join + exact rerank
    topKByCos(assigned.join(broadcast(probes), "cid")
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("cos", call_function("vec_cosine", col(vecCol), col(qvecCol))),
      qidCol, idCol, k)
  }

  /** Scalar-quantized (SQ8) approximate top-k: the corpus compressed to
    * one byte per dimension (+ per-vector range), candidates selected by
    * asymmetric dequantized cosine over the codes, then the top
    * `k * rerank` exactly reranked against the float vectors.
    *
    * 100-TB scale shape: the quantized corpus is 4× smaller than float32 —
    * the approximate scan reads a quarter of the bytes (in practice the
    * codes are what gets persisted/cached; compose with [[ivfTopK]]'s
    * inverted lists to also cut the row count). Full float vectors are
    * touched only for the candidate set (|queries|·k·rerank rows), fetched
    * via a broadcast join by id — the big side never shuffles. The
    * candidate window prunes map-side (`WindowGroupLimit`), same as the
    * brute-force baseline. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
              idCol: String, qidCol: String, qvecCol: String, k: Int,
              rerank: Int = 4): DataFrame = {
    Geo.register(corpus.sparkSession)
    val codes = corpus
      .withColumn("__sq", call_function("vec_sq8", col(vecCol)))
      .select(col(idCol), col("__sq.codes").as("__codes"),
        col("__sq.vmin").as("__vmin"), col("__sq.vmax").as("__vmax"))
    val wa = Window.partitionBy(col(qidCol))
      .orderBy(col("asim").desc, col(idCol))
    val cand = codes.crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("asim", call_function("vec_sq8_cosine", col("__codes"),
        col("__vmin"), col("__vmax"), col(qvecCol)))
      .withColumn("__arank", row_number().over(wa))
      .filter(col("__arank") <= k * rerank)
      .select(col(qidCol), col(qvecCol), col(idCol))
    topKByCos(corpus.select(col(idCol), col(vecCol)).join(broadcast(cand), idCol)
      .withColumn("cos", call_function("vec_cosine", col(vecCol), col(qvecCol))),
      qidCol, idCol, k)
  }

  /** Product-quantization (PQ/ADC) approximate top-k — the compression
    * family next to [[sq8TopK]] (scalar) and [[projectedTopK]] (JL): the
    * vector splits into `m` subspaces, each trained to a `kSub`-centroid
    * codebook with the deterministic fixed-point [[trainKmeans]], and the
    * corpus stores only `m` small codes per vector. Serving is asymmetric
    * distance computation: each query precomputes an m×kSub table of exact
    * subspace L2² distances, and a candidate's approximate distance is `m`
    * table lookups — no float math against corpus vectors at all.
    *
    * 100-TB shape: the codebooks are model state (m·kSub·subDim floats,
    * broadcast as literals into codegen'd `vec_argmin_l2` projections) —
    * training shuffles only k·dim partial-agg rows per iteration, encoding
    * is pure map-side, and the candidate scan reads m ints per corpus row
    * (64-d float32 → 2 codes is a 32× bandwidth cut, the reason PQ is the
    * standard billion-vector index layout). The ADC table rides the
    * broadcast query row; the scan's per-query top-(k·rerank) window
    * prunes map-side (`WindowGroupLimit`), and only candidates fetch float
    * vectors for the exact rerank — the [[sq8TopK]] two-phase discipline.
    *
    * Everything is schedule-deterministic and exact-replicable: fixed-point
    * k-means, ordered-fold L2² (`vec_l2sq` = the assignment fold), ADC sum
    * in subspace order, ties to the lowest id (q141 replays the whole
    * train→encode→serve chain in SQL, bit-for-bit).
    * Output: qid, rank, id, cos (exact cosines). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
             idCol: String, qidCol: String, qvecCol: String, k: Int,
             m: Int = 2, kSub: Int = 8, iters: Int = 2,
             rerank: Int = 4): DataFrame = {
    Geo.register(corpus.sparkSession)
    val probe = corpus.filter(col(vecCol).isNotNull)
      .select(col(vecCol)).limit(1).collect()
    require(probe.nonEmpty, "pqTopK needs a non-empty corpus")
    val dim = probe.head.getSeq[Float](0).length
    require(m > 0 && dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    // train one codebook per subspace (same md5-seed rows in every
    // subspace — the seeds are rows, the slices differ)
    val books: IndexedSeq[Array[Float]] = (0 until m).map { j =>
      trainKmeans(
        corpus.select(col(idCol),
          slice(col(vecCol), j * sub + 1, sub).as("__sv")),
        "__sv", idCol, kSub, iters)._1
    }
    // encode: m codegen'd argmin projections, zero shuffle
    val codeCols = (0 until m).map(j => call_function("vec_argmin_l2",
      slice(col(vecCol), j * sub + 1, sub), lit(books(j))))
    val codes = corpus.select(col(idCol), array(codeCols: _*).as("__codes"))
    // per-query ADC table: exact L2² from the query's subvector to every
    // centroid, laid out j-major (index = j·kSub + c)
    val tabCols = for (j <- 0 until m; c <- 0 until kSub) yield
      call_function("vec_l2sq", slice(col(qvecCol), j * sub + 1, sub),
        lit(books(j).slice(c * sub, (c + 1) * sub)))
    val qt = queries.select(col(qidCol), col(qvecCol),
      array(tabCols: _*).as("__tab"))
    val wa = Window.partitionBy(col(qidCol))
      .orderBy(col("adist").asc, col(idCol))
    val cand = codes.crossJoin(broadcast(qt))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("adist", expr(
        s"""aggregate(transform(sequence(0, ${m - 1}),
           |  j -> element_at(__tab, j * $kSub + element_at(__codes, j + 1) + 1)),
           |  CAST(0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin))
      .withColumn("__arank", row_number().over(wa))
      .filter(col("__arank") <= k * rerank)
      .select(col(qidCol), col(qvecCol), col(idCol))
    topKByCos(corpus.select(col(idCol), col(vecCol)).join(broadcast(cand), idCol)
      .withColumn("cos", call_function("vec_cosine", col(vecCol), col(qvecCol))),
      qidCol, idCol, k)
  }

  /** LSH-bucketed approximate top-k: candidates share the query's bucket
    * (optionally 1-bit multiprobe), exact cosine rerank within bucket. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
              idCol: String, qidCol: String, qvecCol: String, k: Int,
              bits: Int = 10, seed: Long = 42L,
              multiprobe: Boolean = true): DataFrame = {
    Geo.register(corpus.sparkSession)
    val c = corpus.withColumn("__bucket",
      call_function("vec_lshbucket", col(vecCol), lit(bits), lit(seed)))
    val qBase = queries.withColumn("__qbucket",
      call_function("vec_lshbucket", col(qvecCol), lit(bits), lit(seed)))
    val q =
      if (!multiprobe) qBase.withColumn("__probe", col("__qbucket"))
      else qBase.withColumn("__probe", explode(array(
        col("__qbucket") +: (0 until bits).map(b =>
          col("__qbucket").bitwiseXOR(lit(1L << b))): _*)))
    val joined = c.join(broadcast(q), col("__bucket") === col("__probe"))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("cos", call_function("vec_cosine", col(vecCol), col(qvecCol)))
    topKByCos(joined.select(col(qidCol), col(idCol), col("cos")).distinct(),
      qidCol, idCol, k)
  }
}
