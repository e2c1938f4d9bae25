package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.plans.CoverKeys
import graft.sql.Geo

/** Density-based spatial clustering (DBSCAN) as a distributed composition
  * of the engine's existing primitives: grid-cell candidate join for the
  * eps-neighborhood counts, then min-label propagation (the
  * [[Dedup.dupClusters]] machinery) over core-core edges.
  *
  * Semantics (PostGIS `ST_ClusterDBSCAN` / sklearn): a point is CORE when
  * its eps-ball contains at least `minPts` points INCLUDING ITSELF; cores
  * connected within eps form one cluster; a non-core point within eps of
  * a core is a BORDER of that core's cluster; everything else is NOISE.
  * Where the published algorithm is order-dependent — a border point in
  * range of cores from two clusters joins whichever the scan reached
  * first — this implementation is VALUE-deterministic: the cluster label
  * is the MINIMUM core id of the component, and an ambiguous border joins
  * the minimum such label. The whole output is therefore a pure function
  * of the data (partition/retry/schedule-invariant), which is what makes
  * q132's DuckDB oracle possible.
  *
  * 100-TB shape: candidate generation is the same grid equi-join as
  * [[SpatialJoins.withinDistanceJoin]] — cells at res = eps make the 3x3
  * ring a complete candidate set, so the only non-equi work is the exact
  * distance refine on candidates. The ring explode costs 9x on ONE side
  * of the join (compact (id, lon, lat) rows, never payloads). Per-cell
  * population bounds the quadratic pair blowup: eps must be chosen so the
  * densest cell stays bounded (the same contract as every LSH bucket join
  * here); beyond that, AQE skew splitting handles residual hot cells.
  * Label propagation runs one bounded job per round with rounds = core
  * component DIAMETER in hops — dense blobs converge in 2-3 rounds;
  * `maxIter` bounds adversarial chain-shaped clusters. */
object Cluster {

  /** Run DBSCAN over a planar point table.
    *
    * @param points df carrying `idCol` (orderable, unique), `lonCol`, `latCol`
    * @param eps    neighborhood radius in coordinate units (degrees here)
    * @param minPts density threshold, neighborhood including the point itself
    * @return ("id", "role", "cluster") for EVERY input point:
    *         role in {"core","border","noise"}; cluster = min core id of
    *         the component (null for noise) */
  def dbscan(points: DataFrame, idCol: String, lonCol: String,
             latCol: String, eps: Double, minPts: Int,
             maxIter: Int = 50): DataFrame = {
    require(eps > 0, "eps must be positive")
    require(minPts >= 1, "minPts must be >= 1")
    Geo.register(points.sparkSession)

    val p = points.select(col(idCol).as("id"),
        col(lonCol).cast("double").as("lon"),
        col(latCol).cast("double").as("lat"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // all ordered neighbor pairs (ida, idb), ida != idb, dist <= eps.
    // Each undirected pair appears in both directions — exactly what the
    // per-point neighbor count needs, so nothing is emitted twice. The
    // in-line-keyed cell side has a ninth of the ring side's rows, but
    // Catalyst's build-side pick varies run to run; so it is broadcast
    // whenever Catalyst's own size estimate of it (8 B per row plus the
    // field widths) fits the broadcast threshold. Larger inputs: Catalyst.
    def cell(lon: String, lat: String) =
      call_function("st_gridcell", col(lon), col(lat), lit(eps))
    val (keyed, ringSide, sameCell) = CoverKeys.keyByCover(
      p, cell("lon", "lat"), p.withColumn("__cell", cell("lon", "lat")),
      call_function("st_gridring", col("__cell"), lit(1)))
    val cellSide = keyed.select(col("id").as("idb"), col("lon").as("blon"),
      col("lat").as("blat"), col("__key"))
    val cellBytes = p.count() * (8L + cellSide.schema.defaultSize)
    val fits = cellBytes <=
      points.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val pairs = ringSide
      .withColumnsRenamed(Map("id" -> "ida", "lon" -> "alon", "lat" -> "alat"))
      .drop("__cell")
      .join(if (fits) broadcast(cellSide) else cellSide,
        sameCell && col("ida") =!= col("idb"))
      .filter((col("alon") - col("blon")) * (col("alon") - col("blon")) +
        (col("alat") - col("blat")) * (col("alat") - col("blat"))
        <= lit(eps * eps))
      .select(col("ida"), col("idb"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // core points: |eps-ball| = pair count + 1 (self) >= minPts. Isolated
    // points never appear in `pairs`, so minPts <= 1 (every point core,
    // including isolated singletons) needs the full id set.
    val cores = (if (minPts <= 1) p.select("id")
      else pairs.groupBy(col("ida").as("id"))
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") + 1 >= minPts)
        .select("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // connected components over CORE-CORE edges; isolated cores (no core
    // neighbor) never enter the edge list and stay their own singleton
    // cluster via the coalesce below.
    val coreEdges = pairs
      .join(cores.withColumnRenamed("id", "ida"), Seq("ida"))
      .join(cores.withColumnRenamed("id", "idb"), Seq("idb"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb")
    val comps = Dedup.dupClusters(coreEdges, "ida", "idb", maxIter)
    val coreLabels = cores.join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // borders: non-core points with a core neighbor; ambiguity resolves to
    // the MINIMUM adjacent cluster label (value-deterministic).
    val borderLabels = pairs
      .join(coreLabels.withColumnRenamed("id", "idb"), Seq("idb"))
      .join(coreLabels.select(col("id").as("ida")), Seq("ida"), "left_anti")
      .groupBy(col("ida").as("id"))
      .agg(min(col("cluster")).as("cluster"))

    val labeled = coreLabels.withColumn("role", lit("core"))
      .unionByName(borderLabels.withColumn("role", lit("border")))
    // materialized, so the persisted frames can go: a lazy result would
    // either keep them in the cache for the rest of the session or
    // recompute the pair join when the caller runs it
    val out = Rounds.materialize(p.join(labeled, Seq("id"), "left")
      .select(col("id"), coalesce(col("role"), lit("noise")).as("role"),
        col("cluster")), "dbscan result")
    Seq(p, pairs, cores, coreLabels).foreach(_.unpersist(blocking = false))
    out
  }
}
