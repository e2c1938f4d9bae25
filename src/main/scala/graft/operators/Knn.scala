package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sql.Geo

/** Exact kNN via cell-ring expansion (SURVEY.md §2C).
  *
  * Every join here runs one loop, [[expand]], over a round schedule: each
  * round explodes candidate cells per *open* query, equi-joins them against
  * the points' cell (Catalyst/AQE picks broadcast vs shuffle from stats),
  * takes a windowed top-k, and retires the queries whose k-th distance is
  * inside the round's guaranteed bound. [[knnJoin]] (planar) and
  * [[knnMetersJoin]]/[[knnMetersJoinAdaptive]] (spherical) differ only in
  * the schedule they build. Rounds are O(log) in the distance to the k-th
  * neighbor. No driver-side data loops — the only per-round driver actions
  * are the checkpoints and the retired-count they observe. Results are
  * exact and deterministic (ties broken by the caller's tie columns).
  */
object Knn {

  /** Spherical kNN join — exact k nearest neighbors in METERS (haversine),
    * latitude-correct everywhere including poles and the antimeridian
    * (candidates come from the quasi-uniform spherical cell grid, not a
    * lon/lat lattice).
    *
    * Hierarchical expansion on spherical CAPS: round i covers the cap of
    * radius r_i around each open query via `st_cellcapcover` at a level
    * matched to r_i (cells comparable to the radius → bounded cover
    * size), with r quadrupling and the level coarsening by 2 per round —
    * covered radius quadruples at flat per-round cost, rounds =
    * O(log(distance to the k-th neighbor)), and the final cap covers the
    * whole sphere (termination even for antipodal neighbors). A query
    * retires when its k-th distance is ≤ r_i: the cap cover is a
    * GUARANTEED superset of the cells within r_i (lattice-ring stepping
    * is NOT sound across cube-face corners — the q84 sf0.1 sweep caught
    * that).
    *
    * @param startLevel finest cell level (match expected neighbor
    *        distance: level 12 ≈ 1 km cells; too fine only adds rounds)
    * @return qid, rank, dist_m + point payload columns */
  def knnMetersJoin(points: DataFrame, queries: DataFrame, k: Int,
                    startLevel: Int = 12, tieCols: Seq[String] = Seq(),
                    onRound: (Int, Int, Long) => Unit = null): DataFrame = {
    Geo.register(points.sparkSession)
    require(startLevel >= 0 && startLevel <= 28)
    val pts = celled(points, "st_cellid", lit(startLevel))
    val leveled = Rounds.materialize(queries.select(col("qid"),
        col("qlon").cast("double").as("qlon"),
        col("qlat").cast("double").as("qlat"))
      .withColumn("__lvl", lit(startLevel)), "knn input")
    metersJoin(pts, leveled, Seq(startLevel), k, tieCols, onRound)
  }

  /** Density-sketch level and the finest start level of
    * [[knnMetersJoinAdaptive]]. */
  private val SketchLevel = 6
  private val MaxStartLevel = 14

  /** Adaptive-start spherical kNN: per-query starting level chosen from a
    * bounded density sketch, so a large mixed query set doesn't pay
    * max-rounds in dense regions OR giant round-0 candidate joins in
    * sparse ones (the fixed-`startLevel` failure modes at 10^5+ queries).
    *
    * The sketch is points-per-cell at level 6 — at most 6·4^6 = 24,576
    * rows, aggregated in ONE map-side-combined pass and broadcast; each
    * query reads its local density rho from its sketch cell and picks the
    * start radius where the expected round-0 candidate count is ~4k
    * (`r = sqrt(4k·cellArea/(pi·count))`), clamped to even levels in
    * [0, 14]. Queries in an EMPTY sketch cell start at the sketch level
    * itself (their k-th neighbor is at least cell-scale away — starting
    * finer only adds rounds).
    *
    * Points are celled ONCE at level 14 and the single persisted
    * projection is shared by every level group (each round joins on
    * `st_cellparent(__pcell, level)`, which is valid for any level ≤ the
    * celling level). All groups run in ONE schedule: because the round
    * radius depends only on the CURRENT level (radius = 2·minWidth
    * (level), and both coarsen in lockstep), a query entering when the
    * loop reaches its start level sees exactly the schedule its own
    * dedicated loop would have run — so groups share each round's
    * candidate join instead of paying per-group fixed costs (the first
    * 10^5-query bench measured that overhead at ~18% vs a tuned fixed
    * level). Results are EXACT and identical to [[knnMetersJoin]] — the
    * start level affects only the round schedule (q94 oracles this
    * against brute force). `onRound` (round, level, retired-count) feeds
    * the bench's rounds histogram. */
  def knnMetersJoinAdaptive(points: DataFrame, queries: DataFrame, k: Int,
                            tieCols: Seq[String] = Seq(),
                            onRound: (Int, Int, Long) => Unit = null): DataFrame = {
    Geo.register(points.sparkSession)
    // cell the points FIRST and derive the sketch from the persisted
    // projection (st_cellparent(__pcell, SketchLevel) ≡ st_cellid at
    // SketchLevel — the same identity every round join relies on): the
    // sketch aggregation materializes the persist as a side effect, so
    // the source is scanned once, not once for the sketch and again for
    // round 0 (r06; guide §1.2 — don't compute things twice).
    val pts = celled(points, "st_cellid", lit(MaxStartLevel))
    val sketch = pts
      .groupBy(call_function("st_cellparent", col("__pcell"),
        lit(SketchLevel)).as("__scell"))
      .agg(count(lit(1)).as("__scount"))
    // expected round-0 candidates ≈ rho·pi·r² = 4k  =>  r² = 4k·area/(pi·n)
    // radius(L) = 2·minWidth(L) = 2C/2^L  =>  L = floor(log2(2C / r))
    val cellArea = 4.0 * math.Pi *
      graft.core.Measure.EarthRadiusMeters * graft.core.Measure.EarthRadiusMeters /
      (6.0 * math.pow(4.0, SketchLevel))
    val c2 = 2.0 * graft.core.Cells.minEdgeMetersLowerBound(0)
    val qcell = call_function("st_cellid",
      col("qlon").cast("double"), col("qlat").cast("double"), lit(SketchLevel))
    val rQ = sqrt(lit(4.0 * k * cellArea / math.Pi) / col("__scount"))
    val lvlExpr = when(col("__scount").isNull, lit(SketchLevel))
      .otherwise(least(lit(MaxStartLevel), greatest(lit(0),
        floor(log2(lit(c2) / rQ)).cast("int"))))
    val leveled = Rounds.materialize(queries
      .select(col("qid"), col("qlon").cast("double").as("qlon"),
        col("qlat").cast("double").as("qlat"))
      .withColumn("__scell", qcell)
      .join(broadcast(sketch), Seq("__scell"), "left")
      // even levels only: the loop coarsens by 2 per round, so odd starts
      // would double the number of distinct level groups for no gain
      .withColumn("__lvl",
        (lvlExpr.cast("int") / 2).cast("int") * 2)
      .drop("__scell", "__scount"), "knn input")
    val levels = leveled.select(col("__lvl")).distinct()
      .collect().map(_.getInt(0)).sorted // bounded: ≤ MaxStartLevel/2+1
    metersJoin(pts, leveled, levels.toSeq, k, tieCols, onRound)
  }

  /** The spherical schedule with staged query activation: `pts` must carry
    * `__pcell` at a level ≥ every entry in `levels`; `leveled` must be
    * checkpointed and carry (qid, qlon, qlat, __lvl) with `__lvl` drawn
    * from `levels`. The schedule starts at the FINEST entry level and
    * coarsens by 2 per round, clamping at 0; the round-0 cap is a few cells
    * at that level, and the radius quadruples in lockstep with the level,
    * so cover size stays flat and radius = 2·minWidth(level) at EVERY
    * round. That is why staged activation is exact: a query entering when
    * the schedule reaches its `__lvl` sees the same (level, radius)
    * schedule a dedicated loop started there would run, and every round's
    * candidate join is shared. The last round's cap is the whole sphere. */
  private def metersJoin(pts: DataFrame, leveled: DataFrame,
                         levels: Seq[Int], k: Int, tieCols: Seq[String],
                         onRound: (Int, Int, Long) => Unit): DataFrame = {
    val halfSphere = math.Pi * graft.core.Measure.EarthRadiusMeters
    val top = levels.maxOption.getOrElse(0)
    // the schedule visits top, top-2, ..., then clamps at 0 — an entry
    // level off that lattice would never activate (silent query loss)
    require(levels.forall(l => l == 0 || (top - l) % 2 == 0),
      s"entry levels must sit on the coarsening lattice: $levels")
    val steps = LazyList.iterate(
        (top, 2.0 * graft.core.Cells.minEdgeMetersLowerBound(top))) {
      case (level, radius) => (math.max(0, level - 2), radius * 4.0)
    }
    val n = steps.indexWhere(_._2 >= halfSphere) + 1
    val schedule = steps.take(n).zipWithIndex.map { case ((level, radius), i) =>
      val last = i == n - 1
      Round(
        // activate-once: the level clamps at 0, so each entry level enters
        // at the FIRST round that reaches it, never again
        enter = if (levels.contains(level) &&
            steps.indexWhere(_._1 == level) == i)
          Some(col("__lvl") === level) else None,
        cells = call_function("st_cellcapcover", col("qlon"), col("qlat"),
          lit(if (last) halfSphere + 1.0 else radius), lit(level)),
        key = call_function("st_cellparent", col("__pcell"), lit(level)),
        bound = radius, last = last)
    }
    val dist = call_function("st_distancesphere", col("lon").cast("double"),
      col("lat").cast("double"), col("qlon"), col("qlat"))
    expand(pts, leveled, schedule, dist, "dist_m", k, tieCols,
      if (onRound == null) null
      else (i, nDone) => onRound(i, steps(i)._1, nDone))
  }

  /** The distributed planar kNN join over lon/lat degrees. Round r probes
    * every cell within Chebyshev ring r of the query cell, r = 2, 4, 8, …
    * up to 2·maxR (maxR cells span the whole lon range); a query retires
    * when its k-th distance is ≤ (r-1)·res, because every point within
    * that distance lies inside ring r. Every query enters at round 0.
    *
    * @param queries df with qid, qlon, qlat
    * @param res     grid resolution in degrees
    * @param tieCols deterministic tie-break columns on the point side
    * @return qid, rank, dist2 (squared degrees) + point payload columns */
  def knnJoin(points: DataFrame, queries: DataFrame, k: Int, res: Double,
              tieCols: Seq[String]): DataFrame = {
    Geo.register(points.sparkSession)
    val pts = celled(points, "st_gridcell", lit(res))
    val qs = queries.select(col("qid"),
        col("qlon").cast("double").as("qlon"),
        col("qlat").cast("double").as("qlat"))
      .withColumn("__qcell", call_function("st_gridcell",
        col("qlon"), col("qlat"), lit(res)))
    val maxR = math.ceil(360.0 / res).toInt + 1
    val rs = Iterator.iterate(2)(_ * 2).takeWhile(_ <= maxR * 2).toSeq
    val schedule = rs.zipWithIndex.map { case (r, i) =>
      val bound = (r - 1).toDouble * res
      Round(enter = if (i == 0) Some(lit(true)) else None,
        cells = call_function("st_gridring", col("__qcell"), lit(r)),
        key = col("__pcell"), bound = bound * bound, last = i == rs.size - 1)
    }
    val dist = (col("lon") - col("qlon")) * (col("lon") - col("qlon")) +
      (col("lat") - col("qlat")) * (col("lat") - col("qlat"))
    expand(pts, qs, schedule, dist, "dist2", k, tieCols, null)
  }

  /** `points` with its cell (`fn(lon, lat, arg)`) as `__pcell`, persisted
    * (memory-and-disk) across the rounds — each round re-probes the same
    * input, and re-scanning the source per round would multiply the
    * dominant cost by the round count. [[expand]] unpersists it. */
  private def celled(points: DataFrame, fn: String, arg: Column): DataFrame =
    points.withColumn("__pcell", call_function(fn,
        col("lon").cast("double"), col("lat").cast("double"), arg))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** One ring-expansion round.
    * @param enter queries (a predicate over the query frame) that join the
    *        open set at this round; None adds nobody
    * @param cells the array of candidate cells an open query probes
    * @param key   the point-side cell those candidates equi-join
    * @param bound an open query retires when it has k candidates and its
    *        k-th distance is ≤ bound; the cells hold every point that close
    * @param last  the final round: admits every candidate and retires every
    *        open query with whatever it found (fewer than k points exist) */
  private final case class Round(enter: Option[Column], cells: Column,
                                 key: Column, bound: Double, last: Boolean)

  /** The ring-expansion loop shared by every kNN join. `pts` carries
    * `__pcell` and is persisted (unpersisted here); `queries` carries qid,
    * qlon, qlat and whatever the schedule's columns read. `dist` is the
    * point-to-query distance, output as `distName`; `onRound(round,
    * retired)` runs after each round that had open queries.
    *
    * One heavy job per round: the top-k (≤ k rows per open query) is
    * materialized by [[Rounds]], and the retired count rides that action;
    * the finished rows and the next open set derive from the checkpoint,
    * so the join+window executes exactly once per round and nothing
    * re-executes when the final union is consumed. The next open set
    * (retired qids anti-joined, entering queries added) is one counted
    * checkpoint, skipped when nothing changes. */
  private def expand(pts: DataFrame, queries: DataFrame, schedule: Seq[Round],
                     dist: Column, distName: String, k: Int,
                     tieCols: Seq[String],
                     onRound: (Int, Long) => Unit): DataFrame = {
    def roundTopk(open: DataFrame, round: Round): DataFrame = {
      val joined = pts.withColumn("__cell", round.key)
        .join(open.withColumn("__ccell", explode(round.cells)),
          col("__cell") === col("__ccell"))
        .withColumn("__dist", dist)
      // drop beyond-bound candidates BEFORE the top-k sort: they can't
      // retire a query this round nor sit in a retired query's top-k, and
      // non-retired partials are discarded. Without this, a coarse-round
      // cover cell PARTIALLY inside the radius feeds its whole population
      // to the sort — a dense city 200 km outside an ocean query's 156 km
      // radius is still inside its level-6 cover, and 10^5 such queries
      // spilled a 75 GB sort (the 10^5-query bench caught it).
      val inBound =
        if (round.last) joined else joined.filter(col("__dist") <= round.bound)
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("__dist") +: tieCols.map(col): _*)
      // retirement flag computed IN the round plan (r06): a second window
      // over the SAME qid partitioning (no extra exchange — the ranked
      // window already established it) marks every row of a retired
      // query, so the loop derives the finished part, the retired count
      // and the next open set from the checkpointed flag instead of a
      // separate groupBy job + broadcast semi-join per round
      val wq = Window.partitionBy(col("qid"))
      inBound
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .withColumn("__done", (count(lit(1)).over(wq) >= k &&
          max(col("__dist")).over(wq) <= round.bound) || lit(round.last))
    }
    // output: the point columns, qid, distName and rank
    val internal = queries.columns.filter(_ != "qid") ++
      Seq("__pcell", "__cell", "__ccell", "__done")
    def finished(topk: DataFrame): DataFrame =
      topk.filter(col("__done"))
        .withColumnRenamed("__dist", distName)
        .drop(internal: _*)
    val retired = col("__done") && col("rank") === 1

    val lastEntry = schedule.lastIndexWhere(_.enter.nonEmpty)
    var open: DataFrame = null
    var nOpen = 0L
    var retiredSince = false // `open` lost queries since it was materialized
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var i = 0
    // stop after the last round, or once nobody is open and nobody enters
    while (i < schedule.size && (nOpen > 0 || i <= lastEntry)) {
      val round = schedule(i)
      val label = s"knn round $i"
      // one counted materialization per open-set change (some retired and
      // some stay, or some enter); inflation only keeps the loop going
      if (round.enter.nonEmpty || (retiredSince && nOpen > 0)) {
        val (o, n) = Rounds.counted((Option(open) ++
          round.enter.map(queries.filter)).reduce(_ unionByName _),
          label, lit(true))(_ => false)
        open = o
        nOpen = n
        retiredSince = false
      }
      if (nOpen > 0) {
        // all retired: the loop ends (so it is confirmed), or the next entry
        // folds in the anti-join — a query an inflated count let go only
        // skips rounds, each of which covers its radius by itself
        val (topk, nDone) = Rounds.counted(roundTopk(open, round), label,
          retired)(n => n >= nOpen && i >= lastEntry)
        if (nDone > 0) {
          parts += finished(topk)
          open = open.join(broadcast(topk.filter(retired).select(col("qid"))),
            Seq("qid"), "left_anti")
          retiredSince = true
          if (nDone >= nOpen) nOpen = 0L
        }
        if (onRound != null) onRound(i, nDone)
      }
      i += 1
    }
    pts.unpersist(blocking = false)
    // no query retired (empty query set or no points): a typed empty result
    if (parts.isEmpty) finished(roundTopk(queries, schedule.head)).limit(0)
    else parts.reduce(_ unionByName _)
  }
}
