package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Barrier
import graft.sql.Geo

/** Spatial join operators (SURVEY.md §2C): point-in-polygon via cell-cover
  * equi-join + exact ray-cast refine, and raster-tile assignment.
  *
  * Plan shape at scale:
  *  - polygons explode to their tile/cell cover -> (key, poly). The cover is
  *    a conservative superset, so the equi-join is a candidate generator and
  *    `st_containsxy` is the exact refine — no false negatives possible.
  *  - small polygon sets broadcast (no shuffle of the big point side);
  *    large sets flow through a sort-merge join on the cell key, where AQE
  *    skew-join splitting plus optional salting of hot cells applies.
  *  - the point side's join key is computed in-line (codegen'd static call),
  *    so the big side is never materialized twice.
  */
object SpatialJoins {

  /** Point-in-polygon join.
    *
    * @param points   big side; must carry `lonCol`/`latCol`
    * @param polygons dim side with a geometry-struct column `polyCol`
    * @param zoom     tile-grid zoom for the candidate equi-join key
    * @param broadcastPolys broadcast the exploded polygon side (default: let
    *                 AQE decide from stats; force true for small dims)
    */
  def pipJoin(points: DataFrame, polygons: DataFrame, polyCol: String,
              lonCol: String, latCol: String, zoom: Int = 7,
              broadcastPolys: Boolean = true): DataFrame = {
    Geo.register(points.sparkSession)
    val exploded = polygons
      .withColumn("__tile", explode(call_function("st_tilecover",
        col(polyCol), lit(zoom))))
    val dimSide = if (broadcastPolys) broadcast(exploded) else exploded
    points
      .withColumn("__ptile", call_function("st_tilezxy",
        col(lonCol).cast("double"), col(latCol).cast("double"), lit(zoom)))
      .join(dimSide, col("__ptile") === col("__tile") &&
        call_function("st_containsxy", col(polyCol),
          col(lonCol).cast("double"), col(latCol).cast("double")))
      .drop("__ptile", "__tile")
  }

  /** Same, keyed by S2-style cells instead of mercator tiles. */
  def pipJoinCells(points: DataFrame, polygons: DataFrame, polyCol: String,
                   lonCol: String, latCol: String, level: Int = 8,
                   broadcastPolys: Boolean = true): DataFrame = {
    Geo.register(points.sparkSession)
    val exploded = polygons
      .withColumn("__cell", explode(call_function("st_cellcover",
        col(polyCol), lit(level))))
    val dimSide = if (broadcastPolys) broadcast(exploded) else exploded
    points
      .withColumn("__pcell", call_function("st_cellid",
        col(lonCol).cast("double"), col(latCol).cast("double"), lit(level)))
      .join(dimSide, col("__pcell") === col("__cell") &&
        call_function("st_containsxy", col(polyCol),
          col(lonCol).cast("double"), col(latCol).cast("double")))
      .drop("__pcell", "__cell")
  }

  /** General geometry–geometry INTERSECTS join: both sides explode their
    * geometry-aware tile covers, candidates equi-join on the tile key,
    * and the exact `st_intersects` refine runs on candidates only. A
    * covers-touching argument gives completeness: any intersection point
    * lies in some tile, that tile touches both geometries, and covers are
    * conservative supersets of the touching tiles — so every intersecting
    * pair shares at least one candidate tile.
    *
    * A pair sharing several cover tiles is emitted EXACTLY ONCE with no
    * distinct pass: each side carries its cover array through the join
    * and the pair is claimed only by its MINIMUM shared tile
    * (`tile == array_min(array_intersect(lc, rc))`) — reference-tile
    * dedup evaluated from columns already in flight, so the only shuffle
    * in the plan is the candidate equi-join (none at all when the right
    * side broadcasts).
    *
    * 100-TB shape: covers are geometry-aware (`st_tilecover` keeps <1/4
    * of the envelope lattice for thin diagonals), the big left side
    * duplicates only by its cover multiplicity, and the refine is a
    * codegen'd kernel. Pick `zoom` so the small side's covers stay
    * O(tens) of tiles. EMPTY geometries have empty covers and drop out. */
  def intersectsJoin(left: DataFrame, right: DataFrame, leftGeomCol: String,
                     rightGeomCol: String, zoom: Int = 6,
                     broadcastRight: Boolean = true): DataFrame = {
    Geo.register(left.sparkSession)
    val l = left
      .withColumn("__lcover", call_function("st_tilecover",
        col(leftGeomCol), lit(zoom)))
      .withColumn("__jtile", explode(col("__lcover")))
    val r0 = right
      .withColumn("__rcover", call_function("st_tilecover",
        col(rightGeomCol), lit(zoom)))
      .withColumn("__rtile", explode(col("__rcover")))
    val r = if (broadcastRight) broadcast(r0) else r0
    l.join(r, col("__jtile") === col("__rtile") &&
        col("__jtile") === call_function("st_minsharedtile",
          col("__lcover"), col("__rcover")) &&
        call_function("st_intersects",
          col(leftGeomCol), col(rightGeomCol)))
      .drop("__lcover", "__jtile", "__rcover", "__rtile")
  }

  /** Trajectory/shape SIMILARITY join: all (left, right) pairs whose
    * discrete symmetric Hausdorff distance is <= `maxDist`, with the
    * distance in the output column `hausdorff`. The workload behind
    * near-duplicate track detection and shape retrieval at corpus scale.
    *
    * Candidate culling is sound because h(A,B) <= d forces env(B) ⊆
    * env(A)+d (every B vertex sits within d of SOME A vertex), so the
    * d-expanded left envelope box and the right envelope box intersect —
    * and two intersecting boxes always share a tile of their covers. The
    * plan is the [[intersectsJoin]] shape: expanded-envelope tile covers
    * explode both sides, a hash equi-join on the tile key collects
    * candidates, the min-shared-cover-tile claim keeps each pair exactly
    * once (no distinct pass), and the exact `st_hausdorff` kernel refines.
    * EMPTY geometries pair with nothing (NaN distance) and are dropped up
    * front. Pick `zoom` so tiles are at least maxDist-sized — coarser
    * wastes refine work, finer only grows the cover arrays. */
  def hausdorffJoin(left: DataFrame, right: DataFrame, leftGeomCol: String,
                    rightGeomCol: String, maxDist: Double, zoom: Int = 6,
                    broadcastRight: Boolean = true): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0: $maxDist")
    Geo.register(left.sparkSession)
    def coverExpanded(g: Column, d: Double): Column = {
      val env = call_function("st_envelope", g)
      call_function("st_tilecover",
        call_function("st_boxgeom", call_function("st_makebox",
          env("xmin") - d, env("ymin") - d,
          env("xmax") + d, env("ymax") + d)),
        lit(zoom))
    }
    // the barriers keep an upstream geometry construction (tracks,
    // buffers) out of the emptiness filters
    val l = Barrier(left)
      .where(!call_function("st_isempty", col(leftGeomCol)))
      .withColumn("__lcover", coverExpanded(col(leftGeomCol), maxDist))
      .withColumn("__jtile", explode(col("__lcover")))
    val r0 = Barrier(right)
      .where(!call_function("st_isempty", col(rightGeomCol)))
      .withColumn("__rcover", coverExpanded(col(rightGeomCol), 0.0))
      .withColumn("__rtile", explode(col("__rcover")))
    val r = if (broadcastRight) broadcast(r0) else r0
    l.join(r, col("__jtile") === col("__rtile") &&
        col("__jtile") === call_function("st_minsharedtile",
          col("__lcover"), col("__rcover")))
      .withColumn("hausdorff",
        call_function("st_hausdorff", col(leftGeomCol), col(rightGeomCol)))
      .filter(col("hausdorff") <= lit(maxDist))
      .drop("__lcover", "__jtile", "__rcover", "__rtile")
  }

  /** Raster z/x/y tile assignment: one row per point with its tile id and
    * (z,x,y) decomposition — the raster<->vector join key. */
  def assignTiles(points: DataFrame, lonCol: String, latCol: String,
                  zoom: Int): DataFrame = {
    Geo.register(points.sparkSession)
    val t = call_function("st_tilezxy",
      col(lonCol).cast("double"), col(latCol).cast("double"), lit(zoom))
    points
      .withColumn("tile_id", t)
      .withColumn("tile_x", call_function("st_tilex", col("tile_id")))
      .withColumn("tile_y", call_function("st_tiley", col("tile_id")))
  }

  /** Within-distance (range) join: all (point, query) pairs with euclidean
    * distance <= radius. Grid cells at res = radius make the Chebyshev
    * 3x3 neighborhood a complete candidate set (any point within `radius`
    * of a query lies within one cell step), so the plan is a 9-way
    * explode on the SMALL query side + one equi-join on the cell key —
    * the big point side computes its cell in-line and never blows up.
    * Exact refine on true distance; no false negatives possible.
    *
    * @param queries df with qid, qlon, qlat
    * @return point payload + qid + dist2 (squared distance) */
  def withinDistanceJoin(points: DataFrame, queries: DataFrame,
                         radius: Double, lonCol: String = "lon",
                         latCol: String = "lat"): DataFrame = {
    require(radius > 0, "radius must be positive")
    Geo.register(points.sparkSession)
    val pts = points.withColumn("__cell", call_function("st_gridcell",
      col(lonCol).cast("double"), col(latCol).cast("double"), lit(radius)))
    val cand = queries
      .select(col("qid"), col("qlon").cast("double").as("qlon"),
        col("qlat").cast("double").as("qlat"))
      .withColumn("__ccell", explode(call_function("st_gridring",
        call_function("st_gridcell", col("qlon"), col("qlat"), lit(radius)),
        lit(1))))
    pts.join(cand, col("__cell") === col("__ccell"))
      .withColumn("dist2",
        (col(lonCol) - col("qlon")) * (col(lonCol) - col("qlon")) +
          (col(latCol) - col("qlat")) * (col(latCol) - col("qlat")))
      .filter(col("dist2") <= lit(radius * radius))
      .drop("__cell", "__ccell", "qlon", "qlat")
  }

  private def minCellEdgeMeters(level: Int): Double =
    graft.core.Cells.minEdgeMetersLowerBound(level)

  /** Within-distance join in METERS on the sphere — the real-world geo
    * radius search ([[withinDistanceJoin]] works in planar degrees, whose
    * ground length shrinks with latitude; this one is latitude-correct
    * everywhere including the poles, because the candidate lattice is the
    * quasi-uniform spherical CELL grid, not a lon/lat grid).
    *
    * Shape: points key to their cell at a radius-matched level; queries
    * explode to the spherical-CAP cell cover (`st_cellcapcover` — a
    * GUARANTEED superset of the cells within the radius; lattice-ring
    * stepping is NOT sound across cube-face corners and missed pairs at
    * continental radii before the q84 sf0.1 sweep caught it). Hash
    * equi-join on the cell, exact haversine refine. Queries must carry
    * (qid, qlon, qlat). */
  def withinDistanceMetersJoin(points: DataFrame, queries: DataFrame,
                               radiusMeters: Double, lonCol: String = "lon",
                               latCol: String = "lat"): DataFrame = {
    require(radiusMeters > 0, "radius must be positive")
    Geo.register(points.sparkSession)
    var level = 20
    while (level > 0 && minCellEdgeMeters(level) < radiusMeters) level -= 1
    val pts = points.withColumn("__cell", call_function("st_cellid",
      col(lonCol).cast("double"), col(latCol).cast("double"), lit(level)))
    val cand = queries
      .select(col("qid"), col("qlon").cast("double").as("qlon"),
        col("qlat").cast("double").as("qlat"))
      .withColumn("__ccell", explode(call_function("st_cellcapcover",
        col("qlon"), col("qlat"), lit(radiusMeters), lit(level))))
    pts.join(cand, col("__cell") === col("__ccell"))
      .withColumn("dist_m", call_function("st_distancesphere",
        col(lonCol).cast("double"), col(latCol).cast("double"),
        col("qlon"), col("qlat")))
      .filter(col("dist_m") <= lit(radiusMeters))
      .drop("__cell", "__ccell", "qlon", "qlat")
  }

  /** Salted repartition for hot keys: spreads each key over `salt` shuffle
    * partitions; aggregate partially per (key, salt), then finally per key.
    * Use for hot-cell skew beyond what AQE's skew-join splitting absorbs.
    *
    * The salt is a content hash of the whole row (never a nondeterministic
    * expression like monotonically_increasing_id): a shuffle key must be
    * stable under stage-retry recomputation, or a fetch failure silently
    * re-routes rows to different reducers mid-aggregation.
    *
    * LIMITATION of content-only salting: byte-identical rows all hash to
    * the SAME salt bucket, so a hot key dominated by verbatim duplicates is
    * not spread at all. When the source can provide a stable per-row
    * discriminant — one that is recomputed identically on stage retry, e.g.
    * a file row offset, a parquet `_metadata.file_path` + row index, or a
    * pre-assigned surrogate id — pass it as `discriminants` and it is mixed
    * into the salt, spreading even identical payload rows. (A
    * per-input-split counter would also qualify, but Spark exposes no
    * public stable row index without such a column.) */
  def saltedCountByKey(df: DataFrame, keyCol: String, salt: Int,
                       discriminants: Seq[Column] = Nil): DataFrame = {
    val mix = df.columns.map(col).toSeq ++ discriminants
    df
      .withColumn("__salt", pmod(hash(mix: _*), lit(salt)))
      .groupBy(col(keyCol), col("__salt"))
      .agg(count(lit(1)).as("__partial"))
      .groupBy(col(keyCol))
      .agg(sum("__partial").as("cnt"))
  }
}
