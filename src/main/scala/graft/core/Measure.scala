package graft.core

/** Planar measurement kernels: area (shoelace, shell minus holes), length
  * (linestring arc length), perimeter (polygon ring lengths), and
  * area-weighted centroid. The reference is codec-only — these are the
  * standard relational-surface measures a geospatial engine needs (PostGIS
  * naming/semantics). All planar (the `PlanarEdgesGuard` conventions
  * apply); summation order is the storage order, so results are
  * deterministic and, on exact inputs, oracle-replicable.
  */
object Measure {

  /** Signed shoelace sum of ring [from, until) (in coords): twice the
    * signed area. Summation in vertex order. */
  private def shoelace2(coords: Array[Double], stride: Int, from: Int,
                        until: Int): Double = {
    var s = 0.0
    var i = from
    while (i < until - 1) {
      val x0 = coords(i * stride); val y0 = coords(i * stride + 1)
      val x1 = coords((i + 1) * stride); val y1 = coords((i + 1) * stride + 1)
      s += x0 * y1 - x1 * y0
      i += 1
    }
    s
  }

  private def ringLength(coords: Array[Double], stride: Int, from: Int,
                         until: Int): Double = {
    var s = 0.0
    var i = from
    while (i < until - 1) {
      val dx = coords((i + 1) * stride) - coords(i * stride)
      val dy = coords((i + 1) * stride + 1) - coords(i * stride + 1)
      s += math.sqrt(dx * dx + dy * dy)
      i += 1
    }
    s
  }

  /** Polygon area: |shell| minus |holes| (first ring is the shell —
    * winding-agnostic, the convention GEOS/sf apply to well-formed rings);
    * multipolygons sum; everything else is 0. */
  def area(g: Geom): Double = {
    val s = g.stride
    g.geomType match {
      case GeomTypes.Polygon =>
        var a = 0.0
        var r = 0
        while (r < g.o0.length - 1) {
          val ringA = math.abs(shoelace2(g.coords, s, g.o0(r), g.o0(r + 1))) * 0.5
          a += (if (r == 0) ringA else -ringA)
          r += 1
        }
        a
      case GeomTypes.MultiPolygon =>
        var a = 0.0
        var p = 0
        while (p < g.o0.length - 1) {
          var r = g.o0(p)
          while (r < g.o0(p + 1)) {
            val ringA = math.abs(shoelace2(g.coords, s, g.o1(r), g.o1(r + 1))) * 0.5
            a += (if (r == g.o0(p)) ringA else -ringA)
            r += 1
          }
          p += 1
        }
        a
      case GeomTypes.Collection =>
        if (g.parts == null) 0.0 else g.parts.map(area).sum
      case _ => 0.0
    }
  }

  /** Arc length of (multi)linestrings; 0 for everything else (use
    * [[perimeter]] for polygon boundaries, PostGIS semantics). */
  def length(g: Geom): Double = {
    val s = g.stride
    g.geomType match {
      case GeomTypes.LineString => ringLength(g.coords, s, 0, g.numCoords)
      case GeomTypes.MultiLineString =>
        var l = 0.0
        var p = 0
        while (p < g.o0.length - 1) {
          l += ringLength(g.coords, s, g.o0(p), g.o0(p + 1)); p += 1
        }
        l
      case GeomTypes.Collection =>
        if (g.parts == null) 0.0 else g.parts.map(length).sum
      case _ => 0.0
    }
  }

  /** Total ring length of (multi)polygons (shell + holes); 0 otherwise. */
  def perimeter(g: Geom): Double = {
    val s = g.stride
    g.geomType match {
      case GeomTypes.Polygon =>
        var l = 0.0
        var r = 0
        while (r < g.o0.length - 1) {
          l += ringLength(g.coords, s, g.o0(r), g.o0(r + 1)); r += 1
        }
        l
      case GeomTypes.MultiPolygon =>
        var l = 0.0
        var r = 0
        while (r < g.o1.length - 1) {
          l += ringLength(g.coords, s, g.o1(r), g.o1(r + 1)); r += 1
        }
        l
      case GeomTypes.Collection =>
        if (g.parts == null) 0.0 else g.parts.map(perimeter).sum
      case _ => 0.0
    }
  }

  /** Area-weighted centroid (x, y) of a polygon/multipolygon; vertex mean
    * for points/lines; NaNs for EMPTY. Standard planar formula:
    * c = Σ (p_i + p_{i+1}) * cross_i / (6A), holes subtracting (signed
    * shoelace keeps the sign convention consistent per ring). */
  def centroid(g: Geom): (Double, Double) = {
    val s = g.stride
    g.geomType match {
      case GeomTypes.Polygon | GeomTypes.MultiPolygon =>
        // accumulate signed ring moments; shell/hole handling falls out of
        // consistent winding (well-formed inputs); normalize by total 6A
        var a2 = 0.0; var cx = 0.0; var cy = 0.0
        def ring(from: Int, until: Int, sign: Double): Unit = {
          val sgn = if (shoelace2(g.coords, s, from, until) >= 0) sign else -sign
          var i = from
          while (i < until - 1) {
            val x0 = g.coords(i * s); val y0 = g.coords(i * s + 1)
            val x1 = g.coords((i + 1) * s); val y1 = g.coords((i + 1) * s + 1)
            val cr = (x0 * y1 - x1 * y0) * sgn
            a2 += cr
            cx += (x0 + x1) * cr
            cy += (y0 + y1) * cr
            i += 1
          }
        }
        if (g.geomType == GeomTypes.Polygon) {
          var r = 0
          while (r < g.o0.length - 1) {
            ring(g.o0(r), g.o0(r + 1), if (r == 0) 1.0 else -1.0); r += 1
          }
        } else {
          var p = 0
          while (p < g.o0.length - 1) {
            var r = g.o0(p)
            while (r < g.o0(p + 1)) {
              ring(g.o1(r), g.o1(r + 1), if (r == g.o0(p)) 1.0 else -1.0)
              r += 1
            }
            p += 1
          }
        }
        if (a2 == 0.0) vertexMean(g) else (cx / (3.0 * a2), cy / (3.0 * a2))
      case _ => vertexMean(g)
    }
  }

  // ------------------------------------------------------- distance

  private def d2PointSeg(px: Double, py: Double, ax: Double, ay: Double,
                         bx: Double, by: Double): Double = {
    val abx = bx - ax; val aby = by - ay
    val apx = px - ax; val apy = py - ay
    val len2 = abx * abx + aby * aby
    val dot = apx * abx + apy * aby
    if (len2 == 0 || dot <= 0) return apx * apx + apy * apy
    if (dot >= len2) {
      val dx = px - bx; val dy = py - by
      return dx * dx + dy * dy
    }
    val cr = apx * aby - apy * abx
    (cr * cr) / len2
  }

  private def segsIntersect(ax: Double, ay: Double, bx: Double, by: Double,
                            cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
    def orient(ox: Double, oy: Double, px: Double, py: Double,
               qx: Double, qy: Double): Double =
      (px - ox) * (qy - oy) - (py - oy) * (qx - ox)
    val o1 = orient(ax, ay, bx, by, cx, cy)
    val o2 = orient(ax, ay, bx, by, dx, dy)
    val o3 = orient(cx, cy, dx, dy, ax, ay)
    val o4 = orient(cx, cy, dx, dy, bx, by)
    // strict straddle test; collinear-touch cases fall through to the
    // endpoint distances, which are then 0 anyway
    (o1 * o2 < 0 && o3 * o4 < 0)
  }

  private def d2SegSeg(ax: Double, ay: Double, bx: Double, by: Double,
                       cx: Double, cy: Double, dx: Double, dy: Double): Double = {
    if (segsIntersect(ax, ay, bx, by, cx, cy, dx, dy)) return 0.0
    math.min(
      math.min(d2PointSeg(ax, ay, cx, cy, dx, dy), d2PointSeg(bx, by, cx, cy, dx, dy)),
      math.min(d2PointSeg(cx, cy, ax, ay, bx, by), d2PointSeg(dx, dy, ax, ay, bx, by)))
  }

  /** Flattened element view: segments (x1,y1,x2,y2 quads) + lone points.
    * Primitive builders — the pair loop below indexes raw arrays, no
    * boxing in the per-row hot path. */
  private def elements(g: Geom, segs: scala.collection.mutable.ArrayBuilder.ofDouble,
                       pts: scala.collection.mutable.ArrayBuilder.ofDouble): Unit = {
    val s = g.stride
    def path(from: Int, until: Int): Unit = {
      if (until - from == 1) {
        pts += g.coords(from * s); pts += g.coords(from * s + 1)
      } else {
        var i = from
        while (i < until - 1) {
          segs += g.coords(i * s); segs += g.coords(i * s + 1)
          segs += g.coords((i + 1) * s); segs += g.coords((i + 1) * s + 1)
          i += 1
        }
      }
    }
    g.geomType match {
      case GeomTypes.Point | GeomTypes.MultiPoint =>
        var i = 0
        while (i < g.numCoords) {
          pts += g.coords(i * s); pts += g.coords(i * s + 1); i += 1
        }
      case GeomTypes.LineString => path(0, g.numCoords)
      case GeomTypes.MultiLineString | GeomTypes.Polygon =>
        var p = 0
        while (p < g.o0.length - 1) { path(g.o0(p), g.o0(p + 1)); p += 1 }
      case GeomTypes.MultiPolygon =>
        var r = 0
        while (r < g.o1.length - 1) { path(g.o1(r), g.o1(r + 1)); r += 1 }
      case GeomTypes.Collection =>
        if (g.parts != null) g.parts.foreach(elements(_, segs, pts))
      case _ =>
    }
  }

  private def anyPointInside(poly: Geom, other: Geom): Boolean = {
    if (poly.geomType == GeomTypes.Collection)
      return poly.parts != null && poly.parts.exists(anyPointInside(_, other))
    if (poly.geomType != GeomTypes.Polygon &&
      poly.geomType != GeomTypes.MultiPolygon) return false
    val s = other.stride
    if (other.geomType == GeomTypes.Collection) {
      if (other.parts == null) return false
      return other.parts.exists(anyPointInside(poly, _))
    }
    var i = 0
    while (i < other.numCoords) {
      if (Pip.containsPoint(poly, other.coords(i * s), other.coords(i * s + 1)))
        return true
      i += 1
    }
    false
  }

  /** Planar intersects test (PostGIS ST_Intersects): true on boundary
    * crossing, containment, or touching (shared point / vertex-on-edge —
    * distance exactly 0). Same element decomposition as [[distance]]; a
    * join on this predicate should cull with the tile/cell cover first
    * (`SpatialJoins.pipJoin` pattern) and use this as the exact refine. */
  def intersects(a: Geom, b: Geom): Boolean = {
    if (a.isEmpty || b.isEmpty) return false
    // Envelope early-out: strictly disjoint envelopes cannot share a point
    // (containsPoint and every element distance need one), so the O(n+m)
    // envelope scan replaces the O(n·m) pair loop for the cover-join
    // candidates whose tiles touch but whose geometries don't. NaN
    // coordinates fail every comparison and fall through to the old path.
    val ea = Geom.envelope(a)
    val eb = Geom.envelope(b)
    if (ea(0) > eb(2) || eb(0) > ea(2) || ea(1) > eb(3) || eb(1) > ea(3))
      return false
    // Axis-aligned-rectangle fast path: two solid rectangles intersect iff
    // their closed coordinate intervals overlap — already established by
    // the envelope test above.
    if (isAxisRect(a, ea) && isAxisRect(b, eb)) return true
    if (anyPointInside(a, b) || anyPointInside(b, a)) return true
    elementDistance(a, b) == 0.0 // containment already checked above
  }

  /** True when `g` is a single-ring POLYGON tracing exactly its envelope
    * rectangle: 5 closed coords, axis-parallel edges, each of the 4
    * distinct corners visited once, positive width and height. Degenerate
    * or backtracking rings (a repeated corner, zero area) fail the
    * distinct-corner test and take the exact path. */
  private def isAxisRect(g: Geom, env: Array[Double]): Boolean = {
    if (g.geomType != GeomTypes.Polygon || g.o0 == null || g.o0.length != 2)
      return false
    if (g.numCoords != 5) return false
    val s = g.stride
    val c = g.coords
    val xmin = env(0); val ymin = env(1); val xmax = env(2); val ymax = env(3)
    if (!(xmin < xmax && ymin < ymax)) return false
    if (c(0) != c(4 * s) || c(1) != c(4 * s + 1)) return false // not closed
    var corners = 0
    var i = 0
    while (i < 4) {
      val x = c(i * s); val y = c(i * s + 1)
      val nx = c((i + 1) * s); val ny = c((i + 1) * s + 1)
      if (x != nx && y != ny) return false // slanted edge
      val cx = if (x == xmin) 0 else if (x == xmax) 1 else return false
      val cy = if (y == ymin) 0 else if (y == ymax) 2 else return false
      val bit = 1 << (cx | cy)
      if ((corners & bit) != 0) return false // corner revisited
      corners |= bit
      i += 1
    }
    corners == 15
  }

  /** Planar min distance between geometries (PostGIS ST_Distance): 0 when
    * they intersect (boundary crossing or polygon containment), else the
    * min over all segment/point element pairs. O(|a|·|b|) element pairs —
    * for joins, cull first with the cell/tile index (`st_dwithinxy` +
    * `SpatialJoinRewrite`); this kernel is the exact refine. NaN for
    * EMPTY inputs (including collections of EMPTY parts). */
  def distance(a: Geom, b: Geom): Double = {
    if (a.isEmpty || b.isEmpty) return Double.NaN
    if (anyPointInside(a, b) || anyPointInside(b, a)) return 0.0
    elementDistance(a, b)
  }

  /** Min element-pair distance; containment assumed already checked. */
  private def elementDistance(a: Geom, b: Geom): Double = {
    val sab = new scala.collection.mutable.ArrayBuilder.ofDouble
    val pab = new scala.collection.mutable.ArrayBuilder.ofDouble
    val sbb = new scala.collection.mutable.ArrayBuilder.ofDouble
    val pbb = new scala.collection.mutable.ArrayBuilder.ofDouble
    elements(a, sab, pab)
    elements(b, sbb, pbb)
    val sa = sab.result(); val pa = pab.result()
    val sb = sbb.result(); val pb = pbb.result()
    // a collection of EMPTY parts passes the isEmpty guard but contributes
    // no elements — that's still an empty input, not an infinite distance
    if ((sa.length == 0 && pa.length == 0) || (sb.length == 0 && pb.length == 0))
      return Double.NaN
    var best = Double.PositiveInfinity
    var i = 0
    while (i < sa.length) {
      var j = 0
      while (j < sb.length) {
        best = math.min(best, d2SegSeg(sa(i), sa(i + 1), sa(i + 2), sa(i + 3),
          sb(j), sb(j + 1), sb(j + 2), sb(j + 3)))
        j += 4
      }
      j = 0
      while (j < pb.length) {
        best = math.min(best,
          d2PointSeg(pb(j), pb(j + 1), sa(i), sa(i + 1), sa(i + 2), sa(i + 3)))
        j += 2
      }
      i += 4
    }
    i = 0
    while (i < pa.length) {
      var j = 0
      while (j < sb.length) {
        best = math.min(best,
          d2PointSeg(pa(i), pa(i + 1), sb(j), sb(j + 1), sb(j + 2), sb(j + 3)))
        j += 4
      }
      j = 0
      while (j < pb.length) {
        best = math.min(best, Pip.dist2(pa(i), pa(i + 1), pb(j), pb(j + 1)))
        j += 2
      }
      i += 2
    }
    math.sqrt(best)
  }

  /** Discrete (vertex-sampled) symmetric Hausdorff distance — the standard
    * trajectory/shape similarity measure: max over vertices of one geometry
    * of the min Euclidean distance to the other's vertices, symmetrized
    * with `max`. Vertex-based like PostGIS's discrete variant (densify
    * with `st_segmentize` first when segment interiors matter). Computed
    * in squared space with one final sqrt — bit-identical to per-pair
    * sqrt + min/max because sqrt is monotone and exact, which is what lets
    * a SQL oracle replay it verbatim (q139). NaN for EMPTY inputs.
    * O(|a|·|b|) vertex pairs — a similarity JOIN should cull candidates
    * with the cell/tile cover first; this kernel is the exact refine. */
  def hausdorff(a: Geom, b: Geom): Double = {
    val va = allVertices(a)
    val vb = allVertices(b)
    if (va.length == 0 || vb.length == 0) return Double.NaN
    math.sqrt(math.max(directedH2(va, vb), directedH2(vb, va)))
  }

  /** max over a-vertices of min squared distance to b-vertices. */
  private def directedH2(va: Array[Double], vb: Array[Double]): Double = {
    var worst = 0.0
    var i = 0
    while (i < va.length) {
      val ax = va(i); val ay = va(i + 1)
      var best = Double.PositiveInfinity
      var j = 0
      while (j < vb.length) {
        val dx = ax - vb(j); val dy = ay - vb(j + 1)
        val d2 = dx * dx + dy * dy
        if (d2 < best) best = d2
        j += 2
      }
      if (best > worst) worst = best
      i += 1
      i += 1
    }
    worst
  }

  /** All (x, y) vertices of a geometry, collections flattened. */
  private def allVertices(g: Geom): Array[Double] = {
    val out = new scala.collection.mutable.ArrayBuilder.ofDouble
    def walk(p: Geom): Unit = {
      if (p.geomType == GeomTypes.Collection) {
        if (p.parts != null) p.parts.foreach(walk)
      } else {
        val s = p.stride
        var i = 0
        while (i < p.numCoords) {
          out += p.coords(i * s); out += p.coords(i * s + 1); i += 1
        }
      }
    }
    walk(g)
    out.result()
  }

  private def vertexMean(g: Geom): (Double, Double) = {
    val s = g.stride
    val n = g.numCoords
    if (n == 0) return (Double.NaN, Double.NaN)
    var sx = 0.0; var sy = 0.0
    var i = 0
    while (i < n) { sx += g.coords(i * s); sy += g.coords(i * s + 1); i += 1 }
    (sx / n, sy / n)
  }

  // ------------------------------------------------------------ spherical

  /** IUGG mean Earth radius (meters). */
  val EarthRadiusMeters: Double = 6371008.8

  /** Great-circle distance in meters on the mean-radius sphere
    * (haversine — numerically stable for near-coincident points, exact
    * antipodes clamp via the asin guard). This is the `edges = spherical`
    * leg the planar guard points users toward: planar kernels refuse
    * spherical-edge metadata, and distance-in-meters is the first thing a
    * spherical user actually needs. */
  def haversineMeters(lon1: Double, lat1: Double,
                      lon2: Double, lat2: Double): Double = {
    val p1 = math.toRadians(lat1)
    val p2 = math.toRadians(lat2)
    val dp = math.toRadians(lat2 - lat1)
    val dl = math.toRadians(lon2 - lon1)
    val sp = math.sin(dp / 2)
    val sl = math.sin(dl / 2)
    val a = sp * sp + math.cos(p1) * math.cos(p2) * sl * sl
    2.0 * EarthRadiusMeters * math.asin(math.min(1.0, math.sqrt(a)))
  }
}
