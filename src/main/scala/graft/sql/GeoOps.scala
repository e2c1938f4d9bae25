package graft.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, UnsafeRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

import graft.core._

/** Static kernel surface called from Catalyst via `StaticInvoke` — each
  * method is one reference kernel or north-rule operator, operating directly
  * on Spark internal types so generated code calls straight into it (no
  * boxing, no UDF serialization; stays inside whole-stage codegen).
  *
  * Scalar kernels map per SURVEY.md §2A: fromWkt/fromWkb (R1/R2 readers),
  * asWkt/asWkb (W1/W2 writers), format (K4), envelope (K7), casts (K5),
  * snapToGrid (C5), typeId (K6's per-feature key), isValid* (K3).
  */
object GeoOps {

  // ---------------------------------------------------------------- codecs

  def fromWkt(s: UTF8String): InternalRow =
    GeoStruct.encode(Wkt.parse(s.toString))

  def fromWkb(b: Array[Byte]): InternalRow =
    GeoStruct.encode(Wkb.parse(b))

  /** Parse-or-null, the lenient variant for dirty data lakes. */
  def tryFromWkt(s: UTF8String): InternalRow =
    try fromWkt(s) catch { case _: Exception => null }

  def tryFromWkb(b: Array[Byte]): InternalRow =
    try fromWkb(b) catch { case _: Exception => null }

  def asWkt(g: InternalRow): UTF8String =
    UTF8String.fromString(Wkt.write(GeoStruct.decode(g)))

  def asWkb(g: InternalRow): Array[Byte] = {
    val geom = GeoStruct.decode(g)
    if (geom.geomType == GeomTypes.Collection) g.getBinary(6)
    else Wkb.write(geom)
  }

  /** GeoJSON (RFC 7946) leg — third text codec beside WKT/WKB; numbers
    * print through the same ryu-parity [[graft.core.DoubleFormat]], so
    * output is oracle-able by string construction. */
  def fromGeoJson(s: UTF8String): InternalRow =
    GeoStruct.encode(GeoJson.parse(s.toString))

  def tryFromGeoJson(s: UTF8String): InternalRow =
    try fromGeoJson(s) catch { case _: Exception => null }

  def asGeoJson(g: InternalRow, precision: Int): UTF8String =
    UTF8String.fromString(GeoJson.write(GeoStruct.decode(g), precision))

  val geoJsonFeatureType: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("geometry",
        GeoStruct.dataType, nullable = true),
      org.apache.spark.sql.types.StructField("properties",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.StringType, nullable = true)))

  /** One GeoJSONSeq line -> (geometry, raw properties JSON, id). */
  def geoJsonFeature(s: UTF8String): InternalRow = {
    val f = GeoJson.parseFeature(s.toString)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      if (f.geometry == null) null else GeoStruct.encode(f.geometry),
      UTF8String.fromString(f.propertiesJson),
      f.id.map(UTF8String.fromString).orNull))
  }

  def tryGeoJsonFeature(s: UTF8String): InternalRow =
    try geoJsonFeature(s) catch { case _: Exception => null }

  /** One whole-file FeatureCollection document -> array of features (file
    * order). Whole-document parse by construction — the splittable path
    * is GeoJSONSeq (one feature per line). */
  def geoJsonFeatures(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val fs = GeoJson.parseFeatureCollection(s.toString)
    val rows = new Array[Any](fs.length)
    var i = 0
    while (i < fs.length) {
      val f = fs(i)
      rows(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](
          if (f.geometry == null) null else GeoStruct.encode(f.geometry),
          UTF8String.fromString(f.propertiesJson),
          f.id.map(UTF8String.fromString).orNull))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  /** Great-circle meters (haversine, mean-radius sphere). */
  def distanceSphere(lon1: Double, lat1: Double, lon2: Double,
                     lat2: Double): Double =
    Measure.haversineMeters(lon1, lat1, lon2, lat2)

  /** Kernel K4 `format_wkt` (`/root/reference/src/geoarrow.c:1545-1571`). */
  def format(g: InternalRow, precision: Int, maxBytes: Long): UTF8String =
    UTF8String.fromString(
      Wkt.write(GeoStruct.decode(g), precision, flatMultipoint = true, maxBytes))

  /** Kernel K3 `visit_void_agg` validation semantics: fully decode, report
    * success (`/root/reference/src/geoarrow.c:1528-1538`). */
  def isValidWkt(s: UTF8String): Boolean =
    try { Wkt.parse(s.toString); true } catch { case _: Exception => false }

  def isValidWkb(b: Array[Byte]): Boolean =
    try { Wkb.parse(b); true } catch { case _: Exception => false }

  // ---------------------------------------------------------------- kernels

  def envelope(g: InternalRow): InternalRow =
    GeoStruct.encodeBox(Geom.envelope(GeoStruct.decode(g)))

  def typeId(g: InternalRow): Int = {
    val geom = GeoStruct.decode(g)
    Geom.isoTypeId(geom)
  }

  def geometryType(g: InternalRow): UTF8String =
    UTF8String.fromString(GeomTypes.name(g.getInt(0)))

  def numGeometries(g: InternalRow): Int = {
    val geom = GeoStruct.decode(g)
    geom.geomType match {
      case GeomTypes.Point | GeomTypes.LineString | GeomTypes.Polygon =>
        if (geom.isEmpty) 0 else 1
      case GeomTypes.MultiPoint => geom.numCoords
      case GeomTypes.MultiLineString => geom.o0.length - 1
      case GeomTypes.MultiPolygon => geom.o0.length - 1
      case GeomTypes.Collection => if (geom.parts == null) 0 else geom.parts.length
      case _ => 0
    }
  }

  def numCoords(g: InternalRow): Int = GeoStruct.decode(g).numCoords

  def isEmptyGeom(g: InternalRow): Boolean = GeoStruct.decode(g).isEmpty

  def castDims(g: InternalRow, dims: UTF8String): InternalRow = {
    val d = dims.toString.toUpperCase match {
      case "XY" => Dims.XY
      case "XYZ" => Dims.XYZ
      case "XYM" => Dims.XYM
      case "XYZM" => Dims.XYZM
      case other => throw new IllegalArgumentException(s"unknown dims '$other'")
    }
    val geom = GeoStruct.decode(g)
    if (geom.dims == d) g else GeoStruct.encode(Geom.castDims(geom, d))
  }

  def castType(g: InternalRow, t: UTF8String): InternalRow = {
    val target = t.toString.toUpperCase match {
      case "POINT" => GeomTypes.Point
      case "LINESTRING" => GeomTypes.LineString
      case "POLYGON" => GeomTypes.Polygon
      case "MULTIPOINT" => GeomTypes.MultiPoint
      case "MULTILINESTRING" => GeomTypes.MultiLineString
      case "MULTIPOLYGON" => GeomTypes.MultiPolygon
      case other => throw new IllegalArgumentException(s"unknown type '$other'")
    }
    val geom = GeoStruct.decode(g)
    if (geom.geomType == target) g
    else GeoStruct.encode(Geom.castType(geom, target))
  }

  def snapToGrid(g: InternalRow, precision: Double): InternalRow =
    GeoStruct.encode(Geom.snapToGrid(GeoStruct.decode(g), precision))

  // ------------------------------------------------------------ accessors

  def makePoint(x: Double, y: Double): InternalRow =
    GeoStruct.encode(Geom.point(x, y))

  def pointX(g: InternalRow): Double = {
    val c = g.getArray(3)
    if (c.numElements() == 0) Double.NaN else c.getDouble(0)
  }

  def pointY(g: InternalRow): Double = {
    val c = g.getArray(3)
    if (c.numElements() < 2) Double.NaN else c.getDouble(1)
  }

  def srid(g: InternalRow): Int = g.getInt(2)

  def setSrid(g: InternalRow, srid: Int): InternalRow = {
    val geom = GeoStruct.decode(g)
    GeoStruct.encode(
      new Geom(geom.geomType, geom.dims, srid, geom.coords, geom.o0, geom.o1,
        geom.parts))
  }

  /** Two-point LINESTRING constructor (segment strokes for the
    * rasterizer; longer paths come from WKT/WKB/GeoJSON as usual). */
  def makeLine2(x1: Double, y1: Double, x2: Double, y2: Double): InternalRow =
    GeoStruct.encode(Geom(GeomTypes.LineString, Dims.XY,
      Array(x1, y1, x2, y2)))

  def makeLine3(x1: Double, y1: Double, x2: Double, y2: Double,
                x3: Double, y3: Double): InternalRow =
    GeoStruct.encode(Geom(GeomTypes.LineString, Dims.XY,
      Array(x1, y1, x2, y2, x3, y3)))

  /** LINESTRING from an interleaved `[x0, y0, x1, y1, ...]` array — the
    * arbitrary-length constructor behind trajectory assembly
    * ([[graft.operators.Trajectory.buildTracks]] feeds it the flattened
    * time-sorted ping coordinates). Vertices keep input order verbatim
    * (PostGIS `ST_MakeLine(geom ORDER BY ...)` semantics); a single pair
    * yields a 1-vertex LINESTRING (length 0), an empty array LINESTRING
    * EMPTY. Null ordinates are rejected: a silent skip would silently
    * shift every later vertex. */
  def lineFromXY(a: ArrayData): InternalRow = {
    val n = a.numElements()
    require(n % 2 == 0, s"st_linefromxy takes interleaved xy pairs; got $n doubles")
    if (n == 0)
      return GeoStruct.encode(Geom(GeomTypes.LineString, Dims.XY, Geom.emptyDoubles))
    val coords = new Array[Double](n)
    var i = 0
    while (i < n) {
      require(!a.isNullAt(i), s"st_linefromxy: null ordinate at $i")
      coords(i) = a.getDouble(i)
      i += 1
    }
    GeoStruct.encode(Geom(GeomTypes.LineString, Dims.XY, coords))
  }

  /** Linear referencing (PostGIS ST_LineInterpolatePoint): the point at
    * `frac` of the line's total length. Every arithmetic step is
    * order-fixed — segment lengths `sqrt(dx·dx + dy·dy)` summed left to
    * right, `target = frac·total`, the owning segment found by
    * `acc + len >= target`, then `t = (target - acc)/len` and
    * `x = xa + dx·t` — so the oracle replicates each output ordinate
    * bit-for-bit (q120). LINESTRING only; EMPTY → POINT EMPTY;
    * zero-length lines return their first vertex. */
  def lineInterpolatePoint(g: InternalRow, frac: Double): InternalRow = {
    require(frac >= 0.0 && frac <= 1.0, s"fraction out of [0,1]: $frac")
    val geom = GeoStruct.decode(g)
    require(geom.geomType == GeomTypes.LineString,
      "st_lineinterpolate supports LINESTRING inputs only")
    if (geom.isEmpty)
      return GeoStruct.encode(Geom(GeomTypes.Point, Dims.XY, Geom.emptyDoubles))
    val s = geom.stride
    val n = geom.numCoords
    var total = 0.0
    var i = 0
    while (i < n - 1) {
      val dx = geom.coords((i + 1) * s) - geom.coords(i * s)
      val dy = geom.coords((i + 1) * s + 1) - geom.coords(i * s + 1)
      total += math.sqrt(dx * dx + dy * dy)
      i += 1
    }
    def vertexPoint(v: Int): InternalRow = GeoStruct.encode(
      new Geom(GeomTypes.Point, geom.dims, geom.srid,
        java.util.Arrays.copyOfRange(geom.coords, v * s, (v + 1) * s),
        Geom.emptyInts, Geom.emptyInts, null))
    if (total == 0.0) return vertexPoint(0)
    val target = frac * total
    var acc = 0.0
    i = 0
    while (i < n - 1) {
      val xa = geom.coords(i * s); val ya = geom.coords(i * s + 1)
      val xb = geom.coords((i + 1) * s); val yb = geom.coords((i + 1) * s + 1)
      val dx = xb - xa; val dy = yb - ya
      val len = math.sqrt(dx * dx + dy * dy)
      if (acc + len >= target && len > 0.0) {
        val t = (target - acc) / len
        // distance is 2D (PostGIS semantics) but EVERY ordinate lerps —
        // Z/M ride along instead of being dropped
        val out = new Array[Double](s)
        var d = 0
        while (d < s) {
          val va = geom.coords(i * s + d)
          out(d) = va + (geom.coords((i + 1) * s + d) - va) * t
          d += 1
        }
        return GeoStruct.encode(new Geom(GeomTypes.Point, geom.dims,
          geom.srid, out, Geom.emptyInts, Geom.emptyInts, null))
      }
      acc += len
      i += 1
    }
    vertexPoint(n - 1)
  }

  private def ringLine(geom: Geom, ring: Int): InternalRow = {
    val s = geom.stride
    GeoStruct.encode(new Geom(GeomTypes.LineString, geom.dims, geom.srid,
      java.util.Arrays.copyOfRange(geom.coords,
        geom.o0(ring) * s, geom.o0(ring + 1) * s),
      Geom.emptyInts, Geom.emptyInts, null))
  }

  /** PostGIS ST_IsClosed: first vertex equals last (every ordinate,
    * double ==); EMPTY lines are closed per PostGIS; null for non-lines. */
  def isClosed(g: InternalRow): java.lang.Boolean = {
    val geom = GeoStruct.decode(g)
    if (geom.geomType != GeomTypes.LineString) return null
    val n = geom.numCoords
    if (n == 0) return java.lang.Boolean.TRUE
    val s = geom.stride
    var d = 0
    while (d < s) {
      if (geom.coords(d) != geom.coords((n - 1) * s + d))
        return java.lang.Boolean.FALSE
      d += 1
    }
    java.lang.Boolean.TRUE
  }

  /** PostGIS ST_Reverse (see `Geom.reverse`). */
  def reverseGeom(g: InternalRow): InternalRow =
    GeoStruct.encode(Geom.reverse(GeoStruct.decode(g)))

  /** PostGIS ST_RemoveRepeatedPoints at tolerance 0 (see
    * `Geom.removeRepeated`; q145). */
  def removeRepeatedPoints(g: InternalRow): InternalRow =
    GeoStruct.encode(Geom.removeRepeated(GeoStruct.decode(g)))

  /** Closest point on `geom` to (px, py) over vertices/segments in
    * storage order, strict-< first-wins. Per segment the projection is
    * `t = clamp(((px-xa)·dx + (py-ya)·dy) / (dx·dx + dy·dy), 0, 1)` and
    * the candidate `(xa + dx·t, ya + dy·t)` — every step order-fixed so
    * the q124 oracle replicates the winning ordinates bit-for-bit.
    * POINT/MULTIPOINT compare vertices; LINESTRING/MULTILINESTRING
    * compare segments (parts in storage order). Returns (x, y). */
  private def closestOnGeom(geom: Geom, px: Double, py: Double): Array[Double] = {
    val s = geom.stride
    var bestD2 = Double.PositiveInfinity
    var bestX = Double.NaN
    var bestY = Double.NaN
    def trySegment(a: Int, b: Int): Unit = {
      val xa = geom.coords(a * s); val ya = geom.coords(a * s + 1)
      var cx = xa; var cy = ya
      if (b >= 0) {
        val dx = geom.coords(b * s) - xa
        val dy = geom.coords(b * s + 1) - ya
        val len2 = dx * dx + dy * dy
        val tr = if (len2 == 0.0) 0.0
                 else ((px - xa) * dx + (py - ya) * dy) / len2
        val t = if (tr < 0.0) 0.0 else if (tr > 1.0) 1.0 else tr
        cx = xa + dx * t; cy = ya + dy * t
      }
      val ddx = px - cx; val ddy = py - cy
      val d2 = ddx * ddx + ddy * ddy
      if (d2 < bestD2) { bestD2 = d2; bestX = cx; bestY = cy }
    }
    geom.geomType match {
      case GeomTypes.Point | GeomTypes.MultiPoint =>
        var v = 0
        while (v < geom.numCoords) { trySegment(v, -1); v += 1 }
      case GeomTypes.LineString =>
        var i = 0
        while (i < geom.numCoords - 1) { trySegment(i, i + 1); i += 1 }
        if (geom.numCoords == 1) trySegment(0, -1)
      case GeomTypes.MultiLineString =>
        var p = 0
        while (p < geom.o0.length - 1) {
          var i = geom.o0(p)
          while (i < geom.o0(p + 1) - 1) { trySegment(i, i + 1); i += 1 }
          if (geom.o0(p + 1) - geom.o0(p) == 1) trySegment(geom.o0(p), -1)
          p += 1
        }
      case _ => throw new IllegalArgumentException(
        "closest-point targets must be POINT/MULTIPOINT/LINESTRING/" +
          "MULTILINESTRING (st_dump polygons to their rings first)")
    }
    Array(bestX, bestY)
  }

  /** PostGIS ST_ClosestPoint(target, point): the point on `target`
    * nearest to `p` (2D). Null when either side is EMPTY. */
  def closestPoint(g: InternalRow, p: InternalRow): InternalRow = {
    val target = GeoStruct.decode(g)
    val pt = GeoStruct.decode(p)
    require(pt.geomType == GeomTypes.Point,
      "st_closestpoint locates POINT inputs only")
    if (target.isEmpty || pt.isEmpty) return null
    val c = closestOnGeom(target, pt.coords(0), pt.coords(1))
    GeoStruct.encode(Geom.point(c(0), c(1)))
  }

  /** PostGIS ST_ShortestLine(target, point): 2-point LINESTRING from the
    * closest point on `target` to `p`. Null when either side is EMPTY. */
  def shortestLine(g: InternalRow, p: InternalRow): InternalRow = {
    val target = GeoStruct.decode(g)
    val pt = GeoStruct.decode(p)
    require(pt.geomType == GeomTypes.Point,
      "st_shortestline locates POINT inputs only")
    if (target.isEmpty || pt.isEmpty) return null
    val c = closestOnGeom(target, pt.coords(0), pt.coords(1))
    GeoStruct.encode(Geom(GeomTypes.LineString, Dims.XY,
      Array(c(0), c(1), pt.coords(0), pt.coords(1))))
  }

  /** PostGIS ST_LineLocatePoint(line, point): fraction of the line's 2D
    * length at the point nearest to `p`. Same segment-length fold as
    * `lineInterpolatePoint` (its exact inverse on on-line points), same
    * projection arithmetic as `closestOnGeom`, strict-< first-wins —
    * bit-replicable (q124). Zero-length lines locate at 0; null when
    * either side is EMPTY. */
  def lineLocatePoint(g: InternalRow, p: InternalRow): java.lang.Double = {
    val line = GeoStruct.decode(g)
    val pt = GeoStruct.decode(p)
    require(line.geomType == GeomTypes.LineString,
      "st_linelocatepoint supports LINESTRING targets only")
    require(pt.geomType == GeomTypes.Point,
      "st_linelocatepoint locates POINT inputs only")
    if (line.isEmpty || pt.isEmpty) return null
    val px = pt.coords(0); val py = pt.coords(1)
    val s = line.stride
    val n = line.numCoords
    var bestD2 = Double.PositiveInfinity
    var bestSeg = 0
    var bestT = 0.0
    var i = 0
    while (i < n - 1) {
      val xa = line.coords(i * s); val ya = line.coords(i * s + 1)
      val dx = line.coords((i + 1) * s) - xa
      val dy = line.coords((i + 1) * s + 1) - ya
      val len2 = dx * dx + dy * dy
      val tr = if (len2 == 0.0) 0.0
               else ((px - xa) * dx + (py - ya) * dy) / len2
      val t = if (tr < 0.0) 0.0 else if (tr > 1.0) 1.0 else tr
      val cx = xa + dx * t; val cy = ya + dy * t
      val ddx = px - cx; val ddy = py - cy
      val d2 = ddx * ddx + ddy * ddy
      if (d2 < bestD2) { bestD2 = d2; bestSeg = i; bestT = t }
      i += 1
    }
    var total = 0.0
    var prefix = 0.0
    var segLen = 0.0
    i = 0
    while (i < n - 1) {
      val dx = line.coords((i + 1) * s) - line.coords(i * s)
      val dy = line.coords((i + 1) * s + 1) - line.coords(i * s + 1)
      val len = math.sqrt(dx * dx + dy * dy)
      if (i < bestSeg) prefix += len
      if (i == bestSeg) segLen = len
      total += len
      i += 1
    }
    if (n < 2 || total == 0.0) return java.lang.Double.valueOf(0.0)
    java.lang.Double.valueOf((prefix + segLen * bestT) / total)
  }

  /** PostGIS ST_Segmentize (see `Clip.segmentize`): no segment longer
    * than `maxLen` (2D), inserted points at exact i/n fractions — every
    * output ordinate bit-replicable (q125). */
  def segmentizeGeom(g: InternalRow, maxLen: Double): InternalRow =
    GeoStruct.encode(Clip.segmentize(GeoStruct.decode(g), maxLen))

  /** PostGIS ST_ClipByBox2D (see `Clip.clipByBox`): fast axis-aligned
    * clip — Liang–Barsky segments, Sutherland–Hodgman rings; q126. */
  def clipByBox(g: InternalRow, xmin: Double, ymin: Double,
                xmax: Double, ymax: Double): InternalRow =
    GeoStruct.encode(Clip.clipByBox(GeoStruct.decode(g), xmin, ymin, xmax, ymax))

  /** Geohash encode (see `core/Geohash` — floor-scaled quantization,
    * bit-replicable; q127). */
  def geohashEncode(lon: Double, lat: Double, precision: Int): UTF8String =
    UTF8String.fromString(Geohash.encode(lon, lat, precision))

  /** H3-style hexagonal binning (see `core/Hex` — pinned cube rounding,
    * bit-replicable; q128). */
  def hexCell(x: Double, y: Double, size: Double): Long = Hex.cell(x, y, size)

  def hexCenter(cell: Long, size: Double): InternalRow =
    GeoStruct.encode(Geom.point(Hex.centerX(cell, size), Hex.centerY(cell, size)))

  /** Geohash cell box — exact dyadic edges (q127). */
  def geohashBox(hash: UTF8String): InternalRow = {
    val b = Geohash.decodeBox(hash.toString)
    GeoStruct.encodeBox(b)
  }

  /** PostGIS ST_Azimuth(a, b): bearing from `a` to `b` in radians
    * clockwise from north, in [0, 2π) — `atan2(dx, dy)` wrapped. Null
    * for coincident or EMPTY points (PostGIS nulls coincident inputs).
    * NOTE for oracles: libm atan2 differs from the JVM's by 1 ulp on
    * general inputs (probe-measured 88/100); cardinal and 45°-diagonal
    * directions ARE bit-equal (probe 8/8), which is what q124 uses —
    * general directions are property-tested instead. */
  def azimuth(a: InternalRow, b: InternalRow): java.lang.Double = {
    val pa = GeoStruct.decode(a)
    val pb = GeoStruct.decode(b)
    require(pa.geomType == GeomTypes.Point && pb.geomType == GeomTypes.Point,
      "st_azimuth takes two POINTs")
    if (pa.isEmpty || pb.isEmpty) return null
    val dx = pb.coords(0) - pa.coords(0)
    val dy = pb.coords(1) - pa.coords(1)
    if (dx == 0.0 && dy == 0.0) return null
    val az = math.atan2(dx, dy)
    java.lang.Double.valueOf(if (az < 0) az + 2.0 * math.Pi else az)
  }

  /** PostGIS ST_ExteriorRing: a POLYGON's shell as a closed LINESTRING;
    * null for non-polygons or POLYGON EMPTY. */
  def exteriorRing(g: InternalRow): InternalRow = {
    val geom = GeoStruct.decode(g)
    if (geom.geomType != GeomTypes.Polygon || geom.o0.length < 2) return null
    ringLine(geom, 0)
  }

  /** PostGIS ST_InteriorRingN: 1-based hole ring as a LINESTRING; null
    * for non-polygons or out-of-range. */
  def interiorRingN(g: InternalRow, n: Int): InternalRow = {
    val geom = GeoStruct.decode(g)
    if (geom.geomType != GeomTypes.Polygon) return null
    val nRings = math.max(0, geom.o0.length - 1)
    if (n < 1 || n > nRings - 1) return null
    ringLine(geom, n)
  }

  /** PostGIS ST_NumInteriorRings: hole count; null for non-polygons. */
  def numInteriorRings(g: InternalRow): java.lang.Integer = {
    val geom = GeoStruct.decode(g)
    if (geom.geomType != GeomTypes.Polygon) return null
    java.lang.Integer.valueOf(math.max(0, geom.o0.length - 1) match {
      case 0 => 0
      case r => r - 1
    })
  }

  /** PostGIS ST_PointN: 1-based vertex of a LINESTRING (negative counts
    * from the end); null for non-lines or out-of-range — accessors flag,
    * never crash. */
  def pointN(g: InternalRow, idx: Int): InternalRow = {
    val geom = GeoStruct.decode(g)
    if (geom.geomType != GeomTypes.LineString) return null
    val n = geom.numCoords
    val i = if (idx < 0) n + idx else idx - 1
    if (i < 0 || i >= n) return null
    val s = geom.stride
    // full-stride vertex copy: Z/M ordinates survive (POINT Z out of a
    // LINESTRING Z, PostGIS semantics)
    GeoStruct.encode(new Geom(GeomTypes.Point, geom.dims, geom.srid,
      java.util.Arrays.copyOfRange(geom.coords, i * s, (i + 1) * s),
      Geom.emptyInts, Geom.emptyInts, null))
  }

  /** POINT buffer: the radius-`r` disc approximated by a regular
    * `segments`-gon, CCW from angle 0 — vertex i is
    * `(x + r·cos(2πi/k), y + r·sin(2πi/k))`, one closed-form expression
    * per ordinate (bit-replicable in the oracle, q109; JVM/DuckDB
    * sin-cos parity probe-verified). The common buffer use (points →
    * discs for radius joins, thick stroke rendering); LINE/POLYGON
    * offsetting is a full computational-geometry problem and is
    * deliberately rejected, not approximated. EMPTY point → POLYGON
    * EMPTY. */
  def bufferPoint(g: InternalRow, radius: Double, segments: Int): InternalRow = {
    require(radius > 0 && radius.isFinite, s"buffer radius must be > 0: $radius")
    require(segments >= 3 && segments <= 4096,
      s"buffer segments out of [3,4096]: $segments")
    val geom = GeoStruct.decode(g)
    require(geom.geomType == GeomTypes.Point,
      "st_buffer supports POINT inputs only (line/polygon offsetting is out of scope)")
    if (geom.isEmpty)
      return GeoStruct.encode(
        Geom(GeomTypes.Polygon, Dims.XY, Geom.emptyDoubles, Array(0)))
    val x = geom.coords(0); val y = geom.coords(1)
    val k = segments
    val coords = new Array[Double]((k + 1) * 2)
    var i = 0
    while (i < k) {
      val ang = 2.0 * math.Pi * i / k
      coords(2 * i) = x + radius * math.cos(ang)
      coords(2 * i + 1) = y + radius * math.sin(ang)
      i += 1
    }
    coords(2 * k) = coords(0); coords(2 * k + 1) = coords(1)
    GeoStruct.encode(Geom(GeomTypes.Polygon, Dims.XY, coords, Array(0, k + 1)))
  }

  private val coordStructType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("x",
      org.apache.spark.sql.types.DoubleType, nullable = false),
    org.apache.spark.sql.types.StructField("y",
      org.apache.spark.sql.types.DoubleType, nullable = false)))

  val coordsArrayType: org.apache.spark.sql.types.ArrayType =
    org.apache.spark.sql.types.ArrayType(coordStructType, containsNull = false)

  /** Vertex dump: every (x, y) pair of the geometry in storage order
    * (ring closures included, z/m dropped, collection parts
    * concatenated) — the explode-side accessor (`posexplode(st_coords(g))`
    * gives per-vertex rows with positions). */
  def coordsOf(g: InternalRow): ArrayData = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
    def add(geom: Geom): Unit = {
      if (geom.geomType == GeomTypes.Collection) {
        if (geom.parts != null) geom.parts.foreach(add)
      } else {
        val stride = geom.stride
        var i = 0
        while (i < geom.numCoords) {
          buf += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](geom.coords(i * stride), geom.coords(i * stride + 1)))
          i += 1
        }
      }
    }
    add(GeoStruct.decode(g))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buf.toArray)
  }

  private val geomArrayType =
    org.apache.spark.sql.types.ArrayType(GeoStruct.dataType,
      containsNull = false)

  /** PostGIS-style ST_Dump: the atomic parts of a multi/collection in
    * storage order as an array (explode-side; atomic input → itself,
    * EMPTY multi → zero parts, nested collections recurse). */
  def dumpGeom(g: InternalRow): ArrayData = {
    val parts = Geom.dump(GeoStruct.decode(g))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      parts.map(p => GeoStruct.encode(p): Any))
  }

  private def decodeGeomArray(arr: ArrayData): scala.collection.mutable.ArrayBuffer[Geom] = {
    val n = arr.numElements()
    val buf = scala.collection.mutable.ArrayBuffer.empty[Geom]
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i))
        buf += GeoStruct.decode(arr.getStruct(i, 7))
      i += 1
    }
    buf
  }

  /** Canonical total order over geometries — (first vertex x, first
    * vertex y, WKB bytes as the total-order tiebreak; empties last) —
    * shared by the deterministic aggregates (st_collect_agg,
    * st_union_agg) so their results are pure functions of the group
    * VALUE, invariant to partitioning, task order and retries.
    * IEEE-total-order comparisons (java.lang.Double.compare): NaN sorts
    * above +Inf consistently, so the comparator keeps a strict weak
    * ordering even for NaN ordinates (a `!=`/`<` comparator would break
    * the sort contract and make the "canonical" order input-dependent). */
  private def canonicalGeomSort(
      buf: scala.collection.mutable.ArrayBuffer[Geom]): scala.collection.mutable.ArrayBuffer[Geom] =
    buf.sortWith { (p, q) =>
      val px = if (p.isEmpty) Double.PositiveInfinity else p.coords(0)
      val qx = if (q.isEmpty) Double.PositiveInfinity else q.coords(0)
      val cx = java.lang.Double.compare(px, qx)
      if (cx != 0) cx < 0
      else {
        val py = if (p.isEmpty) Double.PositiveInfinity else p.coords(1)
        val qy = if (q.isEmpty) Double.PositiveInfinity else q.coords(1)
        val cy = java.lang.Double.compare(py, qy)
        if (cy != 0) cy < 0
        else java.util.Arrays.compareUnsigned(
          graft.core.Wkb.write(p), graft.core.Wkb.write(q)) < 0
      }
    }

  /** Deterministic ST_Collect finisher over a collected geometry array:
    * parts are sorted into the canonical order, so the result is
    * CANONICAL — invariant to partitioning, task order and retries,
    * unlike PostGIS's scan-order ST_Collect. Uniform single-type parts
    * build the flat MULTI; mixed types nest as GEOMETRYCOLLECTION;
    * nulls are skipped. */
  def collectGeoms(arr: ArrayData): InternalRow =
    GeoStruct.encode(Geom.collect(canonicalGeomSort(decodeGeomArray(arr)).toSeq))

  /** Deterministic ST_Union aggregate finisher (dissolve): operands sort
    * into the canonical order, then union in ONE n-ary sweep
    * ([[graft.core.Overlay.unionAll]] — every input edge is processed
    * once, instead of a cascade's log-k rounds of intermediate
    * materialize-and-resweep). The sweep is a pure function of the
    * sorted operand list, so the result VALUE is invariant to
    * partitioning, task order and retries (the q131 oracle re-derives
    * it in closed form). EMPTY operands drop out (union identity); an
    * all-empty or all-null group yields POLYGON EMPTY. Operands must be
    * polygonal — the overlay core's domain. */
  def unionGeoms(arr: ArrayData): InternalRow = {
    val all = decodeGeomArray(arr)
    if (all.forall(_.isEmpty)) {
      val srid = if (all.isEmpty) 0 else all(0).srid
      return GeoStruct.encode(Geom(GeomTypes.Polygon, Dims.XY,
        Geom.emptyDoubles, Array(0), Geom.emptyInts, null, srid))
    }
    GeoStruct.encode(Overlay.unionAll(canonicalGeomSort(all).toSeq))
  }

  /** Hex bucket of a geometry's FIRST stored vertex — the
    * value-deterministic (schedule-independent) spatial bucket the
    * two-level dissolve groups its partial unions on
    * ([[graft.operators.Dissolve]]). Nearby geometries share buckets, so
    * within-bucket partials weld into compact polygons before the
    * second-level shuffle. EMPTY geometries bucket together at
    * Long.MinValue (distinct from every packed (q, r): valid cells have
    * int32 q, and q = Int.MinValue with r = 0 packs to 0x8000000000000000L
    * only for that one cell — size bounds in practice keep |q| far
    * smaller, and even a collision only co-groups, never corrupts). */
  def hexCellOfGeom(g: InternalRow, size: Double): Long = {
    var geom = GeoStruct.decode(g)
    while (geom.geomType == GeomTypes.Collection &&
      geom.parts != null && geom.parts.nonEmpty) geom = geom.parts(0)
    if (geom.isEmpty || geom.numCoords == 0) Long.MinValue
    else Hex.cell(geom.coords(0), geom.coords(1), size)
  }

  /** Planar affine transform (fixed left-associated double evaluation —
    * every output ordinate is oracle-replicable; see `Geom.affine`). */
  def affineGeom(g: InternalRow, a: Double, b: Double, d: Double,
                 e: Double, xoff: Double, yoff: Double): InternalRow =
    GeoStruct.encode(
      Geom.affine(GeoStruct.decode(g), a, b, d, e, xoff, yoff))

  /** BOX -> POLYGON with the reference's rule: any min > max dimension
    * round-trips as POLYGON EMPTY (`/root/reference/src/geoarrow.c:2990-3016`);
    * otherwise the 5-point CCW ring. */
  def boxToPolygon(xmin: Double, ymin: Double, xmax: Double, ymax: Double): InternalRow = {
    if (xmin > xmax || ymin > ymax)
      GeoStruct.encode(Geom(GeomTypes.Polygon, Dims.XY, Geom.emptyDoubles, Array(0)))
    else
      GeoStruct.encode(Geom(GeomTypes.Polygon, Dims.XY,
        Array(xmin, ymin, xmax, ymin, xmax, ymax, xmin, ymax, xmin, ymin),
        Array(0, 5)))
  }

  /** BOX struct column read as a geometry — the native visitor's walk of a
    * geoarrow.box as a 5-point polygon ring
    * (`/root/reference/src/geoarrow.c:2957-3027`). */
  def boxGeom(b: InternalRow): InternalRow =
    boxToPolygon(b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3))

  def makeBox(xmin: Double, ymin: Double, xmax: Double, ymax: Double): InternalRow =
    GeoStruct.encodeBox(Array(xmin, ymin, xmax, ymax))

  // ------------------------------------------------------------ predicates

  /** Per-thread decode cache for the repeating side of PIP joins: the same
    * few hundred polygons recur millions of times per task, and decoding
    * (two array materializations per row) would dominate the raycast.
    *
    * Keys are row CONTENT, never buffer identity: Spark reuses row buffers
    * with identical (baseObject, offset, size) for different contents
    * (UnsafeRowSerializer's shared rowBuffer on shuffle reads, codegen
    * BufferHolder reuse), so an identity-keyed cache can serve a stale
    * polygon. The key ([[cacheKey]]) reads a bounded part of the content
    * — a whole-row hash per candidate pair costs about 20x the ray cast —
    * so distinct rows may share a key: they sit side by side in one
    * bucket, and every hit is verified by a full byte compare against a
    * defensively-copied row. A stale or colliding entry can only miss,
    * never produce wrong data. */
  private final class CachedGeom(val row: UnsafeRow, val geom: Geom, val next: CachedGeom)

  private final class PolyCache {
    val buckets = new java.util.HashMap[java.lang.Long, CachedGeom]
    var entries = 0
  }

  private val MaxCachedGeoms = 4096
  private val FixedRegionBytes =
    UnsafeRow.calculateBitSetWidthInBytes(GeoStruct.dataType.length) + 8 * GeoStruct.dataType.length
  private val KeyCoordBytes = 64

  private val polyCache =
    new ThreadLocal[PolyCache] {
      override def initialValue() = new PolyCache
    }

  /** Decode-cache key of a geometry row, O(1) in the row size: the size,
    * then a Murmur3 hash of the fixed-width region (type, dims, srid and
    * every array's offset and length, so the vertex and ring counts) and of
    * the first eight coordinate values. The coordinate array's null bitset
    * is skipped, so the coordinates are part of the key at any vertex
    * count. */
  private[sql] def cacheKey(u: UnsafeRow): Long = {
    val size = u.getSizeInBytes
    var h = Murmur3_x86_32.hashUnsafeWords(u.getBaseObject, u.getBaseOffset,
      math.min(size, FixedRegionBytes), 42)
    if (!u.isNullAt(3)) {
      val c = u.getArray(3)
      val header = UnsafeArrayData.calculateHeaderPortionInBytes(c.numElements())
      val n = math.min(c.getSizeInBytes - header, KeyCoordBytes)
      if (n > 0)
        h = Murmur3_x86_32.hashUnsafeWords(c.getBaseObject, c.getBaseOffset + header, n, h)
    }
    (size.toLong << 32) | (h & 0xffffffffL)
  }

  private def decodeCached(poly: InternalRow): Geom = poly match {
    case u: UnsafeRow =>
      val cache = polyCache.get()
      val key = java.lang.Long.valueOf(cacheKey(u))
      var e = cache.buckets.get(key)
      while (e != null && !e.row.equals(u)) e = e.next // byte-exact verify
      if (e != null) e.geom
      else {
        val g = GeoStruct.decode(u)
        if (cache.entries >= MaxCachedGeoms) {
          cache.buckets.clear()
          cache.entries = 0
        }
        cache.buckets.put(key, new CachedGeom(u.copy(), g, cache.buckets.get(key)))
        cache.entries += 1
        g
      }
    case r => GeoStruct.decode(r)
  }

  def containsXY(poly: InternalRow, x: Double, y: Double): Boolean =
    Pip.containsPoint(decodeCached(poly), x, y)

  /** ST_Contains limited to (areal, point) — the north-rule join predicate. */
  def contains(poly: InternalRow, pt: InternalRow): Boolean = {
    val c = pt.getArray(3)
    if (c.numElements() < 2) false
    else Pip.containsPoint(decodeCached(poly), c.getDouble(0), c.getDouble(1))
  }

  def distanceSq(x1: Double, y1: Double, x2: Double, y2: Double): Double =
    Pip.dist2(x1, y1, x2, y2)

  /** Within-distance predicate (ordinate form). Joins on it are
    * auto-rewritten to grid-cell equi-joins by
    * [[graft.plans.SpatialJoinRewrite]]. */
  def dwithinXY(x1: Double, y1: Double, x2: Double, y2: Double,
                r: Double): Boolean =
    Pip.dist2(x1, y1, x2, y2) <= r * r

  // ---------------------------------------------------------- measurements

  def area(g: InternalRow): Double = Measure.area(GeoStruct.decode(g))
  def perimeter(g: InternalRow): Double = Measure.perimeter(GeoStruct.decode(g))
  def lengthOf(g: InternalRow): Double = Measure.length(GeoStruct.decode(g))

  /** Area-weighted centroid as a POINT geometry (POINT EMPTY for EMPTY). */
  def centroid(g: InternalRow): InternalRow = {
    val (cx, cy) = Measure.centroid(GeoStruct.decode(g))
    if (cx.isNaN && cy.isNaN)
      GeoStruct.encode(Geom(GeomTypes.Point, Dims.XY, Geom.emptyDoubles))
    else GeoStruct.encode(Geom(GeomTypes.Point, Dims.XY, Array(cx, cy)))
  }

  /** Planar min distance between geometries (PostGIS ST_Distance). */
  def distance(a: InternalRow, b: InternalRow): Double =
    Measure.distance(GeoStruct.decode(a), GeoStruct.decode(b))

  /** Planar intersects predicate (PostGIS ST_Intersects). The second
    * argument decodes through the per-thread cache: in the cover-join
    * plans (`SpatialJoins.intersectsJoin`, `SpatialJoinRewrite`) it is
    * the broadcast dim side, whose few distinct geometries recur once per
    * candidate pair. */
  def intersects(a: InternalRow, b: InternalRow): Boolean =
    Measure.intersects(GeoStruct.decode(a), decodeCached(b))

  /** Discrete symmetric Hausdorff distance (vertex-sampled). */
  def hausdorffDistance(a: InternalRow, b: InternalRow): Double =
    Measure.hausdorff(GeoStruct.decode(a), GeoStruct.decode(b))

  // --- boolean overlay (see `core/Overlay` — Martínez–Rueda sweep with
  // interior-on-left face reconnection; canonical output, q129/q130) ---

  /** PostGIS ST_Intersection: polygon×polygon boolean core; line×polygon
    * and point×polygon clip. */
  def intersectionGeom(a: InternalRow, b: InternalRow): InternalRow =
    GeoStruct.encode(Overlay.intersection(GeoStruct.decode(a), GeoStruct.decode(b)))

  /** PostGIS ST_Union (two-argument form), polygon operands. */
  def unionGeom(a: InternalRow, b: InternalRow): InternalRow =
    GeoStruct.encode(Overlay.union(GeoStruct.decode(a), GeoStruct.decode(b)))

  /** PostGIS ST_Difference: polygon−polygon; line/point anti-clip. */
  def differenceGeom(a: InternalRow, b: InternalRow): InternalRow =
    GeoStruct.encode(Overlay.difference(GeoStruct.decode(a), GeoStruct.decode(b)))

  /** PostGIS ST_SymDifference, polygon operands. */
  def symDifferenceGeom(a: InternalRow, b: InternalRow): InternalRow =
    GeoStruct.encode(Overlay.symDifference(GeoStruct.decode(a), GeoStruct.decode(b)))

  /** Convex hull (monotone chain; PostGIS degenerate-case semantics). */
  def convexHull(g: InternalRow): InternalRow =
    GeoStruct.encode(Hull.convexHull(GeoStruct.decode(g)))

  /** Douglas-Peucker simplification (endpoints pinned, rings kept valid). */
  def simplifyGeom(g: InternalRow, eps: Double): InternalRow =
    GeoStruct.encode(Simplify.simplify(GeoStruct.decode(g), eps))

  /** Total vertex count (ring closure points included, PostGIS ST_NPoints). */
  def nPoints(g: InternalRow): Int = {
    def count(geom: graft.core.Geom): Int =
      if (geom.geomType == graft.core.GeomTypes.Collection) {
        if (geom.parts == null) 0 else geom.parts.map(count).sum
      } else geom.numCoords
    count(GeoStruct.decode(g))
  }

  // ------------------------------------------------------------ cell index

  def cellId(lon: Double, lat: Double, level: Int): Long =
    Cells.cellId(lon, lat, level)

  /** Cell id straight from a unit-sphere-direction vector (S2's
    * `S2CellId(S2Point)` entry): skips the lon/lat trig, so the whole
    * pipeline (face selection, quadratic projection, Hilbert fold, parent)
    * is exact rational/sqrt arithmetic — bit-replicable in the DuckDB
    * oracle. The vector need not be normalized (only direction matters). */
  def cellIdXyz(x: Double, y: Double, z: Double, level: Int): Long = {
    val (face, u, v) = Cells.xyzToFaceUv(x, y, z)
    Cells.parent(Cells.fromFaceIj(face,
      Cells.stToIj(Cells.uvToSt(u)), Cells.stToIj(Cells.uvToSt(v))), level)
  }

  def cellIdOfGeom(g: InternalRow, level: Int): Long =
    Cells.cellId(pointX(g), pointY(g), level)

  def cellLevel(id: Long): Int = Cells.level(id)
  def cellParent(id: Long, level: Int): Long = Cells.parent(id, level)
  def cellRangeMin(id: Long): Long = Cells.rangeMin(id)
  def cellRangeMax(id: Long): Long = Cells.rangeMax(id)
  def cellContains(parent: Long, child: Long): Boolean = Cells.contains(parent, child)
  def cellChildren(id: Long): ArrayData = GeoStruct.longArray(Cells.children(id))
  def cellNeighbors(id: Long): ArrayData = GeoStruct.longArray(Cells.edgeNeighbors(id))
  def cellRingUnion(id: Long, k: Int): ArrayData =
    GeoStruct.longArray(Cells.ringUnion(id, k))

  /** Spherical-cap cell cover (guaranteed superset; see Cells.capCover). */
  def cellCapCover(lon: Double, lat: Double, radiusMeters: Double,
                   level: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    GeoStruct.longArray(Cells.capCover(lon, lat, radiusMeters, level))

  def cellCoverBox(minLon: Double, minLat: Double, maxLon: Double,
                   maxLat: Double, level: Int): ArrayData =
    GeoStruct.longArray(Cells.coverBox(minLon, minLat, maxLon, maxLat, level))

  /** Cell cover of a geometry at `level` — the join-key generator for PIP
    * joins (SURVEY.md §2C `ST_CellCover`). Hierarchically pruned to cells
    * that actually touch the geometry (edges + interior), not just its
    * envelope — a diagonal polygon keeps ~perimeter*width cells instead of
    * the full envelope lattice. */
  def cellCover(g: InternalRow, level: Int): ArrayData =
    GeoStruct.longArray(Cells.coverGeom(GeoStruct.decode(g), level))

  // ------------------------------------------------------------ tiles

  def tileId(lon: Double, lat: Double, z: Int): Long = Tiles.tileId(lon, lat, z)
  def tilePixel(lon: Double, lat: Double, z: Int, size: Int): Int =
    Tiles.tilePixel(lon, lat, z, size)
  def tilePack(z: Int, x: Int, y: Int): Long = Tiles.pack(z, x, y)
  def worldPixelX(lon: Double, z: Int, size: Int): Long =
    Tiles.worldPixelX(lon, z, size)
  def worldPixelY(lat: Double, z: Int, size: Int): Long =
    Tiles.worldPixelY(lat, z, size)

  /** Tile of a point geometry (join key for the contains-join rewrite). */
  def tileOfGeom(g: InternalRow, z: Int): Long =
    Tiles.tileId(pointX(g), pointY(g), z)
  def tileZ(id: Long): Int = Tiles.z(id)
  def tileX(id: Long): Int = Tiles.x(id)
  def tileY(id: Long): Int = Tiles.y(id)
  def tileParent(id: Long, z: Int): Long = Tiles.parentAt(id, z)

  /** Bing-maps quadkey codec (see [[graft.core.Tiles.quadkey]]; q144). */
  def tileQuadkey(id: Long): UTF8String =
    UTF8String.fromString(Tiles.quadkey(id))

  def quadkeyTile(qk: UTF8String): Long = Tiles.quadkeyTile(qk.toString)
  def tileChildren(id: Long): ArrayData = GeoStruct.longArray(Tiles.children(id))

  def tileEnvelope(id: Long): InternalRow = {
    val (a, b, c, d) = Tiles.tileEnvelope(id)
    GeoStruct.encodeBox(Array(a, b, c, d))
  }

  /** Geometry-aware tile cover (see [[cellCover]]). */
  def tileCover(g: InternalRow, z: Int): ArrayData =
    GeoStruct.longArray(Tiles.coverGeom(GeoStruct.decode(g), z))

  /** Minimum element present in BOTH long arrays, null when disjoint —
    * the cover-join exactly-once claim
    * (`tile == st_minsharedtile(lcover, rcover)`), value-identical to
    * `array_min(array_intersect(l, r))` but evaluated allocation-free:
    * covers are O(tens) of longs, so the nested scan beats the per-pair
    * hash-set build the array expressions pay on every candidate. */
  def minSharedTile(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements(); val m = b.numElements()
    var best = Long.MaxValue
    var found = false
    var i = 0
    while (i < n) {
      val x = a.getLong(i)
      if (!found || x < best) {
        var j = 0
        var hit = false
        while (j < m && !hit) {
          if (b.getLong(j) == x) hit = true
          j += 1
        }
        if (hit) { best = x; found = true }
      }
      i += 1
    }
    if (found) java.lang.Long.valueOf(best) else null
  }

  /** Tile cover for rasterization — tested against the PROJECTED geometry
    * (straight edges in world-pixel space, matching [[tileRasterize]]'s
    * fill), so it is a guaranteed superset of every tile the fill can
    * light; the geographic [[tileCover]] can prune slanted-edge tiles the
    * projected interior reaches (see [[graft.core.Raster.coverTiles]]). */
  def tileCoverRaster(g: InternalRow, z: Int, size: Int): ArrayData =
    GeoStruct.longArray(Raster.coverTiles(GeoStruct.decode(g), z, size))

  /** [[tileCoverRaster]] inflated by `padPx` pixels (thick-stroke cover:
    * pad with width/2 so capsule pixels past the bare segment keep their
    * tiles). */
  def tileCoverRasterW(g: InternalRow, z: Int, size: Int,
                       padPx: Double): ArrayData =
    GeoStruct.longArray(Raster.coverTiles(GeoStruct.decode(g), z, size, padPx))

  /** Scanline rasterization of a polygon's interior over one z/x/y tile:
    * lit in-tile pixel indices at `size`×`size` (see [[graft.core.Raster]]
    * for the exact pixel-center / half-open fill semantics). Decode is
    * cached per thread — after a cover explode the same polygon struct
    * arrives once per covered tile. */
  def tileRasterize(id: Long, size: Int, g: InternalRow): ArrayData =
    GeoStruct.intArray(Raster.rasterize(decodeCached(g), id, size))

  /** [[tileRasterize]] with a stroke width in PIXELS for linestrings
    * (round-capped capsule; polygons fill regardless). */
  def tileRasterizeW(id: Long, size: Int, g: InternalRow,
                     widthPx: Double): ArrayData =
    GeoStruct.intArray(Raster.rasterize(decodeCached(g), id, size, widthPx))

  // ------------------------------------------------------------ grid (kNN)

  /** Flat lon/lat grid cell (res in degrees), packed as 32+32 bits. */
  def gridCell(lon: Double, lat: Double, res: Double): Long = {
    val gx = math.floor((lon + 180.0) / res).toLong
    val gy = math.floor((lat + 90.0) / res).toLong
    (gx << 32) | (gy & 0xffffffffL)
  }

  def gridRing(cell: Long, r: Int): ArrayData = {
    val gx = cell >> 32
    val gy = (cell << 32) >> 32
    val out = new Array[Long]((2 * r + 1) * (2 * r + 1))
    var idx = 0
    var dx = -r
    while (dx <= r) {
      var dy = -r
      while (dy <= r) {
        out(idx) = ((gx + dx) << 32) | ((gy + dy) & 0xffffffffL)
        idx += 1
        dy += 1
      }
      dx += 1
    }
    GeoStruct.longArray(out)
  }

  // ------------------------------------------------------------ hashing

  // ------------------------------------------------------------ aggregates

  /** box_agg buffer update (K8, `/root/reference/src/geoarrow.c:1881-1910`). */
  def boxUpdate(box: InternalRow, g: InternalRow): InternalRow = {
    if (g == null) return box
    val arr = Array(box.getDouble(0), box.getDouble(1), box.getDouble(2),
      box.getDouble(3))
    Geom.accumulateEnvelope(GeoStruct.decode(g), arr)
    GeoStruct.encodeBox(arr)
  }

  def boxCombine(a: InternalRow, b: InternalRow): InternalRow =
    GeoStruct.encodeBox(Array(
      math.min(a.getDouble(0), b.getDouble(0)),
      math.min(a.getDouble(1), b.getDouble(1)),
      math.max(a.getDouble(2), b.getDouble(2)),
      math.max(a.getDouble(3), b.getDouble(3))))

  /** unique-types mask bit `1 << (dims*8 + type)`; EMPTY features don't
    * count (K6, `/root/reference/src/geoarrow.c:1659-1674`). */
  def typeMaskBit(g: InternalRow): Long = {
    if (g == null) return 0L
    val geom = GeoStruct.decode(g)
    if (hasAnyCoords(geom)) 1L << (geom.dims * 8 + geom.geomType) else 0L
  }

  private def hasAnyCoords(geom: Geom): Boolean =
    if (geom.geomType == GeomTypes.Collection)
      geom.parts != null && geom.parts.exists(hasAnyCoords)
    else geom.coords.length > 0

  /** Mask -> ascending ISO-WKB type codes (`(dims-1)*1000 + type`,
    * `/root/reference/src/geoarrow.c:1630-1633`). */
  def maskToTypes(mask: Long): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer[Int]()
    var i = 8
    while (i < 40) {
      if (((mask >>> i) & 1L) == 1L) out += ((i / 8) - 1) * 1000 + (i % 8)
      i += 1
    }
    GeoStruct.intArray(out.toArray)
  }

  /** Count-min point query: the min counter across rows for `item` —
    * the classic upper-bound frequency estimate (see
    * [[graft.sql.CmsSketchAgg]]). */
  def cmsQuery(sketch: ArrayData, item: Long, depth: Int, width: Int): Long = {
    var est = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = sketch.getLong(r * width + (splitmix64(item ^ r) & (width - 1)).toInt)
      if (c < est) est = c
      r += 1
    }
    est
  }

  /** Bloom membership probe (see `BloomSketchAgg`; q149): true iff every
    * one of the k probe bits is set. m is implied by the word count. */
  def bloomContains(words: ArrayData, item: Long, k: Int): Boolean = {
    val m = words.numElements().toLong * 64
    val h1 = splitmix64(item)
    val h2 = splitmix64(h1) | 1L
    var r = 0
    while (r < k) {
      val b = ((h1 + r * h2) & (m - 1)).toInt
      if ((words.getLong(b >>> 6) & (1L << (b & 63))) == 0L) return false
      r += 1
    }
    true
  }

  /** splitmix64 — deterministic row hashing for synthetic data (seed per
    * FIXTURES.md §4) and salting. */
  def splitmix64(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}
