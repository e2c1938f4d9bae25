package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.core.DoubleFormat

/** Function registry for the engine: every kernel from SURVEY.md §2A/§2C
  * exposed as a SQL function (and therefore to the DataFrame API via
  * `call_function`). Scalars bind through `StaticInvoke` so whole-stage
  * codegen emits direct static calls into [[GeoOps]]/[[TextOps]]/[[VecOps]]
  * — no UDF boxing, no codegen fallback in the hot path. */
object Geo {

  private val G = GeoStruct.dataType
  private val B = GeoStruct.boxType

  private def inv(cls: Class[_], dt: DataType, method: String,
                  args: Seq[Expression], types: Seq[DataType],
                  nullable: Boolean = false): Expression = {
    val cast = args.zip(types).map {
      case (e, t) if e.dataType == t => e
      case (e, t) => Cast(e, t)
    }
    StaticInvoke(cls, dt, method, cast, inputTypes = types,
      propagateNull = true, returnNullable = nullable)
  }

  private def geo(dt: DataType, method: String, args: Seq[Expression],
                  types: Seq[DataType], nullable: Boolean = false): Expression =
    inv(GeoOps.getClass, dt, method, args, types, nullable)

  private def txt(dt: DataType, method: String, args: Seq[Expression],
                  types: Seq[DataType], nullable: Boolean = false): Expression =
    inv(TextOps.getClass, dt, method, args, types, nullable)

  private def vec(dt: DataType, method: String, args: Seq[Expression],
                  types: Seq[DataType]): Expression =
    inv(VecOps.getClass, dt, method, args, types)

  private val longArray = ArrayType(LongType, containsNull = false)
  private val floatArray = ArrayType(FloatType, containsNull = true)

  private def castTo(e: Expression, t: DataType): Expression =
    if (e.dataType == t) e else Cast(e, t)

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case other =>
      throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  private def litStr(e: Expression, what: String): String = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
      s.toString.toLowerCase
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  /** Parses the (geometry_type, dims, coord_type) literals of the native-
    * layout cast functions; coord_type defaults to 'separate' (the
    * reference's default layout, `/root/reference/R/type.R:420-424`). */
  private def nativeTarget(a: Seq[Expression]): (Int, Int, Int) = {
    def named(i: Int, what: String, id: String => Option[Int]): Int = {
      val name = litStr(a(i), what)
      id(name).getOrElse(throw new IllegalArgumentException(s"unknown $what '$name'"))
    }
    val gt = named(1, "geometry type", GeoSchema.geometryTypeId)
    val dims = if (a.size > 2) named(2, "dims", GeoSchema.dimsId) else 1
    val ct = if (a.size > 3) litStr(a(3), "coord type") match {
      case "separate" => GeoSchema.CoordType.Separate
      case "interleaved" => GeoSchema.CoordType.Interleaved
      case other => throw new IllegalArgumentException(s"unknown coord type '$other'")
    } else GeoSchema.CoordType.Separate
    (gt, dims, ct)
  }

  /** name -> builder for every function. */
  val functions: Map[String, Seq[Expression] => Expression] = Map(
    // --- codecs (kernels K3/K4/K5, readers R1/R2, writers W1/W2)
    "st_geomfromwkt" -> (a => geo(G, "fromWkt", a, Seq(StringType))),
    "st_trygeomfromwkt" -> (a => geo(G, "tryFromWkt", a, Seq(StringType), nullable = true)),
    "st_geomfromwkb" -> (a => geo(G, "fromWkb", a, Seq(BinaryType))),
    "st_trygeomfromwkb" -> (a => geo(G, "tryFromWkb", a, Seq(BinaryType), nullable = true)),
    "st_aswkt" -> (a => geo(StringType, "asWkt", a, Seq(G))),
    "st_aswkb" -> (a => geo(BinaryType, "asWkb", a, Seq(G))),
    "st_format" -> { a =>
      val full = a match {
        case Seq(g) => Seq(g, Literal(16), Literal(-1L))
        case Seq(g, p) => Seq(g, p, Literal(-1L))
        case other => other
      }
      geo(StringType, "format", full, Seq(G, IntegerType, LongType))
    },
    "st_geomfromgeojson" -> (a => geo(G, "fromGeoJson", a, Seq(StringType))),
    "st_trygeomfromgeojson" -> (a => geo(G, "tryFromGeoJson", a,
      Seq(StringType), nullable = true)),
    "st_asgeojson" -> { a =>
      val full = a match {
        case Seq(g) => Seq(g, Literal(DoubleFormat.DefaultPrecision))
        case other => other
      }
      geo(StringType, "asGeoJson", full, Seq(G, IntegerType))
    },
    // GeoJSONSeq line -> struct<geometry, properties (raw JSON), id>
    "st_geojson_feature" -> (a => geo(GeoOps.geoJsonFeatureType,
      "geoJsonFeature", a, Seq(StringType))),
    "st_trygeojson_feature" -> (a => geo(GeoOps.geoJsonFeatureType,
      "tryGeoJsonFeature", a, Seq(StringType), nullable = true)),
    // whole-file FeatureCollection -> array<feature struct> (explode it)
    "st_geojson_fc" -> (a => geo(
      org.apache.spark.sql.types.ArrayType(GeoOps.geoJsonFeatureType,
        containsNull = false),
      "geoJsonFeatures", a, Seq(StringType))),
    "st_isvalidwkt" -> (a => geo(BooleanType, "isValidWkt", a, Seq(StringType))),
    "st_isvalidwkb" -> (a => geo(BooleanType, "isValidWkb", a, Seq(BinaryType))),
    // --- kernels / accessors
    "st_envelope" -> (a => geo(B, "envelope", a, Seq(G))),
    "st_typeid" -> (a => geo(IntegerType, "typeId", a, Seq(G))),
    "st_geometrytype" -> (a => geo(StringType, "geometryType", a, Seq(G))),
    "st_numgeometries" -> (a => geo(IntegerType, "numGeometries", a, Seq(G))),
    "st_numcoords" -> (a => geo(IntegerType, "numCoords", a, Seq(G))),
    "st_isempty" -> (a => geo(BooleanType, "isEmptyGeom", a, Seq(G))),
    "st_castdims" -> (a => geo(G, "castDims", a, Seq(G, StringType))),
    "st_casttype" -> (a => geo(G, "castType", a, Seq(G, StringType))),
    "st_snaptogrid" -> (a => geo(G, "snapToGrid", a, Seq(G, DoubleType))),
    "st_point" -> (a => geo(G, "makePoint", a, Seq(DoubleType, DoubleType))),
    "st_makeline" -> { a =>
      require(a.length == 4 || a.length == 6,
        s"st_makeline takes 4 (2-point) or 6 (3-point) ordinates; got ${a.length}")
      if (a.length == 6) geo(G, "makeLine3", a, Seq.fill(6)(DoubleType))
      else geo(G, "makeLine2", a, Seq.fill(4)(DoubleType))
    },
    "st_linefromxy" -> (a => geo(G, "lineFromXY", a,
      Seq(ArrayType(DoubleType, containsNull = true)))),
    // linear referencing + vertex accessors (PostGIS semantics)
    "st_lineinterpolate" -> (a => geo(G, "lineInterpolatePoint", a,
      Seq(G, DoubleType))),
    "st_pointn" -> (a => geo(G, "pointN", a, Seq(G, IntegerType),
      nullable = true)),
    "st_startpoint" -> (a => geo(G, "pointN", Seq(a.head, Literal(1)),
      Seq(G, IntegerType), nullable = true)),
    "st_endpoint" -> (a => geo(G, "pointN", Seq(a.head, Literal(-1)),
      Seq(G, IntegerType), nullable = true)),
    "st_exteriorring" -> (a => geo(G, "exteriorRing", a, Seq(G),
      nullable = true)),
    "st_interiorringn" -> (a => geo(G, "interiorRingN", a,
      Seq(G, IntegerType), nullable = true)),
    "st_numinteriorrings" -> (a => geo(IntegerType, "numInteriorRings", a,
      Seq(G), nullable = true)),
    "st_isclosed" -> (a => geo(BooleanType, "isClosed", a, Seq(G),
      nullable = true)),
    "st_reverse" -> (a => geo(G, "reverseGeom", a, Seq(G))),
    "st_removerepeatedpoints" -> (a => geo(G, "removeRepeatedPoints", a, Seq(G))),
    // linear-referencing inverses + proximity accessors (q124)
    "st_linelocatepoint" -> (a => geo(DoubleType, "lineLocatePoint", a,
      Seq(G, G), nullable = true)),
    "st_closestpoint" -> (a => geo(G, "closestPoint", a, Seq(G, G),
      nullable = true)),
    "st_shortestline" -> (a => geo(G, "shortestLine", a, Seq(G, G),
      nullable = true)),
    "st_azimuth" -> (a => geo(DoubleType, "azimuth", a, Seq(G, G),
      nullable = true)),
    // densify + fast box clip (q125/q126)
    "st_segmentize" -> (a => geo(G, "segmentizeGeom", a, Seq(G, DoubleType))),
    "st_clipbybox2d" -> (a => geo(G, "clipByBox", a,
      Seq(G) ++ Seq.fill(4)(DoubleType))),
    // geohash codec (q127)
    "st_geohash" -> (a => geo(StringType, "geohashEncode", a,
      Seq(DoubleType, DoubleType, IntegerType))),
    "st_geohashbox" -> (a => geo(B, "geohashBox", a, Seq(StringType))),
    // H3-style hexagonal binning (q128)
    "st_hexcell" -> (a => geo(LongType, "hexCell", a,
      Seq(DoubleType, DoubleType, DoubleType))),
    "st_hexcenter" -> (a => geo(G, "hexCenter", a, Seq(LongType, DoubleType))),
    // hex bucket of a geometry's first vertex — the dissolve partial key
    "st_hexcellofgeom" -> (a => geo(LongType, "hexCellOfGeom", a,
      Seq(G, DoubleType))),
    // POINT buffer (regular k-gon disc; line/polygon offsetting rejected)
    "st_buffer" -> { a =>
      val full = a match {
        case Seq(g, r) => Seq(g, r, Literal(32))
        case other => other
      }
      geo(G, "bufferPoint", full, Seq(G, DoubleType, IntegerType))
    },
    // vertex dump (explode-side accessor)
    "st_coords" -> (a => geo(GeoOps.coordsArrayType, "coordsOf", a, Seq(G))),
    // multi/collection parts in storage order (PostGIS ST_Dump; explode it)
    "st_dump" -> (a => geo(ArrayType(G, containsNull = false), "dumpGeom",
      a, Seq(G))),
    // assemble an array of geometries into one (canonical sorted order)
    "st_makecollection" -> (a => geo(G, "collectGeoms", a,
      Seq(ArrayType(G, containsNull = false)))),
    // deterministic ST_Collect aggregate: collect_list + canonical-order
    // finisher (partition/retry-invariant, unlike PostGIS's scan order)
    "st_collect_agg" -> (a => geo(G, "collectGeoms",
      Seq(aggregate.CollectList(a.head).toAggregateExpression()),
      Seq(ArrayType(G, containsNull = false)))),
    // deterministic ST_Union aggregate (dissolve): collect + canonical
    // cascaded union — the fold order/tree is a pure function of the
    // group VALUE, so the result is partition/retry-invariant (q131)
    "st_union_agg" -> (a => geo(G, "unionGeoms",
      Seq(aggregate.CollectList(a.head).toAggregateExpression()),
      Seq(ArrayType(G, containsNull = false)))),
    // planar affine transform + its axis-aligned specializations —
    // fixed left-associated double evaluation, oracle-replicable
    "st_affine" -> (a => geo(G, "affineGeom", a,
      Seq(G) ++ Seq.fill(6)(DoubleType))),
    "st_translate" -> (a => geo(G, "affineGeom",
      Seq(a(0), Literal(1.0), Literal(0.0), Literal(0.0), Literal(1.0),
        a(1), a(2)), Seq(G) ++ Seq.fill(6)(DoubleType))),
    "st_scale" -> (a => geo(G, "affineGeom",
      Seq(a(0), a(1), Literal(0.0), Literal(0.0), a(2), Literal(0.0),
        Literal(0.0)), Seq(G) ++ Seq.fill(6)(DoubleType))),
    "st_boxtopolygon" -> (a => geo(G, "boxToPolygon", a,
      Seq(DoubleType, DoubleType, DoubleType, DoubleType))),
    // BOX as an input geometry: a geoarrow.box struct column reads as its
    // 5-point polygon ring; min>max -> POLYGON EMPTY
    // (`/root/reference/src/geoarrow.c:2957-3027`)
    "st_boxgeom" -> (a => geo(G, "boxGeom", a, Seq(B))),
    "st_makebox" -> (a => geo(B, "makeBox", a,
      Seq(DoubleType, DoubleType, DoubleType, DoubleType))),
    // --- native GeoArrow layout interchange (K5 casts to/from the
    // reference's physical layouts, SEPARATE and INTERLEAVED)
    "st_tonative" -> { a =>
      val (gt, dims, ct) = nativeTarget(a)
      StaticInvoke(NativeOps.getClass,
        NativeOps.nativeDataType(gt, dims, ct), "toNative",
        Seq(castTo(a.head, G), Literal(gt), Literal(dims), Literal(ct)),
        inputTypes = Seq(G, IntegerType, IntegerType, IntegerType),
        propagateNull = true, returnNullable = false)
    },
    "st_fromnative" -> { a =>
      val (gt, dims, ct) = nativeTarget(a)
      val inType = NativeOps.lenientDataType(NativeOps.nativeDataType(gt, dims, ct))
      val method = inType match {
        case _: StructType => "fromNativeStruct"
        case _ => "fromNativeArray"
      }
      StaticInvoke(NativeOps.getClass, G, method,
        Seq(castTo(a.head, inType), Literal(gt), Literal(dims), Literal(ct)),
        inputTypes = Seq(inType, IntegerType, IntegerType, IntegerType),
        propagateNull = true, returnNullable = false)
    },
    "st_x" -> (a => geo(DoubleType, "pointX", a, Seq(G))),
    "st_y" -> (a => geo(DoubleType, "pointY", a, Seq(G))),
    "st_srid" -> (a => geo(IntegerType, "srid", a, Seq(G))),
    "st_setsrid" -> (a => geo(G, "setSrid", a, Seq(G, IntegerType))),
    // --- planar measurements (PostGIS semantics; reference is codec-only)
    "st_area" -> (a => geo(DoubleType, "area", a, Seq(G))),
    "st_perimeter" -> (a => geo(DoubleType, "perimeter", a, Seq(G))),
    "st_length" -> (a => geo(DoubleType, "lengthOf", a, Seq(G))),
    "st_centroid" -> (a => geo(G, "centroid", a, Seq(G))),
    "st_distance" -> (a => geo(DoubleType, "distance", a, Seq(G, G))),
    // discrete symmetric Hausdorff (vertex-sampled; densify first via
    // st_segmentize when segment interiors matter) — trajectory similarity
    "st_hausdorff" -> (a => geo(DoubleType, "hausdorffDistance", a, Seq(G, G))),
    "st_intersects" -> (a => geo(BooleanType, "intersects", a, Seq(G, G))),
    // boolean overlay (Martínez–Rueda sweep, canonical output; q129/q130)
    "st_intersection" -> (a => geo(G, "intersectionGeom", a, Seq(G, G))),
    "st_union" -> (a => geo(G, "unionGeom", a, Seq(G, G))),
    "st_difference" -> (a => geo(G, "differenceGeom", a, Seq(G, G))),
    "st_symdifference" -> (a => geo(G, "symDifferenceGeom", a, Seq(G, G))),
    "st_convexhull" -> (a => geo(G, "convexHull", a, Seq(G))),
    "st_simplify" -> (a => geo(G, "simplifyGeom", a, Seq(G, DoubleType))),
    "st_npoints" -> (a => geo(IntegerType, "nPoints", a, Seq(G))),
    // --- predicates
    "st_contains" -> (a => geo(BooleanType, "contains", a, Seq(G, G))),
    "st_dwithinxy" -> (a => geo(BooleanType, "dwithinXY", a,
      Seq.fill(5)(DoubleType))),
    "st_containsxy" -> (a =>
      geo(BooleanType, "containsXY", a, Seq(G, DoubleType, DoubleType))),
    "st_distancesphere" -> (a => geo(DoubleType, "distanceSphere", a,
      Seq(DoubleType, DoubleType, DoubleType, DoubleType))),
    "st_distancesq" -> (a => geo(DoubleType, "distanceSq", a,
      Seq(DoubleType, DoubleType, DoubleType, DoubleType))),
    // --- cell index
    "st_cellid" -> (a => geo(LongType, "cellId", a,
      Seq(DoubleType, DoubleType, IntegerType))),
    "st_cellidxyz" -> (a => geo(LongType, "cellIdXyz", a,
      Seq(DoubleType, DoubleType, DoubleType, IntegerType))),
    "st_cellidofgeom" -> (a => geo(LongType, "cellIdOfGeom", a, Seq(G, IntegerType))),
    "st_celllevel" -> (a => geo(IntegerType, "cellLevel", a, Seq(LongType))),
    "st_cellparent" -> (a => geo(LongType, "cellParent", a, Seq(LongType, IntegerType))),
    "st_cellrangemin" -> (a => geo(LongType, "cellRangeMin", a, Seq(LongType))),
    "st_cellrangemax" -> (a => geo(LongType, "cellRangeMax", a, Seq(LongType))),
    "st_cellcontains" -> (a => geo(BooleanType, "cellContains", a, Seq(LongType, LongType))),
    "st_cellchildren" -> (a => geo(longArray, "cellChildren", a, Seq(LongType))),
    "st_cellneighbors" -> (a => geo(longArray, "cellNeighbors", a, Seq(LongType))),
    "st_cellringunion" -> (a => geo(longArray, "cellRingUnion", a, Seq(LongType, IntegerType))),
    "st_cellcover" -> (a => geo(longArray, "cellCover", a, Seq(G, IntegerType))),
    // spherical-cap cover: guaranteed superset of cells within radius
    // meters of (lon, lat) — correct across cube-face corners, unlike
    // ring stepping (the q84 coverage fix)
    "st_cellcapcover" -> (a => geo(longArray, "cellCapCover", a,
      Seq(DoubleType, DoubleType, DoubleType, IntegerType))),
    "st_cellcoverbox" -> (a => geo(longArray, "cellCoverBox", a,
      Seq(DoubleType, DoubleType, DoubleType, DoubleType, IntegerType))),
    // --- tiles
    "st_tilepixel" -> (a => geo(IntegerType, "tilePixel", a,
      Seq(DoubleType, DoubleType, IntegerType, IntegerType))),
    "st_tilepack" -> (a => geo(LongType, "tilePack", a,
      Seq(IntegerType, IntegerType, IntegerType))),
    "st_worldpixelx" -> (a => geo(LongType, "worldPixelX", a,
      Seq(DoubleType, IntegerType, IntegerType))),
    "st_worldpixely" -> (a => geo(LongType, "worldPixelY", a,
      Seq(DoubleType, IntegerType, IntegerType))),
    "st_tilezxy" -> (a => geo(LongType, "tileId", a,
      Seq(DoubleType, DoubleType, IntegerType))),
    "st_tilez" -> (a => geo(IntegerType, "tileZ", a, Seq(LongType))),
    "st_tilex" -> (a => geo(IntegerType, "tileX", a, Seq(LongType))),
    "st_tiley" -> (a => geo(IntegerType, "tileY", a, Seq(LongType))),
    "st_tileparent" -> (a => geo(LongType, "tileParent", a, Seq(LongType, IntegerType))),
    // Bing-maps quadkey codec (q144)
    "st_quadkey" -> (a => geo(StringType, "tileQuadkey", a, Seq(LongType))),
    "st_quadkeytile" -> (a => geo(LongType, "quadkeyTile", a, Seq(StringType))),
    "st_tilechildren" -> (a => geo(longArray, "tileChildren", a, Seq(LongType))),
    "st_tileenvelope" -> (a => geo(B, "tileEnvelope", a, Seq(LongType))),
    "st_tilecover" -> (a => geo(longArray, "tileCover", a, Seq(G, IntegerType))),
    "st_minsharedtile" -> (a => geo(LongType, "minSharedTile", a,
      Seq(longArray, longArray), nullable = true)),
    // scanline polygon rasterization over one tile: lit in-tile pixel
    // indices (pixel-center, even-odd, half-open fill — core/Raster.scala)
    "st_tilerasterize" -> { a =>
      val arr = ArrayType(IntegerType, containsNull = false)
      // optional 4th arg: stroke width in pixels (round-capped capsule
      // for linestrings; polygon fills ignore it)
      if (a.size >= 4)
        geo(arr, "tileRasterizeW", a,
          Seq(LongType, IntegerType, G, DoubleType))
      else geo(arr, "tileRasterize", a, Seq(LongType, IntegerType, G))
    },
    // projected-space cover matched to st_tilerasterize's fill (superset
    // of every tile the fill can light; the geographic st_tilecover can
    // prune slanted-edge tiles whose projected interior still renders)
    "st_tilecoverraster" -> { a =>
      // optional 4th arg: pad in pixels (stroke width / 2)
      if (a.size >= 4)
        geo(longArray, "tileCoverRasterW", a,
          Seq(G, IntegerType, IntegerType, DoubleType))
      else geo(longArray, "tileCoverRaster", a, Seq(G, IntegerType, IntegerType))
    },
    // --- grid (kNN ring expansion)
    "st_gridcell" -> (a => geo(LongType, "gridCell", a,
      Seq(DoubleType, DoubleType, DoubleType))),
    "st_gridring" -> (a => geo(longArray, "gridRing", a, Seq(LongType, IntegerType))),
    // --- hashing / synthesis
    "splitmix64" -> (a => geo(LongType, "splitmix64", a, Seq(LongType))),
    // --- text kernels
    "token_count" -> (a => txt(IntegerType, "tokenCountSimple", a, Seq(StringType))),
    "token_count_ws" -> (a => txt(IntegerType, "tokenCountWs", a, Seq(StringType))),
    "token_count_bpe" -> (a => txt(IntegerType, "tokenCountBpe", a, Seq(StringType))),
    "quality_stats" -> (a => txt(TextTypes.qualityType, "qualityStats", a, Seq(StringType))),
    "quality_score" -> (a => txt(DoubleType, "qualityScore", a, Seq(StringType))),
    "lang_id" -> (a => txt(StringType, "langId", a, Seq(StringType))),
    "minhash" -> (a => txt(longArray, "minHash", a,
      Seq(StringType, IntegerType, IntegerType))),
    "lsh_bands" -> (a => txt(longArray, "lshBands", a, Seq(longArray, IntegerType))),
    "simhash" -> (a => txt(LongType, "simHash", a, Seq(StringType))),
    "hamming64" -> (a => txt(IntegerType, "hamming64", a, Seq(LongType, LongType))),
    "ngram_jaccard" -> (a => txt(DoubleType, "ngramJaccard", a,
      Seq(StringType, StringType, IntegerType))),
    "repetition_ratio" -> (a => txt(DoubleType, "repetitionRatio", a,
      Seq(StringType, IntegerType))),
    "scrub_urls" -> (a => txt(StringType, "scrubUrls", a, Seq(StringType))),
    // URL canonicalization (q146; null = not a URL)
    "url_host" -> (a => txt(StringType, "urlHost", a, Seq(StringType),
      nullable = true)),
    "url_normalize" -> (a => txt(StringType, "urlNormalize", a, Seq(StringType),
      nullable = true)),
    "scrub_emails" -> (a => txt(StringType, "scrubEmails", a, Seq(StringType))),
    "doc_fingerprint" -> (a => txt(LongType, "fingerprint", a,
      Seq(StringType, IntegerType, IntegerType))),
    // --- multimodal kernels (propagateNull=false: null payload is data —
    // it must yield (null, null, "unknown"), not a null struct)
    "img_meta" -> (a => StaticInvoke(MediaOps.getClass, MediaOps.imageMetaType,
      "imageMeta", a.map(e => if (e.dataType == BinaryType) e else Cast(e, BinaryType)),
      inputTypes = Seq(BinaryType), propagateNull = false,
      returnNullable = false)),
    // real PNG/JPEG pixel decode (javax.imageio) + grid-pooled luminance
    // means; undecodable bytes -> null
    "img_features" -> (a => inv(MediaOps.getClass,
      ArrayType(FloatType, containsNull = false), "imgFeatures", a,
      Seq(BinaryType, IntegerType), nullable = true)),
    // real perceptual hash (8x8 average-hash, integer-exact comparisons)
    "img_phash" -> (a => inv(MediaOps.getClass, LongType, "imgPhash", a,
      Seq(BinaryType), nullable = true)),
    // deterministic two-band PNG synthesis (oracle-checkable test images)
    "make_png" -> (a => inv(MediaOps.getClass, BinaryType, "makePng", a,
      Seq.fill(8)(IntegerType))),
    // decoded-pixel parity kernels (the north rule's per-row image
    // invariant as engine ops): exact MSE, PSNR dB, lossless perturbation
    "img_mse" -> (a => inv(MediaOps.getClass, DoubleType, "imgMse", a,
      Seq(BinaryType, BinaryType), nullable = true)),
    "img_psnr" -> (a => inv(MediaOps.getClass, DoubleType, "imgPsnr", a,
      Seq(BinaryType, BinaryType), nullable = true)),
    "img_perturb" -> (a => inv(MediaOps.getClass, BinaryType, "imgPerturb",
      a, Seq(BinaryType, IntegerType), nullable = true)),
    // raster tile rendering + decoded-pixel audit kernels (q97) and
    // nearest-neighbor resize (q98)
    "tile_render" -> (a => inv(MediaOps.getClass, BinaryType, "tileRender",
      a, Seq(IntegerType, ArrayType(LongType)))),
    "tile_render_rgb" -> (a => inv(MediaOps.getClass, BinaryType,
      "tileRenderRgb", a, Seq(IntegerType, ArrayType(LongType)))),
    "img_channel_sum" -> (a => inv(MediaOps.getClass, LongType,
      "imgChannelSum", a, Seq(BinaryType, IntegerType), nullable = true)),
    "img_nonzero" -> (a => inv(MediaOps.getClass, LongType, "imgNonzero", a,
      Seq(BinaryType), nullable = true)),
    "img_histogram" -> (a => inv(MediaOps.getClass,
      ArrayType(LongType, containsNull = false), "imgHistogram", a,
      Seq(BinaryType, IntegerType), nullable = true)),
    "img_entropy" -> (a => inv(MediaOps.getClass, DoubleType, "imgEntropy",
      a, Seq(BinaryType, IntegerType), nullable = true)),
    "img_entropy_hist" -> (a => inv(MediaOps.getClass, DoubleType,
      "imgEntropyHist", a, Seq(ArrayType(LongType, containsNull = false)),
      nullable = true)),
    "img_resize" -> (a => inv(MediaOps.getClass, BinaryType, "imgResize", a,
      Seq(BinaryType, IntegerType, IntegerType), nullable = true)),
    // rendered-tile decode back to (pixel, gray) rows — the raster→vector
    // entry point (zonal statistics)
    "tile_pixel_values" -> (a => inv(MediaOps.getClass,
      ArrayType(LongType, containsNull = false), "tilePixelValues", a,
      Seq(BinaryType), nullable = true)),
    // exact augmentation kernels (training-data image pipeline): mirror
    // flip, quarter-turn rotation, crop — all integer-exact pixel moves,
    // closed-form oracle-able (q104)
    "img_flip" -> (a => inv(MediaOps.getClass, BinaryType, "imgFlip", a,
      Seq(BinaryType, IntegerType), nullable = true)),
    "img_rot90" -> (a => inv(MediaOps.getClass, BinaryType, "imgRot90", a,
      Seq(BinaryType, IntegerType), nullable = true)),
    "img_crop" -> (a => inv(MediaOps.getClass, BinaryType, "imgCrop", a,
      Seq(BinaryType, IntegerType, IntegerType, IntegerType, IntegerType),
      nullable = true)),
    // real lossy JPEG re-encode (the north rule's PSNR>=40dB leg, q105)
    "img_jpeg" -> (a => inv(MediaOps.getClass, BinaryType, "imgJpeg", a,
      Seq(BinaryType, IntegerType), nullable = true)),
    // --- audio/video kernels (real decoders: RIFF/WAVE PCM, YUV4MPEG2;
    // propagateNull=false on the metas: null payload yields "unknown")
    "wav_meta" -> (a => StaticInvoke(AvOps.getClass, AvOps.wavMetaType,
      "wavMeta", a.map(castTo(_, BinaryType)), inputTypes = Seq(BinaryType),
      propagateNull = false, returnNullable = false)),
    "audio_features" -> (a => inv(AvOps.getClass,
      ArrayType(FloatType, containsNull = false), "audioFeatures", a,
      Seq(BinaryType, IntegerType), nullable = true)),
    "make_wav" -> (a => inv(AvOps.getClass, BinaryType, "makeWav", a,
      Seq.fill(5)(IntegerType))),
    "video_meta" -> (a => StaticInvoke(AvOps.getClass, AvOps.videoMetaType,
      "videoMeta", a.map(castTo(_, BinaryType)), inputTypes = Seq(BinaryType),
      propagateNull = false, returnNullable = false)),
    "frame_features" -> (a => inv(AvOps.getClass, AvOps.frameFeaturesType,
      "frameFeatures", a, Seq(BinaryType, IntegerType, IntegerType),
      nullable = true)),
    "make_y4m" -> (a => inv(AvOps.getClass, BinaryType, "makeY4m", a,
      Seq.fill(4)(IntegerType))),
    // deterministic two-band AVI synthesis (codec 0 = PNG frames, 1 = MJPEG)
    "make_avi" -> (a => inv(AvOps.getClass, BinaryType, "makeAvi", a,
      Seq.fill(5)(IntegerType))),
    // --- vector kernels
    "vec_dot" -> (a => vec(DoubleType, "dot", a, Seq(floatArray, floatArray))),
    "vec_norm" -> (a => vec(DoubleType, "norm", a, Seq(floatArray))),
    "vec_cosine" -> (a => vec(DoubleType, "cosine", a, Seq(floatArray, floatArray))),
    "vec_l2sq" -> (a => vec(DoubleType, "l2Sq", a, Seq(floatArray, floatArray))),
    "vec_lshbucket" -> (a => vec(LongType, "lshBucket", a,
      Seq(floatArray, IntegerType, LongType))),
    // Rademacher JL projection (exact-replicable dim reduction)
    "vec_project" -> (a => vec(floatArray, "project", a,
      Seq(floatArray, IntegerType, LongType))),
    "vec_sq8" -> (a => vec(VecOps.sq8Type, "sq8", a, Seq(floatArray))),
    "vec_sq8_cosine" -> (a => vec(DoubleType, "sq8Cosine", a,
      Seq(BinaryType, FloatType, FloatType, floatArray))),
    "vec_argmax_centroid" -> (a => vec(IntegerType, "argmaxCentroid", a,
      Seq(floatArray, floatArray))),
    // k-means assignment (min-L2²) + order-free fixed-point accumulation
    "vec_argmin_l2" -> (a => vec(IntegerType, "argminL2", a,
      Seq(floatArray, floatArray))),
    "vec_fixed" -> (a => vec(ArrayType(LongType, containsNull = false),
      "fixedPoint", a, Seq(floatArray, IntegerType))),
    "vec_topcentroids" -> (a => vec(ArrayType(IntegerType, containsNull = false),
      "topCentroids", a, Seq(floatArray, floatArray, IntegerType))),
    // --- aggregates (kernels K6/K8)
    "st_box_agg" -> (a => StBoxAgg(a.head).toAggregateExpression()),
    "st_uniquetypes_agg" -> (a => StUniqueTypesAgg(a.head).toAggregateExpression()),
    // HLL distinct sketch: hll_sketch(id, p) — p must be an int literal
    "hll_sketch" -> (a => HllSketchAgg(castTo(a.head, LongType),
      intLit(a(1), "hll_sketch precision")).toAggregateExpression()),
    // count-min frequency sketch: cms_sketch(id, depth, width)
    "cms_sketch" -> (a => CmsSketchAgg(castTo(a.head, LongType),
      intLit(a(1), "cms_sketch depth"),
      intLit(a(2), "cms_sketch width")).toAggregateExpression()),
    "cms_query" -> (a => geo(LongType, "cmsQuery", a,
      Seq(ArrayType(LongType, containsNull = false), LongType,
        IntegerType, IntegerType))),
    // Bloom membership sketch: bloom_sketch(id, mBits, k) + probe (q149)
    "bloom_sketch" -> (a => BloomSketchAgg(castTo(a.head, LongType),
      intLit(a(1), "bloom_sketch mBits"),
      intLit(a(2), "bloom_sketch k")).toAggregateExpression()),
    "bloom_contains" -> (a => geo(BooleanType, "bloomContains", a,
      Seq(ArrayType(LongType, containsNull = false), LongType, IntegerType))),
    // element-wise fixed-point vector sum (k-means update without the
    // rows×dim explode — the exchange carries k buffers, not rows)
    "vec_fixedsum_agg" -> (a =>
      VecFixedSumAgg(castTo(a.head, longArray)).toAggregateExpression()))

  // weak identity set: sessions come and go (bench spins several up);
  // hashCode-keyed sets could collide after GC address reuse
  private val registered =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[AnyRef, java.lang.Boolean]))

  /** Idempotent per-session registration into the session FunctionRegistry
    * (works on any externally-created SparkSession — no extensions jar
    * wiring required; `SparkSessionExtensions.injectFunction` is the other
    * entry point, used when we own session construction). */
  def register(spark: SparkSession): Unit = {
    val key: AnyRef = spark.sessionState
    if (registered.contains(key)) return
    synchronized {
      val registry = spark.sessionState.functionRegistry
      functions.foreach { case (name, builder) =>
        registry.createOrReplaceTempFunction(name, builder, "built-in")
      }
      if (!spark.experimental.extraOptimizations
          .contains(graft.plans.SpatialJoinRewrite)) {
        spark.experimental.extraOptimizations ++=
          graft.plans.GraftExtensions.optimizerRules :+ graft.plans.PlanarEdgesGuard
      }
      if (!spark.experimental.extraStrategies.contains(graft.plans.BarrierStrategy))
        spark.experimental.extraStrategies :+= graft.plans.BarrierStrategy
      // InferFiltersFromGenerate adds `size(cover) > 0 AND isnotnull(cover)`
      // above every cover/cell explode; predicate pushdown then inlines the
      // WHOLE cover kernel (boxToPolygon + tileCover static_invokes) into a
      // Filter below the projections, so each geometry's cover is computed
      // 3x per row (twice in the filter, once in the project — measured in
      // q117's plan). Explode with outer=false already skips empty arrays;
      // for kernel-computed arrays the inferred filter is pure repeated
      // work, so it is excluded for sessions using this engine (plan-only:
      // results are identical, guide §4.4's duplicated-evaluation trap).
      // InferFiltersFromConstraints does the same with `isnotnull(kernel)`
      // derived from any join/filter predicate over a kernel output — the
      // inferred filter lands BELOW the projections with the whole kernel
      // expression inlined, so the kernel runs again per row. The engine's
      // kernels are null-propagating (the inferred null checks never prune
      // a row the predicate itself wouldn't), so both rules are excluded;
      // the remeasured plans drop from 3 kernel evaluations per row to 1.
      // A session built through `GraftExtensions` passes this conf itself.
      val inferRules = Seq(
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromConstraints")
      val prev = spark.conf.getOption("spark.sql.optimizer.excludedRules")
        .filter(_.nonEmpty)
      val merged = (prev.toSeq.flatMap(_.split(",")) ++ inferRules).distinct
      spark.conf.set("spark.sql.optimizer.excludedRules", merged.mkString(","))
      registered.add(key)
    }
  }
}

object TextTypes {
  val qualityType: StructType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_words", IntegerType, nullable = false),
    StructField("avg_word_len", DoubleType, nullable = false),
    StructField("space_ratio", DoubleType, nullable = false),
    StructField("digit_ratio", DoubleType, nullable = false),
    StructField("punct_ratio", DoubleType, nullable = false),
    StructField("upper_ratio", DoubleType, nullable = false),
    StructField("stopword_ratio", DoubleType, nullable = false)))
}

/** Kernel K8 `box_agg` (`/root/reference/src/geoarrow.c:1881-1910`) as a
  * DeclarativeAggregate: single struct buffer, min/min/max/max merge —
  * partial aggregation (map-side combine) comes free from Spark. */
case class StBoxAgg(child: Expression)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def dataType: DataType = GeoStruct.boxType
  override def nullable: Boolean = false

  private lazy val box = AttributeReference("box", GeoStruct.boxType,
    nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(box)

  private def emptyBox: Expression = CreateStruct(Seq(
    Literal(Double.PositiveInfinity), Literal(Double.PositiveInfinity),
    Literal(Double.NegativeInfinity), Literal(Double.NegativeInfinity)))

  override lazy val initialValues: Seq[Expression] = Seq(emptyBox)

  override lazy val updateExpressions: Seq[Expression] = Seq(
    StaticInvoke(GeoOps.getClass, GeoStruct.boxType, "boxUpdate",
      Seq(box, child), inputTypes = Seq(GeoStruct.boxType, GeoStruct.dataType),
      propagateNull = false, returnNullable = false))

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    StaticInvoke(GeoOps.getClass, GeoStruct.boxType, "boxCombine",
      Seq(box.left, box.right),
      inputTypes = Seq(GeoStruct.boxType, GeoStruct.boxType),
      propagateNull = false, returnNullable = false))

  override lazy val evaluateExpression: Expression = box

  override protected def withNewChildInternal(newChild: Expression): StBoxAgg =
    copy(child = newChild)
}

/** Kernel K6 `unique_geometry_types_agg`
  * (`/root/reference/src/geoarrow.c:1616-1733`): 40-bit mask keyed by
  * `dims*8+geometry_type`, EMPTYs not counted, finishing to ascending
  * ISO-WKB codes `(dims-1)*1000 + type`. */
case class StUniqueTypesAgg(child: Expression)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false

  private lazy val mask = AttributeReference("mask", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(mask)
  override lazy val initialValues: Seq[Expression] = Seq(Literal(0L))

  override lazy val updateExpressions: Seq[Expression] = Seq(
    BitwiseOr(mask, StaticInvoke(GeoOps.getClass, LongType, "typeMaskBit",
      Seq(child), inputTypes = Seq(GeoStruct.dataType),
      propagateNull = false, returnNullable = false)))

  override lazy val mergeExpressions: Seq[Expression] =
    Seq(BitwiseOr(mask.left, mask.right))

  override lazy val evaluateExpression: Expression =
    StaticInvoke(GeoOps.getClass, dataType, "maskToTypes", Seq(mask),
      inputTypes = Seq(LongType), propagateNull = false, returnNullable = false)

  override protected def withNewChildInternal(newChild: Expression): StUniqueTypesAgg =
    copy(child = newChild)
}
