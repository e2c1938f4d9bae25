package graft.sql

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonProcessingException, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructField}

/** GeoArrow schema system: type ids, extension names, crs/edges metadata and
  * schema inference (SURVEY.md §1.2, §1.4; reference operators S1-S6, M1-M2,
  * C2's metadata propagation, and V2's common-type concat).
  *
  * Spark mapping (SURVEY.md §1.5): the extension name + metadata JSON that
  * GeoArrow carries on an Arrow field travel as `StructField.metadata` keys
  * (`geoarrow.extension`, `geoarrow.type_id`, `geoarrow.metadata`).
  */
object GeoSchema {

  // ---- enums (values match /root/reference/R/type.R:393-440)
  object CoordType { val Separate = 1; val Interleaved = 2 }
  object CrsType {
    val None = 1; val Unknown = 2; val Projjson = 3
    val Wkt2_2019 = 4; val AuthorityCode = 5; val Srid = 6
  }
  val EdgeTypes = Seq("planar", "spherical", "vincenty", "thomas", "andoyer", "karney")

  // serialized type ids (`/root/reference/R/type.R:393-401`)
  val WkbId = 100001
  val LargeWkbId = 100002
  val WktId = 100003
  val LargeWktId = 100004
  val WkbViewId = 100005
  val WktViewId = 100006

  /** Normalizes a serialized type id to the engine's storage: Spark's
    * binary/string columns are already unbounded with no view buffers, so
    * the LARGE_* and *_VIEW variants (`/root/reference/R/type.R:393-401`,
    * `src/geoarrow.c:117-129`) are physically identical here — they parse
    * and collapse onto WKB/WKT rather than erroring on ingest. */
  def normalizeSerializedId(id: Int): Int = id match {
    case WkbId | LargeWkbId | WkbViewId => WkbId
    case WktId | LargeWktId | WktViewId => WktId
    case other => other
  }

  /** Native type id: `dims*1000 + geometry_type (+10000 interleaved)` —
    * `/root/reference/src/geoarrow.h:1767`, SURVEY.md §1.2. We standardize
    * on interleaved storage (north_star). */
  def nativeTypeId(geometryType: Int, dims: Int,
                   coordType: Int = CoordType.Interleaved): Int =
    dims * 1000 + geometryType + (if (coordType == CoordType.Interleaved) 10000 else 0)

  /** GeoArrow geometry-type and dims names; each name's id is its index + 1
    * (`/root/reference/R/type.R:403-418`). */
  val GeometryTypeNames = Seq("point", "linestring", "polygon", "multipoint",
    "multilinestring", "multipolygon")
  val DimsNames = Seq("xy", "xyz", "xym", "xyzm")

  def geometryTypeId(name: String): Option[Int] =
    Some(GeometryTypeNames.indexOf(name.toLowerCase) + 1).filter(_ > 0)

  def dimsId(name: String): Option[Int] =
    Some(DimsNames.indexOf(name.toLowerCase) + 1).filter(_ > 0)

  def extensionName(geometryType: Int): String =
    if (geometryType == 990) "geoarrow.box"
    else "geoarrow." + GeometryTypeNames.lift(geometryType - 1).getOrElse("wkb")

  /** OGC:CRS84 PROJJSON (public OGC/EPSG registry data; the reference ships
    * the same constant — `/root/reference/src/geoarrow.c:1234-1260`). */
  val Crs84Projjson: String =
    """{"type":"GeographicCRS","name":"WGS 84 (CRS84)","datum_ensemble":{"name":"World Geodetic System 1984 ensemble","ellipsoid":{"name":"WGS 84","semi_major_axis":6378137,"inverse_flattening":298.257223563},"id":{"authority":"EPSG","code":6326}},"coordinate_system":{"subtype":"ellipsoidal","axis":[{"name":"Geodetic longitude","abbreviation":"Lon","direction":"east","unit":"degree"},{"name":"Geodetic latitude","abbreviation":"Lat","direction":"north","unit":"degree"}]},"id":{"authority":"OGC","code":"CRS84"}}"""

  // ---- metadata JSON (M1: serialize per /root/reference/R/type.R:324-349)

  /** JSON string-body escape (quotes, backslashes, control chars) — shared
    * by every JSON writer in the engine so interpolated values can never
    * produce invalid JSON. */
  def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case '\r' => sb.append("\\r")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** The JSON value of a crs: PROJJSON (starts with '{') raw, any other crs
    * as an escaped string, no crs as `null`. */
  def crsJson(crs: Option[String]): String = crs match {
    case Some(c) if c.trim.startsWith("{") => c.trim
    case Some(c) => "\"" + jsonEscape(c) + "\""
    case None => "null"
  }

  /** `{"crs":...,"edges":"..."}` — crs omitted when absent or empty, edges
    * omitted when planar. */
  def serializeMetadata(crs: Option[String], edges: String = "planar"): String = {
    val parts = Seq.newBuilder[String]
    crs.filter(_.nonEmpty).foreach(c => parts += "\"crs\":" + crsJson(Some(c)))
    if (edges != "planar" && EdgeTypes.contains(edges))
      parts += s""""edges":"$edges""""
    parts.result().mkString("{", ",", "}")
  }

  // NaN/Infinity number tokens are read (as text): Python's json module
  // writes them for an empty frame's bbox, and so did this engine's
  // GeoParquet writer before it learned to omit a non-finite bbox
  private val jsonFactory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS).build()

  /** The top-level members of a JSON object: string values decoded, object
    * and array values as their raw source text (PROJJSON stays
    * byte-for-byte), other scalars as their literal text, and `null` as
    * `None` — distinct from a missing key. Malformed JSON raises
    * `IllegalArgumentException`. */
  def jsonMembers(json: String): Map[String, Option[String]] = {
    def invalid(cause: Throwable = null) =
      new IllegalArgumentException(s"invalid metadata JSON: $json", cause)
    val p = jsonFactory.createParser(json)
    try {
      if (p.nextToken() != JsonToken.START_OBJECT) throw invalid()
      val members = Map.newBuilder[String, Option[String]]
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val key = p.currentName()
        members += key -> (p.nextToken() match {
          case JsonToken.VALUE_NULL => None
          case JsonToken.START_OBJECT | JsonToken.START_ARRAY =>
            val start = p.currentTokenLocation().getCharOffset.toInt
            p.skipChildren()
            Some(json.substring(start,
              p.currentTokenLocation().getCharOffset.toInt + 1))
          case _ => Some(p.getText)
        })
      }
      if (p.nextToken() != null) throw invalid() // content after the object
      members.result()
    } catch {
      case e: JsonProcessingException => throw invalid(e)
    } finally p.close()
  }

  /** A metadata object's (crs, edges); edges default to planar. */
  def crsAndEdges(members: Map[String, Option[String]]): (Option[String], String) =
    (members.get("crs").flatten, members.get("edges").flatten.getOrElse("planar"))

  /** (crs, edges) of a GeoArrow extension-metadata JSON. */
  def parseMetadata(json: String): (Option[String], String) =
    crsAndEdges(jsonMembers(json))

  def crsTypeOf(crs: Option[String]): Int = crs match {
    case None | Some("") => CrsType.None
    case Some(c) if c.trim.startsWith("{") => CrsType.Projjson
    case _ => CrsType.Unknown
  }

  // ---- StructField metadata (S2/S4/S1)

  case class Parsed(typeId: Int, geometryType: Int, dims: Int, coordType: Int,
                    extension: String, crsType: Int, crs: Option[String],
                    edges: String)

  def fieldMetadata(geometryType: Int, dims: Int, crs: Option[String] = None,
                    edges: String = "planar"): Metadata =
    new MetadataBuilder()
      .putString("geoarrow.extension", extensionName(geometryType))
      .putLong("geoarrow.type_id", nativeTypeId(geometryType, dims).toLong)
      .putString("geoarrow.metadata", serializeMetadata(crs, edges))
      .build()

  def isGeoField(f: StructField): Boolean =
    f.metadata.contains("geoarrow.extension")

  /** S1 `geoarrow_schema_parse`. */
  def parseField(f: StructField): Parsed = {
    require(isGeoField(f), s"column ${f.name} carries no geoarrow metadata")
    val ext = f.metadata.getString("geoarrow.extension")
    val id = normalizeSerializedId(f.metadata.getLong("geoarrow.type_id").toInt)
    val (crs, edges) =
      if (f.metadata.contains("geoarrow.metadata"))
        parseMetadata(f.metadata.getString("geoarrow.metadata"))
      else (None, "planar")
    val coordType = if (id > 10000 && id < 100000) CoordType.Interleaved
      else CoordType.Separate
    val base = if (id > 10000 && id < 100000) id - 10000 else id
    val (gt, dims) = if (id >= 100000) (0, 0) else (base % 1000, base / 1000)
    Parsed(id, gt, dims, coordType, ext, crsTypeOf(crs), crs, edges)
  }

  /** Attach geoarrow metadata to a geometry column (C2's "copy requested
    * crs onto bare storage"). */
  def withGeoMetadata(df: DataFrame, colName: String, geometryType: Int,
                      dims: Int, crs: Option[String] = None,
                      edges: String = "planar"): DataFrame =
    df.withColumn(colName,
      col(colName).as(colName, fieldMetadata(geometryType, dims, crs, edges)))

  /** Kernel-output metadata propagation (K5/C2 semantics: every cast output
    * copies the input schema's crs/edges, `/root/reference/src/geoarrow.c:
    * 1599-1606`, test `test-array.R:21-30`): applies `f` to the geometry
    * column and re-attaches the source column's crs/edges — a bare
    * `withColumn` would silently drop them. Pass the new geometry type/dims
    * when the transform changes them. */
  def transformGeo(df: DataFrame, colName: String,
                   newGeometryType: Option[Int] = None,
                   newDims: Option[Int] = None)(
      f: Column => Column): DataFrame = {
    val field = df.schema(colName)
    val out = df.withColumn(colName, f(col(colName)))
    if (!isGeoField(field)) out
    else {
      val p = parseField(field)
      val gt = newGeometryType.getOrElse(p.geometryType)
      val dm = newDims.getOrElse(p.dims)
      out.withColumn(colName,
        col(colName).as(colName, fieldMetadata(gt, dm, p.crs, p.edges)))
    }
  }

  /** `as_geoarrow`-style column cast with automatic crs/edges propagation. */
  def castType(df: DataFrame, colName: String, target: String): DataFrame = {
    Geo.register(df.sparkSession)
    transformGeo(df, colName,
      newGeometryType = geometryTypeId(target))(
      c => call_function("st_casttype", c, lit(target)))
  }

  /** Dimension cast (NaN fill) with automatic crs/edges propagation. */
  def castDims(df: DataFrame, colName: String, dims: String): DataFrame = {
    Geo.register(df.sparkSession)
    transformGeo(df, colName, newDims = dimsId(dims))(
      c => call_function("st_castdims", c, lit(dims)))
  }

  // ---- inference (S5, /root/reference/R/infer-default.R:112-152)

  case class InferredType(geometryType: Int, dims: Int, isWkbFallback: Boolean) {
    def typeId: Int = if (isWkbFallback) WkbId else nativeTypeId(geometryType, dims)
  }

  /** Coercion from observed ISO type codes: single native type stays; with
    * `promoteMulti` the {single, multi} pairs promote; anything else (mixed,
    * collections, empty input) falls back to WKB. Dims union with NaN-fill
    * downstream ({XY,XYZ}->XYZ, {Z,M}->XYZM). */
  def coerce(isoTypeIds: Seq[Int], promoteMulti: Boolean = true): InferredType = {
    val types = isoTypeIds.map(_ % 1000).distinct.sorted
    val dimCodes = isoTypeIds.map(_ / 1000).distinct
    val hasZ = dimCodes.contains(1) || dimCodes.contains(3)
    val hasM = dimCodes.contains(2) || dimCodes.contains(3)
    val dims = (hasZ, hasM) match {
      case (true, true) => 4; case (true, false) => 2
      case (false, true) => 3; case _ => 1
    }
    val gt = types match {
      case Seq(t) if t >= 1 && t <= 6 => t
      case Seq(1, 4) if promoteMulti => 4
      case Seq(2, 5) if promoteMulti => 5
      case Seq(3, 6) if promoteMulti => 6
      case _ => return InferredType(0, dims, isWkbFallback = true)
    }
    InferredType(gt, dims, isWkbFallback = false)
  }

  /** Run the K6 aggregate over a geometry column and coerce — the
    * analysis-time inference pass (SURVEY.md §3.1 step 2). */
  def inferGeoType(df: DataFrame, geomCol: String,
                   promoteMulti: Boolean = true): InferredType = {
    Geo.register(df.sparkSession)
    val ids = df.select(call_function("st_uniquetypes_agg", col(geomCol)).as("t"))
      .collect()(0).getSeq[Int](0)
    coerce(ids, promoteMulti)
  }

  // ---- V2 concat with common-type cast (/root/reference/R/vctr.R:78-107)

  /** Union two tables on their geometry columns: identical declared types
    * concatenate as-is; heterogeneous types cast both sides to WKB (the
    * reference's rule for mixed chunks). */
  def concatGeo(a: DataFrame, b: DataFrame, geomCol: String): DataFrame = {
    Geo.register(a.sparkSession)
    val ta = inferGeoType(a, geomCol)
    val tb = inferGeoType(b, geomCol)
    if (ta == tb && !ta.isWkbFallback) a.unionByName(b)
    else {
      val aw = a.withColumn(geomCol, call_function("st_aswkb", col(geomCol)))
      val bw = b.withColumn(geomCol, call_function("st_aswkb", col(geomCol)))
      aw.unionByName(bw)
    }
  }
}
