package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sql.{Geo, GeoSchema}

/** GeoParquet interchange (SURVEY.md §2B "scan/source"): geometry
  * serialized as a WKB `binary` column, with the file-level metadata JSON
  * written where the GeoParquet spec puts it — the parquet footer
  * key-value entry `"geo"` (what GDAL/geopandas/sf emit and look for) —
  * plus the `_geo_metadata.json` sidecar for directory-level tooling.
  * Spark's public writer can't set custom footer key-values, so the `geo`
  * entry is added by an in-place footer rewrite after the write (the
  * footer thrift blob + length + magic are the file's last bytes; the
  * rewrite touches only the tail, never row-group data). Reading looks at
  * the footer first, sidecar second.
  *
  * The WKB round-trip preserves the reference's encode/decode semantics
  * exactly (R2/W2), so foreign readers see standard ISO WKB. */
object GeoParquet {

  def write(df: DataFrame, geomCol: String, path: String,
            crs: Option[String] = Some(GeoSchema.Crs84Projjson)): Unit = {
    val spark = df.sparkSession
    Geo.register(spark)
    // the write and the bbox aggregate both read `df`: persist it (unless
    // the caller already has) so its upstream plan runs once, not twice
    val owned = df.storageLevel == StorageLevel.NONE
    if (owned) df.persist(StorageLevel.MEMORY_AND_DISK)
    val box = try {
      df.withColumn(geomCol, call_function("st_aswkb", col(geomCol)))
        .write.mode("overwrite").parquet(path)
      // file-level bbox from the box aggregate (kernel K8); an empty or
      // all-EMPTY frame has an infinite box, which JSON cannot hold — bbox
      // is optional, so it is left out
      df.agg(call_function("st_box_agg", col(geomCol))).collect()(0)
        .getStruct(0)
    } finally if (owned) df.unpersist(blocking = false)
    val bbox = (0 until 4).map(box.getDouble)
    val bboxJson =
      if (bbox.forall(_.isFinite)) bbox.mkString(""","bbox":[""", ",", "]") else ""
    stampGeo(path, geomCol,
      s""""encoding":"WKB","geometry_types":[],"crs":${GeoSchema.crsJson(crs)}$bboxJson""")
  }

  def read(spark: SparkSession, path: String, geomCol: String): DataFrame = {
    Geo.register(spark)
    val df = spark.read.parquet(path)
      .withColumn(geomCol, call_function("st_geomfromwkb", col(geomCol)))
    geoColumn(path, geomCol) match {
      case Some(column) =>
        val (crs, edges) = crsAndEdges(column)
        val inferred = GeoSchema.inferGeoType(df, geomCol)
        if (!inferred.isWkbFallback)
          GeoSchema.withGeoMetadata(df, geomCol, inferred.geometryType,
            inferred.dims, crs, edges)
        else df
      case None => df
    }
  }

  // --------------------------------------- bbox covering (GeoParquet 1.1)

  /** Writes WKB GeoParquet with the spec's bbox covering column
    * (`<geomCol>_bbox` struct<xmin,ymin,xmax,ymax> + `"covering"` metadata):
    * per-row envelopes materialize parquet min/max column statistics, so a
    * spatial box predicate prunes whole row groups at scan time — the
    * GeoParquet scale path for non-point geometries, where no single
    * (lon, lat) pair exists to partition on. Rows are range-partitioned and
    * sorted by a space-filling key (z12 tile of the envelope center) first:
    * statistics only prune when spatially-near rows share row groups. */
  def writeCovering(df: DataFrame, geomCol: String, path: String,
                    crs: Option[String] = Some(GeoSchema.Crs84Projjson),
                    sortZoom: Int = 12): Unit = {
    val spark = df.sparkSession
    Geo.register(spark)
    val bboxCol = s"${geomCol}_bbox"
    val env = call_function("st_envelope", col(geomCol))
    val keyed = df
      .withColumn(bboxCol, env)
      .withColumn("__sort", call_function("st_tilezxy",
        (col(bboxCol)("xmin") + col(bboxCol)("xmax")) / 2,
        (col(bboxCol)("ymin") + col(bboxCol)("ymax")) / 2, lit(sortZoom)))
      .withColumn(geomCol, call_function("st_aswkb", col(geomCol)))
      // repartitionByRange runs a SAMPLING pass before the write pass —
      // without this persist the upstream geometry kernels (envelope,
      // WKB encode, and whatever built the geometry) execute twice
      .persist(StorageLevel.MEMORY_AND_DISK)
    keyed
      .repartitionByRange(col("__sort"))
      .sortWithinPartitions(col("__sort"))
      .drop("__sort")
      .write.mode("overwrite").parquet(path)
    keyed.unpersist(blocking = false)
    val b = GeoSchema.jsonEscape(bboxCol)
    stampGeo(path, geomCol,
      s""""encoding":"WKB","geometry_types":[],"crs":${GeoSchema.crsJson(crs)},""" +
        s""""covering":{"bbox":{"xmin":["$b","xmin"],"ymin":["$b","ymin"],""" +
        s""""xmax":["$b","xmax"],"ymax":["$b","ymax"]}}""")
  }

  /** Box query over a covering-column table: the bbox-intersection
    * predicate is expressed on the covering struct's leaves, so it pushes
    * into the parquet scan (`PushedFilters`) and row groups whose bbox
    * statistics miss the query box are never decompressed. The exact
    * geometry refine (if any) composes downstream. */
  def readCoveringBox(spark: SparkSession, path: String, geomCol: String,
                      minLon: Double, minLat: Double, maxLon: Double,
                      maxLat: Double): DataFrame = {
    Geo.register(spark)
    val bboxCol = s"${geomCol}_bbox"
    spark.read.parquet(path)
      .filter(col(bboxCol)("xmin") <= maxLon && col(bboxCol)("xmax") >= minLon &&
        col(bboxCol)("ymin") <= maxLat && col(bboxCol)("ymax") >= minLat)
      .withColumn(geomCol, call_function("st_geomfromwkb", col(geomCol)))
  }

  // ------------------------------------------------- footer geo metadata

  /** The table's GeoParquet metadata JSON: the standard footer `geo`
    * key-value of the first data file if present (spec-compliant files
    * from GDAL/geopandas/sf land here), else the sidecar. Any footer-read
    * failure — non-local URI (java.nio can't open it), truncated file,
    * thrift parse error — degrades to the sidecar instead of failing the
    * read: the metadata is an enrichment, never a correctness gate. */
  def geoMetadataJson(path: String): Option[String] = {
    val fromFooter = scala.util.Try(
      firstDataFile(path).flatMap(footerKeyValue(_, "geo")))
      .toOption.flatten
    fromFooter.orElse(scala.util.Try {
      val metaPath = Paths.get(path, "_geo_metadata.json")
      if (Files.exists(metaPath)) Some(Files.readString(metaPath)) else None
    }.toOption.flatten)
  }

  /** The `columns.<geomCol>` members of the table's GeoParquet metadata;
    * None when the table has no metadata or does not list the column. */
  private def geoColumn(path: String, geomCol: String): Option[Map[String, Option[String]]] =
    geoMetadataJson(path).flatMap { json =>
      GeoSchema.jsonMembers(json).get("columns").flatten
        .flatMap(GeoSchema.jsonMembers(_).get(geomCol).flatten)
        .map(GeoSchema.jsonMembers)
    }

  /** A GeoParquet column's (crs, edges): a column with no `crs` key is
    * OGC:CRS84 and `"crs": null` is unknown (GeoParquet 1.1). */
  private def crsAndEdges(column: Map[String, Option[String]]): (Option[String], String) = {
    val (crs, edges) = GeoSchema.crsAndEdges(column)
    (if (column.contains("crs")) crs else Some(GeoSchema.Crs84Projjson), edges)
  }

  /** Writes a just-written table's GeoParquet metadata, with
    * `columnMembers` as the one column's JSON members, into the `geo` footer
    * entry of every data file and then the sidecar. Driver-side, but
    * O(files) footer-tail IO only — the same cost class as the write's own
    * commit protocol. */
  private def stampGeo(path: String, geomCol: String, columnMembers: String): Unit = {
    val c = GeoSchema.jsonEscape(geomCol)
    val meta = s"""{"version":"1.1.0","primary_column":"$c","columns":{"$c":{$columnMembers}}}"""
    dataFiles(path).foreach(setFooterKeyValue(_, "geo", meta))
    Files.writeString(Paths.get(path, "_geo_metadata.json"), meta)
  }

  private def dataFiles(path: String): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(path)
    if (!Files.isDirectory(dir)) return Seq(dir)
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("_"))
      .toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  private def firstDataFile(path: String): Option[Path] =
    dataFiles(path).headOption

  /** Reads one parquet footer's key-value entry. */
  def footerKeyValue(file: Path, key: String): Option[String] = {
    import scala.jdk.CollectionConverters._
    val raf = new RandomAccessFile(file.toFile, "r")
    try {
      val md = readFooter(raf)
      val kvs = md.getKey_value_metadata
      if (kvs == null) None
      else kvs.asScala.find(_.getKey == key).map(_.getValue)
    } finally raf.close()
  }

  private def readFooter(raf: RandomAccessFile): org.apache.parquet.format.FileMetaData = {
    val len = raf.length()
    require(len > 12, "not a parquet file (too short)")
    raf.seek(len - 8)
    val tail = new Array[Byte](8)
    raf.readFully(tail)
    require(new String(tail, 4, 4, "US-ASCII") == "PAR1",
      "not a parquet file (bad magic)")
    val footerLen = ByteBuffer.wrap(tail, 0, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
    raf.seek(len - 8 - footerLen)
    val fbytes = new Array[Byte](footerLen)
    raf.readFully(fbytes)
    org.apache.parquet.format.Util.readFileMetaData(new ByteArrayInputStream(fbytes))
  }

  /** Sets (replacing any existing) a footer key-value entry in-place:
    * re-serializes the footer thrift and rewrites the file tail.
    *
    * Crash-safety: the ENTIRE new tail (footer thrift + length + magic) is
    * validated by a round-trip parse and then written in ONE buffered
    * write call at or beyond the old footer start — row-group data bytes
    * are never touched, so the worst crash outcome is a corrupt FOOTER on
    * one file (detectable: bad magic / unparseable thrift), never corrupt
    * data pages. Full atomicity would need copy-rewrite-rename of the
    * whole (multi-GB) file — the wrong trade for a metadata stamp that the
    * sidecar (written after all stamps) backs up anyway. */
  def setFooterKeyValue(file: Path, key: String, value: String): Unit = {
    val raf = new RandomAccessFile(file.toFile, "rw")
    try {
      val len = raf.length()
      raf.seek(len - 8)
      val tail = new Array[Byte](8)
      raf.readFully(tail)
      val footerLen = ByteBuffer.wrap(tail, 0, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
      val footerStart = len - 8 - footerLen
      val md = { raf.seek(0); readFooter(raf) }
      if (md.getKey_value_metadata == null)
        md.setKey_value_metadata(new java.util.ArrayList[org.apache.parquet.format.KeyValue]())
      md.getKey_value_metadata.removeIf(kv => kv.getKey == key)
      val kv = new org.apache.parquet.format.KeyValue(key)
      kv.setValue(value)
      md.getKey_value_metadata.add(kv)
      val bos = new ByteArrayOutputStream(footerLen + value.length + 64)
      org.apache.parquet.format.Util.writeFileMetaData(md, bos)
      val out = bos.toByteArray
      // validate BEFORE touching the file: the new thrift must parse back
      org.apache.parquet.format.Util.readFileMetaData(
        new ByteArrayInputStream(out))
      val newTail = ByteBuffer.allocate(out.length + 8)
        .order(ByteOrder.LITTLE_ENDIAN)
      newTail.put(out).putInt(out.length).put("PAR1".getBytes("US-ASCII"))
      raf.seek(footerStart)
      raf.write(newTail.array())
      raf.setLength(footerStart + out.length + 8)
    } finally raf.close()
    // the rewrite invalidates Hadoop LocalFileSystem's sidecar checksum;
    // drop it so reads don't fail (object stores / HDFS have no such file)
    val crc = file.resolveSibling("." + file.getFileName.toString + ".crc")
    Files.deleteIfExists(crc)
  }

  /** Native GeoArrow-layout emit: the geometry column is written in the
    * reference's physical layout (`/root/reference/src/geoarrow.c:25-43`)
    * instead of WKB — separate (struct-of-arrays; parquet stores each
    * ordinate in its own column chunk, the layout sf/GDAL emit by default)
    * or interleaved. The sidecar records (encoding, dims, coord_type) so
    * [[readNative]] reconstructs without being told. */
  def writeNative(df: DataFrame, geomCol: String, path: String,
                  geometryType: String, dims: String = "xy",
                  coordType: String = "separate",
                  crs: Option[String] = Some(GeoSchema.Crs84Projjson)): Unit = {
    val spark = df.sparkSession
    Geo.register(spark)
    df.withColumn(geomCol, call_function("st_tonative", col(geomCol),
        lit(geometryType), lit(dims), lit(coordType)))
      .write.mode("overwrite").parquet(path)
    stampGeo(path, geomCol,
      s""""encoding":"geoarrow.${geometryType.toLowerCase}","dims":"${dims.toLowerCase}",""" +
        s""""coord_type":"${coordType.toLowerCase}","crs":${GeoSchema.crsJson(crs)}""")
  }

  /** Reads a native-layout GeoParquet table written by [[writeNative]] (or
    * any parquet whose sidecar declares a geoarrow.* encoding), decoding the
    * nested layout back to the engine's geometry struct and re-attaching
    * crs metadata. */
  def readNative(spark: SparkSession, path: String, geomCol: String): DataFrame = {
    Geo.register(spark)
    val column = geoColumn(path, geomCol).getOrElse(throw new IllegalArgumentException(
      s"no geo metadata (footer or sidecar) for column $geomCol at $path"))
    def member(key: String) = column.get(key).flatten
    val enc = member("encoding").getOrElse(
      throw new IllegalArgumentException(s"no geoarrow encoding for column $geomCol at $path"))
    require(enc.startsWith("geoarrow."), s"not a native geoarrow encoding: $enc")
    val gt = enc.stripPrefix("geoarrow.")
    val dims = member("dims").getOrElse("xy")
    val ct = member("coord_type").getOrElse("separate")
    val (crs, edges) = crsAndEdges(column)
    val df = spark.read.parquet(path)
      .withColumn(geomCol, call_function("st_fromnative", col(geomCol),
        lit(gt), lit(dims), lit(ct)))
    (for (t <- GeoSchema.geometryTypeId(gt); d <- GeoSchema.dimsId(dims))
      yield GeoSchema.withGeoMetadata(df, geomCol, t, d, crs, edges)).getOrElse(df)
  }
}
