package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sql.Geo

/** GeoJSONSeq (newline-delimited GeoJSON, RFC 8142-style) source/sink —
  * the SCALABLE GeoJSON variant: one Feature per line means a file splits
  * at arbitrary byte offsets and every line parses independently, so a
  * 100-TB feature dump reads like any other splittable format (a single
  * whole-file `FeatureCollection`, by contrast, is unsplittable by
  * construction — GDAL's GeoJSONSeq driver exists for exactly this reason).
  *
  * Properties ride as the RAW JSON substring (schema-free — feature
  * attributes vary row to row in the wild); pull typed fields out with
  * Spark's `get_json_object`/`from_json` downstream. */
object GeoJsonSeq {

  /** Reads `path` (text files of one Feature — or bare geometry — per
    * line) into (geomCol, properties, feature_id) through the `geojsonseq`
    * DataSourceV2 scan. `strict = false` skips unparseable lines (dirty
    * lakes) instead of failing the scan. */
  def read(spark: SparkSession, path: String, geomCol: String = "geom",
           strict: Boolean = true): DataFrame = {
    Geo.register(spark)
    spark.read.format("geojsonseq").option("strict", strict).load(path)
      .withColumnRenamed("geom", geomCol)
  }

  /** Writes features as GeoJSONSeq: geometry serialized via
    * `st_asgeojson`, all other columns packed into `properties` by the
    * built-in `to_json` (codegen'd) — one line per row, one part file per
    * partition, foreign-tool readable (GDAL/ogr2ogr/jq).
    *
    * Default `precision = -1` = shortest-round-trip digits: write/read is
    * LOSSLESS (a 16-digit cap silently moves coordinates that need 17).
    * Pass a non-negative precision for WKT-style truncation. */
  def write(df: DataFrame, geomCol: String, path: String,
            precision: Int = -1): Unit = {
    Geo.register(df.sparkSession)
    // null geometries serialize as the spec's "geometry": null — a bare
    // st_asgeojson(null) would null the whole concat, the text writer
    // would emit an empty line, and read()'s blank-line filter would
    // silently DROP the row (the parser accepts geometry:null, so the
    // round-trip must keep it)
    df.select(featureJsonFor(df, geomCol, precision).as("value"))
      .write.mode("overwrite").text(path)
  }

  private[sources] def featureJsonFor(df: DataFrame, geomCol: String,
                          precision: Int): org.apache.spark.sql.Column = {
    val propCols = df.columns.filter(_ != geomCol)
    val props =
      if (propCols.isEmpty) lit("{}")
      else to_json(struct(propCols.map(col): _*))
    concat(
      lit("{\"type\":\"Feature\",\"geometry\":"),
      coalesce(call_function("st_asgeojson", col(geomCol), lit(precision)),
        lit("null")),
      lit(",\"properties\":"), props, lit("}"))
  }
}

/** Whole-file `FeatureCollection` GeoJSON — the most common single-file
  * `.geojson` in the wild (what QGIS/geojson.io/most web APIs emit).
  * A FeatureCollection is ONE JSON document, so it is UNSPLITTABLE by
  * construction: each file parses as a single task, and the writer
  * assembles the document driver-side. This is the small-file interop
  * path only — [[GeoJsonSeq]] (one feature per line) is the scale path. */
object GeoJsonFc {

  /** Reads `.geojson` FeatureCollection file(s) at `path` (a file or a
    * directory of files — files parallelize, features within a file do
    * not) into (geomCol, properties, feature_id), reusing the GeoJSONSeq
    * feature codec. */
  def read(spark: SparkSession, path: String,
           geomCol: String = "geom"): DataFrame = {
    Geo.register(spark)
    spark.read.option("wholetext", true).text(path)
      .select(explode(call_function("st_geojson_fc", col("value"))).as("__f"))
      .select(col("__f")("geometry").as(geomCol),
        col("__f")("properties").as("properties"),
        col("__f")("id").as("feature_id"))
  }

  /** Writes ONE FeatureCollection document (driver-assembled — see class
    * doc; refuse-at-scale is deliberate: `limit` guards against feeding a
    * lake-sized table into a single JSON file by accident). */
  def write(df: DataFrame, geomCol: String, path: String,
            precision: Int = -1, limit: Int = 1 << 20): Unit = {
    Geo.register(df.sparkSession)
    // limit+1 BEFORE the collect — the guard must fire before the driver
    // materializes a lake-sized table, not after
    val features = df
      .select(GeoJsonSeq.featureJsonFor(df, geomCol, precision).as("value"))
      .limit(limit + 1)
      .collect()
    require(features.length <= limit,
      s"GeoJsonFc.write: feature count exceeds limit=$limit — " +
        "a FeatureCollection is one JSON document; use GeoJsonSeq at scale")
    val sb = new java.lang.StringBuilder(features.length * 64 + 64)
    sb.append("{\"type\":\"FeatureCollection\",\"features\":[")
    var i = 0
    while (i < features.length) {
      if (i > 0) sb.append(',')
      sb.append(features(i).getString(0))
      i += 1
    }
    sb.append("]}")
    // through the Hadoop FS so any scheme read() accepts, write() accepts
    // too — java.nio would mangle an hdfs://... URI into a local path
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(
      df.sparkSession.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}
