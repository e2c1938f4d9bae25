package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `spark.read.format(...)` registration — the reference's user-facing
  * entry point is `open_dataset(path)` (`/root/reference/README.md:59-62`,
  * Arrow's dataset API); the Spark spelling of the same ergonomics is a
  * DataSource name, so a SQL-only user never needs the object API:
  *
  *   - `spark.read.format("geoparquet").load(dir)` — full parquet scan
  *     machinery (predicate pushdown, column pruning, partition pruning,
  *     vectorized decode). Geometry columns surface as standard WKB
  *     `binary` — decode with `st_geomfromwkb`, or keep using
  *     [[GeoParquet.read]] for the metadata-attached object path.
  *   - `spark.read.format("arrowipc").load(dir)` — the scan-grade IPC
  *     reader: decode-level column pruning, optional record-batch task
  *     splitting (`option("maxBatchesPerTask", n)`), `_SUCCESS` gating
  *     (`option("requireSuccess", "false")` for foreign dirs).
  */

/** GeoParquet = parquet bytes + `geo` footer metadata, so the scan IS the
  * parquet scan: subclassing Spark's parquet DataSourceV2 under the
  * `geoparquet` name inherits the entire pushdown/pruning/vectorization
  * stack verbatim (and, unlike the built-in name, is not on the
  * `spark.sql.sources.useV1SourceList` fallback list, so it always plans
  * as a v2 BatchScan). The geo metadata itself is file-footer metadata the
  * scan does not need; [[GeoParquet.geoMetadataJson]] reads it. */
class GeoParquetDataSource
    extends org.apache.spark.sql.execution.datasources.v2.parquet.ParquetDataSourceV2 {
  override def shortName(): String = "geoparquet"
  // WRITES refuse loudly: `df.write.format("geoparquet")` routes through
  // the v1 fallback format, which would emit plain parquet with NO `geo`
  // footer — a file advertised as GeoParquet that isn't one. The object
  // API (GeoParquet.write) is the path that attaches the metadata.
  override def fallbackFileFormat
      : Class[_ <: org.apache.spark.sql.execution.datasources.FileFormat] =
    classOf[GeoParquetReadOnlyFileFormat]
}

/** Read-compatible parquet format whose WRITE path refuses: see
  * [[GeoParquetDataSource.fallbackFileFormat]]. */
class GeoParquetReadOnlyFileFormat
    extends org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat {
  override def prepareWrite(
      sparkSession: SparkSession,
      job: org.apache.hadoop.mapreduce.Job,
      options: Map[String, String],
      dataSchema: StructType)
      : org.apache.spark.sql.execution.datasources.OutputWriterFactory =
    throw new UnsupportedOperationException(
      "format(\"geoparquet\") is read-only: a bare parquet write would " +
        "lack the 'geo' footer metadata. Use " +
        "graft.sources.GeoParquet.write(df, geomCol, path) instead.")
}

/** Arrow IPC DataSourceV2 (public connector API): one input partition per
  * part file — or per record-batch range when `maxBatchesPerTask` is set —
  * each reading through [[ArrowIpc.readFileRows]] (streamed batches,
  * typed columnar decode). Column pruning happens at decode level: the
  * scan's readSchema resolves vectors by name, so pruned columns are never
  * decoded (IPC batch bodies still transfer — the format has no column
  * projection on disk — but all per-value work is skipped). */
class ArrowIpcDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "arrowipc"
  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: util.Map[String, String]): String = {
    val o = new CaseInsensitiveStringMap(options)
    val p = o.get("path")
    require(p != null && p.nonEmpty, "arrowipc: use .load(<path>)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ArrowIpc.sparkSchemaOf(SparkSession.active, pathOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ArrowIpcTable(pathOf(properties), schema,
      new CaseInsensitiveStringMap(properties))
}

private[sources] class ArrowIpcTable(path: String, tableSchema: StructType,
                                     options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"arrowipc $path"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ArrowIpcScanBuilder(path, tableSchema, options)
}

private[sources] class ArrowIpcScanBuilder(path: String, fileSchema: StructType,
                                           options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fileSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    // Catalyst hands the minimal column set; resolve against the file
    // schema's field order for a stable layout
    required = StructType(fileSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))
  override def build(): Scan = new ArrowIpcScan(path, required,
    options.getInt("maxBatchesPerTask", 0),
    options.getBoolean("requireSuccess", true))
}

private[sources] class ArrowIpcScan(path: String, required: StructType,
                                    maxBatchesPerTask: Int,
                                    requireSuccess: Boolean)
    extends Scan with Batch {
  // the session's hadoop conf, captured at plan time for executor-side
  // FileSystem access (same plumbing as ArrowIpc.read)
  private val entries: Map[String, String] = {
    val c = SparkSession.active.sessionState.newHadoopConf()
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
  }
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  // surfaced in explain(): the pruned column set is visible in the plan
  override def description(): String =
    s"arrowipc $path ReadSchema: ${required.simpleString}"
  override def planInputPartitions(): Array[InputPartition] = {
    if (requireSuccess) ArrowIpc.checkSuccessMarker(path, entries)
    ArrowIpc.planSplits(path, entries, maxBatchesPerTask)
      .map { case (f, a, b) => ArrowIpcInputPartition(f, a, b): InputPartition }
      .toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new ArrowIpcReaderFactory(required, entries)
}

private[sources] case class ArrowIpcInputPartition(file: String, batchFrom: Int,
                                                   batchUntil: Int)
    extends InputPartition

private[sources] class ArrowIpcReaderFactory(schema: StructType,
                                             entries: Map[String, String])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[ArrowIpcInputPartition]
    val rows = ArrowIpc.readFileRows(part.file, schema, entries,
      part.batchFrom, part.batchUntil)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) {
          current = toCatalyst(rows.next()).asInstanceOf[InternalRow]
          true
        } else false
      override def get(): InternalRow = current
      override def close(): Unit = () // readFileRows self-closes at
      // exhaustion and registers a task-completion listener for early exit
    }
  }
}

/** GeoJSONSeq DataSourceV2 — `spark.read.format("geojsonseq").load(dir)`,
  * which [[GeoJsonSeq.read]] also runs. Line-delimited text is
  * splittable at ARBITRARY byte offsets, so partitions are planned at
  * `maxSplitBytes` boundaries within each file (Hadoop `LineRecordReader`
  * owns the straddling-line protocol: a split starting past 0 skips its
  * first partial line and reads one line past its end) — a single 1-TB
  * ndjson dump fans out across the cluster like parquet does. Compressed
  * files fall back to one split per file unless the codec is splittable.
  * Fixed schema (the format is schema-free by design): geom struct +
  * raw properties JSON + feature id; column pruning skips the geometry
  * ENCODE for pruned geometry (the line must still parse — there is no
  * columnar projection inside a JSON line). `strict=false` skips
  * unparseable lines (dirty-lake mode, same contract as the object API). */
class GeoJsonSeqDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "geojsonseq"
  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: util.Map[String, String]): String = {
    val o = new CaseInsensitiveStringMap(options)
    val p = o.get("path")
    require(p != null && p.nonEmpty, "geojsonseq: use .load(<path>)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GeoJsonSeqScan.schema // schema-free format: fixed, no file access

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GeoJsonSeqTable(pathOf(properties),
      new CaseInsensitiveStringMap(properties))
}

private[sources] class GeoJsonSeqTable(path: String,
                                       options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"geojsonseq $path"
  override def schema(): StructType = GeoJsonSeqScan.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new GeoJsonSeqScanBuilder(path, options)
}

private[sources] class GeoJsonSeqScanBuilder(path: String,
                                             options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = GeoJsonSeqScan.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(GeoJsonSeqScan.schema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))
  override def build(): Scan = {
    val defaultSplit =
      SparkSession.active.sessionState.conf.filesMaxPartitionBytes
    new GeoJsonSeqScan(path, required,
      options.getBoolean("strict", true),
      options.getLong("maxSplitBytes", defaultSplit))
  }
}

private[sources] object GeoJsonSeqScan {
  import org.apache.spark.sql.types.{StringType, StructField}
  /** (geom, properties, feature_id) — same shape as [[GeoJsonSeq.read]]. */
  val schema: StructType = StructType(Seq(
    StructField("geom", graft.sql.GeoStruct.dataType, nullable = true),
    StructField("properties", StringType, nullable = true),
    StructField("feature_id", StringType, nullable = true)))
}

private[sources] class GeoJsonSeqScan(path: String, required: StructType,
                                      strict: Boolean, maxSplitBytes: Long)
    extends Scan with Batch {
  private val entries: Map[String, String] = {
    val c = SparkSession.active.sessionState.newHadoopConf()
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
  }
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"geojsonseq $path ReadSchema: ${required.simpleString}"
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    entries.foreach { case (k, v) => conf.set(k, v) }
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val files: Seq[org.apache.hadoop.fs.FileStatus] =
      if (fs.getFileStatus(root).isFile) Seq(fs.getFileStatus(root))
      else {
        // RECURSIVE walk — a dir-of-dirs layout (partitioned text write)
        // must contribute every nested file, not silently drop subtrees.
        // Spark listing convention: _metadata/_SUCCESS and dotfiles are
        // hidden, and a hidden SEGMENT hides its whole subtree.
        val rootDepth = root.toUri.getPath.split("/").length
        val it = fs.listFiles(root, true)
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.hadoop.fs.FileStatus]
        while (it.hasNext) {
          val st = it.next()
          val segs = st.getPath.toUri.getPath.split("/").drop(rootDepth)
          if (st.isFile &&
            !segs.exists(s => s.startsWith("_") || s.startsWith(".")))
            buf += st
        }
        buf.sortBy(_.getPath.toString).toSeq
      }
    val codecs =
      new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    require(maxSplitBytes > 0, s"maxSplitBytes must be > 0: $maxSplitBytes")
    files.flatMap { st =>
      val codec = codecs.getCodec(st.getPath)
      val splittable = codec == null ||
        codec.isInstanceOf[org.apache.hadoop.io.compress.SplittableCompressionCodec]
      if (!splittable || st.getLen <= maxSplitBytes)
        Seq(GeoJsonSeqInputPartition(st.getPath.toString, 0L, st.getLen))
      else
        (0L until st.getLen by maxSplitBytes).map(off =>
          GeoJsonSeqInputPartition(st.getPath.toString, off,
            math.min(maxSplitBytes, st.getLen - off)))
    }.map(p => p: InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GeoJsonSeqReaderFactory(required, strict, entries)
}

private[sources] case class GeoJsonSeqInputPartition(file: String, start: Long,
                                                     length: Long)
    extends InputPartition

private[sources] class GeoJsonSeqReaderFactory(required: StructType,
                                               strict: Boolean,
                                               entries: Map[String, String])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GeoJsonSeqInputPartition]
    val conf = new org.apache.hadoop.conf.Configuration(false)
    entries.foreach { case (k, v) => conf.set(k, v) }
    val split = new org.apache.hadoop.mapreduce.lib.input.FileSplit(
      new org.apache.hadoop.fs.Path(part.file), part.start, part.length,
      Array.empty[String])
    val lines = new org.apache.hadoop.mapreduce.lib.input.LineRecordReader()
    lines.initialize(split,
      new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(conf,
        new org.apache.hadoop.mapreduce.TaskAttemptID()))
    // ordinal plan: for each required column, which feature field feeds it
    val ordinals: Array[Int] = required.fieldNames.map {
      case "geom" => 0
      case "properties" => 1
      case "feature_id" => 2
      case other => throw new IllegalArgumentException(
        s"geojsonseq: unknown column $other")
    }
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (lines.nextKeyValue()) {
          val line = lines.getCurrentValue.toString.trim
          if (line.nonEmpty) {
            val f =
              try graft.core.GeoJson.parseFeature(line)
              catch {
                case e: Exception =>
                  if (strict) throw new IllegalArgumentException(
                    s"geojsonseq: unparseable line in ${part.file}: " +
                      s"${e.getMessage}", e)
                  else null
              }
            if (f != null) {
              val vals = new Array[Any](ordinals.length)
              var i = 0
              while (i < ordinals.length) {
                vals(i) = ordinals(i) match {
                  // pruned geometry never pays the struct encode
                  case 0 => if (f.geometry == null) null
                    else graft.sql.GeoStruct.encode(f.geometry)
                  case 1 => org.apache.spark.unsafe.types.UTF8String
                    .fromString(f.propertiesJson)
                  case _ => f.id.map(
                    org.apache.spark.unsafe.types.UTF8String.fromString).orNull
                }
                i += 1
              }
              current =
                new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
              return true
            }
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = lines.close()
    }
  }
}
