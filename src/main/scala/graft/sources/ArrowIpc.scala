package graft.sources

import java.nio.channels.Channels
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.{ListVector, StructVector}
import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter, ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.ipc.message.MessageSerializer
import org.apache.arrow.vector.ipc.ReadChannel
import org.apache.arrow.vector.types.FloatingPointPrecision
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sql.{Geo, GeoSchema}

/** Arrow IPC interchange — the reference's native transport. geoarrow-r
  * moves data as Arrow arrays/streams (`/root/reference/R/array.R:14-132`,
  * nanoarrow throughout), and its extension-type registry (C6,
  * `/root/reference/R/type.R`) tags columns `geoarrow.*` via the standard
  * `ARROW:extension:name` field metadata. This is the Spark counterpart:
  * a user holding real `.arrow` (IPC file) or `.arrows` (IPC stream)
  * payloads reads them into DataFrames here, and exports back, with
  * geometry columns carried in the GeoArrow native nested layouts
  * (struct-of-x/y or interleaved lists, `src/geoarrow.c:25-43`) and tagged
  * with the spec's extension name + metadata — consumable by pyarrow /
  * nanoarrow / geoarrow-* without conversion.
  *
  * Scale shape: one IPC file per partition (exactly like parquet part
  * files), written/read executor-side through the Hadoop FileSystem API —
  * no driver collect, no single-file bottleneck; reads parallelize over
  * the file list. Batches are bounded (`batchRows`) so vector memory per
  * task stays constant. Arrow jars are Spark's own (`arrow-vector`). */
object ArrowIpc {

  // ----------------------------------------------------- schema mapping

  /** Spark -> Arrow field (recursive). `meta` attaches custom field
    * metadata (e.g. the geoarrow extension tags) by column name — only
    * consulted for top-level fields, like the spec requires. */
  private def toArrowField(name: String, dt: DataType, nullable: Boolean,
                           meta: java.util.Map[String, String]): Field = {
    def leaf(t: ArrowType) =
      new Field(name, new FieldType(nullable, t, null, meta), null)
    dt match {
      case BooleanType => leaf(ArrowType.Bool.INSTANCE)
      case IntegerType => leaf(new ArrowType.Int(32, true))
      case LongType => leaf(new ArrowType.Int(64, true))
      case FloatType => leaf(new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE))
      case DoubleType => leaf(new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE))
      case StringType => leaf(ArrowType.Utf8.INSTANCE)
      case BinaryType => leaf(ArrowType.Binary.INSTANCE)
      case s: StructType =>
        new Field(name, new FieldType(nullable, ArrowType.Struct.INSTANCE, null, meta),
          s.fields.map(f => toArrowField(f.name, f.dataType, f.nullable, null)).toSeq.asJava)
      case a: ArrayType =>
        new Field(name, new FieldType(nullable, ArrowType.List.INSTANCE, null, meta),
          Seq(toArrowField("item", a.elementType, a.containsNull, null)).asJava)
      case other => throw new IllegalArgumentException(
        s"ArrowIpc: unsupported Spark type $other for column $name")
    }
  }

  /** Arrow -> Spark field (recursive); custom metadata surfaces via
    * [[fieldMetadata]]. */
  private def toSparkType(f: Field): DataType = f.getType match {
    case _: ArrowType.Bool => BooleanType
    case t: ArrowType.Int =>
      if (t.getBitWidth == 64) LongType
      else if (t.getBitWidth == 32) IntegerType
      else throw new IllegalArgumentException(s"unsupported int width ${t.getBitWidth}")
    case t: ArrowType.FloatingPoint =>
      if (t.getPrecision == FloatingPointPrecision.DOUBLE) DoubleType else FloatType
    case _: ArrowType.Utf8 => StringType
    case _: ArrowType.Binary => BinaryType
    case _: ArrowType.Struct =>
      StructType(f.getChildren.asScala.toSeq.map(c =>
        StructField(c.getName, toSparkType(c), c.isNullable)))
    case _: ArrowType.List =>
      val item = f.getChildren.get(0)
      ArrayType(toSparkType(item), item.isNullable)
    case other => throw new IllegalArgumentException(
      s"ArrowIpc: unsupported Arrow type $other for column ${f.getName}")
  }

  private def toArrowSchema(schema: StructType,
                            meta: Map[String, Map[String, String]]): ArrowSchema =
    new ArrowSchema(schema.fields.map { f =>
      val m = meta.get(f.name).map(_.asJava).orNull
      toArrowField(f.name, f.dataType, f.nullable, m)
    }.toSeq.asJava)

  private def toSparkSchema(schema: ArrowSchema): StructType =
    StructType(schema.getFields.asScala.toSeq.map(f =>
      StructField(f.getName, toSparkType(f), f.isNullable)))

  // ---------------------------------------------------------- value IO

  private def ensureCap(v: ValueVector, i: Int): Unit =
    while (v.getValueCapacity <= i) v.reAlloc()

  /** Writes one Spark value into vector slot `i` (recursive for nested). */
  private def writeValue(v: ValueVector, i: Int, value: Any): Unit = {
    ensureCap(v, i)
    v match {
      case lv: ListVector =>
        if (value == null) { lv.startNewValue(i); lv.endValue(i, 0); lv.setNull(i) }
        else {
          val start = lv.startNewValue(i)
          val seq: Seq[Any] = value match {
            case s: scala.collection.Seq[_] => s.toSeq
            case a: Array[_] => a.toSeq
            case l: java.util.List[_] => l.asScala.toSeq
            case other => throw new IllegalArgumentException(
              s"expected array value, got ${other.getClass}")
          }
          val child = lv.getDataVector
          var j = 0
          seq.foreach { e => writeValue(child, start + j, e); j += 1 }
          lv.endValue(i, seq.size)
        }
      case sv: StructVector =>
        if (value == null) sv.setNull(i)
        else {
          sv.setIndexDefined(i)
          val row = value.asInstanceOf[Row]
          val kids = sv.getChildrenFromFields
          var j = 0
          while (j < kids.size()) { writeValue(kids.get(j), i, row.get(j)); j += 1 }
        }
      case x: BigIntVector =>
        if (value == null) x.setNull(i) else x.setSafe(i, value.asInstanceOf[Long])
      case x: IntVector =>
        if (value == null) x.setNull(i) else x.setSafe(i, value.asInstanceOf[Int])
      case x: Float8Vector =>
        if (value == null) x.setNull(i) else x.setSafe(i, value.asInstanceOf[Double])
      case x: Float4Vector =>
        if (value == null) x.setNull(i) else x.setSafe(i, value.asInstanceOf[Float])
      case x: BitVector =>
        if (value == null) x.setNull(i)
        else x.setSafe(i, if (value.asInstanceOf[Boolean]) 1 else 0)
      case x: VarCharVector =>
        if (value == null) x.setNull(i)
        else x.setSafe(i, value.asInstanceOf[String].getBytes(StandardCharsets.UTF_8))
      case x: VarBinaryVector =>
        if (value == null) x.setNull(i) else x.setSafe(i, value.asInstanceOf[Array[Byte]])
      case other => throw new IllegalArgumentException(
        s"ArrowIpc: unsupported vector ${other.getClass}")
    }
  }

  // ------------------------------------------------ hadoop configuration

  /** The session's full Hadoop configuration flattened to a serializable
    * map: `spark.hadoop.*` settings (object-store credentials, endpoints,
    * filesystem impls) must reach executor-side FileSystem calls — a bare
    * `new Configuration()` there would silently drop them and break every
    * non-local URI despite `spark.read.parquet` on the same path working. */
  private def confEntries(spark: SparkSession): Map[String, String] = {
    val c = spark.sessionState.newHadoopConf()
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
  }

  private def toConf(entries: Map[String, String]): Configuration =
    if (entries.isEmpty) new Configuration()
    else {
      val c = new Configuration(false) // entries already include defaults
      entries.foreach { case (k, v) => c.set(k, v) }
      c
    }

  // ------------------------------------------------------------- write

  /** Writes `df` as a directory of Arrow IPC part files — one per
    * partition, executor-side (the parquet part-file shape; no driver
    * collect). `fieldMeta` attaches custom Arrow field metadata by column
    * name (the geoarrow extension tags ride here). `stream = true` emits
    * the IPC STREAM format (`.arrows`, what sockets/nanoarrow pipes speak)
    * instead of the random-access FILE format (`.arrow`).
    *
    * Commit protocol: each task writes to a dot-prefixed `.inprogress`
    * name (invisible to the reader's extension filter) and renames into
    * place only when its iterator is exhausted, so a failed or retried
    * task never leaves a torn file under a final name (rename is
    * last-wins under speculation); the driver stamps `_SUCCESS` after
    * ALL tasks commit, and [[read]] refuses markerless directories by
    * default — a job that died halfway can't masquerade as a dataset. */
  def write(df: DataFrame, path: String,
            fieldMeta: Map[String, Map[String, String]] = Map.empty,
            batchRows: Int = 4096, stream: Boolean = false): Unit = {
    val schema = df.schema
    val spark = df.sparkSession
    val entries = confEntries(spark)
    // fresh target dir (overwrite semantics, like parquet writes here)
    val root = new HPath(path)
    val fs = root.getFileSystem(toConf(entries))
    if (fs.exists(root)) fs.delete(root, true)
    fs.mkdirs(root)
    val ext = if (stream) "arrows" else "arrow"
    // df.rdd severs whole-stage codegen AT THE SINK BOUNDARY only — the
    // upstream plan still runs codegen'd; acceptable for a terminal sink
    // (the rows must box into the Arrow vector writers regardless)
    val counts = df.rdd.mapPartitionsWithIndex { (idx, rows) =>
      // attempt id in the tmp name: concurrent attempts of the same
      // partition (speculation, zombie tasks) must never write the same
      // in-progress path — rename into the final name stays last-wins
      val attempt = Option(org.apache.spark.TaskContext.get())
        .map(_.taskAttemptId()).getOrElse(0L)
      val tmp = f"$path/.part-$idx%05d-a$attempt.$ext.inprogress"
      val fin = f"$path/part-$idx%05d.$ext"
      val n = writeFile(tmp, schema, fieldMeta, rows, batchRows, stream, entries)
      val taskFs = new HPath(path).getFileSystem(toConf(entries))
      taskFs.delete(new HPath(fin), false)
      require(taskFs.rename(new HPath(tmp), new HPath(fin)),
        s"ArrowIpc: task commit rename failed for $fin")
      Iterator.single(n)
    }.collect() // one count per partition — bounded
    // zero-partition input (e.g. an emptied Dataset): emit one schema-only
    // part file so the directory round-trips — a _SUCCESS-stamped dir with
    // no part files would make read()/readGeo() of a clean empty write fail
    if (counts.isEmpty)
      writeFile(f"$path/part-00000.$ext", schema, fieldMeta,
        Iterator.empty, batchRows, stream, entries)
    fs.create(new HPath(root, "_SUCCESS"), true).close()
  }

  /** Writes one IPC file from an iterator of rows; returns the row count.
    * Public so external per-partition pipelines can compose it. */
  def writeFile(file: String, schema: StructType,
                fieldMeta: Map[String, Map[String, String]],
                rows: Iterator[Row], batchRows: Int,
                stream: Boolean,
                hadoopConf: Map[String, String] = Map.empty): Long = {
    val arrowSchema = toArrowSchema(schema, fieldMeta)
    val alloc = new RootAllocator()
    var total = 0L
    try {
      val root = VectorSchemaRoot.create(arrowSchema, alloc)
      try {
        val p = new HPath(file)
        val out = p.getFileSystem(toConf(hadoopConf)).create(p, true)
        val writer =
          if (stream) new ArrowStreamWriter(root, null, Channels.newChannel(out))
          else new ArrowFileWriter(root, null, Channels.newChannel(out))
        try {
          writer.start()
          while (rows.hasNext) {
            root.allocateNew()
            var n = 0
            while (n < batchRows && rows.hasNext) {
              val row = rows.next()
              var c = 0
              while (c < schema.length) {
                writeValue(root.getVector(c), n, row.get(c))
                c += 1
              }
              n += 1
            }
            root.setRowCount(n)
            writer.writeBatch()
            total += n
          }
          writer.end()
        } finally { writer.close(); out.close() }
      } finally root.close()
    } finally alloc.close()
    total
  }

  // -------------------------------------------------------------- read

  private def listIpcFiles(path: String, conf: Configuration): Seq[String] = {
    val root = new HPath(path)
    val fs = root.getFileSystem(conf)
    if (fs.getFileStatus(root).isFile) Seq(path)
    else fs.listStatus(root).toSeq
      .map(_.getPath)
      .filter(p => p.getName.endsWith(".arrow") || p.getName.endsWith(".arrows"))
      .sortBy(_.getName)
      .map(_.toString)
  }

  /** SeekableByteChannel over a Hadoop FSDataInputStream — the Arrow file
    * reader seeks footer/batches THROUGH the filesystem instead of
    * materializing the whole part into a byte array. Kills the former
    * ≤2 GiB part cap and bounds task memory by one record batch, not one
    * file. Reads are positioned (pread) so no seek state races. */
  private[sources] final class HadoopSeekableChannel(
      in: org.apache.hadoop.fs.FSDataInputStream, length: Long)
      extends java.nio.channels.SeekableByteChannel {
    private var pos = 0L
    private var open = true
    override def read(dst: java.nio.ByteBuffer): Int = {
      if (!open) throw new java.nio.channels.ClosedChannelException
      if (pos >= length) return -1
      val want = math.min(dst.remaining().toLong, length - pos).toInt
      if (want == 0) return 0
      if (dst.hasArray) {
        // heap-backed destination: pread straight into it, zero copies
        val base = dst.arrayOffset() + dst.position()
        var done = 0
        while (done < want) {
          val n = in.read(pos + done, dst.array(), base + done, want - done)
          require(n >= 0, s"unexpected EOF at ${pos + done}")
          done += n
        }
        dst.position(dst.position() + want)
      } else {
        // direct buffer: one bounce array, sized by the caller's buffer
        // (one Arrow message/body chunk), never by file size
        val tmp = new Array[Byte](want)
        var done = 0
        while (done < want) {
          val n = in.read(pos + done, tmp, done, want - done)
          require(n >= 0, s"unexpected EOF at ${pos + done}")
          done += n
        }
        dst.put(tmp, 0, want)
      }
      pos += want
      want
    }
    override def position(): Long = pos
    override def position(newPosition: Long): java.nio.channels.SeekableByteChannel = {
      pos = newPosition; this
    }
    override def size(): Long = length
    override def isOpen: Boolean = open
    override def close(): Unit = { open = false; in.close() }
    override def write(src: java.nio.ByteBuffer): Int =
      throw new UnsupportedOperationException("read-only channel")
    override def truncate(size: Long): java.nio.channels.SeekableByteChannel =
      throw new UnsupportedOperationException("read-only channel")
  }

  /** Record-batch count of an IPC FILE-format part — footer-only read
    * (the file reader seeks to the footer; no batch bodies touched). */
  def batchCount(file: String, hadoopConf: Map[String, String] = Map.empty): Int = {
    val conf = toConf(hadoopConf)
    val p = new HPath(file)
    val fs = p.getFileSystem(conf)
    val alloc = new RootAllocator()
    try {
      val reader = new ArrowFileReader(
        new HadoopSeekableChannel(fs.open(p), fs.getFileStatus(p).getLen), alloc)
      try reader.getRecordBlocks.size finally reader.close()
    } finally alloc.close()
  }

  /** The Arrow schema of an IPC file/dir — genuinely schema-bytes-only:
    * both IPC formats LEAD with the schema message (the file format after
    * its 8-byte `ARROW1\0\0` magic), so this reads a few KB from the
    * first part file, never the whole file. */
  def arrowSchemaOf(path: String): ArrowSchema =
    arrowSchemaWith(path, new Configuration())

  /** Session-aware variant: uses the session's Hadoop configuration, so
    * object-store paths (spark.hadoop.* credentials) resolve like every
    * other entry point. */
  def arrowSchemaOf(spark: SparkSession, path: String): ArrowSchema =
    arrowSchemaWith(path, toConf(confEntries(spark)))

  private def arrowSchemaWith(path: String, conf: Configuration): ArrowSchema = {
    val file = listIpcFiles(path, conf).headOption.getOrElse(
      throw new IllegalArgumentException(s"no .arrow/.arrows files under $path"))
    val p = new HPath(file)
    val in = p.getFileSystem(conf).open(p)
    try {
      if (!file.endsWith(".arrows")) in.seek(8) // skip file-format magic
      MessageSerializer.deserializeSchema(
        new ReadChannel(Channels.newChannel(in)))
    } finally in.close()
  }

  /** Custom field metadata by column name (extension tags surface here). */
  def fieldMetadata(path: String): Map[String, Map[String, String]] =
    fieldMetadataOf(arrowSchemaOf(path))

  /** Session-aware variant (see [[arrowSchemaOf]]). */
  def fieldMetadata(spark: SparkSession,
                    path: String): Map[String, Map[String, String]] =
    fieldMetadataOf(arrowSchemaOf(spark, path))

  private def fieldMetadataOf(schema: ArrowSchema): Map[String, Map[String, String]] =
    schema.getFields.asScala.toSeq.map { f =>
      f.getName -> Option(f.getMetadata).map(_.asScala.toMap).getOrElse(Map.empty[String, String])
    }.toMap

  /** Reads a directory of IPC part files (or a single file) into a
    * DataFrame: files parallelize across executors, each task streams its
    * file's batches. Raw layout — geoarrow-tagged columns stay in their
    * native nested layout; [[readGeo]] decodes them. */
  def read(spark: SparkSession, path: String,
           requireSuccess: Boolean = true,
           maxBatchesPerTask: Int = 0): DataFrame = {
    val entries = confEntries(spark)
    scan(spark, path, requireSuccess, entries,
      arrowSchemaWith(path, toConf(entries)), maxBatchesPerTask)
  }

  /** The `arrowipc` DataSourceV2 scan over `path` with the schema the
    * caller already fetched (no second schema read). The `_SUCCESS` check
    * runs here, eagerly, as well as when the scan is planned. */
  private def scan(spark: SparkSession, path: String,
                   requireSuccess: Boolean,
                   entries: Map[String, String],
                   arrowSchema: ArrowSchema,
                   maxBatchesPerTask: Int): DataFrame = {
    // a markerless directory is (likely) a job that died mid-write — the
    // task-commit renames keep files whole, but not the file SET; foreign
    // directories (pyarrow dumps) pass requireSuccess = false explicitly
    if (requireSuccess) checkSuccessMarker(path, entries)
    spark.read.format("arrowipc")
      .schema(toSparkSchema(arrowSchema))
      .option("requireSuccess", requireSuccess)
      .option("maxBatchesPerTask", maxBatchesPerTask)
      .load(path)
  }

  /** Task splits for a dataset: default one task per file (parquet
    * part-file shape, zero extra round trips). `maxBatchesPerTask > 0`
    * additionally splits FILE-format parts at record-batch boundaries
    * (footer-only read per file at plan time) so one fat part can't
    * serialize a stage — the stream format has no footer and never
    * splits. Planned by the `arrowipc` DataSourceV2 scan. */
  private[sources] def planSplits(path: String, entries: Map[String, String],
                 maxBatchesPerTask: Int): Seq[(String, Int, Int)] = {
    val files = listIpcFiles(path, toConf(entries))
    require(files.nonEmpty, s"no .arrow/.arrows files under $path")
    if (maxBatchesPerTask <= 0) files.map(f => (f, 0, Int.MaxValue))
    else {
      // one footer read per FILE-format part to learn its batch count —
      // parallelized on the driver: sequential round trips would make
      // planning latency linear in file count on an object store
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, math.max(1, files.size)))
      try {
        val counts = files.map { f =>
          f -> (if (f.endsWith(".arrows")) null
                else pool.submit(new java.util.concurrent.Callable[Int] {
                  override def call(): Int = batchCount(f, entries)
                }))
        }
        counts.flatMap { case (f, fut) =>
          if (fut == null) Seq((f, 0, Int.MaxValue))
          else {
            val n = fut.get()
            (0 until math.max(n, 1) by maxBatchesPerTask).map(s0 =>
              (f, s0, math.min(n, s0 + maxBatchesPerTask)))
          }
        }
      } finally pool.shutdown()
    }
  }

  /** The Spark schema of an IPC dataset (schema-bytes-only read). */
  def sparkSchemaOf(spark: SparkSession, path: String): StructType =
    toSparkSchema(arrowSchemaOf(spark, path))

  private[sources] def checkSuccessMarker(path: String,
                                          entries: Map[String, String]): Unit = {
    val conf = toConf(entries)
    val root = new HPath(path)
    val fs = root.getFileSystem(conf)
    if (fs.getFileStatus(root).isDirectory)
      require(fs.exists(new HPath(root, "_SUCCESS")),
        s"no _SUCCESS marker at $path — incomplete write? " +
          "(pass requireSuccess = false for foreign-written directories)")
  }

  // ---- columnar decode: typed per-vector readers, built once per file —
  // values come out through the vectors' typed accessors, NOT per-value
  // `getObject` (which boxes through Text/JsonStringHashMap and re-walks
  // the type per cell)
  private def vectorReader(v: ValueVector, dt: DataType): Int => Any =
    (v, dt) match {
      case (x: BigIntVector, LongType) =>
        i => if (x.isNull(i)) null else x.get(i)
      case (x: IntVector, IntegerType) =>
        i => if (x.isNull(i)) null else x.get(i)
      case (x: Float8Vector, DoubleType) =>
        i => if (x.isNull(i)) null else x.get(i)
      case (x: Float4Vector, FloatType) =>
        i => if (x.isNull(i)) null else x.get(i)
      case (x: BitVector, BooleanType) =>
        i => if (x.isNull(i)) null else x.get(i) == 1
      case (x: VarCharVector, StringType) =>
        i => if (x.isNull(i)) null else new String(x.get(i), StandardCharsets.UTF_8)
      case (x: VarBinaryVector, BinaryType) =>
        i => if (x.isNull(i)) null else x.get(i)
      case (x: ListVector, ArrayType(et, _)) =>
        val elem = vectorReader(x.getDataVector, et)
        i => if (x.isNull(i)) null
        else {
          val start = x.getElementStartIndex(i)
          val end = x.getElementEndIndex(i)
          val out = new Array[Any](end - start)
          var j = start
          while (j < end) { out(j - start) = elem(j); j += 1 }
          out.toSeq
        }
      case (x: StructVector, st: StructType) =>
        val kids = x.getChildrenFromFields
        val readers = st.fields.indices.map(c =>
          vectorReader(kids.get(c), st.fields(c).dataType)).toArray
        i => if (x.isNull(i)) null
        else {
          val vals = new Array[Any](readers.length)
          var c = 0
          while (c < readers.length) { vals(c) = readers(c)(i); c += 1 }
          Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
        }
      case (other, t) => throw new IllegalArgumentException(
        s"ArrowIpc: unsupported vector ${other.getClass} for Spark type $t")
    }

  /** Reads record batches `[batchFrom, batchUntil)` of one IPC file as a
    * LAZY row iterator (executor-side): batches stream through the
    * filesystem channel one at a time — task memory is bounded by one
    * batch, never the file (a >2 GiB part reads fine). Cleanup runs at
    * iterator exhaustion AND on task completion (early-terminated limits
    * don't leak vectors). Batch ranges apply to the FILE format (footer
    * random access); the stream format reads sequentially in full. */
  def readFileRows(file: String, sparkSchema: StructType,
                   hadoopConf: Map[String, String] = Map.empty,
                   batchFrom: Int = 0,
                   batchUntil: Int = Int.MaxValue): Iterator[Row] = {
    val fileConf = toConf(hadoopConf)
    val p = new HPath(file)
    val fs = p.getFileSystem(fileConf)
    val alloc = new RootAllocator()
    var closed = false
    var reader: org.apache.arrow.vector.ipc.ArrowReader = null
    def closeAll(): Unit = if (!closed) {
      closed = true
      if (reader != null) reader.close()
      alloc.close()
    }
    try {
      val isStream = file.endsWith(".arrows")
      // a stream has no footer: it can neither start mid-file nor honor an
      // upper bound — a silent full-file read for a bounded request would
      // duplicate rows under caller-side splitting, so refuse both
      require(!isStream || (batchFrom == 0 && batchUntil == Int.MaxValue),
        "stream-format parts have no footer and cannot serve a batch range")
      val fileBlocks =
        if (isStream) { reader = new ArrowStreamReader(fs.open(p), alloc); null }
        else {
          val r = new ArrowFileReader(
            new HadoopSeekableChannel(fs.open(p), fs.getFileStatus(p).getLen), alloc)
          reader = r
          val all = r.getRecordBlocks
          all.subList(math.min(batchFrom, all.size),
            math.min(batchUntil, all.size))
        }
      val root = reader.getVectorSchemaRoot
      // columns resolve BY NAME, so `sparkSchema` may be any subset of the
      // file's columns (the DSv2 scan prunes here: unneeded columns are
      // never decoded — batch bodies still transfer, but no per-value work)
      val readers = sparkSchema.fields.map { f =>
        val v = root.getVector(f.name)
        require(v != null, s"column ${f.name} not present in $file")
        vectorReader(v, f.dataType)
      }
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => closeAll()))
      new Iterator[Row] {
        private var rowIdx = 0
        private var rowCount = 0
        private var blockIdx = 0
        private def advance(): Boolean = {
          val loaded =
            if (fileBlocks == null) reader.loadNextBatch()
            else if (blockIdx < fileBlocks.size()) {
              val ok = reader.asInstanceOf[ArrowFileReader]
                .loadRecordBatch(fileBlocks.get(blockIdx))
              blockIdx += 1
              ok
            } else false
          if (loaded) { rowIdx = 0; rowCount = root.getRowCount }
          loaded
        }
        override def hasNext: Boolean = {
          if (closed) return false
          while (rowIdx >= rowCount) {
            if (!advance()) { closeAll(); return false }
          }
          true
        }
        override def next(): Row = {
          if (!hasNext) throw new NoSuchElementException
          val i = rowIdx
          rowIdx += 1
          val vals = new Array[Any](readers.length)
          var c = 0
          while (c < readers.length) { vals(c) = readers(c)(i); c += 1 }
          Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
        }
      }
    } catch { case t: Throwable => closeAll(); throw t }
  }

  // -------------------------------------------- geoarrow extension layer

  /** Writes a geometry DataFrame as GeoArrow-tagged IPC: the geometry
    * column converts to the native nested layout (`st_tonative`) and its
    * Arrow field carries `ARROW:extension:name = geoarrow.<type>` plus the
    * spec's metadata JSON (crs; dims recorded for interleaved layouts,
    * whose list shape alone can't distinguish xy/xyz). */
  def writeGeo(df: DataFrame, geomCol: String, path: String,
               geometryType: String, dims: String = "xy",
               coordType: String = "separate",
               crs: Option[String] = Some(GeoSchema.Crs84Projjson),
               batchRows: Int = 4096, stream: Boolean = false): Unit = {
    Geo.register(df.sparkSession)
    val nat = df.withColumn(geomCol, call_function("st_tonative",
      col(geomCol), lit(geometryType), lit(dims), lit(coordType)))
    val meta = Map(geomCol -> Map(
      "ARROW:extension:name" -> s"geoarrow.${geometryType.toLowerCase}",
      "ARROW:extension:metadata" ->
        s"""{"crs":${GeoSchema.crsJson(crs)},"dims":"${dims.toLowerCase}"}"""))
    write(nat, path, meta, batchRows, stream)
  }

  /** Reads GeoArrow-tagged IPC: every `geoarrow.*`-tagged column decodes
    * from its native layout back to the engine geometry struct, with crs
    * and edges re-attached as column metadata (C1/C2 propagation). */
  def readGeo(spark: SparkSession, path: String,
              requireSuccess: Boolean = true): DataFrame = {
    Geo.register(spark)
    // one conf flatten + ONE schema fetch feed both the metadata scan and
    // the read (each re-fetch is extra LIST/GET round-trips on a store)
    val entries = confEntries(spark)
    val schema = arrowSchemaWith(path, toConf(entries))
    val metaByCol = fieldMetadataOf(schema)
    var df = scan(spark, path, requireSuccess, entries, schema,
      maxBatchesPerTask = 0)
    metaByCol.foreach { case (name, meta) =>
      meta.get("ARROW:extension:name")
        .filter(_.startsWith("geoarrow.")).foreach { extName =>
          val gt = extName.stripPrefix("geoarrow.")
          // the spec allows empty extension metadata for "no crs, planar"
          val ext = GeoSchema.jsonMembers(meta.get("ARROW:extension:metadata")
            .filter(_.trim.nonEmpty).getOrElse("{}"))
          val (crs, edges) = GeoSchema.crsAndEdges(ext)
          // coord layout from the Spark type: struct leaves = separate,
          // double-list leaves = interleaved (dims then from metadata)
          def innermost(dt: DataType): DataType = dt match {
            case ArrayType(e, _) => innermost(e)
            case other => other
          }
          val inner = innermost(df.schema(name).dataType)
          val (coordType, dims) = inner match {
            case s: StructType => ("separate", s.fields.map(_.name).mkString)
            case _ => ("interleaved", ext.get("dims").flatten.getOrElse("xy"))
          }
          df = df.withColumn(name, call_function("st_fromnative",
            col(name), lit(gt), lit(dims), lit(coordType)))
          for (t <- GeoSchema.geometryTypeId(gt); d <- GeoSchema.dimsId(dims))
            df = GeoSchema.withGeoMetadata(df, name, t, d, crs, edges)
        }
    }
    df
  }
}
