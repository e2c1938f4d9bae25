package geobench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Cells, Measure, Pip, Tiles, Wkt}
import graft.operators.{Knn, SpatialJoins}
import graft.pipeline.Pipeline
import graft.sources.GeoParquet

/** What a workload runs against: the session, its own scratch directory,
  * the input seed, an input-size scale (1 for measured runs, small for the
  * smoke mode and the traced run's side probes) and the tracer. */
final case class Ctx(spark: SparkSession, dir: File, seed: Long, scale: Double, trace: Trace) {
  def n(full: Int, min: Int): Int = math.max(min, math.round(full * scale).toInt)
  def path(name: String): String = new File(dir, name).getAbsolutePath
}

/** One workload: inputs made by [[Gen]], a unit of work run in a closed
  * loop, and a check of each operation's output. */
abstract class Workload(val c: Ctx) {
  def name: String
  /** Generates the inputs and materialises them (timed as set-up). */
  def materialise(): Unit
  /** Computes the expected outputs in the benchmark itself (untimed). */
  def oracle(): Unit
  /** Untimed preparation of the next operation's inputs. */
  def prepare(): Unit = ()
  /** One operation, fully materialised. */
  def op(): AnyRef
  /** None when the output is correct, else what was wrong. */
  def check(out: AnyRef): Option[String]
  /** Input rows one correct operation completed. */
  def rows(out: AnyRef): Long
  def storedBytesPerUserByte: Double
  /** Layer metrics this workload owns, from its traced operations. */
  def owned(v: TraceView): Map[String, Double]
  /** Extra traced-run measurements, taken outside any operation. */
  def aux(): Unit = ()
  /** Operations in the workload's repeating unit; a measured loop ends on
    * a whole unit, and a side probe or the smoke mode runs at least one. */
  def period: Int = 1

  protected val spark: SparkSession = c.spark
  protected def span[T](n: String)(f: => T): T = c.trace.span(n)(f)

  /** Generates `n` points in parallel (element i is `gen(seed, i)`) and
    * stores them as 8 parquet files of (pid, lon, lat). */
  protected def writePoints(n: Int, gen: (Long, Long) => Gen.Pt, path: String): Unit = {
    val seed = c.seed
    spark.range(0, n, 1, 8).map(i => gen(seed, i))(org.apache.spark.sql.Encoders.product[Gen.Pt])
      .withColumnRenamed("id", "pid").write.mode("overwrite").parquet(path)
  }
}

object Workloads {
  val Names = Seq("pip_tile", "geom_codec", "knn_rings", "snapshot_upsert")

  def make(name: String, c: Ctx): Workload = name match {
    case "pip_tile" => new PipTile(c)
    case "geom_codec" => new GeomCodec(c)
    case "knn_rings" => new KnnRings(c)
    case "snapshot_upsert" => new SnapshotUpsert(c)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Bytes of every regular file under `root`. */
  def dirBytes(root: String): Long = {
    val p = new File(root).toPath
    if (!Files.exists(p)) return 0L
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong((f: Path) => Files.size(f)).sum()
    finally s.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

// --------------------------------------------------------------- pip_tile

/** The north-rule flagship job: point-in-polygon join against a few hundred
  * large many-vertex polygons, z16 tiles with z12/z8 parents, a level-12
  * cell id and a per-(polygon, z8 tile) aggregate. */
final class PipTile(c: Ctx) extends Workload(c) {
  val name = "pip_tile"
  private val nPoints = c.n(100000, 2000)
  private val nPolys = c.n(300, 30)
  private val ptsPath = c.path("pip_points")
  private var polys: Array[Gen.Poly] = _
  private var polyDf: DataFrame = _
  private var expected: Map[(Long, Long), (Long, Long, Long)] = _
  private var expectedTiles12: Map[(Long, Long), Int] = _
  private var candidates = 0L

  def materialise(): Unit = {
    if (polyDf != null) polyDf.unpersist(blocking = true)
    writePoints(nPoints, Gen.point, ptsPath)
    polys = Gen.polygons(c.seed, nPolys)
    import spark.implicits._
    polyDf = polys.map(p => (p.id, p.wkt)).toSeq.toDF("poly_id", "wkt")
      .withColumn("poly", call_function("st_geomfromwkt", col("wkt"))).drop("wkt")
      .cache()
    polyDf.count()
  }

  /** Brute force: every point against every polygon whose box holds it. */
  def oracle(): Unit = {
    val geoms = polys.map(p => Wkt.parse(p.wkt))
    val boxes = polys.map(p => (p.xs.min, p.ys.min, p.xs.max, p.ys.max))
    val acc = mutable.HashMap.empty[(Long, Long), Array[Long]]
    val tiles12 = mutable.HashMap.empty[(Long, Long), mutable.HashSet[Long]]
    Gen.points(c.seed, nPoints).foreach { p =>
      var j = 0
      while (j < geoms.length) {
        val b = boxes(j)
        if (p.lon >= b._1 && p.lon <= b._3 && p.lat >= b._2 && p.lat <= b._4 &&
          Pip.containsPoint(geoms(j), p.lon, p.lat)) {
          val t16 = Tiles.tileId(p.lon, p.lat, 16)
          val a = acc.getOrElseUpdate((polys(j).id, Tiles.parentAt(t16, 8)),
            Array(0L, Long.MinValue, Long.MinValue))
          a(0) += 1
          a(1) = math.max(a(1), t16)
          a(2) = math.max(a(2), Cells.cellId(p.lon, p.lat, 12))
          tiles12.getOrElseUpdate((polys(j).id, Tiles.parentAt(t16, 8)), mutable.HashSet.empty) +=
            Tiles.parentAt(t16, 12)
        }
        j += 1
      }
    }
    expected = acc.map { case (k, a) => k -> ((a(0), a(1), a(2))) }.toMap
    expectedTiles12 = tiles12.map { case (k, v) => k -> v.size }.toMap
  }

  def op(): AnyRef = {
    val pts = spark.read.parquet(ptsPath)
    val joined = span("operators.pipJoin") {
      SpatialJoins.pipJoin(pts, polyDf, "poly", "lon", "lat", zoom = 6)
    }
    val tiled = span("operators.assignTiles") {
      SpatialJoins.assignTiles(joined, "lon", "lat", zoom = 16)
    }
    val agg = tiled
      .withColumn("tile12", call_function("st_tileparent", col("tile_id"), lit(12)))
      .withColumn("cell", call_function("st_cellid", col("lon"), col("lat"), lit(12)))
      .groupBy(col("poly_id"), call_function("st_tileparent", col("tile_id"), lit(8)).as("tile8"))
      .agg(count(lit(1)).as("n"), approx_count_distinct(col("tile12")).as("n_tiles12"),
        max(col("tile_id")).as("max_tile16"), max(col("cell")).as("max_cell"))
    span("sql.collect")(agg.collect())
  }

  def check(out: AnyRef): Option[String] = {
    val rows = out.asInstanceOf[Array[Row]]
    val got = rows.map(r => (r.getLong(0), r.getLong(1)) ->
      ((r.getLong(2), r.getLong(4), r.getLong(5)))).toMap
    // approx_count_distinct: within four standard errors (4 x 5%) of exact
    val badHll = rows.count { r =>
      val exact = expectedTiles12.getOrElse((r.getLong(0), r.getLong(1)), 0)
      math.abs(r.getLong(3) - exact) > 0.2 * exact + 1
    }
    if (rows.length != got.size) Some(s"${rows.length - got.size} duplicate groups")
    else if (got != expected) {
      val missing = expected.keySet.diff(got.keySet).size
      val extra = got.keySet.diff(expected.keySet).size
      val differ = expected.count { case (k, v) => got.get(k).exists(_ != v) }
      Some(s"groups vs brute force: $missing missing, $extra extra, $differ differ")
    } else if (badHll > 0) Some(s"$badHll groups with n_tiles12 off the exact distinct count")
    else None
  }

  def rows(out: AnyRef): Long = nPoints
  def storedBytesPerUserByte: Double = Workloads.dirBytes(ptsPath).toDouble / (nPoints * 24.0)

  /** Candidate pairs of the cover equi-join alone (no refine). */
  override def aux(): Unit = {
    val pts = spark.read.parquet(ptsPath)
      .withColumn("__ptile", call_function("st_tilezxy", col("lon"), col("lat"), lit(6)))
    val cover = polyDf.withColumn("__tile", explode(call_function("st_tilecover", col("poly"), lit(6))))
    candidates = pts.join(broadcast(cover), col("__ptile") === col("__tile")).count()
  }

  def owned(v: TraceView): Map[String, Double] = {
    val matched = expected.values.map(_._1).sum.toDouble
    Map("operators.pip_candidates_per_point" -> candidates.toDouble / nPoints,
      "operators.pip_refine_hit_ratio" -> (if (candidates == 0) 0.0 else matched / candidates))
  }
}

// ------------------------------------------------------------- geom_codec

/** The codec round trip: WKT -> geometry -> WKB GeoParquet -> geometry ->
  * WKT / GeoJSON text plus the box and unique-types aggregates. */
final class GeomCodec(c: Ctx) extends Workload(c) {
  val name = "geom_codec"
  private val nGeoms = c.n(600, 60)
  private val outPath = c.path("corpus_geoparquet")
  private var corpus: Array[Gen.Geo] = _
  private var corpusDf: DataFrame = _
  private var expectedJson: Map[Long, Long] = _
  private var expectedWkt: Map[Long, Long] = _
  private var userBytes = 0.0

  def materialise(): Unit = {
    if (corpusDf != null) corpusDf.unpersist(blocking = true)
    corpus = Gen.corpus(c.seed, nGeoms)
    val schema = StructType(Seq(StructField("id", LongType, false),
      StructField("wkt", StringType, true)))
    val rows = java.util.Arrays.asList(corpus.map(g => Row(g.id, g.wkt)): _*)
    corpusDf = spark.createDataFrame(rows, schema).repartition(8).cache()
    corpusDf.count()
  }

  /** Hashes of the generator's WKT text (as it reads after a WKB trip), and
    * of the GeoJSON the program prints for the geometry before it is stored. */
  def oracle(): Unit = {
    import spark.implicits._
    expectedWkt = corpus.map(g => (g.id, g.wktViaWkb)).toSeq.toDF("id", "wkt")
      .select(col("id"), xxhash64(col("wkt"))).collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    expectedJson = corpusDf.select(col("id"),
      xxhash64(GeomCodec.geoJson(call_function("st_geomfromwkt", col("wkt"))))).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
  }

  def op(): AnyRef = {
    val parsed = corpusDf.select(col("id"),
      call_function("st_geomfromwkt", col("wkt")).as("geom"))
    span("sources.GeoParquet.write")(GeoParquet.write(parsed, "geom", outPath))
    val back = span("sources.GeoParquet.read")(GeoParquet.read(spark, outPath, "geom"))
    val g = col("geom")
    val digests = span("sql.collect")(back.select(col("id"), g.isNull,
      xxhash64(call_function("st_aswkb", g)), xxhash64(call_function("st_aswkt", g)),
      xxhash64(GeomCodec.geoJson(g))).collect())
    val aggs = span("sql.collect")(back.agg(call_function("st_box_agg", g),
      call_function("st_uniquetypes_agg", g)).collect()(0))
    (digests, aggs)
  }

  def check(out: AnyRef): Option[String] = {
    val (digests, aggs) = out.asInstanceOf[(Array[Row], Row)]
    // the bytes actually stored: hash and ISO type code per row
    val stored = spark.read.parquet(outPath).select(col("id"), xxhash64(col("geom")),
      substring(col("geom"), 1, 5), length(col("geom"))).collect()
      .map(r => r.getLong(0) -> r).toMap
    userBytes = stored.values.map(r => 8.0 + (if (r.isNullAt(3)) 0 else r.getInt(3))).sum
    val byId = digests.map(r => r.getLong(0) -> r).toMap
    val errs = mutable.ArrayBuffer.empty[String]
    if (digests.length != nGeoms || byId.size != nGeoms) errs += s"${digests.length} rows of $nGeoms"
    var nullBad, wkbBad, wktBad, jsonBad, typeBad = 0
    corpus.foreach { gen =>
      (byId.get(gen.id), stored.get(gen.id)) match {
        case (Some(d), Some(s)) =>
          if (d.getBoolean(1) != (gen.wkt == null)) nullBad += 1
          else if (gen.wkt != null) {
            if (d.getLong(2) != s.getLong(1)) wkbBad += 1
            if (d.getLong(3) != expectedWkt(gen.id)) wktBad += 1
            if (d.getLong(4) != expectedJson(gen.id)) jsonBad += 1
            val h = s.getAs[Array[Byte]](2)
            val bb = java.nio.ByteBuffer.wrap(h, 1, 4).order(
              if (h(0) == 1) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)
            if (bb.getInt != gen.isoCode) typeBad += 1
          }
        case _ => nullBad += 1
      }
    }
    Seq("null" -> nullBad, "wkb bytes" -> wkbBad, "wkt text" -> wktBad,
      "geojson text" -> jsonBad, "wkb type" -> typeBad).foreach { case (k, n) =>
      if (n > 0) errs += s"$n rows differ in $k"
    }
    val live = corpus.filter(g => g.wkt != null && !g.empty)
    val box = aggs.getStruct(0)
    val wantBox = Seq(live.map(_.xmin).min, live.map(_.ymin).min, live.map(_.xmax).max, live.map(_.ymax).max)
    if ((0 until 4).map(box.getDouble) != wantBox) errs += s"box $box != $wantBox"
    val types = aggs.getSeq[Int](1)
    val wantTypes = corpus.filter(_.typedViaWkb).map(_.isoCode).distinct.sorted.toSeq
    if (types != wantTypes) errs += s"unique types ${types.mkString(",")} != ${wantTypes.mkString(",")}"
    if (errs.isEmpty) None else Some(errs.mkString("; "))
  }

  def rows(out: AnyRef): Long = nGeoms
  def storedBytesPerUserByte: Double = Workloads.dirBytes(outPath) / userBytes

  def owned(v: TraceView): Map[String, Double] = Map(
    "sources.geoparquet_write_s" -> v.spanMeanS("sources.GeoParquet.write"),
    "sources.geoparquet_read_s" -> v.spanMeanS("sources.GeoParquet.read"),
    "sources.bytes_per_geom" -> Workloads.dirBytes(outPath).toDouble /
      corpus.count(_.wkt != null))
}

object GeomCodec {
  /** GeoJSON of geometries without M: RFC 7946 positions have no M, and
    * the program rejects M rather than drop it. */
  def geoJson(g: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(call_function("st_typeid", g) < 2000, call_function("st_asgeojson", g))
}

// -------------------------------------------------------------- knn_rings

/** Adaptive cell-ring kNN over clustered points, with queries in both
  * dense clusters and sparse open space so round counts vary per query. */
final class KnnRings(c: Ctx) extends Workload(c) {
  val name = "knn_rings"
  private val K = 10
  private val nPoints = c.n(40000, 2000)
  private val nQueries = c.n(64, 16)
  private val ptsPath = c.path("knn_points")
  private var queries: Array[Gen.Pt] = _
  private var queryDf: DataFrame = _
  private var brute: Map[Long, Seq[Long]] = _
  /** (round wall seconds, retired) of every round of the traced ops. */
  private val rounds = mutable.ArrayBuffer.empty[(Double, Long)]
  private var roundsPerOp = mutable.ArrayBuffer.empty[Int]

  def materialise(): Unit = {
    writePoints(nPoints, Gen.knnPoint, ptsPath)
    queries = Gen.knnQueries(c.seed, nQueries)
    import spark.implicits._
    queryDf = queries.map(q => (q.id, q.lon, q.lat)).toSeq.toDF("qid", "qlon", "qlat")
  }

  /** Brute-force top-k (distance, then pid) for every 4th query. */
  def oracle(): Unit = {
    val pts = Gen.knnPoints(c.seed, nPoints)
    brute = queries.filter(_.id % 4 == 0).map { q =>
      q.id -> pts.map(p => (Measure.haversineMeters(p.lon, p.lat, q.lon, q.lat), p.id))
        .sorted.take(K).map(_._2).toSeq
    }.toMap
  }

  def op(): AnyRef = {
    var last = System.nanoTime()
    var n = 0
    val out = span("operators.knnMetersJoinAdaptive") {
      Knn.knnMetersJoinAdaptive(spark.read.parquet(ptsPath), queryDf, K, tieCols = Seq("pid"),
        onRound = (_, _, retired) => {
          val now = System.nanoTime()
          if (c.trace.enabled) rounds += (((now - last) / 1e9, retired))
          last = now; n += 1
        })
    }
    val res = span("sql.collect")(out.select("qid", "rank", "pid").collect())
    if (c.trace.enabled) roundsPerOp += n
    res
  }

  def check(out: AnyRef): Option[String] = {
    val rows = out.asInstanceOf[Array[Row]]
    val byQ = rows.groupBy(_.getLong(0))
    val errs = mutable.ArrayBuffer.empty[String]
    val missing = queries.count(q => !byQ.contains(q.id))
    if (missing > 0) errs += s"$missing queries without rows"
    val notK = byQ.count(_._2.length != K)
    if (notK > 0) errs += s"$notK queries without exactly $K rows"
    val dups = rows.length - rows.map(r => (r.getLong(0), r.getInt(1))).distinct.length
    if (dups > 0) errs += s"$dups duplicate (qid, rank) rows"
    val wrong = brute.count { case (q, want) =>
      byQ.get(q).forall(rs => rs.map(r => (r.getInt(1), r.getLong(2))).distinct.sortBy(_._1).map(_._2).toSeq != want)
    }
    if (wrong > 0) errs += s"$wrong of ${brute.size} sampled queries differ from brute force"
    if (errs.isEmpty) None else Some(errs.mkString("; "))
  }

  def rows(out: AnyRef): Long =
    out.asInstanceOf[Array[Row]].groupBy(_.getLong(0)).count(_._2.length == K)

  def storedBytesPerUserByte: Double = Workloads.dirBytes(ptsPath).toDouble / (nPoints * 24.0)

  def owned(v: TraceView): Map[String, Double] = Map(
    "operators.knn_rounds" -> Workloads.mean(roundsPerOp.map(_.toDouble).toSeq),
    "operators.knn_round_s" -> Workloads.mean(rounds.map(_._1).toSeq),
    "operators.knn_retired_per_round" -> Workloads.mean(rounds.map(_._2.toDouble).toSeq))
}

// -------------------------------------------------------- snapshot_upsert

/** A repeated commit cycle on a bucketed point table: append, upsert,
  * delete, merged read, compaction, and a second merged read. Each Pipeline
  * call is one operation; both reads are checked against the table the
  * generated batches should have produced. */
final class SnapshotUpsert(c: Ctx) extends Workload(c) {
  val name = "snapshot_upsert"
  private val nLive = c.n(10000, 400)
  private val nAppend = c.n(150, 10)
  private val nUpdate = c.n(300, 20)
  private val nInsert = c.n(150, 10)
  private val Cycle = List("write", "merge", "delete", "read", "compact", "read")
  override def period: Int = Cycle.length
  private val table = c.path("snapshot_table")
  private val live = mutable.LinkedHashMap.empty[Long, Gen.Row]
  private var nextPid = 0L
  private var sid = 0L
  private var cycleNo = 0
  private var cy: Gen.Cycle = _
  private var steps: List[String] = Nil
  private var step = ""
  private val ratios = mutable.ArrayBuffer.empty[Double]
  private val dataFiles = mutable.ArrayBuffer.empty[Double]
  private val tombstones = mutable.ArrayBuffer.empty[Double]

  private val schema = StructType(Seq(StructField("pid", LongType, false),
    StructField("lon", DoubleType, false), StructField("lat", DoubleType, false),
    StructField("v", DoubleType, false), StructField("payload", StringType, false)))

  private def df(rows: Array[Gen.Row]): DataFrame = Pipeline.withBucket(
    spark.createDataFrame(java.util.Arrays.asList(
      rows.map(r => Row(r.pid, r.lon, r.lat, r.v, r.payload)): _*), schema), "lon", "lat", 2)

  private def userBytes(r: Gen.Row): Double = 32.0 + r.payload.length

  def materialise(): Unit = {
    deleteTree(new File(table))
    live.clear(); ratios.clear(); dataFiles.clear(); tombstones.clear()
    val init = Array.tabulate(nLive)(i => Gen.row(c.seed, i, 0))
    init.foreach(r => live(r.pid) = r)
    nextPid = nLive; sid = 1; cycleNo = 0; steps = Nil
    Pipeline.writeSnapshot(df(init), table, sid, keyCol = "pid", bytesCol = "payload")
    sid += 1
  }

  /** The expected table is the `live` map, advanced from the generated
    * batches as each commit is checked. */
  def oracle(): Unit = ()

  override def prepare(): Unit = {
    if (steps.isEmpty) {
      cycleNo += 1
      cy = Gen.cycle(c.seed, cycleNo, live.keysIterator.toArray, nextPid, nAppend, nUpdate, nInsert)
      nextPid += nAppend + nInsert
      steps = Cycle
    }
    step = steps.head
    steps = steps.tail
  }

  def op(): AnyRef = {
    sid += 1
    step match {
      case "write" => span("pipeline.writeSnapshot")(
        Pipeline.writeSnapshot(df(cy.appended), table, sid, keyCol = "pid", bytesCol = "payload"))
      case "merge" => span("pipeline.mergeSnapshot")(
        Pipeline.mergeSnapshot(df(cy.merged), table, sid, mergeKeyCol = "pid", bytesCol = "payload"))
      case "delete" => span("pipeline.deleteWhere")(Pipeline.deleteWhere(spark, table,
        col("pid").isin(cy.deleted.toSeq: _*), sid, keyCol = "pid"))
      case "compact" => span("pipeline.compactSnapshots")(
        Pipeline.compactSnapshots(spark, table, sid - 1, keyCol = "pid", bytesCol = "payload"))
      case "read" => span("pipeline.readCurrent")(Pipeline.readCurrent(spark, table, keyCol = "pid")
        .select("pid", "lon", "lat", "v", "payload").collect())
    }
  }

  def check(out: AnyRef): Option[String] = step match {
    case "write" => cy.appended.foreach(r => live(r.pid) = r); None
    case "merge" => cy.merged.foreach(r => live(r.pid) = r); None
    case "delete" => cy.deleted.foreach(live.remove); None
    case "compact" => None
    case "read" =>
      ratios += Workloads.dirBytes(table) / live.values.map(userBytes).sum
      dataFiles += Pipeline.dataFileCount(table)
      val got = out.asInstanceOf[Array[Row]].map(r =>
        Gen.Row(r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getString(4)))
      val byPid = got.map(r => r.pid -> r).toMap
      val what = if (steps.isEmpty) "read after compaction" else "read"
      if (got.length != byPid.size) Some(s"$what: ${got.length - byPid.size} duplicate keys")
      else if (byPid != live) {
        val missing = live.keySet.diff(byPid.keySet).size
        val extra = byPid.keySet.diff(live.keySet).size
        val stale = live.count { case (k, v) => byPid.get(k).exists(_ != v) }
        Some(s"$what: $missing missing, $extra extra, $stale stale rows")
      } else None
  }

  def rows(out: AnyRef): Long = step match {
    case "write" => cy.appended.length
    case "merge" => cy.merged.length
    case "delete" => cy.deleted.length
    case _ => 0
  }

  /** Median over every read: one before and one after each compaction. */
  def storedBytesPerUserByte: Double = Workloads.median(ratios.toSeq)

  override def aux(): Unit = {
    val dels = new File(table, "deletes")
    tombstones += (if (dels.exists()) spark.read.parquet(dels.getPath).count().toDouble else 0.0)
  }

  def owned(v: TraceView): Map[String, Double] = {
    val commits = Seq("pipeline.writeSnapshot", "pipeline.mergeSnapshot", "pipeline.deleteWhere")
    val writes = commits :+ "pipeline.compactSnapshots"
    // every cycle commits rows of the same shape, so the current one stands for all
    val committed = v.spanCount(Seq("pipeline.writeSnapshot")) *
      ((cy.appended ++ cy.merged).map(userBytes).sum + cy.deleted.length * 8.0)
    Map(
      "pipeline.write_s" -> v.spanMeanS("pipeline.writeSnapshot"),
      "pipeline.merge_s" -> v.spanMeanS("pipeline.mergeSnapshot"),
      "pipeline.delete_s" -> v.spanMeanS("pipeline.deleteWhere"),
      "pipeline.read_current_s" -> v.spanMeanS("pipeline.readCurrent"),
      "pipeline.compact_s" -> v.spanMeanS("pipeline.compactSnapshots"),
      "pipeline.jobs_per_commit" -> v.jobsUnder(commits).toDouble / math.max(1, v.spanCount(commits)),
      "pipeline.data_files" -> Workloads.mean(dataFiles.toSeq),
      "pipeline.tombstones" -> Workloads.mean(tombstones.toSeq),
      "pipeline.bytes_written_per_user_byte" ->
        (if (committed == 0) 0.0 else v.outputBytesUnder(writes) / committed))
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
