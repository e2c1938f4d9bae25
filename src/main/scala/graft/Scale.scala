package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Ann, Dedup, Dissolve, Knn, SpatialJoins, TileRender}
import graft.sources.ImagesTable

/** Operator scale harness: the north rule's two-cluster-size criterion (N
  * vs 4N cores, same input) applied per operator, plus the variant
  * comparisons SCALING.md reports.
  *
  * {{{graft.Scale <workload> [--rows R] [--cores N]}}}
  *
  * writes the workload's input once per size under `target/scale/`, runs
  * every leg in two interleaved rounds (a fresh `LocalSpark.session` per
  * leg, a warm-up pass, then the timed pass), keeps the minimum time per
  * leg, fails unless every pass of every leg returns the same units and
  * checksum, and prints ONE JSON line. `--rows` defaults to the size behind
  * the workload's SCALING.md figure, `--cores` (N) to 4. */
object Scale {

  /** One pass of a leg: the work done in the workload's unit, a checksum
    * of the answer, and leg detail (`key -> JSON value`) printed as is. */
  final case class Out(units: Long, checksum: Long,
                       detail: Seq[(String, String)] = Nil)

  /** A leg runs `run(session, inputDir)` on `local[coreMultiple * N]`. */
  final case class Leg(label: String, coreMultiple: Int,
                       run: (SparkSession, String) => Out)

  /** An on-disk input: `write` fills a directory, once per size. Workloads
    * naming the same input share its directory. */
  final case class Input(name: String, write: (SparkSession, String) => Unit)

  /** A table entry at one size. Without an input the legs synthesize their
    * rows in place (and get an empty directory name). */
  final case class Workload(unit: String, input: Option[Input], legs: Seq[Leg])

  /** What the runner measured for one leg: timed seconds and output per
    * round. */
  final case class Timing(label: String, cores: Int, secs: Seq[Double],
                          outs: Seq[Out])

  private def nVs4N(run: (SparkSession, String) => Out): Seq[Leg] =
    Seq(Leg("N", 1, run), Leg("4N", 4, run))

  // ---- the workload table: name -> (default rows, entry at a size)

  val table: ListMap[String, (Long, Long => Workload)] = ListMap(
    "intersects" -> (16000000L, intersects),
    "kmeans" -> (16000000L, kmeans),
    "pyramid" -> (64000000L, pyramid),
    "polygons" -> (400000L, polygons(overlap = false)),
    "polygons_overlap" -> (400000L, polygons(overlap = true)),
    "dissolve" -> (8000000L, dissolve),
    "dissolve_hot" -> (8000000L, dissolveHot),
    "hausdorff" -> (16000000L, hausdorff),
    "edit" -> (8000000L, edit),
    "knn" -> (4000000L, knn))

  private def images(rows: Long) = Input("images", (s, dir) =>
    ImagesTable.generate(s, rows, png = false, partitions = 64)
      .write.mode("overwrite").parquet(dir))

  /** Intersects join: boxes around the image points against the
    * ~200-polygon layer, z6 covers; checksum = output pairs. */
  private def intersects(rows: Long) = Workload("rows", Some(images(rows)),
    nVs4N { (s, dir) =>
      val boxes = s.read.parquet(dir).selectExpr("image_id",
        "st_boxtopolygon(lon - 0.4, lat - 0.25, lon + 0.4, lat + 0.25) AS bg")
      val polys = ImagesTable.polygonLayer(s, 200).selectExpr("poly_id", "poly AS pg")
      Out(rows, SpatialJoins.intersectsJoin(boxes, polys, "bg", "pg", zoom = 6).count())
    })

  /** k-means training, 32-d vectors, k 16, 2 Lloyd's iterations. Per
    * iteration: map-side codegen'd argmin + one partial-aggregated exchange
    * of k buffers — the corpus never shuffles. The trained centroids are
    * bit-identical at any parallelism (integer sums commute), so their hash
    * is the checksum. */
  private def kmeans(rows: Long) = {
    val (dim, k, iters) = (32, 16, 2)
    Workload("rows_x_iters", Some(Input(s"vecs$dim", (s, dir) =>
      s.range(0, rows, 1, 64).selectExpr("id AS vec_id",
        s"transform(sequence(0, ${dim - 1}), j -> " +
          s"CAST(CAST(splitmix64(id * $dim + j) % 1000 AS DOUBLE) / 500.0 AS FLOAT)) AS embedding")
        .write.mode("overwrite").parquet(dir))),
      nVs4N { (s, dir) =>
        val (centroids, _) =
          Ann.trainKmeans(s.read.parquet(dir), "embedding", "vec_id", k, iters)
        Out(rows * iters, java.util.Arrays.hashCode(centroids).toLong)
      })
  }

  /** Point pyramid over the image points, zooms 1-4: a HEATMAP workload
    * (multiple points per pixel, so the input-sized partial agg actually
    * combines). Rendering at zooms where pixels are mostly unique is a
    * scatterplot — cost is then dominated by the irreducible ~N-row
    * shuffle whatever the plan shape. Checksum = tiles. */
  private def pyramid(rows: Long) = Workload("rows", Some(images(rows)),
    nVs4N { (s, dir) =>
      Out(rows, TileRender.renderPyramid(s.read.parquet(dir), "lon", "lat", 1, 4).count())
    })

  /** Polygon rasterization of ~0.3°x0.22° boxes on a lon/lat grid (~140
    * lit pixels each at z6); work unit = lit pixels, checksum = tiles. Grid
    * step 0.34° > width 0.3° gives DISJOINT boxes (zone-raster regime: no
    * two boxes share a pixel, map-side combine never fires, the exchange
    * carries every lit-pixel row); `overlap` shrinks the step to 0.11°,
    * ~3× pixel overlap (heatmap regime: partial agg combines before the
    * shuffle). */
  private def polygons(overlap: Boolean)(rows: Long) = {
    // the grid has exactly 1000x400 distinct positions — more polygons
    // would wrap onto exact duplicates and silently turn the "disjoint"
    // regime into the heatmap regime, corrupting the comparison
    require(rows <= 400000L, s"more than 400000 polygons wraps the position grid: $rows")
    val step = if (overlap) 0.11 else 0.34
    Workload("lit_pixels", None, nVs4N { (s, _) =>
      val polys = s.range(rows).selectExpr(
        "st_boxtopolygon(" +
          s"CAST(id % 1000 AS DOUBLE) * $step - 170.0," +
          "CAST((id DIV 1000) % 400 AS DOUBLE) * 0.35 - 70.0," +
          s"CAST(id % 1000 AS DOUBLE) * $step - 170.0 + 0.3," +
          "CAST((id DIV 1000) % 400 AS DOUBLE) * 0.35 - 70.0 + 0.22) AS g",
        "id % 7 + 1 AS w")
      val r = TileRender.renderPolygonTiles(polys, "g", 6, 256, Some("w"))
        .agg(sum(call_function("img_nonzero", col("png"))), count(lit(1))).head()
      Out(r.getLong(0), r.getLong(1))
    })
  }

  /** Parcels for `st_union_agg`: `rows / 160` wide keys (50k at 8M), 32 hot
    * keys. Per key, boxes tile rows of a 64-wide strip: the j-th box of a
    * key is [j%64, j%64+1] × [j/64, j/64+1] — every box shares edges with
    * its neighbors, so the union welds long runs, not disjoint islands. */
  private def parcels(rows: Long) = {
    val keys = math.max(1L, rows / 160)
    Input("dissolve", (s, dir) =>
      s.range(0, rows, 1, 64).selectExpr(
        s"CAST(id % $keys AS INT) AS k",
        "CAST(id % 32 AS INT) AS hk",
        s"CAST((id DIV $keys) % 64 AS DOUBLE) AS x0",
        s"CAST((id DIV $keys) DIV 64 AS DOUBLE) AS y0")
        .write.mode("overwrite").parquet(dir))
  }

  // NB: the leg must CONSUME the union output — a bare count() after the
  // aggregation lets Catalyst prune the unused st_union_agg expression and
  // the "dissolve" degenerates to a key distinct-count (measured: 17M
  // rows/s of nothing). Summing st_npoints forces every group's cascaded
  // union and doubles as the cross-leg checksum.
  private def dissolveLeg(rows: Long, key: String, cellSize: Option[Double])(
      s: SparkSession, dir: String): Out = {
    val df = s.read.parquet(dir)
      .withColumn("g", expr("st_boxtopolygon(x0, y0, x0 + 1.0d, y0 + 1.0d)"))
    val r = Dissolve.dissolve(df, Seq(key), "g", cellSize)
      .agg(count(lit(1)), sum(expr("st_npoints(g)"))).head()
    Out(rows, r.getLong(1), Seq("groups" -> r.getLong(0).toString))
  }

  /** Wide dissolve: many keys, moderate groups (parcels per admin region);
    * per-key union work is embarrassingly parallel across the
    * final-aggregate partitions. */
  private def dissolve(rows: Long) = Workload("rows", Some(parcels(rows)),
    nVs4N(dissolveLeg(rows, "k", None)))

  /** Hot dissolve at 4N: 32 keys with huge groups, direct vs the two-level
    * (hex-bucketed) shape that exists for monster keys. The boxes are
    * grid-exact, so the two must be value-identical. */
  private def dissolveHot(rows: Long) = Workload("rows", Some(parcels(rows)),
    Seq(Leg("direct", 4, dissolveLeg(rows, "hk", None)),
      Leg("two_level", 4, dissolveLeg(rows, "hk", Some(8.0)))))

  /** Hausdorff join of 3-vertex tracks against a broadcast layer of every
    * 2000th track, radius 0.05°; checksum = output pairs. */
  private def hausdorff(rows: Long) = Workload("rows", Some(Input("tracks",
    (s, dir) =>
      // tracks jittered 0..0.2 deg around a 40x13-slot anchor grid (9 x 6.5
      // deg pitch) — the q142 geometry at bench cardinality. WKB on disk:
      // geometry structs don't parquet-round-trip raw (the reader drops
      // field NOT NULLs); legs decode on scan.
      s.range(0, rows, 1, 64).selectExpr("id",
        """st_aswkb(st_linefromxy(array(
          |  CAST(id % 40 AS DOUBLE) * 9.0D - 178.0D
          |    + CAST(splitmix64(id) % 2000 AS DOUBLE) / 10000.0D,
          |  CAST(CAST(id / 40 AS BIGINT) % 13 AS DOUBLE) * 6.5D - 80.0D
          |    + CAST(splitmix64(id + 1) % 2000 AS DOUBLE) / 10000.0D,
          |  CAST(id % 40 AS DOUBLE) * 9.0D - 178.0D
          |    + CAST(splitmix64(id + 2) % 2000 AS DOUBLE) / 10000.0D,
          |  CAST(CAST(id / 40 AS BIGINT) % 13 AS DOUBLE) * 6.5D - 80.0D
          |    + CAST(splitmix64(id + 3) % 2000 AS DOUBLE) / 10000.0D,
          |  CAST(id % 40 AS DOUBLE) * 9.0D - 178.0D
          |    + CAST(splitmix64(id + 4) % 2000 AS DOUBLE) / 10000.0D,
          |  CAST(CAST(id / 40 AS BIGINT) % 13 AS DOUBLE) * 6.5D - 80.0D
          |    + CAST(splitmix64(id + 5) % 2000 AS DOUBLE) / 10000.0D
          |))) AS wkb""".stripMargin)
        .write.mode("overwrite").parquet(dir))),
    nVs4N { (s, dir) =>
      val left = s.read.parquet(dir).selectExpr("id", "st_geomfromwkb(wkb) AS track")
      val right = s.read.parquet(dir).where("id % 2000 = 0")
        .selectExpr("id AS id_b", "st_geomfromwkb(wkb) AS track_b")
      Out(rows, SpatialJoins.hausdorffJoin(left, right, "track", "track_b",
        maxDist = 0.05, zoom = 6).count())
    })

  /** Edit-distance near-dup join (deletion-neighborhood candidates, capped
    * at band 64) over short hex strings; checksum = output pairs. */
  private def edit(rows: Long) = Workload("rows", Some(Input("texts", (s, dir) =>
    // even ids: 10 hex chars of splitmix64(id/2); odd ids: the same string
    // with one substituted char -> a planted distance-1 twin for every even id
    s.range(0, rows, 1, 64).selectExpr("id",
      """CASE WHEN id % 2 = 0
        |  THEN substring(hex(splitmix64(CAST(id / 2 AS BIGINT))), 1, 10)
        |  ELSE concat(
        |    substring(substring(hex(splitmix64(CAST(id / 2 AS BIGINT))), 1, 10),
        |      1, CAST(id % 9 AS INT)),
        |    'z',
        |    substring(substring(hex(splitmix64(CAST(id / 2 AS BIGINT))), 1, 10),
        |      CAST(id % 9 AS INT) + 2, 10))
        |END AS text""".stripMargin)
      .write.mode("overwrite").parquet(dir))),
    nVs4N { (s, dir) =>
      Out(rows, Dedup.editNearDups(s.read.parquet(dir), "text", "id", maxBand = 64).count())
    })

  /** Spherical kNN, k 5: `rows / 40` queries (10^5 at 4M) against a skewed
    * point set (90% uniform globe + 10% dense city), adaptive per-query
    * start level vs fixed start levels 12 (the q88 default) and 8, at 8N
    * cores (local[32] at the default N). Detail = the per-round
    * (round, level, queries-retired) histogram. */
  private def knn(rows: Long) = {
    val nQ = math.max(1L, rows / 40)
    val input = Input("knn", { (s, dir) =>
      // 10% of rows re-homed into a 1x1-degree "city": the density skew
      // that makes one fixed start level wrong for somebody
      ImagesTable.generate(s, rows, partitions = 64)
        .select(col("image_id"), col("phash"),
          when(pmod(col("phash"), lit(10)) === 0,
            lit(10.0) + pmod(col("phash"), lit(10000)).cast("double") / 10000.0)
            .otherwise(col("lon")).as("lon"),
          when(pmod(col("phash"), lit(10)) === 0,
            lit(50.0) + pmod(floor(col("phash") / 10000), lit(10000))
              .cast("double") / 10000.0)
            .otherwise(col("lat")).as("lat"))
        .drop("phash")
        .write.mode("overwrite").parquet(s"$dir/points")
      // queries mirror the mix: 10% city, 90% uniform — all deterministic
      s.range(nQ)
        .withColumn("h", abs(xxhash64(col("id"))))
        .select(col("id").as("qid"),
          when(pmod(col("id"), lit(10)) === 0,
            lit(10.0) + pmod(col("h"), lit(10000)).cast("double") / 10000.0)
            .otherwise(pmod(col("h"), lit(3600000)).cast("double") / 10000.0 - 180.0)
            .as("qlon"),
          when(pmod(col("id"), lit(10)) === 0,
            lit(50.0) + pmod(floor(col("h") / 10000), lit(10000))
              .cast("double") / 10000.0)
            .otherwise(pmod(floor(col("h") / 3600000), lit(1700000))
              .cast("double") / 10000.0 - 85.0)
            .as("qlat"))
        .write.mode("overwrite").parquet(s"$dir/queries")
    })
    def leg(label: String,
            join: (DataFrame, DataFrame, (Int, Int, Long) => Unit) => DataFrame) =
      Leg(label, 8, { (s, dir) =>
        val rounds = ArrayBuffer.empty[(Int, Int, Long)]
        val out = join(s.read.parquet(s"$dir/points"), s.read.parquet(s"$dir/queries"),
          (r, l, n) => rounds += ((r, l, n)))
        // (count, content checksum) — a bare row count is VACUOUS as an
        // exactness gate here (with >= k points every variant returns
        // exactly nQ*k rows, wrong neighbors included); the
        // order-independent hash sum over (qid, rank, image_id) pins the
        // actual assignment. Only the low 32 bits of each hash enter the
        // sum: a full 64-bit sum overflows, and ANSI mode throws on that.
        val sig = out.agg(count(lit(1)), sum(pmod(
          xxhash64(col("qid"), col("rank"), col("image_id")), lit(1L << 32)))).head()
        Out(sig.getLong(0), sig.getLong(1), Seq("rounds" ->
          rounds.map { case (r, l, n) => s"[$r,$l,$n]" }.mkString("[", ",", "]")))
      })
    val ties = Seq("image_id")
    Workload("rows_out", Some(input), Seq(
      leg("adaptive", (p, q, on) =>
        Knn.knnMetersJoinAdaptive(p, q, k = 5, tieCols = ties, onRound = on)),
      leg("fixed12", (p, q, on) =>
        Knn.knnMetersJoin(p, q, k = 5, startLevel = 12, tieCols = ties, onRound = on)),
      leg("fixed8", (p, q, on) =>
        Knn.knnMetersJoin(p, q, k = 5, startLevel = 8, tieCols = ties, onRound = on))))
  }

  // ---- the runner: owns sessions and timing

  private def withSession[T](cores: Int, name: String)(f: SparkSession => T): T = {
    val s = LocalSpark.session(cores, s"graft-scale-$name")
    try { graft.sql.Geo.register(s); f(s) } finally s.stop()
  }

  /** Writes the input if its directory is absent (synthesis stays out of
    * the timing), then runs two interleaved rounds of every leg. The input
    * is written beside its directory and renamed into place, so a run
    * killed while writing leaves no partial input for later runs to read. */
  def run(name: String, rows: Long, nCores: Int, w: Workload): Seq[Timing] = {
    val dir = w.input.fold("") { in =>
      val d = s"target/scale/${in.name}_$rows"
      if (!new java.io.File(d).exists()) {
        withSession(w.legs.map(_.coreMultiple).max * nCores, name)(in.write(_, s"$d.tmp"))
        Files.move(Paths.get(s"$d.tmp"), Paths.get(d))
      }
      d
    }
    val rounds = Seq.fill(2)(w.legs.map { leg =>
      withSession(leg.coreMultiple * nCores, name) { s =>
        leg.run(s, dir) // JIT/IO warm-up pass, then the timed pass
        val t0 = System.nanoTime()
        val out = leg.run(s, dir)
        ((System.nanoTime() - t0) / 1e9, out)
      }
    })
    w.legs.indices.map { i =>
      val mine = rounds.map(_(i))
      Timing(w.legs(i).label, w.legs(i).coreMultiple * nCores, mine.map(_._1), mine.map(_._2))
    }
  }

  /** The result line: per leg the timed seconds, the minimum (the
    * uncontended estimate, as in `graft.Bench`), units per second at the
    * minimum and the last round's detail; `scaling_efficiency` when the two
    * legs differ in cores. Throws when any two passes disagree on units or
    * checksum. */
  def json(name: String, rows: Long, nCores: Int, unit: String,
           legs: Seq[Timing]): String = {
    val answers = for (l <- legs; o <- l.outs) yield (l.label, o.units, o.checksum)
    val (_, units, checksum) = answers.head
    if (answers.exists { case (_, u, c) => (u, c) != (units, checksum) })
      throw new IllegalStateException(s"$name: legs disagree on (units, checksum): " +
        answers.map { case (l, u, c) => s"$l=($u, $c)" }.mkString(", "))
    def rate(l: Timing) = units / l.secs.min
    def obj(fields: Seq[(String, Any)]) =
      fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val legJson = legs.map(l => obj(Seq(
      "label" -> s""""${l.label}"""", "cores" -> l.cores,
      "secs" -> l.secs.map(t => f"$t%.3f").mkString("[", ",", "]"),
      "min_secs" -> f"${l.secs.min}%.3f", "units_per_sec" -> rate(l).toLong) ++
      l.outs.last.detail))
    val efficiency = legs match {
      case Seq(a, b) if a.cores != b.cores =>
        Seq("scaling_efficiency" -> f"${rate(b) / rate(a) * a.cores / b.cores}%.3f")
      case _ => Nil
    }
    obj(Seq("workload" -> s""""$name"""", "rows" -> rows, "n_cores" -> nCores,
      "unit" -> s""""$unit"""", "units" -> units, "checksum" -> checksum,
      "legs" -> legJson.mkString("[", ",", "]")) ++ efficiency)
  }

  def main(args: Array[String]): Unit = {
    val usage = s"usage: graft.Scale <${table.keys.mkString("|")}> [--rows R] [--cores N]"
    val (name, opts) = args.toList match {
      case n :: rest if table.contains(n) && rest.size % 2 == 0 =>
        (n, rest.grouped(2).map(kv => kv.head -> kv(1)).toMap)
      case _ => throw new IllegalArgumentException(usage)
    }
    require(opts.keySet.subsetOf(Set("--rows", "--cores")), usage)
    val (defaultRows, at) = table(name)
    val rows = opts.get("--rows").fold(defaultRows)(_.toLong)
    val nCores = opts.get("--cores").fold(4)(_.toInt)
    require(rows > 0 && nCores > 0, usage)
    val w = at(rows)
    println(json(name, rows, nCores, w.unit, run(name, rows, nCores, w)))
  }
}
