package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Geohash
import graft.operators.{Ann, Cluster, Dedup, Knn, Sampling, SpatialJoins, TextRank, TileRender}
import graft.pipeline.Pipeline
import graft.plans.Barrier
import graft.sources.ImagesTable
import graft.sql.Geo

/** One SparkEntry query: its builder and, where the semantics are
  * ANSI-SQL-expressible, the DuckDB SQL that must return the same rows. */
final case class QuerySpec(name: String, build: SparkSession => DataFrame,
  oracle: Option[String])

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2), with a DuckDB-runnable oracle where the semantics are
  * ANSI-SQL-expressible. Column names and types are aligned pairwise with
  * the oracle SQL (the driver hash-compares by sorted column name). */
object SparkEntry {

  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One view-registration per (session, dir): every `spark.read.parquet`
    * call re-lists the directory and re-reads footers for schema inference
    * on the DRIVER (guide §6 file-listing overhead) — ~10 such calls per
    * query × 150 queries was pure fixed cost. The cache holds only the
    * registered views' METADATA (paths + schemas, exactly what a catalog
    * table persists); every query still computes from the parquet inputs. */
  private val prepped = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  private[graft] def prep(spark: SparkSession, dir: String): Unit = {
    Geo.register(spark)
    if (dir == prepped.get(spark)) return
    Tables.foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    }
    par(spark.table("lineitem")).createOrReplaceTempView("lineitem_par")
    Barrier(spark.table("lineitem_par")).createOrReplaceTempView("lineitem_par_barrier")
    par(spark.table("documents")).createOrReplaceTempView("documents_par")
    prepped.put(spark, dir)
  }

  private def ptsCteOn(table: String): String =
    PtsCte.replace("FROM lineitem", s"FROM $table")

  /** The driver's parquet tables are single-row-group files (unsplittable
    * scans) — spread codec-heavy per-row work across cores first. A real
    * deployment reads many files/row-groups and never needs this. */
  private def par(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Derived deterministic point layer over lineitem — identical arithmetic
    * on both the Spark and DuckDB sides, so doubles are bit-equal. */
  // NOTE every fractional literal is reached only through an explicit
  // CAST(... AS DOUBLE) chain: Spark parses bare decimal literals as
  // DECIMAL (exact arithmetic) while DuckDB runs them as IEEE double —
  // casting the integer input first forces identical double ops (and
  // therefore bit-equal results) in both engines.
  private val PtsCte =
    """SELECT l_orderkey, l_linenumber,
      |  CAST((l_orderkey * 131 + l_partkey * 7 + l_linenumber) % 3600000 AS DOUBLE) / 10000.0 - 180.0 AS lon,
      |  CAST((l_orderkey * 37 + l_suppkey * 11 + l_linenumber) % 1700000 AS DOUBLE) / 10000.0 - 85.0 AS lat
      |FROM lineitem""".stripMargin

  /** Deterministic ping stream for the trajectory operators (q135–q137):
    * PtsCte's lon/lat arithmetic verbatim, plus an entity key (~997
    * tracks), the ship timestamp, and a tiebreak (l_orderkey*8 +
    * l_linenumber — NOT unique: the synthetic lineitem carries duplicate
    * (orderkey, linenumber) rows with different coordinates, which is
    * exactly the dirty-lake case the operators' (ts, tie, x, y) total
    * order exists for). Shared verbatim with the DuckDB oracles. */
  private val TrackPingsCte =
    """SELECT l_orderkey % 997 AS entity, l_shipdate AS ts,
      |  l_orderkey * 8 + l_linenumber AS tie,
      |  CAST((l_orderkey * 131 + l_partkey * 7 + l_linenumber) % 3600000 AS DOUBLE) / 10000.0 - 180.0 AS lon,
      |  CAST((l_orderkey * 37 + l_suppkey * 11 + l_linenumber) % 1700000 AS DOUBLE) / 10000.0 - 85.0 AS lat
      |FROM lineitem""".stripMargin

  /** Compact ping stream for the Hausdorff similarity JOIN (q142): entity
    * PAIRS (2k, 2k+1) share an anchor slot on a 40×13 grid (9.0° × 6.5°
    * pitch), and every ping jitters within [0, 2)° of its anchor — so a
    * within-anchor pair's Hausdorff distance is at most 2√2 ≈ 2.83 (< the
    * query's 3.0) while cross-anchor envelopes keep a gap ≥ 4.5 (> 3.0
    * after expansion): the expected hit set is exactly the anchor pairs,
    * but both engines still COMPUTE every surviving distance exactly.
    * Shared verbatim with the DuckDB oracle (fractional literals through
    * CAST AS DOUBLE — environment fact 1). */
  private val CompactPingsCte =
    """SELECT l_orderkey % 997 AS entity, l_shipdate AS ts,
      |  l_orderkey * 8 + l_linenumber AS tie,
      |  CAST(((l_orderkey % 997) - (l_orderkey % 997) % 2) / 2 % 40 AS DOUBLE) * CAST(9.0 AS DOUBLE) - CAST(178.0 AS DOUBLE)
      |    + CAST((l_orderkey * 131 + l_partkey * 7 + l_linenumber) % 2000 AS DOUBLE) / 1000.0 AS lon,
      |  CAST((((l_orderkey % 997) - (l_orderkey % 997) % 2) / 2 - ((l_orderkey % 997) - (l_orderkey % 997) % 2) / 2 % 40) / 40 AS DOUBLE) * CAST(6.5 AS DOUBLE) - CAST(80.0 AS DOUBLE)
      |    + CAST((l_orderkey * 37 + l_suppkey * 11 + l_linenumber) % 2000 AS DOUBLE) / 1000.0 AS lat
      |FROM lineitem""".stripMargin

  /** Deterministic zone boxes over nation: a 5×5 grid of 25 DISJOINT
    * axis-aligned lon/lat boxes (grid slot = (key%5, key/5), each box
    * inset in its slot), well inside the Web-Mercator domain. The text is
    * shared VERBATIM with the DuckDB oracles so every derived double —
    * box corner, projected world pixel, fill bound — is bit-identical in
    * both engines (environment fact 1: fractional literals go through
    * CAST AS DOUBLE so Spark doesn't type them DECIMAL). */
  private val ZoneBoxCols =
    """CAST(-160.0 AS DOUBLE) + CAST(n_nationkey % 5 AS DOUBLE) * CAST(64.0 AS DOUBLE) + CAST(3.7 AS DOUBLE) AS ax,
      |  CAST(-60.0 AS DOUBLE) + CAST((n_nationkey - n_nationkey % 5) / 5 AS DOUBLE) * CAST(24.0 AS DOUBLE) + CAST(2.3 AS DOUBLE) AS ay,
      |  CAST(-160.0 AS DOUBLE) + CAST(n_nationkey % 5 AS DOUBLE) * CAST(64.0 AS DOUBLE) + CAST(3.7 AS DOUBLE) + CAST(40.1 AS DOUBLE) AS bx,
      |  CAST(-60.0 AS DOUBLE) + CAST((n_nationkey - n_nationkey % 5) / 5 AS DOUBLE) * CAST(24.0 AS DOUBLE) + CAST(2.3 AS DOUBLE) + CAST(15.9 AS DOUBLE) AS by""".stripMargin

  /** Zone grid for the raster→vector query (q103), placed over the region
    * PtsCte actually populates at small scale factors (the hash ranges
    * grow with the key space, so small-sf points concentrate toward
    * (-180, -85)): a 5×5 disjoint grid over lon [-180, -30] × lat
    * [-85, -30]. All 25 zones are point-populated at sf0.01 (the
    * correctness-gate sf) and the grid stays non-vacuous down to sf0.001.
    * Shared verbatim with the DuckDB oracle like [[ZoneBoxCols]]. */
  private val ZoneBoxColsSW =
    """CAST(-178.3 AS DOUBLE) + CAST(n_nationkey % 5 AS DOUBLE) * CAST(30.0 AS DOUBLE) AS ax,
      |  CAST(-84.3 AS DOUBLE) + CAST((n_nationkey - n_nationkey % 5) / 5 AS DOUBLE) * CAST(11.0 AS DOUBLE) AS ay,
      |  CAST(-178.3 AS DOUBLE) + CAST(n_nationkey % 5 AS DOUBLE) * CAST(30.0 AS DOUBLE) + CAST(28.1 AS DOUBLE) AS bx,
      |  CAST(-84.3 AS DOUBLE) + CAST((n_nationkey - n_nationkey % 5) / 5 AS DOUBLE) * CAST(11.0 AS DOUBLE) + CAST(9.7 AS DOUBLE) AS by""".stripMargin

  /** Deterministic stroke segments over nation for the line-render query
    * (q106): even keys draw horizontal strokes, odd keys vertical — the
    * two families CROSS, so overlap pixels exercise weight summing. Full
    * SELECT shared verbatim with the DuckDB oracle (expressions repeated,
    * no lateral aliases, so both engines build the same IEEE trees). */
  private val StrokeCte =
    """SELECT k, w,
      |  CASE WHEN k % 2 = 0 THEN hx1 ELSE vx END AS x1,
      |  CASE WHEN k % 2 = 0 THEN hy ELSE vy1 END AS y1,
      |  CASE WHEN k % 2 = 0 THEN hx1 + CAST(80.7 AS DOUBLE) ELSE vx END AS x2,
      |  CASE WHEN k % 2 = 0 THEN hy ELSE vy1 + CAST(95.7 AS DOUBLE) END AS y2
      |FROM (SELECT n_nationkey AS k, n_nationkey % 9 + 1 AS w,
      |  CAST(-150.3 AS DOUBLE) + CAST(n_nationkey AS DOUBLE) * CAST(2.1 AS DOUBLE) AS hx1,
      |  CAST(-70.0 AS DOUBLE) + CAST(n_nationkey AS DOUBLE) * CAST(5.5 AS DOUBLE) AS hy,
      |  CAST(-160.0 AS DOUBLE) + CAST(n_nationkey AS DOUBLE) * CAST(11.9 AS DOUBLE) AS vx,
      |  CAST(-75.3 AS DOUBLE) + CAST(n_nationkey AS DOUBLE) * CAST(0.9 AS DOUBLE) AS vy1
      | FROM nation)""".stripMargin

  /** Deterministic sphere-direction vectors over lineitem — exact dyadic
    * rationals (small ints / 1024), so every downstream cell-index step is
    * IEEE-exact in both engines. The z numerator is always odd (2m - 2001),
    * so the vector is never all-zero. */
  private val XyzCte =
    """SELECT l_orderkey, l_linenumber,
      |  CAST((l_orderkey * 131 + l_partkey * 7 + l_linenumber) % 4001 - 2000 AS DOUBLE) / 1024.0 AS x,
      |  CAST((l_orderkey * 37 + l_suppkey * 11 + l_linenumber * 3) % 3001 - 1500 AS DOUBLE) / 1024.0 AS y,
      |  CAST(((l_orderkey * 53 + l_partkey * 17 + l_linenumber * 7) % 2003) * 2 - 2001 AS DOUBLE) / 1024.0 AS z
      |FROM lineitem""".stripMargin

  private def xyzCteOn(table: String): String =
    XyzCte.replace("FROM lineitem", s"FROM $table")

  /** Deterministic rectangles (epsilon offsets guarantee no point of the
    * 1e-4-degree lattice can land exactly on a boundary, so ray-cast and
    * BETWEEN semantics agree). */
  private val RectsCte =
    """SELECT n_nationkey,
      |  CAST(n_nationkey AS DOUBLE) * 14.0 - 179.9500001 AS xmin,
      |  (CAST(n_nationkey AS DOUBLE) * 41.0) % 160.0 - 79.9500001 AS ymin
      |FROM nation""".stripMargin

  private val TrisCte =
    """SELECT n_nationkey,
      |  CAST(n_nationkey AS DOUBLE) * 13.0 - 170.0000123 AS ax,
      |  (CAST(n_nationkey AS DOUBLE) * 23.0) % 150.0 - 74.0000231 AS ay
      |FROM nation""".stripMargin

  // =====================================================================

  /** Flagship: synthesize the image+caption table (north-rule input shape),
    * PIP-join against the polygon overlay and assign raster tiles. */
  def entry(spark: SparkSession): DataFrame = {
    Geo.register(spark)
    val images = ImagesTable.generate(spark, 2000L)
    val polys = ImagesTable.polygonLayer(spark)
    val joined = SpatialJoins.pipJoin(images, polys, "poly", "lon", "lat",
      zoom = 6, broadcastPolys = true)
    SpatialJoins.assignTiles(joined, "lon", "lat", zoom = 8)
      .groupBy(col("poly_id"), col("tile_id"))
      .agg(count(lit(1)).as("n_images"), min("caption").as("first_caption"))
  }

  // =====================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map { spec =>
      spec.name -> ((spark: SparkSession, dir: String) => {
        prep(spark, dir); spec.build(spark)
      })
    }.toMap

  def oracleSql: Map[String, String] =
    specs.flatMap(spec => spec.oracle.map(spec.name -> _)).toMap

  private def uniqueNames(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    specs
  }

  /** Every query, each builder followed by its oracle. A builder
    * runs after [[prep]] has registered the table views for its session.
    * Lazy: oracle texts embed helper strings declared further down. */
  lazy val specs: Seq[QuerySpec] = uniqueNames(Seq(
    // ---- 2B relational surface -------------------------------------
    QuerySpec("q01_filter_agg", { s =>
      s.table("lineitem")
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum("l_quantity").as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_cents"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, Some(
      // NOTE sum(BIGINT) is HUGEINT in DuckDB, which the driver's Arrow fetch
      // coerces to float64 and the hash compare then diverges from Spark's
      // int64 — CAST the aggregate back to BIGINT so both sides emit int64.
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    QuerySpec("q02_join_agg", { s =>
      s.table("orders")
        .join(broadcast(s.table("customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_price_cents"))
        .orderBy("c_mktsegment")
    }, Some(
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    QuerySpec("q03_topk", { s =>
      s.table("orders")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"))
        .orderBy(col("price_cents").desc, col("o_orderkey"))
        .limit(10)
    }, Some(
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM orders ORDER BY price_cents DESC, o_orderkey LIMIT 10""".stripMargin)),
    QuerySpec("q04_window", { s =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      s.table("orders")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rk"))
        .orderBy(col("o_custkey"), col("rk"))
    }, Some(
      """SELECT o_custkey, o_orderkey, rk FROM (
        |  SELECT o_custkey, o_orderkey, row_number() OVER (
        |    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin)),
    QuerySpec("q05_union_distinct", { s =>
      val a = s.table("lineitem").select(col("l_partkey").as("k"))
      val b = s.table("lineitem").select(col("l_suppkey").as("k"))
      a.union(b).distinct().agg(count(lit(1)).as("n_keys"))
    }, Some(
      """SELECT count(*) AS n_keys FROM (
        |  SELECT l_partkey AS k FROM lineitem UNION SELECT l_suppkey FROM lineitem)""".stripMargin)),
    QuerySpec("q06_events_stats", { s =>
      s.table("events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"), min("value").as("min_v"), max("value").as("max_v"))
        .orderBy("user_id", "event_type")
    }, Some(
      """SELECT user_id, event_type, count(*) AS n, min(value) AS min_v,
        |  max(value) AS max_v
        |FROM events GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin)),
    // ---- 2A geometry kernels ---------------------------------------
    QuerySpec("q10_wkt_roundtrip", { s =>
      s.sql("""SELECT l_orderkey, l_linenumber,
        |  st_aswkt(st_geomfromwkt(concat('POINT (',
        |    CAST((l_orderkey * 131 + l_linenumber) % 360 - 180 AS STRING), ' ',
        |    CAST((l_orderkey * 37 + l_linenumber) % 170 - 85 AS STRING), ')'))) AS wkt
        |FROM lineitem_par ORDER BY l_orderkey, l_linenumber""".stripMargin)
    }, Some(
      """SELECT l_orderkey, l_linenumber,
        |  'POINT (' || CAST((l_orderkey * 131 + l_linenumber) % 360 - 180 AS VARCHAR)
        |  || ' ' || CAST((l_orderkey * 37 + l_linenumber) % 170 - 85 AS VARCHAR) || ')' AS wkt
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("q11_wkb_shape", { s =>
      s.sql("""SELECT l_orderkey, l_linenumber,
        |  CAST(length(st_aswkb(st_geomfromwkt(concat('POINT (',
        |    CAST((l_orderkey * 131 + l_linenumber) % 360 - 180 AS STRING), ' ',
        |    CAST((l_orderkey * 37 + l_linenumber) % 170 - 85 AS STRING), ')')))) AS INT) AS wkb_len
        |FROM lineitem_par ORDER BY l_orderkey, l_linenumber""".stripMargin)
    }, Some(
      """SELECT l_orderkey, l_linenumber, CAST(21 AS INTEGER) AS wkb_len
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("q12_envelope_group", { s =>
      s.sql(s"""WITH pts AS ($PtsCte)
        |SELECT l_orderkey, box.xmin AS xmin, box.ymin AS ymin,
        |       box.xmax AS xmax, box.ymax AS ymax
        |FROM (SELECT l_orderkey, st_box_agg(st_point(lon, lat)) AS box
        |      FROM pts GROUP BY l_orderkey)
        |ORDER BY l_orderkey""".stripMargin)
    }, Some(
      s"""WITH pts AS (${PtsCte.replace("\n", " ")})
        |SELECT l_orderkey, min(lon) AS xmin, min(lat) AS ymin,
        |  max(lon) AS xmax, max(lat) AS ymax
        |FROM pts GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)),
    QuerySpec("q13_box_agg", { s =>
      s.sql(s"""WITH pts AS ($PtsCte)
        |SELECT box.xmin AS xmin, box.ymin AS ymin, box.xmax AS xmax, box.ymax AS ymax
        |FROM (SELECT st_box_agg(st_point(lon, lat)) AS box FROM pts)""".stripMargin)
    }, Some(
      s"""WITH pts AS (${PtsCte.replace("\n", " ")})
        |SELECT min(lon) AS xmin, min(lat) AS ymin, max(lon) AS xmax,
        |  max(lat) AS ymax FROM pts""".stripMargin)),
    QuerySpec("q14_unique_types", { s =>
      s.sql("""SELECT explode(types) AS type_id FROM (
        |  SELECT st_uniquetypes_agg(st_geomfromwkt(CASE CAST(l_linenumber % 3 AS INT)
        |    WHEN 0 THEN concat('POINT (', CAST(l_orderkey % 100 AS STRING), ' 5)')
        |    WHEN 1 THEN concat('LINESTRING (0 0, ', CAST(l_orderkey % 100 AS STRING), ' 9)')
        |    ELSE concat('POINT Z (', CAST(l_orderkey % 100 AS STRING), ' 5 7)') END)) AS types
        |  FROM lineitem) ORDER BY type_id""".stripMargin)
    }, Some(
      """SELECT DISTINCT CASE CAST(l_linenumber % 3 AS INTEGER)
        |  WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 1001 END AS type_id
        |FROM lineitem ORDER BY type_id""".stripMargin)),
    QuerySpec("q15_format", { s =>
      s.sql("""SELECT l_orderkey, l_linenumber,
        |  st_format(st_point(CAST((l_orderkey * 131 + l_linenumber) % 360 - 180 AS DOUBLE) + 0.25,
        |                     CAST((l_orderkey * 37 + l_linenumber) % 170 - 85 AS DOUBLE) + 0.5), 16) AS wkt
        |FROM lineitem_par ORDER BY l_orderkey, l_linenumber""".stripMargin)
    }, Some(
      """SELECT l_orderkey, l_linenumber,
        |  'POINT (' || CAST(CAST((l_orderkey * 131 + l_linenumber) % 360 - 180 AS DOUBLE) + 0.25 AS VARCHAR)
        |  || ' ' || CAST(CAST((l_orderkey * 37 + l_linenumber) % 170 - 85 AS DOUBLE) + 0.5 AS VARCHAR) || ')' AS wkt
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("q16_cast_roundtrip", { s =>
      // cast legs compare as WKB (binary, cheap, bit-exact); the WKT leg
      // compares text-to-text because precision-16 printing is lossy for
      // 17-significant-digit doubles (reference semantics — the reference's
      // writer drops the 17th digit too)
      val roundTrips =
        """st_aswkb(st_casttype(st_casttype(st_point(lon, lat), 'multipoint'), 'point'))
          |      = st_aswkb(st_point(lon, lat))
          |  AND st_aswkt(st_geomfromwkb(st_aswkb(st_point(lon, lat)))) = st_aswkt(st_point(lon, lat))""".stripMargin
      // held ABOVE lineitem_par's repartition: pushdown would sink the
      // whole cast/format chain into the raw file's single scan task (r06)
      s.sql(s"""WITH pts AS (${ptsCteOn("lineitem_par_barrier")})
        |SELECT count(*) AS n FROM pts
        |WHERE $roundTrips
        |""".stripMargin)
    }, Some(
      "SELECT count(*) AS n FROM lineitem")),
    QuerySpec("q17_snap_grid", { s =>
      s.sql(s"""WITH pts AS (${ptsCteOn("lineitem_par")})
        |SELECT l_orderkey, l_linenumber,
        |  st_x(st_snaptogrid(st_point(lon, lat), 100.0)) AS sx,
        |  st_y(st_snaptogrid(st_point(lon, lat), 100.0)) AS sy
        |FROM pts ORDER BY l_orderkey, l_linenumber""".stripMargin)
    }, Some(
      s"""WITH pts AS (${PtsCte.replace("\n", " ")})
        |SELECT l_orderkey, l_linenumber, round(lon * 100.0) / 100.0 AS sx,
        |  round(lat * 100.0) / 100.0 AS sy
        |FROM pts ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("q18_native_layout", { s =>
      // native GeoArrow layout casts (SEPARATE struct-of-arrays and
      // INTERLEAVED), verified bit-exact via the WKB leg on every row
      val roundTrips =
        """st_aswkb(st_fromnative(st_tonative(st_point(lon, lat),
          |        'point', 'xy', 'separate'), 'point', 'xy', 'separate'))
          |      = st_aswkb(st_point(lon, lat))
          |  AND st_aswkb(st_fromnative(st_tonative(st_point(lon, lat),
          |        'point', 'xy', 'interleaved'), 'point', 'xy', 'interleaved'))
          |      = st_aswkb(st_point(lon, lat))""".stripMargin
      // held above the repartition — same reason as q16
      s.sql(s"""WITH pts AS (${ptsCteOn("lineitem_par_barrier")})
        |SELECT count(*) AS n FROM pts
        |WHERE $roundTrips
        |""".stripMargin)
    }, Some(
      "SELECT count(*) AS n FROM lineitem")),
    QuerySpec("q19_measures", { s =>
      // planar measures over 3-4-5 right triangles with integer coords:
      // every sum is exact (the hypotenuse sqrt(25m^2) = 5m exactly), so
      // area/perimeter/length/centroid hash-match the analytic oracle
      s.sql("""WITH tri AS (SELECT l_orderkey, l_linenumber,
        |  CAST((l_orderkey * 7 + l_linenumber) % 1000 AS DOUBLE) AS bx,
        |  CAST((l_orderkey * 11 + l_linenumber * 3) % 1000 AS DOUBLE) AS by,
        |  CAST(l_orderkey % 5 + 1 AS DOUBLE) AS m
        | FROM lineitem_par),
        |g AS (SELECT l_orderkey, l_linenumber,
        |  st_geomfromwkt(concat('POLYGON ((',
        |    CAST(bx AS STRING), ' ', CAST(by AS STRING), ', ',
        |    CAST(bx + 3 * m AS STRING), ' ', CAST(by AS STRING), ', ',
        |    CAST(bx AS STRING), ' ', CAST(by + 4 * m AS STRING), ', ',
        |    CAST(bx AS STRING), ' ', CAST(by AS STRING), '))')) AS poly,
        |  st_geomfromwkt(concat('LINESTRING (',
        |    CAST(bx AS STRING), ' ', CAST(by AS STRING), ', ',
        |    CAST(bx + 3 * m AS STRING), ' ', CAST(by + 4 * m AS STRING), ')')) AS line
        | FROM tri)
        |SELECT l_orderkey, l_linenumber,
        |  st_area(poly) AS area, st_perimeter(poly) AS perim,
        |  st_length(line) AS len,
        |  st_x(st_centroid(poly)) AS cx, st_y(st_centroid(poly)) AS cy
        |FROM g ORDER BY l_orderkey, l_linenumber""".stripMargin)
    }, Some(
      // planar measures: analytic values of the 3-4-5 triangles (all exact)
      """WITH tri AS (SELECT l_orderkey, l_linenumber,
        |  CAST((l_orderkey * 7 + l_linenumber) % 1000 AS DOUBLE) AS bx,
        |  CAST((l_orderkey * 11 + l_linenumber * 3) % 1000 AS DOUBLE) AS by,
        |  CAST(l_orderkey % 5 + 1 AS DOUBLE) AS m
        | FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  6 * m * m AS area, 12 * m AS perim, 5 * m AS len,
        |  (3 * bx + 3 * m) / 3.0 AS cx, (3 * by + 4 * m) / 3.0 AS cy
        |FROM tri ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("q62_hull_simplify", { s =>
      // convex hull over rect corners + strict-interior points (hull = the
      // rect: analytic area/perimeter/vertex count) and Douglas-Peucker on
      // 3-point zigzags whose deviation is 4m (kept, > eps=2m) on even
      // rows and m (dropped) on odd rows — all integer-coord-exact
      s.sql("""WITH t AS (SELECT l_orderkey, l_linenumber,
        |  CAST(l_orderkey % 5 + 1 AS DOUBLE) AS m,
        |  CAST((l_orderkey * 7 + l_linenumber) % 500 AS DOUBLE) AS bx,
        |  CAST((l_orderkey * 11 + l_linenumber) % 500 AS DOUBLE) AS by,
        |  CAST(l_orderkey % 7 + 4 AS DOUBLE) AS w,
        |  CAST(l_orderkey % 9 + 4 AS DOUBLE) AS h
        | FROM lineitem_par),
        |g AS (SELECT l_orderkey, l_linenumber, m,
        |  st_geomfromwkt(concat('MULTIPOINT (',
        |    bx, ' ', by, ', ', bx + w, ' ', by, ', ',
        |    bx + w, ' ', by + h, ', ', bx, ' ', by + h, ', ',
        |    bx + 1, ' ', by + 1, ', ', bx + 2, ' ', by + 1, ', ',
        |    bx + 1, ' ', by + 2, ')')) AS pts,
        |  st_geomfromwkt(concat('LINESTRING (', bx, ' ', by, ', ',
        |    bx + 3 * m, ' ',
        |    by + CASE WHEN l_linenumber % 2 = 0 THEN 4 * m ELSE m END, ', ',
        |    bx + 6 * m, ' ', by, ')')) AS line
        | FROM t)
        |SELECT l_orderkey, l_linenumber,
        |  st_area(st_convexhull(pts)) AS hull_area,
        |  st_perimeter(st_convexhull(pts)) AS hull_perim,
        |  st_npoints(st_convexhull(pts)) AS hull_np,
        |  st_npoints(st_simplify(line, 2 * m)) AS simp_np,
        |  st_length(st_simplify(line, 2 * m)) AS simp_len
        |FROM g ORDER BY l_orderkey, l_linenumber""".stripMargin)
    }, Some(
      // hull/simplify: analytic values (hull = the rect; DP keeps the bend
      // iff deviation 4m/m exceeds eps 2m; 3-4-5 lengths stay exact)
      """WITH t AS (SELECT l_orderkey, l_linenumber,
        |  CAST(l_orderkey % 5 + 1 AS DOUBLE) AS m,
        |  CAST(l_orderkey % 7 + 4 AS DOUBLE) AS w,
        |  CAST(l_orderkey % 9 + 4 AS DOUBLE) AS h
        | FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  w * h AS hull_area, 2 * (w + h) AS hull_perim,
        |  CAST(5 AS INTEGER) AS hull_np,
        |  CAST(CASE WHEN l_linenumber % 2 = 0 THEN 3 ELSE 2 END AS INTEGER) AS simp_np,
        |  CASE WHEN l_linenumber % 2 = 0 THEN 10 * m ELSE 6 * m END AS simp_len
        |FROM t ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("q69_distance", { s =>
      // general geometry-geometry distance: rect pairs with pure-horizontal
      // (3m) and corner 3-4-5 (5m) gaps, a crossing line (0), and a point
      // at an exact vertical gap — all integer-coord analytic
      s.sql("""WITH t AS (SELECT l_orderkey, l_linenumber,
        |  CAST(l_orderkey % 5 + 1 AS DOUBLE) AS m,
        |  CAST((l_orderkey * 13 + l_linenumber) % 400 AS DOUBLE) AS bx,
        |  CAST((l_orderkey * 17 + l_linenumber) % 400 AS DOUBLE) AS by
        | FROM lineitem_par),
        |g AS (SELECT l_orderkey, l_linenumber, m,
        |  st_geomfromwkt(concat('POLYGON ((', bx, ' ', by, ', ',
        |    bx + 2 * m, ' ', by, ', ', bx + 2 * m, ' ', by + 2 * m, ', ',
        |    bx, ' ', by + 2 * m, ', ', bx, ' ', by, '))')) AS ra,
        |  st_geomfromwkt(concat('POLYGON ((', bx + 5 * m, ' ',
        |    CAST(by + CASE WHEN l_linenumber % 2 = 0 THEN 0 ELSE 6 * m END AS STRING),
        |    ', ', bx + 7 * m, ' ',
        |    CAST(by + CASE WHEN l_linenumber % 2 = 0 THEN 0 ELSE 6 * m END AS STRING),
        |    ', ', bx + 7 * m, ' ',
        |    CAST(by + CASE WHEN l_linenumber % 2 = 0 THEN 2 * m ELSE 8 * m END AS STRING),
        |    ', ', bx + 5 * m, ' ',
        |    CAST(by + CASE WHEN l_linenumber % 2 = 0 THEN 2 * m ELSE 8 * m END AS STRING),
        |    ', ', bx + 5 * m, ' ',
        |    CAST(by + CASE WHEN l_linenumber % 2 = 0 THEN 0 ELSE 6 * m END AS STRING),
        |    '))')) AS rb,
        |  st_geomfromwkt(concat('LINESTRING (', bx - m, ' ', by - m, ', ',
        |    bx + 3 * m, ' ', by + 3 * m, ')')) AS ln,
        |  st_geomfromwkt(concat('POINT (', bx + m, ' ', by + 5 * m, ')')) AS pt
        | FROM t)
        |SELECT l_orderkey, l_linenumber,
        |  st_distance(ra, rb) AS d_rect,
        |  st_distance(ra, ln) AS d_line,
        |  st_distance(ra, pt) AS d_pt
        |FROM g ORDER BY l_orderkey, l_linenumber""".stripMargin)
    }, Some(
      // distance fixtures: horizontal gap 3m on even rows, 3-4-5 corner gap
      // 5m on odd rows; the diagonal line crosses rect A; the point sits 3m
      // above A's top edge
      """WITH t AS (SELECT l_orderkey, l_linenumber,
        |  CAST(l_orderkey % 5 + 1 AS DOUBLE) AS m
        | FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_linenumber % 2 = 0 THEN 3 * m ELSE 5 * m END AS d_rect,
        |  CAST(0.0 AS DOUBLE) AS d_line,
        |  3 * m AS d_pt
        |FROM t ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("q70_intersects", { s =>
      // intersects predicate: overlapping vs disjoint rect pairs by row
      // parity, an always-crossing diagonal, and an inside/outside point
      s.sql("""WITH t AS (SELECT l_orderkey, l_linenumber,
        |  CAST(l_orderkey % 5 + 1 AS DOUBLE) AS m,
        |  CAST((l_orderkey * 19 + l_linenumber) % 400 AS DOUBLE) AS bx,
        |  CAST((l_orderkey * 23 + l_linenumber) % 400 AS DOUBLE) AS by,
        |  CASE WHEN l_linenumber % 2 = 0 THEN CAST(1 AS DOUBLE)
        |       ELSE CAST(5 AS DOUBLE) END AS k
        | FROM lineitem_par),
        |g AS (SELECT l_orderkey, l_linenumber, m, k,
        |  st_geomfromwkt(concat('POLYGON ((', bx, ' ', by, ', ',
        |    bx + 2 * m, ' ', by, ', ', bx + 2 * m, ' ', by + 2 * m, ', ',
        |    bx, ' ', by + 2 * m, ', ', bx, ' ', by, '))')) AS ra,
        |  st_geomfromwkt(concat('POLYGON ((', bx + k * m, ' ', by, ', ',
        |    bx + (k + 2) * m, ' ', by, ', ', bx + (k + 2) * m, ' ', by + 2 * m, ', ',
        |    bx + k * m, ' ', by + 2 * m, ', ', bx + k * m, ' ', by, '))')) AS rb,
        |  st_geomfromwkt(concat('LINESTRING (', bx - m, ' ', by - m, ', ',
        |    bx + 3 * m, ' ', by + 3 * m, ')')) AS ln,
        |  st_geomfromwkt(concat('POINT (', bx + k * m, ' ', by + m, ')')) AS pt
        | FROM t)
        |SELECT l_orderkey, l_linenumber,
        |  st_intersects(ra, rb) AS rect_hit,
        |  st_intersects(ra, ln) AS line_hit,
        |  st_intersects(ra, pt) AS pt_hit
        |FROM g ORDER BY l_orderkey, l_linenumber""".stripMargin)
    }, Some(
      // intersects fixtures: shift k=1 overlaps / k=5 disjoint; the diagonal
      // always crosses; the point is inside exactly when k=1
      """SELECT l_orderkey, l_linenumber,
        |  l_linenumber % 2 = 0 AS rect_hit,
        |  TRUE AS line_hit,
        |  l_linenumber % 2 = 0 AS pt_hit
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    // ---- 2C cell index / tiles / joins -----------------------------
    // q20/q21 drive the cell index through st_cellidxyz (exact rational
    // sphere-direction inputs): every step — face selection, quadratic
    // cube-to-sphere, Hilbert fold, parent/range/children — is IEEE-exact
    // arithmetic that the DuckDB oracle replicates bit-for-bit (the Hilbert
    // lookup table rides along as a 1,024-constant list). The lon/lat trig
    // leg (st_cellid) can't be hash-oracled (JVM vs libm sin/cos differ by
    // ulps) and is covered by CellSpec properties + the oracled q24 join.
    QuerySpec("q20_cellid", { s =>
      s.sql(s"""WITH pts AS (${xyzCteOn("lineitem_par")}),
        |c AS (SELECT st_cellidxyz(x, y, z, 12) AS c12 FROM pts)
        |SELECT st_cellparent(c12, 4) AS cell4, count(*) AS n,
        |       count(DISTINCT c12) AS n12,
        |       min(c12) AS min12, max(c12) AS max12
        |FROM c GROUP BY cell4 ORDER BY cell4""".stripMargin)
    }, Some(Q20Oracle)),
    QuerySpec("q21_cell_nav", { s =>
      // navigation ops over the distinct level-10 cells; neighbor symmetry
      // (wrap arithmetic) stays property-tested in CellSpec
      s.sql(s"""WITH pts AS (${xyzCteOn("lineitem_par")}),
        |cells AS (SELECT DISTINCT st_cellidxyz(x, y, z, 10) AS c FROM pts)
        |SELECT c, st_celllevel(c) AS lvl,
        |  st_cellrangemin(c) AS rmin, st_cellrangemax(c) AS rmax,
        |  st_cellparent(c, 6) AS p6,
        |  CAST(CASE WHEN st_cellcontains(st_cellparent(c, 6), c)
        |       THEN 1 ELSE 0 END AS INT) AS contained,
        |  element_at(st_cellchildren(c), 1) AS ch0,
        |  element_at(st_cellchildren(c), 4) AS ch3
        |FROM cells ORDER BY c""".stripMargin)
    }, Some(Q21Oracle)),
    QuerySpec("q29_cell_neighbors", { s =>
      // edge-neighbor arithmetic oracled for face-interior cells (all four
      // neighbors share the cell's face — exactly the cells whose neighbor
      // ids need no cube-edge wrap); the wrap leg stays property-tested in
      // CellSpec. The oracle recomputes neighbors from scratch: inverse
      // Hilbert fold to (i, j), +-size steps, forward fold back.
      // same rows as the one-statement SQL form, restructured for the
      // planner (r06): the interior filter used to be pushed BELOW the
      // DISTINCT with the cell-id expression inlined (cellIdXyz ~6x and
      // cellNeighbors 1x PER INPUT ROW instead of per distinct cell). The
      // barrier holds the filter above the distinct and its neighbor
      // projection, so the neighbor array is computed once per distinct
      // cell and read by both the filter and the explode.
      val cells = s.sql(s"""WITH pts AS (${xyzCteOn("lineitem_par")})
        |SELECT DISTINCT st_cellidxyz(x, y, z, 8) AS c FROM pts""".stripMargin)
      Barrier(cells
          .select(col("c"), call_function("st_cellneighbors", col("c")).as("__n")))
        .filter(expr("forall(__n, n -> shiftrightunsigned(n, 61) = " +
          "shiftrightunsigned(c, 61))"))
        .select(col("c"), posexplode(col("__n")))
        .select(col("c"), col("pos").cast("int").as("idx"),
          col("col").as("nbr"))
        .orderBy("c", "idx")
    }, Some(Q29Oracle)),
    QuerySpec("q22_tile_assign", { s =>
      s.sql(s"""WITH pts AS ($PtsCte)
        |SELECT st_tilex(st_tilezxy(lon, lat, 8)) AS tx,
        |       st_tiley(st_tilezxy(lon, lat, 8)) AS ty,
        |       count(*) AS n
        |FROM pts GROUP BY 1, 2 ORDER BY tx, ty""".stripMargin)
    }, Some(
      s"""WITH pts AS (${PtsCte.replace("\n", " ")})
        |SELECT CAST(floor((lon + 180.0) / 360.0 * 256) AS INTEGER) AS tx,
        |  CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * 256) AS INTEGER) AS ty,
        |  count(*) AS n
        |FROM pts GROUP BY 1, 2 ORDER BY tx, ty""".stripMargin)),
    QuerySpec("q23_pip_rect", { s =>
      val pts = s.sql(ptsCteOn("lineitem_par"))
      val rects = s.sql(s"""SELECT n_nationkey, st_geomfromwkt(concat(
        |  'POLYGON ((', CAST(xmin AS STRING), ' ', CAST(ymin AS STRING),
        |  ', ', CAST(xmin + 20.0 AS STRING), ' ', CAST(ymin AS STRING),
        |  ', ', CAST(xmin + 20.0 AS STRING), ' ', CAST(ymin + 25.0 AS STRING),
        |  ', ', CAST(xmin AS STRING), ' ', CAST(ymin + 25.0 AS STRING),
        |  ', ', CAST(xmin AS STRING), ' ', CAST(ymin AS STRING), '))')) AS poly
        |FROM ($RectsCte)""".stripMargin)
      SpatialJoins.pipJoin(pts, rects, "poly", "lon", "lat", zoom = 5)
        .groupBy(col("n_nationkey"))
        .agg(count(lit(1)).as("n_points"))
        .orderBy("n_nationkey")
    }, Some(
      s"""WITH pts AS (${PtsCte.replace("\n", " ")}),
        |rects AS (${RectsCte.replace("\n", " ")})
        |SELECT n_nationkey, count(*) AS n_points
        |FROM rects JOIN pts ON lon > xmin AND lon < xmin + 20.0
        |  AND lat > ymin AND lat < ymin + 25.0
        |GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin)),
    QuerySpec("q24_pip_triangle", { s =>
      val pts = s.sql(ptsCteOn("lineitem_par"))
      val tris = s.sql(s"""SELECT n_nationkey, st_geomfromwkt(concat(
        |  'POLYGON ((', CAST(ax AS STRING), ' ', CAST(ay AS STRING),
        |  ', ', CAST(ax + 17.0000117 AS STRING), ' ', CAST(ay + 3.0000119 AS STRING),
        |  ', ', CAST(ax + 6.0000177 AS STRING), ' ', CAST(ay + 13.0000191 AS STRING),
        |  ', ', CAST(ax AS STRING), ' ', CAST(ay AS STRING), '))')) AS poly
        |FROM ($TrisCte)""".stripMargin)
      SpatialJoins.pipJoinCells(pts, tris, "poly", "lon", "lat", level = 7)
        .groupBy(col("n_nationkey"))
        .agg(count(lit(1)).as("n_points"))
        .orderBy("n_nationkey")
    }, Some(
      s"""WITH pts AS (${PtsCte.replace("\n", " ")}),
        |tris AS (${TrisCte.replace("\n", " ")})
        |SELECT n_nationkey, count(*) AS n_points
        |FROM tris JOIN pts ON
        |      (ax + 17.0000117 - ax) * (lat - ay) - (ay + 3.0000119 - ay) * (lon - ax) > 0
        |  AND (ax + 6.0000177 - (ax + 17.0000117)) * (lat - (ay + 3.0000119))
        |      - (ay + 13.0000191 - (ay + 3.0000119)) * (lon - (ax + 17.0000117)) > 0
        |  AND (ax - (ax + 6.0000177)) * (lat - (ay + 13.0000191))
        |      - (ay - (ay + 13.0000191)) * (lon - (ax + 6.0000177)) > 0
        |GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin)),
    QuerySpec("q25_knn", { s =>
      val pts = s.sql(ptsCteOn("lineitem_par"))
      // queries as a DataFrame (same arithmetic as the oracle's nation CTE)
      // through the fully distributed ring-expansion join — no driver loop
      val queries = s.table("nation").select(
        col("n_nationkey").cast("long").as("qid"),
        (col("n_nationkey").cast("double") * 13.7 - 160.0).as("qlon"),
        ((col("n_nationkey").cast("double") * 7.3) % 140.0 - 70.0).as("qlat"))
      Knn.knnJoin(pts, queries, k = 5, res = 4.0,
          tieCols = Seq("l_orderkey", "l_linenumber"))
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("l_orderkey"), col("l_linenumber"), col("dist2"))
        .orderBy("qid", "rank")
    }, Some(
      s"""WITH pts AS (${PtsCte.replace("\n", " ")}),
        |q AS (SELECT CAST(n_nationkey AS BIGINT) AS qid,
        |  CAST(n_nationkey AS DOUBLE) * 13.7 - 160.0 AS qlon,
        |  (CAST(n_nationkey AS DOUBLE) * 7.3) % 140.0 - 70.0 AS qlat FROM nation),
        |dists AS (SELECT qid, l_orderkey, l_linenumber,
        |  (lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat) AS dist2
        |  FROM q CROSS JOIN pts)
        |SELECT qid, rank, l_orderkey, l_linenumber, dist2 FROM (
        |  SELECT qid, l_orderkey, l_linenumber, dist2, row_number() OVER (
        |    PARTITION BY qid ORDER BY dist2, l_orderkey, l_linenumber) AS rank
        |  FROM dists) WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),
    QuerySpec("q28_distance_join", { s =>
      val pts = s.sql(ptsCteOn("lineitem_par"))
      // queries sit near real points (binary-fraction offsets keep doubles
      // exact on both engines), so every query has in-radius matches
      val queries = pts.filter(col("l_linenumber") === 1)
        .orderBy("l_orderkey").limit(25)
        .select(col("l_orderkey").cast("long").as("qid"),
          (col("lon") + 0.125).as("qlon"), (col("lat") - 0.25).as("qlat"))
      SpatialJoins.withinDistanceJoin(pts, queries, radius = 2.0)
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_within"), min("dist2").as("min_d2"))
        .orderBy("qid")
    }, Some(
      s"""WITH pts AS (${PtsCte.replace("\n", " ")}),
        |q AS (SELECT CAST(l_orderkey AS BIGINT) AS qid,
        |  lon + 0.125 AS qlon, lat - 0.25 AS qlat
        |  FROM pts WHERE l_linenumber = 1 ORDER BY l_orderkey LIMIT 25)
        |SELECT qid, count(*) AS n_within, min(d2) AS min_d2 FROM (
        |  SELECT qid, (lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat) AS d2
        |  FROM q CROSS JOIN pts)
        |WHERE d2 <= 2.0 * 2.0
        |GROUP BY qid ORDER BY qid""".stripMargin)),
    QuerySpec("q58_dwithin_rewrite", { s =>
      // the naive formulation a user would write — just the st_dwithinxy
      // predicate, no join keys. SpatialJoinRewrite turns it into the grid
      // equi-join (same plan as q28's hand-built path); the oracle is the
      // brute-force distance filter
      val pts = s.sql(ptsCteOn("lineitem_par"))
      val queries = pts.filter(col("l_linenumber") === 1)
        .orderBy("l_orderkey").limit(25)
        .select(col("l_orderkey").cast("long").as("qid"),
          (col("lon") + 0.125).as("qlon"), (col("lat") - 0.25).as("qlat"))
      pts.join(queries, call_function("st_dwithinxy",
          col("lon"), col("lat"), col("qlon"), col("qlat"), lit(2.0)))
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_within"),
          min((col("lon") - col("qlon")) * (col("lon") - col("qlon")) +
            (col("lat") - col("qlat")) * (col("lat") - col("qlat"))).as("min_d2"))
        .orderBy("qid")
    }, Some(
      // same ground truth as q28: the rewrite must not change results
      s"""WITH pts AS (${PtsCte.replace("\n", " ")}),
        |q AS (SELECT CAST(l_orderkey AS BIGINT) AS qid,
        |  lon + 0.125 AS qlon, lat - 0.25 AS qlat
        |  FROM pts WHERE l_linenumber = 1 ORDER BY l_orderkey LIMIT 25)
        |SELECT qid, count(*) AS n_within, min(d2) AS min_d2 FROM (
        |  SELECT qid, (lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat) AS d2
        |  FROM q CROSS JOIN pts)
        |WHERE d2 <= 2.0 * 2.0
        |GROUP BY qid ORDER BY qid""".stripMargin)),
    QuerySpec("q26_salted_agg", { s =>
      // skew-safe two-phase count by tile (salt -> partial -> final);
      // results identical to a plain group-by, which is the oracle
      val pts = s.sql(ptsCteOn("lineitem_par"))
        .withColumn("tile", call_function("st_tilezxy",
          col("lon"), col("lat"), lit(6)))
      SpatialJoins.saltedCountByKey(pts, "tile", salt = 16)
        .select(call_function("st_tilex", col("tile")).as("tx"),
          call_function("st_tiley", col("tile")).as("ty"), col("cnt"))
        .orderBy("tx", "ty")
    }, Some(
      s"""WITH pts AS (${PtsCte.replace("\n", " ")})
        |SELECT CAST(floor((lon + 180.0) / 360.0 * 64) AS INTEGER) AS tx,
        |  CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * 64) AS INTEGER) AS ty,
        |  count(*) AS cnt
        |FROM pts GROUP BY 1, 2 ORDER BY tx, ty""".stripMargin)),
    QuerySpec("q27_adaptive_cells", { s =>
      // adaptive hot-cell split: total row count is invariant (oracle);
      // distribution shifts to finer cells for hot keys
      val pts = s.sql(ptsCteOn("lineitem_par"))
      val split = graft.operators.AdaptiveCells.splitHotCells(
        pts, "lon", "lat", baseLevel = 4, fineLevel = 8, threshold = 2000)
      split.agg(count(lit(1)).as("n"),
        countDistinct(col("cell")).as("n_cells"))
        .select(col("n"))
    }, Some(
      "SELECT count(*) AS n FROM lineitem")),
    // ---- training-data ops: dedup ----------------------------------
    QuerySpec("q30_dedup_exact", { s =>
      Dedup.exactGroups(s.table("documents_par"), "text", "doc_id")
        .select(col("doc_id"), col("dup_rep"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS dup_rep
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec("q31_minhash_neardup", { s =>
      Dedup.minhashNearDups(plantedNearDups(s), "text", "doc_id",
          shingle = 3, k = 32, bandRows = 4, threshold = 0.6)
        .orderBy("id_a", "id_b")
    }, Some(minhashOracle(64))),
    QuerySpec("q32_simhash_neardup", { s =>
      Dedup.simhashNearDups(plantedNearDups(s), "text", "doc_id", maxHamming = 6)
        .orderBy("id_a", "id_b")
    }, Some(SimhashOracle)),
    QuerySpec("q33_ngram_jaccard", { s =>
      val planted = plantedNearDups(s)
      planted.as("a").join(planted.as("b"),
          col("b.doc_id") === col("a.doc_id") + 10000)
        .select(col("a.doc_id").as("doc_id"),
          call_function("ngram_jaccard", col("a.text"), col("b.text"), lit(3))
            .as("jaccard"))
        .orderBy("doc_id")
    }, Some(
      // word-3-gram Jaccard over STRING shingles — equal to the engine's
      // hashed-shingle Jaccard (splitmix64 collisions are ~0 at this scale,
      // and intersection/union counts are integers, so doubles are bit-equal)
      """WITH base AS (SELECT doc_id, text FROM documents),
        |mut AS (SELECT doc_id, array_to_string(
        |  (string_split(text, ' '))[1:greatest(len(string_split(text, ' ')) - 8, 1)], ' ') AS mtext
        |  FROM base),
        |pairs AS (SELECT b.doc_id, b.text AS ta, m.mtext AS tb
        |  FROM base b JOIN mut m ON m.doc_id = b.doc_id),
        |sh AS (SELECT doc_id,
        |  (SELECT list_distinct([array_to_string(ws[i:i+2], ' ')
        |     FOR i IN generate_series(1, greatest(len(ws) - 2, 1))])
        |   FROM (SELECT string_split(ta, ' ') AS ws)) AS sa,
        |  (SELECT list_distinct([array_to_string(ws[i:i+2], ' ')
        |     FOR i IN generate_series(1, greatest(len(ws) - 2, 1))])
        |   FROM (SELECT string_split(tb, ' ') AS ws)) AS sb
        |  FROM pairs)
        |SELECT doc_id,
        |  CASE WHEN len(sa) = 0 AND len(sb) = 0 THEN 1.0
        |       WHEN len(sa) = 0 OR len(sb) = 0 THEN 0.0
        |       ELSE CAST(len(list_intersect(sa, sb)) AS DOUBLE)
        |            / (len(sa) + len(sb) - len(list_intersect(sa, sb)))
        |  END AS jaccard
        |FROM sh ORDER BY doc_id""".stripMargin)),
    // ---- training-data ops: text analysis --------------------------
    QuerySpec("q34_token_count", { s =>
      s.sql("""SELECT doc_id, token_count(text) AS tc FROM documents
        |ORDER BY doc_id""".stripMargin)
    }, Some(
      """SELECT doc_id, CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INTEGER) AS tc
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec("q35_quality", { s =>
      s.sql("""SELECT doc_id, q.n_chars AS n_chars, q.n_words AS n_words,
        |  q.avg_word_len AS avg_word_len
        |FROM (SELECT doc_id, quality_stats(text) AS q FROM documents)
        |ORDER BY doc_id""".stripMargin)
    }, Some(
      """SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INTEGER) AS n_words,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |    / (length(text) - length(replace(text, ' ', '')) + 1) AS avg_word_len
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec("q36_langid", { s =>
      s.sql("""SELECT doc_id, lang, lang_id(text) AS predicted,
        |  quality_score(text) AS score
        |FROM documents_par ORDER BY doc_id""".stripMargin)
    }, Some(
      // replicates the engine's langid heuristic (CJK codepoint share, then
      // earliest max-marker-hit language) and quality score formula exactly;
      // verified bit-equal per row against the kernel output
      """WITH q AS (
        |  SELECT doc_id, lang, text,
        |    length(text) AS n,
        |    length(text) - length(replace(text, ' ', '')) AS spaces,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INTEGER) AS words,
        |    string_split(text, ' ') AS sws,
        |    regexp_split_to_array(lower(text), '[^\p{L}]+') AS lws,
        |    len(regexp_extract_all(substr(text, 1, 2000), '\p{L}')) AS total_letters,
        |    len(regexp_extract_all(substr(text, 1, 2000),
        |      '[一-鿿぀-ヿㇰ-ㇿ가-힯ᄀ-ᇿ㄰-㆏]')) AS cjk
        |  FROM documents),
        |h AS (
        |  SELECT *,
        |    len(list_filter(lws[1:500], w -> list_contains(['the','and','of','to','is','in','that','it','was','for'], w))) AS h_en,
        |    len(list_filter(lws[1:500], w -> list_contains(['der','die','das','und','ist','nicht','ein','mit','auf','zu'], w))) AS h_de,
        |    len(list_filter(lws[1:500], w -> list_contains(['le','la','les','et','est','une','pas','pour','que','dans'], w))) AS h_fr,
        |    len(list_filter(lws[1:500], w -> list_contains(['el','la','los','las','es','una','no','para','que','con'], w))) AS h_es,
        |    len(list_filter(lws[1:500], w -> list_contains(['il','la','che','e','di','non','una','per','sono','con'], w))) AS h_it,
        |    len(list_filter(sws, w -> list_contains(['a','an','the','and','or','of','to','in','is','it','for','on','with','as','at','by','be','this','that','from'], w))) AS stop
        |  FROM q),
        |p AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN total_letters > 0 AND cjk * 2 > total_letters THEN 'zh'
        |         WHEN greatest(h_en, h_de, h_fr, h_es, h_it) = 0 THEN 'und'
        |         WHEN h_en = greatest(h_en, h_de, h_fr, h_es, h_it) THEN 'en'
        |         WHEN h_de = greatest(h_en, h_de, h_fr, h_es, h_it) THEN 'de'
        |         WHEN h_fr = greatest(h_en, h_de, h_fr, h_es, h_it) THEN 'fr'
        |         WHEN h_es = greatest(h_en, h_de, h_fr, h_es, h_it) THEN 'es'
        |         ELSE 'it' END AS predicted,
        |    (least(1.0, n / 200.0) * (CASE WHEN n > 20000 THEN 0.5 ELSE 1.0 END)
        |     + (CASE WHEN (n - spaces) / greatest(words, 1) >= 2
        |              AND (n - spaces) / greatest(words, 1) <= 12 THEN 1.0 ELSE 0.5 END)
        |     + least(1.0, (stop / greatest(words, 1)) * 4)) / 3.0 AS score
        |  FROM h)
        |SELECT doc_id, lang, predicted, score FROM p ORDER BY doc_id""".stripMargin)),
    QuerySpec("q37_fingerprint", { s =>
      s.sql("""SELECT doc_id, doc_fingerprint(text, 8, 16) AS fp,
        |  simhash(text) AS sh FROM documents_par ORDER BY doc_id""".stripMargin)
    }, Some(FingerprintOracle)),
    QuerySpec("q38_boilerplate", { s =>
      // word-level separator on the synthetic docs: tokens present in
      // >=400 of the documents are "boilerplate lines" to strip
      Dedup.dropBoilerplateLines(s.table("documents")
          .select(col("doc_id"), col("text")), "text", "doc_id",
          sep = " ", minDocFreq = 400L)
        .select(col("doc_id"), col("text").as("cleaned"))
        .orderBy("doc_id")
    }, Some(
      // coalesce: a fully-boilerplate document cleans to '' (the
      // operator's contract); DuckDB's array_to_string of an empty list
      // is NULL — only visible at SFs where some doc is 100% hot lines
      """WITH lines AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS line
        |  FROM documents),
        |hot AS (SELECT line FROM lines GROUP BY line HAVING count(*) >= 400),
        |h AS (SELECT coalesce(list(line), []) AS hl FROM hot)
        |SELECT doc_id, coalesce(array_to_string(
        |  list_filter(string_split(text, ' '), w -> NOT list_contains(h.hl, w)),
        |  ' '), '') AS cleaned
        |FROM documents, h ORDER BY doc_id""".stripMargin)),
    QuerySpec("q47_img_meta", { s =>
      // real PNG + JPEG headers constructed in SQL (hex), decoded by the
      // img_meta kernel — dimensions oracled against the generating ints
      s.sql("""SELECT doc_id, m_png.decoded_w AS png_w, m_png.decoded_h AS png_h,
        |  m_png.detected_fmt AS png_fmt,
        |  m_jpg.decoded_w AS jpg_w, m_jpg.decoded_h AS jpg_h,
        |  m_jpg.detected_fmt AS jpg_fmt,
        |  img_meta(CAST(concat('not an image ', CAST(doc_id AS STRING)) AS BINARY)).detected_fmt AS other_fmt
        |FROM (
        |  SELECT doc_id,
        |    img_meta(unhex(concat('89504E470D0A1A0A0000000D49484452',
        |      lpad(hex(CAST(doc_id % 4096 + 1 AS INT)), 8, '0'),
        |      lpad(hex(CAST(doc_id % 2048 + 7 AS INT)), 8, '0')))) AS m_png,
        |    img_meta(unhex(concat('FFD8FFC0000B08',
        |      lpad(hex(CAST(doc_id % 1024 + 3 AS INT)), 4, '0'),
        |      lpad(hex(CAST(doc_id % 512 + 5 AS INT)), 4, '0'), '01'))) AS m_jpg
        |  FROM documents_par)
        |ORDER BY doc_id""".stripMargin)
    }, Some(
      """SELECT doc_id,
        |  CAST(doc_id % 4096 + 1 AS INTEGER) AS png_w,
        |  CAST(doc_id % 2048 + 7 AS INTEGER) AS png_h,
        |  'png' AS png_fmt,
        |  CAST(doc_id % 512 + 5 AS INTEGER) AS jpg_w,
        |  CAST(doc_id % 1024 + 3 AS INTEGER) AS jpg_h,
        |  'jpeg' AS jpg_fmt,
        |  'unknown' AS other_fmt
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec("q48_img_features", { s =>
      // REAL pixel decode (javax.imageio): two-band PNGs synthesized per
      // row — h a multiple of 4 so the color boundary aligns with the 4x4
      // pooling grid and every cell is single-color, making the pooled
      // means analytically oracle-able (integer-sum-then-one-division
      // arithmetic in img_features is correctly rounded on both engines)
      s.sql("""SELECT doc_id, CAST(pos AS INT) AS idx, feat FROM (
        |  SELECT doc_id, posexplode(img_features(make_png(
        |    CAST(doc_id % 13 + 4 AS INT), CAST((doc_id % 8 + 1) * 4 AS INT),
        |    CAST(doc_id % 256 AS INT), CAST((doc_id * 7) % 256 AS INT),
        |    CAST((doc_id * 13) % 256 AS INT), CAST((doc_id * 3) % 256 AS INT),
        |    CAST((doc_id * 11) % 256 AS INT), CAST((doc_id * 17) % 256 AS INT)),
        |    16)) AS (pos, feat)
        |  FROM documents_par)
        |ORDER BY doc_id, idx""".stripMargin)
    }, Some(
      // img_features over solid-banded PNGs: every 4x4 pooling cell is
      // single-color, so the pooled mean is analytically (299r+587g+114b)
      // / 255000 — both engines compute one correctly-rounded double
      // division of the same exact rational, then one double->float cast
      """SELECT d.doc_id, CAST(g.range AS INTEGER) AS idx,
        |  CAST(CASE WHEN g.range < 8
        |    THEN CAST((d.doc_id % 256) * 299 + ((d.doc_id * 7) % 256) * 587
        |         + ((d.doc_id * 13) % 256) * 114 AS DOUBLE) / 255000.0
        |    ELSE CAST(((d.doc_id * 3) % 256) * 299 + ((d.doc_id * 11) % 256) * 587
        |         + ((d.doc_id * 17) % 256) * 114 AS DOUBLE) / 255000.0
        |    END AS FLOAT) AS feat
        |FROM documents d CROSS JOIN range(0, 16) g
        |ORDER BY doc_id, idx""".stripMargin)),
    QuerySpec("q49_audio", { s =>
      // REAL RIFF/WAVE decode: per-row PCM16 WAVs synthesized by make_wav
      // (sample i = ((a*i+b) mod 65536) - 32768), then wav_meta chunk-walk
      // + audio_features windowed mean-amplitude — integer-sum-then-one-
      // division arithmetic, so the oracle replicates it exactly
      s.sql("""WITH p AS (SELECT doc_id,
        |  CAST(doc_id % 50 + 40 AS INT) AS n,
        |  CAST(8000 + doc_id % 100 AS INT) AS rate,
        |  CAST(doc_id % 3 + 1 AS INT) AS ch,
        |  CAST(doc_id % 1000 + 1 AS INT) AS a,
        |  CAST(doc_id % 7777 AS INT) AS b
        | FROM documents_par),
        |w AS (SELECT doc_id,
        |  wav_meta(make_wav(n, rate, ch, a, b)) AS m,
        |  audio_features(make_wav(n, rate, ch, a, b), 8) AS f
        | FROM p)
        |SELECT doc_id, m.channels AS channels, m.sample_rate AS sample_rate,
        |  m.bits AS bits, m.n_frames AS n_frames, m.detected_fmt AS fmt,
        |  CAST(pos AS INT) AS idx, feat
        |FROM w LATERAL VIEW posexplode(f) AS pos, feat
        |ORDER BY doc_id, idx""".stripMargin)
    }, Some(
      // audio features over synthetic PCM16: the sample generator and the
      // windowed mean-amplitude are plain modular-integer arithmetic — the
      // oracle regenerates every sample and reduces it the same way (one
      // correctly-rounded division per window, then double->float)
      """WITH p AS (SELECT doc_id,
        |  doc_id % 50 + 40 AS n, 8000 + doc_id % 100 AS rate,
        |  doc_id % 3 + 1 AS ch, doc_id % 1000 + 1 AS a, doc_id % 7777 AS b
        | FROM documents),
        |s AS (SELECT doc_id, n, rate, ch, a, b,
        |  unnest(generate_series(0, n - 1)) AS i FROM p),
        |amp AS (SELECT doc_id, n, rate, ch,
        |  abs(((a * i + b) % 65536) - 32768) AS amp,
        |  LEAST(7, i * 8 // n) AS w
        | FROM s)
        |SELECT doc_id, CAST(ch AS INTEGER) AS channels,
        |  CAST(rate AS INTEGER) AS sample_rate, CAST(16 AS INTEGER) AS bits,
        |  CAST(n AS INTEGER) AS n_frames, 'wav' AS fmt,
        |  CAST(w AS INTEGER) AS idx,
        |  CAST(CAST(sum(amp) AS DOUBLE) / (32768.0 * count(*)) AS FLOAT) AS feat
        |FROM amp GROUP BY doc_id, ch, rate, n, w
        |ORDER BY doc_id, idx""".stripMargin)),
    QuerySpec("q46_det_sample", { s =>
      val sampled = graft.operators.Sampling.deterministicSample(
        s.table("documents_par"), "doc_id", numerator = 2, denominator = 5,
        seed = 42L)
      graft.operators.Sampling.withSplit(sampled, "doc_id", seed = 7L,
          weights = Seq("train" -> 8, "val" -> 1, "test" -> 1))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }, Some(
      // splitmix64 replicated exactly in SQL: 64-bit wraparound adds/muls via
      // HUGEINT with 32-bit split multiplication, xor/shifts on UBIGINT,
      // then signed pmod like Spark's
      """WITH sm AS (
        |  SELECT doc_id, xin,
        |    CAST(CAST(xor(z3, z3 >> 31) AS HUGEINT)
        |      - CASE WHEN xor(z3, z3 >> 31) >= 9223372036854775808
        |             THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END AS BIGINT) AS h
        |  FROM (
        |    SELECT doc_id, xin,
        |      CAST(((CAST(xor(z2, z2 >> 27) AS HUGEINT) % 4294967296) * 10723151780598845931
        |        + (((CAST(xor(z2, z2 >> 27) AS HUGEINT) // 4294967296) * 10723151780598845931) % 4294967296) * 4294967296)
        |        % 18446744073709551616 AS UBIGINT) AS z3
        |    FROM (
        |      SELECT doc_id, xin,
        |        CAST(((CAST(xor(z1, z1 >> 30) AS HUGEINT) % 4294967296) * 13787848793156543929
        |          + (((CAST(xor(z1, z1 >> 30) AS HUGEINT) // 4294967296) * 13787848793156543929) % 4294967296) * 4294967296)
        |          % 18446744073709551616 AS UBIGINT) AS z2
        |      FROM (
        |        SELECT doc_id, xin,
        |          CAST((CAST(xin AS HUGEINT) + 11400714819323198485
        |            + CASE WHEN xin < 0 THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END)
        |            % 18446744073709551616 AS UBIGINT) AS z1
        |        FROM (SELECT doc_id, xor(doc_id, 42) AS xin FROM documents))))),
        |sm7 AS (
        |  SELECT doc_id, xin,
        |    CAST(CAST(xor(z3, z3 >> 31) AS HUGEINT)
        |      - CASE WHEN xor(z3, z3 >> 31) >= 9223372036854775808
        |             THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END AS BIGINT) AS h
        |  FROM (
        |    SELECT doc_id, xin,
        |      CAST(((CAST(xor(z2, z2 >> 27) AS HUGEINT) % 4294967296) * 10723151780598845931
        |        + (((CAST(xor(z2, z2 >> 27) AS HUGEINT) // 4294967296) * 10723151780598845931) % 4294967296) * 4294967296)
        |        % 18446744073709551616 AS UBIGINT) AS z3
        |    FROM (
        |      SELECT doc_id, xin,
        |        CAST(((CAST(xor(z1, z1 >> 30) AS HUGEINT) % 4294967296) * 13787848793156543929
        |          + (((CAST(xor(z1, z1 >> 30) AS HUGEINT) // 4294967296) * 13787848793156543929) % 4294967296) * 4294967296)
        |          % 18446744073709551616 AS UBIGINT) AS z2
        |      FROM (
        |        SELECT doc_id, xin,
        |          CAST((CAST(xin AS HUGEINT) + 11400714819323198485
        |            + CASE WHEN xin < 0 THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END)
        |            % 18446744073709551616 AS UBIGINT) AS z1
        |        FROM (SELECT doc_id, xor(doc_id, 7) AS xin FROM documents))))),
        |sampled AS (SELECT doc_id FROM sm WHERE ((h % 5) + 5) % 5 < 2),
        |labeled AS (
        |  SELECT s.doc_id,
        |    CASE WHEN ((m.h % 10) + 10) % 10 < 8 THEN 'train'
        |         WHEN ((m.h % 10) + 10) % 10 < 9 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM sampled s JOIN sm7 m ON m.doc_id = s.doc_id)
        |SELECT doc_id, split FROM labeled ORDER BY doc_id""".stripMargin)),
    QuerySpec("q63_per_key_sample", { s =>
      // stratified sampling: 15 docs per (lang, source) by md5(id) order —
      // md5 is engine-identical, so the oracle reproduces the exact subset
      val df = s.table("documents")
        .withColumn("stratum", concat(col("lang"), lit("/"), col("source")))
      graft.operators.Sampling.perKeySample(df, "stratum", "doc_id", k = 15)
        .select(col("stratum"), col("sample_rank").cast("long").as("sample_rank"),
          col("doc_id"))
        .orderBy("stratum", "sample_rank")
    }, Some(
      // stratified sample: md5 hex is identical across engines, so the
      // per-stratum rank order (and thus the chosen subset) matches exactly
      """SELECT stratum, sample_rank, doc_id FROM (
        |  SELECT lang || '/' || source AS stratum, doc_id,
        |    row_number() OVER (PARTITION BY lang || '/' || source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 15 ORDER BY stratum, sample_rank""".stripMargin)),
    QuerySpec("q68_cms_sketch", { s =>
      // count-min per-user frequency estimates vs exact counts: integer
      // counters, so the oracle rebuilds the whole sketch exactly
      s.sql("""WITH s AS (SELECT cms_sketch(user_id, 4, 1024) AS sk FROM events),
        |exact AS (SELECT user_id, count(*) AS exact_n FROM events
        |          GROUP BY user_id)
        |SELECT e.user_id, cms_query(s.sk, e.user_id, 4, 1024) AS est,
        |  e.exact_n
        |FROM exact e CROSS JOIN s
        |ORDER BY e.user_id""".stripMargin)
    }, Some(CmsOracle)),
    QuerySpec("q67_hll_sketch", { s =>
      // custom HLL aggregate: the oracle rebuilds every register from the
      // splitmix64 replica and folds the harmonic sum in the same fixed
      // order — estimate, register checksum, and zero count all bit-exact
      s.sql("""SELECT s.estimate AS est, s.reg_checksum AS reg_checksum,
        |  s.zero_regs AS zero_regs, n_exact
        |FROM (SELECT hll_sketch(event_id, 8) AS s,
        |  count(DISTINCT event_id) AS n_exact FROM events)""".stripMargin)
    }, Some(HllOracle)),
    QuerySpec("q71_decontam", { s =>
      // test-set decontamination: docs sharing any word 8-gram with the
      // benchmark slice (doc_id % 97 == 0); md5 gram keys are
      // engine-identical, so the flag set matches the oracle exactly.
      // The corpus side is ALL documents — the benchmark docs themselves
      // included — so the verbatim-leak case plants guaranteed overlap at
      // EVERY sf (round-3 verdict: the disjoint-slice variant matched 0
      // rows at sf0.1, a vacuously-green gate). A flagged benchmark doc is
      // exactly what decontamination exists to catch: the eval set leaked
      // into the training corpus verbatim.
      val docs = s.table("documents")
      // corpus side parallelized (r06): 8-gram md5 explode is the per-row
      // cost and the raw scan is one task
      graft.operators.Dedup.decontaminate(
          par(docs),
          docs.filter(col("doc_id") % 97 === 0),
          "text", "doc_id", n = 8)
        .orderBy("doc_id")
    }, Some(
      // decontamination ground truth: same split/slide/md5 gram pipeline;
      // corpus = ALL docs (benchmark docs flag themselves — the planted
      // verbatim-leak overlap that keeps this gate non-vacuous at every sf)
      """WITH g AS (
        |  SELECT DISTINCT doc_id,
        |    md5(array_to_string(t[i + 1:i + 8], ' ')) AS gram
        |  FROM (
        |    SELECT doc_id, t, unnest(generate_series(0, len(t) - 8)) AS i
        |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |    WHERE len(t) >= 8)),
        |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
        |SELECT g.doc_id, count(*) AS n_shared
        |FROM g JOIN b ON b.gram = g.gram
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin)),
    QuerySpec("q66_asof_join", { s =>
      // as-of join: each non-error event picks up the latest prior (or
      // simultaneous) error of the same user — oracled against DuckDB's
      // NATIVE ASOF JOIN, so the union-window composition must reproduce
      // the reference semantics exactly (inclusive match, left rows with
      // no prior error -> null)
      val events = s.table("events")
      val errors = events.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"),
          col("event_id").as("err_event_id"))
      val lft = events.filter(col("event_type") =!= "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.operators.AsOf.asofJoin(lft, errors, "user_id", "ts",
          "err_event_id")
        .orderBy("event_id")
    }, Some(
      // as-of ground truth: DuckDB's native ASOF JOIN (inclusive >=)
      """WITH err AS (
        |  SELECT user_id, ts, event_id AS err_event_id,
        |    row_number() OVER (PARTITION BY user_id, ts
        |      ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_type = 'error'),
        |e1 AS (SELECT user_id, ts, err_event_id FROM err WHERE rn = 1),
        |lft AS (SELECT event_id, user_id, ts FROM events
        |        WHERE event_type != 'error')
        |SELECT l.event_id, l.user_id, l.ts AS ts, e.err_event_id
        |FROM lft l ASOF LEFT JOIN e1 e
        |  ON l.user_id = e.user_id AND l.ts >= e.ts
        |ORDER BY l.event_id""".stripMargin)),
    QuerySpec("q80_geojson", { s =>
      // GeoJSON codec (RFC 7946): serialize the fractional point layer
      // (DoubleFormat numbers — DuckDB's double->VARCHAR parity, as q15
      // proves for WKT) and parse the same JSON back to coordinates
      s.sql("""WITH p AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST((l_orderkey * 131 + l_linenumber) % 360 - 180 AS DOUBLE) + 0.25 AS x,
        |    CAST((l_orderkey * 37 + l_linenumber) % 170 - 85 AS DOUBLE) + 0.5 AS y
        |  FROM lineitem_par),
        |g AS (SELECT l_orderkey, l_linenumber, x, y,
        |  st_asgeojson(st_point(x, y)) AS gj FROM p)
        |SELECT l_orderkey, l_linenumber, gj,
        |  st_x(st_geomfromgeojson(gj)) AS px,
        |  st_y(st_geomfromgeojson(gj)) AS py
        |FROM g ORDER BY l_orderkey, l_linenumber""".stripMargin)
    }, Some(
      // GeoJSON: string-construct the exact serialization, echo the parse
      """WITH p AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST((l_orderkey * 131 + l_linenumber) % 360 - 180 AS DOUBLE) + 0.25 AS x,
        |    CAST((l_orderkey * 37 + l_linenumber) % 170 - 85 AS DOUBLE) + 0.5 AS y
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  '{"type":"Point","coordinates":[' || CAST(x AS VARCHAR) || ','
        |    || CAST(y AS VARCHAR) || ']}' AS gj,
        |  x AS px, y AS py
        |FROM p ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("q87_ann_projected", { s =>
      // projection-pruned ANN: 16-d JL candidates (k*rerank per query),
      // exact full-dim rerank — the whole two-phase pipeline replicated
      // in the oracle bit-for-bit (projection + both cosine stages)
      val corpus = s.table("embeddings")
      val queries = s.table("embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.projectedTopK(corpus, queries, "embedding", "vec_id", "qid",
          "qvec", k = 3, projDim = 16, rerank = 4, seed = 11L)
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("vec_id"), col("cos"))
        .orderBy("qid", "rank")
    }, Some(
      // projected ANN: JL projection (q86 replica as arrays) -> projected
      // cosine top-12 candidates -> exact full-dim cosine top-3
      s"""WITH pe AS (
         |  SELECT vec_id, embedding,
         |    [CAST(list_reduce([CAST(0 AS DOUBLE)] ||
         |       [CASE WHEN (${smxExpr("xor(11, j * 1000003 + (i - 1))")}) & 1 = 1
         |             THEN CAST(embedding[i] AS DOUBLE)
         |             ELSE -CAST(embedding[i] AS DOUBLE) END
         |        FOR i IN generate_series(1, len(embedding))],
         |       (a, c) -> a + c)
         |      * (CAST(1 AS DOUBLE) / sqrt(CAST(16 AS DOUBLE))) AS FLOAT)
         |     FOR j IN generate_series(0, 15)] AS pv
         |  FROM embeddings),
         |cand0 AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS id,
         |    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM
         |      (SELECT unnest(q.pv) AS x, unnest(c.pv) AS y) z) AS dot,
         |    (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM
         |      (SELECT unnest(q.pv) AS x) z) AS qq,
         |    (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM
         |      (SELECT unnest(c.pv) AS y) z) AS cc
         |  FROM pe q CROSS JOIN pe c
         |  WHERE q.vec_id < 10 AND c.vec_id != q.vec_id),
         |cand AS (
         |  SELECT qid, id FROM (
         |    SELECT qid, id, row_number() OVER (
         |      PARTITION BY qid ORDER BY dot / (sqrt(qq) * sqrt(cc)) DESC, id)
         |      AS prank
         |    FROM cand0)
         |  WHERE prank <= 12),
         |ex AS (
         |  SELECT cand.qid, cand.id,
         |    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM
         |      (SELECT unnest(q.embedding) AS x, unnest(c.embedding) AS y) z) AS dot,
         |    (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM
         |      (SELECT unnest(q.embedding) AS x) z) AS qq,
         |    (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM
         |      (SELECT unnest(c.embedding) AS y) z) AS cc
         |  FROM cand JOIN embeddings q ON q.vec_id = cand.qid
         |            JOIN embeddings c ON c.vec_id = cand.id),
         |sims AS (SELECT qid, id, dot / (sqrt(qq) * sqrt(cc)) AS cos FROM ex)
         |SELECT qid, rank, id AS vec_id, cos FROM (
         |  SELECT qid, id, cos, row_number() OVER (
         |    PARTITION BY qid ORDER BY cos DESC, id) AS rank FROM sims)
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)),
    QuerySpec("q86_vec_project", { s =>
      // JL dimensionality reduction: 64-d embeddings -> 8-d via the
      // deterministic Rademacher projection; every output coordinate is
      // rebuilt bit-for-bit by the oracle (same sign stream, same
      // double-accumulation order, same sqrt scale, same float cast)
      s.sql("""SELECT vec_id, CAST(pos AS INT) AS idx, feat
        |FROM (SELECT vec_id, vec_project(embedding, 8, 11) AS pv
        |      FROM embeddings)
        |LATERAL VIEW posexplode(pv) AS pos, feat
        |ORDER BY vec_id, idx""".stripMargin)
    }, Some(
      // JL projection: per-coordinate rebuild — splitmix sign stream,
      // ordered double fold, sqrt scale (IEEE-exact), float cast
      s"""WITH pj AS (
         |  SELECT vec_id, j,
         |    CAST(list_reduce([CAST(0 AS DOUBLE)] ||
         |      [CASE WHEN (${smxExpr("xor(11, j * 1000003 + (i - 1))")}) & 1 = 1
         |            THEN CAST(embedding[i] AS DOUBLE)
         |            ELSE -CAST(embedding[i] AS DOUBLE) END
         |       FOR i IN generate_series(1, len(embedding))],
         |      (a, c) -> a + c) * (CAST(1 AS DOUBLE) / sqrt(CAST(8 AS DOUBLE)))
         |      AS FLOAT) AS feat
         |  FROM embeddings, (SELECT unnest(generate_series(0, 7)) AS j))
         |SELECT vec_id, CAST(j AS INT) AS idx, feat FROM pj
         |ORDER BY vec_id, idx""".stripMargin)),
    QuerySpec("q89_payload_pipeline", { s =>
      // the north-rule per-row payload invariant THROUGH the checkpointed
      // pipeline: real PNG payloads + captions ride writeSnapshot ->
      // readSnapshot (bucketed partition dirs, manifests), and after the
      // round-trip the bytes still DECODE to the same pixels — pooled
      // features are the q48 analytic constants, captions compare exact.
      // An oracle failure here means the pipeline corrupted a payload.
      val dir = pipelineDir("q89")
      val docs = s.sql("""SELECT doc_id,
        |  CAST((doc_id * 131 + 7) % 3600000 AS DOUBLE) / 10000.0 - 180.0 AS lon,
        |  CAST((doc_id * 37 + 11) % 1700000 AS DOUBLE) / 10000.0 - 85.0 AS lat,
        |  make_png(CAST(doc_id % 13 + 4 AS INT), CAST((doc_id % 8 + 1) * 4 AS INT),
        |    CAST(doc_id % 256 AS INT), CAST((doc_id * 7) % 256 AS INT),
        |    CAST((doc_id * 13) % 256 AS INT), CAST((doc_id * 3) % 256 AS INT),
        |    CAST((doc_id * 11) % 256 AS INT), CAST((doc_id * 17) % 256 AS INT)) AS bytes,
        |  concat('cap_', doc_id) AS caption
        |FROM documents""".stripMargin)
      val b = Pipeline.withBucket(docs, "lon", "lat", 3)
      Pipeline.writeSnapshot(b, dir, 1L, keyCol = "doc_id",
        bytesCol = "bytes")
      Pipeline.readSnapshot(s, dir, 1L).createOrReplaceTempView("q89_t")
      s.sql("""SELECT doc_id, caption, CAST(pos AS INT) AS idx, feat FROM (
        |  SELECT doc_id, caption,
        |    posexplode(img_features(bytes, 16)) AS (pos, feat)
        |  FROM q89_t)
        |ORDER BY doc_id, idx""".stripMargin)
    }, Some(
      // payload invariant through the pipeline: q48's analytic pixel
      // constants + exact captions — bytes must survive decode-identical
      """SELECT d.doc_id, 'cap_' || CAST(d.doc_id AS VARCHAR) AS caption,
        |  CAST(g.range AS INTEGER) AS idx,
        |  CAST(CASE WHEN g.range < 8
        |    THEN CAST((d.doc_id % 256) * 299 + ((d.doc_id * 7) % 256) * 587
        |         + ((d.doc_id * 13) % 256) * 114 AS DOUBLE) / 255000.0
        |    ELSE CAST(((d.doc_id * 3) % 256) * 299 + ((d.doc_id * 11) % 256) * 587
        |         + ((d.doc_id * 17) % 256) * 114 AS DOUBLE) / 255000.0
        |    END AS FLOAT) AS feat
        |FROM documents d CROSS JOIN range(0, 16) g
        |ORDER BY doc_id, idx""".stripMargin)),
    QuerySpec("q88_knn_meters", { s =>
      // spherical kNN (meters): hierarchical cell expansion + haversine.
      // The oracle is brute-force DuckDB haversine top-5 with the same
      // (dist, id) ordering; ranks compare (no distance column — trig
      // differs by ulps) and the offline-verified min adjacent gap in the
      // top-7 is 0.21 m at sf0.001 / 1.1 m at sf0.01 / 14 m at sf0.1 —
      // 7+ orders above cross-engine trig error, so ranks are stable.
      val pts = s.sql(ptsCteOn("lineitem_par"))
      val qs = s.sql("""SELECT n_nationkey AS qid,
        |  CAST(n_nationkey AS DOUBLE) * 14.0 - 179.9500001 + 7.0 AS qlon,
        |  (CAST(n_nationkey AS DOUBLE) * 41.0) % 160.0 - 79.9500001 + 12.5 AS qlat
        |FROM nation""".stripMargin)
      graft.operators.Knn.knnMetersJoin(pts, qs, k = 5, startLevel = 8,
          tieCols = Seq("l_orderkey", "l_linenumber"))
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("l_orderkey"), col("l_linenumber"))
        .orderBy("qid", "rank")
    }, Some(
      // spherical kNN: brute-force haversine top-5, same (dist, id) order;
      // rank-only compare (distance doubles differ by trig ulps)
      s"""WITH pts AS (${PtsCte.replace("\n", " ")}),
         |qs AS (SELECT n_nationkey AS qid,
         |  CAST(n_nationkey AS DOUBLE) * 14.0 - 179.9500001 + 7.0 AS qlon,
         |  (CAST(n_nationkey AS DOUBLE) * 41.0) % 160.0 - 79.9500001 + 12.5 AS qlat
         |FROM nation),
         |d AS (SELECT qid, l_orderkey, l_linenumber,
         |  2.0 * 6371008.8 * asin(least(1.0, sqrt(
         |    pow(sin(radians(lat - qlat) / 2), 2) +
         |    cos(radians(qlat)) * cos(radians(lat)) *
         |      pow(sin(radians(lon - qlon) / 2), 2)))) AS dist
         |  FROM pts, qs)
         |SELECT qid, rank, l_orderkey, l_linenumber FROM (
         |  SELECT qid, l_orderkey, l_linenumber, row_number() OVER (
         |    PARTITION BY qid ORDER BY dist, l_orderkey, l_linenumber) AS rank
         |  FROM d)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),
    QuerySpec("q85_source_balance", { s =>
      // training-data mixture reweighting: down-sample sources to hit
      // 5:3:2 target shares; keep-rates derive from actual counts, and
      // membership is the splitmix64 bucket test — the oracle recomputes
      // BOTH (rate arithmetic mirrored op-for-op in double precision)
      graft.operators.Sampling.balanceSources(s.table("documents"),
          "source", "doc_id",
          Map("src0" -> 5.0, "src1" -> 3.0, "src2" -> 2.0), seed = 7L)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }, Some(
      // mixture reweighting: recompute keep-rates (same double ops, same
      // order) AND splitmix bucket membership — exact surviving subset
      s"""WITH cnt AS (SELECT source, count(*) AS n FROM documents
         |  WHERE source IN ('src0', 'src1', 'src2') GROUP BY source),
         |sh AS (SELECT * FROM (VALUES
         |  ('src0', CAST(5 AS DOUBLE)), ('src1', CAST(3 AS DOUBLE)),
         |  ('src2', CAST(2 AS DOUBLE))) AS t(source, w)),
         |norm AS (SELECT source, w / CAST(10 AS DOUBLE) AS share FROM sh),
         |budget AS (SELECT min(CAST(n AS DOUBLE) / share) AS bps
         |           FROM cnt JOIN norm USING (source)),
         |nums AS (SELECT n2.source,
         |  CAST(round(least(CAST(1 AS DOUBLE),
         |    n2.share * b.bps / CAST(c.n AS DOUBLE)) * 1000000) AS BIGINT) AS num
         |  FROM norm n2 JOIN cnt c USING (source), budget b),
         |h AS (SELECT doc_id, source, ${smxExpr("xor(doc_id, 7)")} AS h
         |      FROM documents WHERE source IN ('src0', 'src1', 'src2'))
         |SELECT h.doc_id, h.source FROM h JOIN nums USING (source)
         |WHERE ((h.h % 1000000) + 1000000) % 1000000 < nums.num
         |ORDER BY h.doc_id""".stripMargin)),
    QuerySpec("q84_meters_join", { s =>
      // spherical within-distance join (meters): cell-grid candidates +
      // haversine refine. The ORACLE compares the matched PAIR SET only —
      // engine trig differs by ulps, but the offline-verified boundary
      // margin (min |dist - 2000km| = 3.9 m at sf0.1, 12.9 m at sf0.01,
      // 43 km at sf0.001) is 9+ orders above that, so the set is stable;
      // the radius is sized so the gate is NON-vacuous at every sf
      // (6000 / 59541 / 453865 matches).
      val pts = s.sql(ptsCteOn("lineitem_par"))
      val qs = s.sql("""SELECT n_nationkey AS qid,
        |  CAST(n_nationkey AS DOUBLE) * 14.0 - 179.9500001 + 7.0 AS qlon,
        |  (CAST(n_nationkey AS DOUBLE) * 41.0) % 160.0 - 79.9500001 + 12.5 AS qlat
        |FROM nation""".stripMargin)
      SpatialJoins.withinDistanceMetersJoin(pts, qs, 2000000.0)
        .select(col("qid"), col("l_orderkey"), col("l_linenumber"))
        .orderBy("qid", "l_orderkey", "l_linenumber")
    }, Some(
      // spherical radius join: DuckDB haversine; pair set only (the margin
      // to the 2000 km boundary is meters, trig ulps are nanometers)
      s"""WITH pts AS (${PtsCte.replace("\n", " ")}),
         |qs AS (SELECT n_nationkey AS qid,
         |  CAST(n_nationkey AS DOUBLE) * 14.0 - 179.9500001 + 7.0 AS qlon,
         |  (CAST(n_nationkey AS DOUBLE) * 41.0) % 160.0 - 79.9500001 + 12.5 AS qlat
         |FROM nation)
         |SELECT qid, l_orderkey, l_linenumber
         |FROM pts, qs
         |WHERE 2.0 * 6371008.8 * asin(least(1.0, sqrt(
         |    pow(sin(radians(lat - qlat) / 2), 2) +
         |    cos(radians(qlat)) * cos(radians(lat)) *
         |      pow(sin(radians(lon - qlon) / 2), 2)))) <= 2000000.0
         |ORDER BY qid, l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("q82_img_phash", { s =>
      // REAL perceptual hash from decoded pixels: two-band gray PNGs whose
      // 8x8 average-hash is analytic — w,h multiples of 8, band boundary
      // on the cell grid, so cells 0-31 hold v1 and 32-63 hold v2; the
      // hash is top-32-bits / bottom-32-bits / zero by v1<=>v2
      s.sql("""SELECT doc_id, img_phash(make_png(w, h, v1, v1, v1, v2, v2, v2)) AS phash
        |FROM (SELECT doc_id,
        |  CAST((doc_id % 5 + 1) * 8 AS INT) AS w,
        |  CAST((doc_id % 4 + 1) * 8 AS INT) AS h,
        |  CAST(doc_id % 256 AS INT) AS v1,
        |  CAST((doc_id * 7 + 13) % 256 AS INT) AS v2
        | FROM documents_par)
        |ORDER BY doc_id""".stripMargin)
    }, Some(
      // analytic 8x8 average-hash of two-band images: top-half cells hold
      // v1, bottom-half v2 (w,h multiples of 8) -> whole-band bit blocks
      """SELECT doc_id,
        |  CASE WHEN (doc_id % 256) > ((doc_id * 7 + 13) % 256)
        |       THEN CAST(-4294967296 AS BIGINT)
        |       WHEN ((doc_id * 7 + 13) % 256) > (doc_id % 256)
        |       THEN CAST(4294967295 AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS phash
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec("q83_phash_neardup", { s =>
      // image-level near-dup over a 64-bit perceptual hash: 4x16-bit band
      // join + exact hamming refine (the image analog of SimHash dedup).
      // Planted pairs = same hash with 2 bits flipped; full pipeline
      // (bands, cap, refine) replicated in the DuckDB oracle bit-exact.
      val hashes = s.sql(
        """SELECT doc_id AS id, splitmix64(doc_id) AS ph FROM documents
          |UNION ALL
          |SELECT doc_id + 10000 AS id,
          |  CAST(splitmix64(doc_id) ^ 3 AS BIGINT) AS ph
          |FROM documents WHERE doc_id % 41 = 0""".stripMargin)
      Dedup.hash64NearDups(hashes, "ph", "id", maxHamming = 3, maxBand = 64)
        .orderBy("id_a", "id_b")
    }, Some(
      // 64-bit-hash near-dup: same band/cap/refine pipeline in SQL over the
      // splitmix64 replica; planted pairs = 2 flipped bits
      s"""WITH h AS (
         |  SELECT doc_id AS id, ${smxExpr("doc_id")} AS ph FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000 AS id, xor(${smxExpr("doc_id")}, 3) AS ph
         |  FROM documents WHERE doc_id % 41 = 0),
         |banded AS (
         |  SELECT id, ph,
         |    CAST(bi AS VARCHAR) || ':' || CAST((ph >> (bi * 16)) & 65535 AS VARCHAR) AS band_key
         |  FROM h, (SELECT unnest(generate_series(0, 3)) AS bi)),
         |bandok AS (SELECT band_key FROM banded GROUP BY band_key HAVING count(*) <= 64),
         |capped AS (SELECT banded.id, banded.ph, banded.band_key
         |           FROM banded JOIN bandok USING (band_key)),
         |pairs AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.ph AS ph_a, b.ph AS ph_b
         |  FROM capped a JOIN capped b ON a.band_key = b.band_key AND a.id < b.id)
         |SELECT id_a, id_b, CAST(bit_count(xor(ph_a, ph_b)) AS INTEGER) AS hamming
         |FROM pairs WHERE bit_count(xor(ph_a, ph_b)) <= 3
         |ORDER BY id_a, id_b""".stripMargin)),
    QuerySpec("q81_geojsonseq", { s =>
      // GeoJSONSeq (ndjson Features) sink + source: line-splittable text,
      // geometry via st_asgeojson, properties via to_json; read parses
      // each line independently (codegen kernel). Lossless round-trip —
      // the oracle is the generating CTE.
      val pts = s.sql(ptsCteOn("lineitem_par"))
        .withColumn("geom", call_function("st_point", col("lon"), col("lat")))
        .select("l_orderkey", "l_linenumber", "geom")
      val dir = pipelineDir("geojsonseq")
      graft.sources.GeoJsonSeq.write(pts, "geom", dir)
      graft.sources.GeoJsonSeq.read(s, dir)
        .select(
          get_json_object(col("properties"), "$.l_orderkey")
            .cast("long").as("l_orderkey"),
          get_json_object(col("properties"), "$.l_linenumber")
            .cast("long").as("l_linenumber"),
          call_function("st_x", col("geom")).as("lon"),
          call_function("st_y", col("geom")).as("lat"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Some(
      // GeoJSONSeq round-trip is lossless: oracle = the generating CTE
      s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         |  lon, lat FROM ($PtsCte)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("q78_range_join", { s =>
      // interval-containment join via chunk binning (equi-join + refine —
      // never the BroadcastNestedLoopJoin Spark would plan for BETWEEN):
      // every (point, interval) containment pair, oracled against
      // DuckDB's native inequality join
      val pts = s.sql(
        """SELECT l_orderkey, l_linenumber,
          |  CAST((l_orderkey * 131 + l_partkey * 7 + l_linenumber) % 100000
          |    AS DOUBLE) AS v
          |FROM lineitem_par""".stripMargin)
      val ivs = s.sql(
        """SELECT n_nationkey,
          |  CAST((n_nationkey * 4099) % 90000 AS DOUBLE) AS lo,
          |  CAST((n_nationkey * 4099) % 90000 + 2000 + (n_nationkey % 7) * 500
          |    AS DOUBLE) AS hi
          |FROM nation""".stripMargin)
      graft.operators.RangeJoin.intervalJoin(pts, "v", ivs, "lo", "hi",
          chunkWidth = 1000.0)
        .orderBy("l_orderkey", "l_linenumber", "n_nationkey")
    }, Some(
      // range join ground truth: DuckDB's native inequality join
      """WITH pts AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST((l_orderkey * 131 + l_partkey * 7 + l_linenumber) % 100000
        |      AS DOUBLE) AS v
        |  FROM lineitem),
        |ivs AS (
        |  SELECT n_nationkey,
        |    CAST((n_nationkey * 4099) % 90000 AS DOUBLE) AS lo,
        |    CAST((n_nationkey * 4099) % 90000 + 2000 + (n_nationkey % 7) * 500
        |      AS DOUBLE) AS hi
        |  FROM nation)
        |SELECT p.l_orderkey, p.l_linenumber, p.v, i.n_nationkey, i.lo, i.hi
        |FROM pts p JOIN ivs i ON p.v >= i.lo AND p.v <= i.hi
        |ORDER BY p.l_orderkey, p.l_linenumber, i.n_nationkey""".stripMargin)),
    QuerySpec("q77_asof_chunked", { s =>
      // the time-chunked as-of (three-stage carry, window keyed by
      // (user, day-chunk) so a monster user splits across tasks) must
      // reproduce DuckDB's native ASOF JOIN bit-for-bit, like q66
      val events = s.table("events")
      val errors = events.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"),
          col("event_id").as("err_event_id"))
      val lft = events.filter(col("event_type") =!= "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.operators.AsOf.asofJoinChunked(lft, errors, "user_id", "ts",
          "err_event_id", chunkWidth = 86400.0)
        .orderBy("event_id")
    }, Some(
      // chunked variant: same ground truth — the staging must be invisible
      """WITH err AS (
        |  SELECT user_id, ts, event_id AS err_event_id,
        |    row_number() OVER (PARTITION BY user_id, ts
        |      ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_type = 'error'),
        |e1 AS (SELECT user_id, ts, err_event_id FROM err WHERE rn = 1),
        |lft AS (SELECT event_id, user_id, ts FROM events
        |        WHERE event_type != 'error')
        |SELECT l.event_id, l.user_id, l.ts AS ts, e.err_event_id
        |FROM lft l ASOF LEFT JOIN e1 e
        |  ON l.user_id = e.user_id AND l.ts >= e.ts
        |ORDER BY l.event_id""".stripMargin)),
    QuerySpec("q65_vocab", { s =>
      // vocabulary building: top-50 tokens by (count desc, token asc) with
      // term + document frequencies — exact integer counts
      graft.operators.Vocab.topTokens(s.table("documents"), "text",
          "doc_id", k = 50)
        .select(col("rank").cast("long").as("rank"), col("token"),
          col("tf"), col("df"))
        .orderBy("rank")
    }, Some(
      // vocab: identical whitespace split + counts + total-order cut
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |counts AS (
        |  SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |  FROM tok WHERE token != '' GROUP BY token)
        |SELECT CAST(row_number() OVER (ORDER BY tf DESC, token) AS BIGINT) AS rank,
        |  token, tf, df
        |FROM counts ORDER BY rank LIMIT 50""".stripMargin)),
    QuerySpec("q64_sessionize", { s =>
      // gap-based sessionization of the event stream (30-min gap): exact
      // integer-microsecond boundaries, replicated by the oracle
      graft.operators.Sessions.sessionStats(s.table("events"),
          "user_id", "ts", "event_id", gapSeconds = 1800L)
        .orderBy("user_id", "session_id")
    }, Some(
      // sessionization ground truth: same lag/cumsum over exact microseconds
      """WITH x AS (SELECT user_id, ts, event_id,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |       THEN 1 ELSE 0 END AS new_s
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (SELECT user_id, ts, event_id,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        | FROM x)
        |SELECT user_id, CAST(sid AS BIGINT) AS session_id,
        |  count(*) AS n_events, min(ts) AS start_ts, max(ts) AS end_ts,
        |  min(event_id) AS first_event
        |FROM y GROUP BY user_id, sid ORDER BY user_id, session_id""".stripMargin)),
    QuerySpec("q45_scrub", { s =>
      // plant URLs/emails deterministically on both engines, then scrub
      s.sql("""SELECT doc_id,
        |  scrub_emails(scrub_urls(concat(text, ' see http://ex.com/p',
        |    CAST(doc_id AS STRING), '?x=1 or mail u', CAST(doc_id AS STRING),
        |    '@ex.org today'))) AS cleaned
        |FROM documents_par ORDER BY doc_id""".stripMargin)
    }, Some(
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(text || ' see http://ex.com/p' || CAST(doc_id AS VARCHAR)
        |      || '?x=1 or mail u' || CAST(doc_id AS VARCHAR) || '@ex.org today',
        |      'https?://[^ ]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g') AS cleaned
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec("q39_pack_repetition", { s =>
      graft.operators.Packing.packSequences(
          s.table("documents").select(col("doc_id"), col("text")),
          "text", "doc_id", budget = 512L, shards = 8)
        .select(col("doc_id"), col("tokens"), col("pack_id"), col("pack_offset"),
          call_function("repetition_ratio", col("text"), lit(3)).as("rep3"))
        .orderBy("doc_id")
    }, Some(
      """WITH t AS (SELECT doc_id, text,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS tokens,
        |    doc_id % 8 AS shard FROM documents),
        |c AS (SELECT doc_id, text, tokens,
        |    shard,
        |    CAST(coalesce(sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
        |  FROM t)
        |SELECT doc_id, tokens,
        |  shard * 1099511627776 + CAST(floor(tok_before / 512.0) AS BIGINT) AS pack_id,
        |  tok_before % 512 AS pack_offset,
        |  (SELECT CASE WHEN len(gs) = 0 THEN 0.0
        |     ELSE 1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs) END
        |   FROM (SELECT [array_to_string(ws[i:i+2], ' ')
        |       FOR i IN generate_series(1, greatest(len(ws) - 2, 1))] AS gs
        |     FROM (SELECT string_split(text, ' ') AS ws))) AS rep3
        |FROM c ORDER BY doc_id""".stripMargin)),
    // ---- training-data ops: similarity search ----------------------
    QuerySpec("q40_ann_bruteforce", { s =>
      val corpus = s.table("embeddings")
      val queries = s.table("embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.bruteForceTopK(corpus, queries, "embedding", "vec_id", "qid", "qvec", k = 3)
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("vec_id"), col("cos"))
        .orderBy("qid", "rank")
    }, Some(
      """WITH pairs AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM
        |      (SELECT unnest(q.embedding) AS x, unnest(c.embedding) AS y) z) AS dot,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM
        |      (SELECT unnest(q.embedding) AS x) z) AS qq,
        |    (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM
        |      (SELECT unnest(c.embedding) AS y) z) AS cc
        |  FROM embeddings q CROSS JOIN embeddings c
        |  WHERE q.vec_id < 10 AND c.vec_id != q.vec_id),
        |sims AS (SELECT qid, id, dot / (sqrt(qq) * sqrt(cc)) AS cos FROM pairs)
        |SELECT qid, rank, id AS vec_id, cos FROM (
        |  SELECT qid, id, cos, row_number() OVER (
        |    PARTITION BY qid ORDER BY cos DESC, id) AS rank FROM sims)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)),
    QuerySpec("q41_ann_lsh", { s =>
      val corpus = s.table("embeddings")
      val queries = s.table("embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.lshTopK(corpus, queries, "embedding", "vec_id", "qid", "qvec",
          k = 3, bits = 10)
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("vec_id"), col("cos"))
        .orderBy("qid", "rank")
    }, Some(
      // the FULL multiprobe-LSH pipeline replicated in SQL: hyperplane
      // weights from the splitmix64 replica (bit-exact), sign buckets via
      // order-preserving parallel-unnest dot products, 1-bit multiprobe,
      // exact rerank — every row verified bit-equal
      """WITH seedin AS (
        |  SELECT b, i, xor(xor(42, b * 4294967296), i) AS xin
        |  FROM (SELECT unnest(generate_series(0, 9)) AS b),
        |       (SELECT unnest(generate_series(0, 63)) AS i)),
        |s1 AS (SELECT b, i, CAST((CAST(xin AS HUGEINT) + 11400714819323198485
        |    + CASE WHEN xin < 0 THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END)
        |    % 18446744073709551616 AS UBIGINT) AS z1 FROM seedin),
        |s2 AS (SELECT b, i,
        |    CAST(((CAST(xor(z1, z1 >> 30) AS HUGEINT) % 4294967296) * 13787848793156543929
        |      + (((CAST(xor(z1, z1 >> 30) AS HUGEINT) // 4294967296) * 13787848793156543929) % 4294967296) * 4294967296)
        |      % 18446744073709551616 AS UBIGINT) AS z2 FROM s1),
        |s3 AS (SELECT b, i,
        |    CAST(((CAST(xor(z2, z2 >> 27) AS HUGEINT) % 4294967296) * 10723151780598845931
        |      + (((CAST(xor(z2, z2 >> 27) AS HUGEINT) // 4294967296) * 10723151780598845931) % 4294967296) * 4294967296)
        |      % 18446744073709551616 AS UBIGINT) AS z3 FROM s2),
        |hh AS (SELECT b, i, CAST(CAST(xor(z3, z3 >> 31) AS HUGEINT)
        |    - CASE WHEN xor(z3, z3 >> 31) >= 9223372036854775808
        |           THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END AS BIGINT) AS hv FROM s3),
        |wl AS (SELECT b, list(CAST(hv >> 11 AS DOUBLE) / 4503599627370496.0 ORDER BY i) AS ws
        |  FROM hh GROUP BY b),
        |sb AS (
        |  SELECT e.vec_id, wl.b,
        |    (SELECT sum(CAST(x AS DOUBLE) * w) FROM
        |      (SELECT unnest(e.embedding) AS x, unnest(wl.ws) AS w) z) AS s
        |  FROM embeddings e, wl),
        |buck AS (
        |  SELECT vec_id, sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS bucket
        |  FROM sb GROUP BY vec_id),
        |qprobe AS (
        |  SELECT q.vec_id AS qid, p.probe
        |  FROM buck q, (SELECT unnest([-1] || [x FOR x IN generate_series(0, 9)]) AS pb) pbs,
        |  LATERAL (SELECT CASE WHEN pbs.pb = -1 THEN q.bucket
        |                       ELSE xor(q.bucket, CAST(1 AS BIGINT) << pbs.pb) END AS probe) p
        |  WHERE q.vec_id < 10),
        |cand AS (
        |  SELECT DISTINCT qp.qid, c.vec_id
        |  FROM qprobe qp JOIN buck c ON c.bucket = qp.probe
        |  WHERE c.vec_id != qp.qid),
        |scored AS (
        |  SELECT cand.qid, cand.vec_id,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM
        |      (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y) z)
        |    / (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM
        |        (SELECT unnest(b.embedding) AS x) z))
        |       * sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM
        |        (SELECT unnest(a.embedding) AS y) z))) AS cos
        |  FROM cand
        |  JOIN embeddings b ON b.vec_id = cand.vec_id
        |  JOIN embeddings a ON a.vec_id = cand.qid)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, cos FROM (
        |  SELECT qid, vec_id, cos, row_number() OVER (
        |    PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM scored)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)),
    QuerySpec("q43_ann_ivf", { s =>
      val corpus = s.table("embeddings")
      val queries = s.table("embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.ivfTopK(corpus, queries, "embedding", "vec_id", "qid", "qvec",
          k = 3, nlist = 16, nprobe = 6)
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("vec_id"), col("cos"))
        .orderBy("qid", "rank")
    }, Some(
      // full IVF replica: deterministic codebook (first 16 ids), argmax-cosine
      // assignment, top-6 probes, exact rerank — verified bit-equal
      """WITH cb AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
        |    embedding AS cvec
        |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
        |csim AS (
        |  SELECT e.vec_id, e.embedding, cb.cid,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM
        |      (SELECT unnest(e.embedding) AS x, unnest(cb.cvec) AS y) z)
        |    / (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM
        |        (SELECT unnest(e.embedding) AS x) z))
        |       * sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM
        |        (SELECT unnest(cb.cvec) AS y) z))) AS sim
        |  FROM embeddings e CROSS JOIN cb),
        |assigned AS (
        |  SELECT vec_id, embedding, cid FROM (
        |    SELECT vec_id, embedding, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS r
        |    FROM csim) WHERE r = 1),
        |probes AS (
        |  SELECT qid, qvec, cid FROM (
        |    SELECT vec_id AS qid, embedding AS qvec, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS r
        |    FROM csim WHERE vec_id < 10) WHERE r <= 6),
        |cand AS (
        |  SELECT p.qid, a.vec_id,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM
        |      (SELECT unnest(a.embedding) AS x, unnest(p.qvec) AS y) z)
        |    / (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM
        |        (SELECT unnest(a.embedding) AS x) z))
        |       * sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM
        |        (SELECT unnest(p.qvec) AS y) z))) AS cos
        |  FROM assigned a JOIN probes p USING (cid) WHERE a.vec_id != p.qid)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, cos FROM (
        |  SELECT qid, vec_id, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
        |  FROM cand) WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)),
    QuerySpec("q57_ann_sq8", { s =>
      // SQ8 compression path: int8-quantized candidate scan + exact float
      // rerank; the oracle replicates the quantize/dequantize arithmetic
      // per element, so candidate sets and final ranks match bit-for-bit
      val corpus = s.table("embeddings")
      val queries = s.table("embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.sq8TopK(corpus, queries, "embedding", "vec_id", "qid", "qvec",
          k = 3, rerank = 4)
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("vec_id"), col("cos"))
        .orderBy("qid", "rank")
    }, Some(
      // SQ8 replica: per-vector (vmin, vmax) range, int8 quantize/dequantize
      // per element (the same fixed sequence of correctly-rounded double ops
      // as VecOps.sq8/sq8Cosine), asymmetric candidate scan, exact rerank
      """WITH cq AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_min(embedding) AS DOUBLE) AS vmin,
        |    CAST(list_max(embedding) AS DOUBLE) AS vmax
        |  FROM embeddings),
        |dq AS (
        |  SELECT vec_id,
        |    CASE WHEN vmax > vmin THEN
        |      list_transform(embedding, x -> vmin +
        |        (LEAST(CAST(255 AS DOUBLE), GREATEST(CAST(0 AS DOUBLE),
        |          floor(((CAST(x AS DOUBLE) - vmin) * 255.0) / (vmax - vmin)
        |            + 0.5))) * (vmax - vmin)) / 255.0)
        |    ELSE list_transform(embedding, x -> vmin) END AS d
        |  FROM cq),
        |asim AS (
        |  SELECT q.vec_id AS qid, q.embedding AS qvec, c.vec_id AS id,
        |    (SELECT sum(x * CAST(y AS DOUBLE)) FROM
        |      (SELECT unnest(c.d) AS x, unnest(q.embedding) AS y) z)
        |    / (sqrt((SELECT sum(x * x) FROM (SELECT unnest(c.d) AS x) z))
        |       * sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM
        |        (SELECT unnest(q.embedding) AS y) z))) AS asim
        |  FROM embeddings q CROSS JOIN dq c
        |  WHERE q.vec_id < 10 AND c.vec_id != q.vec_id),
        |cand AS (
        |  SELECT qid, qvec, id FROM (
        |    SELECT qid, qvec, id,
        |      row_number() OVER (PARTITION BY qid ORDER BY asim DESC, id) AS r
        |    FROM asim) WHERE r <= 12),
        |rer AS (
        |  SELECT cand.qid, e.vec_id,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM
        |      (SELECT unnest(e.embedding) AS x, unnest(cand.qvec) AS y) z)
        |    / (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM
        |        (SELECT unnest(e.embedding) AS x) z))
        |       * sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM
        |        (SELECT unnest(cand.qvec) AS y) z))) AS cos
        |  FROM cand JOIN embeddings e ON e.vec_id = cand.id)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, cos FROM (
        |  SELECT qid, vec_id, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
        |  FROM rer) WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)),
    QuerySpec("q42_embed_neardup", { s =>
      val base = s.table("embeddings")
      val planted = base.unionByName(
        base.select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.001f)).as("embedding"),
          col("label")))
      Dedup.embeddingNearDups(planted, "embedding", "vec_id",
          bits = 8, threshold = 0.99)
        .orderBy("id_a", "id_b")
    }, Some(
      // ground truth for the LSH-bucketed near-dup pass: scaling a vector by
      // 1.001 never flips a hyperplane sign (the bucket is sign-of-dot), so
      // planted pairs always share buckets and the LSH output equals the
      // brute-force cos >= 0.99 pair set; cosines verified bit-equal
      """WITH planted AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000 AS vec_id,
        |    list_transform(embedding, x -> CAST(x * CAST(1.001 AS FLOAT) AS FLOAT)) AS embedding
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM
        |      (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y) z) AS dot,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM
        |      (SELECT unnest(a.embedding) AS x) z) AS aa,
        |    (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM
        |      (SELECT unnest(b.embedding) AS y) z) AS bb
        |  FROM planted a JOIN planted b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, dot / (sqrt(aa) * sqrt(bb)) AS cos
        |FROM pairs WHERE dot / (sqrt(aa) * sqrt(bb)) >= 0.99
        |ORDER BY id_a, id_b""".stripMargin)),
    // ---- pipeline: checkpoint/resume + lineage ---------------------
    QuerySpec("q50_pipeline_manifest", { s =>
      val dir = pipelineDir("q50")
      val images = ImagesTable.generate(s, 5000L)
      val (_, _) = Pipeline.runResumable(images, "lon", "lat", dir, 1L)(df =>
        df.withColumn("tile", call_function("st_tilezxy",
          col("lon"), col("lat"), lit(8))))
      s.read.parquet(s"$dir/manifests")
        .select(col("bucket"), col("rows"), col("snapshot_id"))
        .orderBy("bucket")
    }, None),
    QuerySpec("q51_pipeline_resume", { s =>
      val dir = pipelineDir("q51")
      val images = Pipeline.withBucket(ImagesTable.generate(s, 5000L), "lon", "lat", 3)
      // snapshot 1: half the buckets; snapshot 2: resume processes the rest
      Pipeline.writeSnapshot(images.filter(pmod(col("bucket"), lit(2)) === 0),
        dir, 1L)
      val remaining = Pipeline.remainingInput(images, dir)
      Pipeline.writeSnapshot(remaining, dir, 2L)
      val leftAfter = Pipeline.remainingInput(images, dir).count()
      s.read.parquet(s"$dir/manifests")
        .groupBy("snapshot_id")
        .agg(count(lit(1)).as("n_buckets"), sum("rows").as("n_rows"))
        .withColumn("left_after_resume", lit(leftAfter))
        .orderBy("snapshot_id")
    }, None),
    // oracled pipeline lineage: the same checkpoint/manifest machinery over
    // a lineitem-derived point layer, so every manifest column (per-bucket
    // rows, byte sums, key ranges) checks against DuckDB
    QuerySpec("q52_pipeline_lineage", { s =>
      val dir = pipelineDir("q52")
      val pts = s.sql(ptsCteOn("lineitem_par"))
        .withColumn("key", concat(lit("k"), col("l_orderkey"), lit("_"),
          col("l_linenumber")))
        .withColumn("payload", col("key").cast("binary"))
      Pipeline.runResumable(pts, "lon", "lat", dir, 1L, zoom = 3,
        keyCol = "key", bytesCol = "payload")(identity)
      s.read.parquet(s"$dir/manifests")
        .select(call_function("st_tilex", col("bucket")).as("tx"),
          call_function("st_tiley", col("bucket")).as("ty"),
          col("rows"), col("bytes"), col("min_key"), col("max_key"))
        .orderBy("tx", "ty")
    }, Some(
      s"""WITH pts AS (${PtsCte.replace("\n", " ")}),
        |k AS (SELECT lon, lat,
        |  'k' || CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) AS key
        |  FROM pts)
        |SELECT CAST(floor((lon + 180.0) / 360.0 * 8) AS INTEGER) AS tx,
        |  CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * 8) AS INTEGER) AS ty,
        |  count(*) AS "rows",
        |  CAST(sum(length(key)) AS BIGINT) AS bytes,
        |  min(key) AS min_key, max(key) AS max_key
        |FROM k GROUP BY 1, 2 ORDER BY tx, ty""".stripMargin)),
    QuerySpec("q79_incremental_read", { s =>
      // Iceberg-style incremental consumption: three disjoint snapshots
      // committed, the consumer reads exactly (snap1, snap3] — rows of
      // snapshots 2 and 3, never snapshot 1, pruned at the directory
      // level. Oracle recomputes the slice definitions directly.
      val dir = pipelineDir("q79")
      val pts = s.sql(ptsCteOn("lineitem_par"))
        .withColumn("key", concat(lit("k"), col("l_orderkey"), lit("_"),
          col("l_linenumber")))
      // the bucketed input feeds three snapshot writes — persist it for
      // the duration of this query so the unsplittable-scan spread
      // (lineitem_par's repartition) is paid once, not per write
      val b = Pipeline.withBucket(pts, "lon", "lat", 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (0 until 3).foreach { m =>
        Pipeline.writeSnapshot(b.filter(col("l_orderkey") % 3 === m), dir,
          m + 1L, keyCol = "key", bytesCol = "__none")
      }
      b.unpersist(blocking = false)
      Pipeline.readIncremental(s, dir, fromExclusive = 1L, toInclusive = 3L)
        .select(col("key"), col("lon"), col("lat"))
        .orderBy("key")
    }, Some(
      // incremental read: exactly the later two snapshot slices
      s"""SELECT concat('k', l_orderkey, '_', l_linenumber) AS key, lon, lat
         |FROM ($PtsCte) WHERE l_orderkey % 3 IN (1, 2)
         |ORDER BY key""".stripMargin)),
    // oracled spatial data skipping: tile-envelope partition pruning must
    // return exactly the rows a plain box predicate returns
    QuerySpec("q59_compaction", { s =>
      // two appended snapshots (even/odd orderkeys), then the maintenance
      // pass squashes them into one base snapshot: file count drops to one
      // per bucket (asserted — a wrong compaction that loses/duplicates
      // rows fails the oracle; one that doesn't shrink files fails here)
      val dir = pipelineDir("q59")
      val pts = s.sql(ptsCteOn("lineitem_par"))
        .withColumn("key", concat(lit("k"), col("l_orderkey"), lit("_"),
          col("l_linenumber")))
        .withColumn("payload", col("key").cast("binary"))
      // persisted for the two snapshot writes of this query (the
      // unsplittable-scan spread is paid once), freed before the result
      val b = Pipeline.withBucket(pts, "lon", "lat", 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Pipeline.writeSnapshot(b.filter(col("l_orderkey") % 2 === 0), dir, 1L,
        keyCol = "key", bytesCol = "payload")
      Pipeline.writeSnapshot(b.filter(col("l_orderkey") % 2 === 1), dir, 2L,
        keyCol = "key", bytesCol = "payload")
      b.unpersist(blocking = false)
      val before = Pipeline.dataFileCount(dir)
      val manifest = Pipeline.compactSnapshots(s, dir, 2L)
      val after = Pipeline.dataFileCount(dir)
      val nBuckets = manifest.count()
      require(after < before && after == nBuckets,
        s"compaction must leave one file per bucket: $before -> $after ($nBuckets buckets)")
      manifest
        .select(call_function("st_tilex", col("bucket")).as("tx"),
          call_function("st_tiley", col("bucket")).as("ty"),
          col("rows"), col("bytes"), col("min_key"), col("max_key"))
        .orderBy("tx", "ty")
    }, Some(
      // compacted manifest == the q52 aggregation over the full point set
      // (two appended snapshots squashed must equal one snapshot of all rows)
      s"""WITH pts AS (${PtsCte.replace("\n", " ")}),
        |k AS (SELECT lon, lat,
        |  'k' || CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) AS key
        |  FROM pts)
        |SELECT CAST(floor((lon + 180.0) / 360.0 * 8) AS INTEGER) AS tx,
        |  CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * 8) AS INTEGER) AS ty,
        |  count(*) AS "rows",
        |  CAST(sum(length(key)) AS BIGINT) AS bytes,
        |  min(key) AS min_key, max(key) AS max_key
        |FROM k GROUP BY 1, 2 ORDER BY tx, ty""".stripMargin)),
    QuerySpec("q53_readbox", { s =>
      val dir = pipelineDir("q53")
      val pts = Pipeline.withBucket(s.sql(ptsCteOn("lineitem_par")), "lon", "lat", 3)
      Pipeline.writeSnapshot(pts, dir, 1L, keyCol = "l_orderkey", bytesCol = "none")
      Pipeline.readBox(s, dir, -20.0, -10.0, 40.0, 35.0)
        .agg(count(lit(1)).as("n_in_box"))
    }, Some(
      s"""WITH pts AS (${PtsCte.replace("\n", " ")})
        |SELECT count(*) AS n_in_box FROM pts
        |WHERE lon >= -20.0 AND lon <= 40.0 AND lat >= -10.0 AND lat <= 35.0""".stripMargin)),
    // oracled bbox-covering scan (GeoParquet 1.1): triangles written with
    // the covering column + spatial sort, box-read back through the
    // pushed-down bbox predicate; ids and envelopes check against the
    // analytic envelope filter in DuckDB
    QuerySpec("q54_covering_box", { s =>
      val dir = pipelineDir("q54")
      val tris = s.sql("""SELECT l_orderkey, l_linenumber,
        |  st_geomfromwkt(concat('POLYGON ((',
        |    CAST(ax AS STRING), ' ', CAST(ay AS STRING), ', ',
        |    CAST(ax + 2.0 AS STRING), ' ', CAST(ay + 1.0 AS STRING), ', ',
        |    CAST(ax + 1.0 AS STRING), ' ', CAST(ay + 2.0 AS STRING), ', ',
        |    CAST(ax AS STRING), ' ', CAST(ay AS STRING), '))')) AS geom
        |FROM (SELECT l_orderkey, l_linenumber,
        |    CAST((l_orderkey * 131 + l_linenumber) % 340 AS DOUBLE) - 170.0 AS ax,
        |    CAST((l_orderkey * 37 + l_linenumber) % 160 AS DOUBLE) - 80.0 AS ay
        |  FROM lineitem_par)""".stripMargin)
      graft.sources.GeoParquet.writeCovering(tris, "geom", dir)
      graft.sources.GeoParquet.readCoveringBox(s, dir, "geom",
          10.0, 5.0, 60.0, 40.0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("geom_bbox")("xmin").as("bx0"), col("geom_bbox")("ymin").as("by0"),
          col("geom_bbox")("xmax").as("bx1"), col("geom_bbox")("ymax").as("by1"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Some(
      // covering-column box read: the expected set is the analytic envelope
      // filter (triangle envelope = [ax, ax+2] x [ay, ay+2], exact ints)
      """WITH t AS (SELECT l_orderkey, l_linenumber,
        |  CAST((l_orderkey * 131 + l_linenumber) % 340 AS DOUBLE) - 170.0 AS ax,
        |  CAST((l_orderkey * 37 + l_linenumber) % 160 AS DOUBLE) - 80.0 AS ay
        | FROM lineitem)
        |SELECT l_orderkey, l_linenumber, ax AS bx0, ay AS by0,
        |  ax + 2.0 AS bx1, ay + 2.0 AS by1
        |FROM t
        |WHERE ax <= 60.0 AND ax + 2.0 >= 10.0 AND ay <= 40.0 AND ay + 2.0 >= 5.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    // oracled dedup-cluster resolution: connected components over a
    // deterministic edge list (chains of 5 merged by sparse long-range
    // edges — multi-round propagation), checked against a DuckDB
    // recursive-CTE reachability computation
    QuerySpec("q55_dedup_clusters", { s =>
      val edges = s.sql(
        """SELECT a.doc_id AS id_a, b.doc_id AS id_b
          |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
          |WHERE a.doc_id % 5 != 4
          |UNION ALL
          |SELECT a.doc_id, b.doc_id
          |FROM documents a JOIN documents b ON b.doc_id = a.doc_id - 7
          |WHERE a.doc_id % 97 = 0""".stripMargin)
      Dedup.withClusters(s.table("documents").select(col("doc_id")),
          "doc_id", edges)
        .select(col("doc_id"), col("cluster"), col("is_rep"))
        .orderBy("doc_id")
    }, Some(
      // dedup clusters: ground-truth reachability via a recursive CTE
      """WITH RECURSIVE e AS (
        |  SELECT a.doc_id AS s, b.doc_id AS d
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 5 != 4
        |  UNION ALL
        |  SELECT a.doc_id, b.doc_id
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id - 7
        |  WHERE a.doc_id % 97 = 0),
        |sym AS (SELECT s, d FROM e UNION SELECT d, s FROM e),
        |reach(n, m) AS (
        |  SELECT DISTINCT s, s FROM sym
        |  UNION
        |  SELECT sym.d, reach.m FROM reach JOIN sym ON sym.s = reach.n),
        |comp AS (SELECT n, min(m) AS cluster FROM reach GROUP BY n)
        |SELECT dd.doc_id, COALESCE(c.cluster, dd.doc_id) AS cluster,
        |  CAST(CASE WHEN COALESCE(c.cluster, dd.doc_id) = dd.doc_id
        |       THEN 1 ELSE 0 END AS INT) AS is_rep
        |FROM documents dd LEFT JOIN comp c ON c.n = dd.doc_id
        |ORDER BY dd.doc_id""".stripMargin)),
    QuerySpec("q56_video_frames", { s =>
      // REAL uncompressed-video decode: per-row Y4M streams synthesized by
      // make_y4m (two-band luma per frame), video_meta header+frame-count
      // parse, frame_features samples every 2nd frame and pools the luma
      // plane — band boundaries align with the 2x2 pooling grid, so every
      // feature is an analytic constant the oracle recomputes
      s.sql("""WITH p AS (SELECT doc_id,
        |  CAST((doc_id % 5 + 1) * 2 AS INT) AS w,
        |  CAST((doc_id % 4 + 1) * 4 AS INT) AS h,
        |  CAST(doc_id % 6 + 2 AS INT) AS nf,
        |  CAST(doc_id % 200 + 3 AS INT) AS seed
        | FROM documents_par),
        |v AS (SELECT doc_id,
        |  video_meta(make_y4m(w, h, nf, seed)) AS m,
        |  frame_features(make_y4m(w, h, nf, seed), 2, 4) AS fr
        | FROM p)
        |SELECT doc_id, m.width AS width, m.height AS height,
        |  m.fps_num AS fps_num, m.fps_den AS fps_den,
        |  m.n_frames AS n_frames, m.detected_fmt AS fmt,
        |  f.frame_idx AS frame_idx, CAST(pos AS INT) AS idx, feat
        |FROM v
        |LATERAL VIEW explode(fr) AS f
        |LATERAL VIEW posexplode(f.features) AS pos, feat
        |ORDER BY doc_id, frame_idx, idx""".stripMargin)
    }, Some(
      // video frame features over two-band Y4M: every 2x2 pooling cell is a
      // single luma constant, so each feature is band/255 exactly
      """WITH p AS (SELECT doc_id,
        |  (doc_id % 5 + 1) * 2 AS w, (doc_id % 4 + 1) * 4 AS h,
        |  doc_id % 6 + 2 AS nf, doc_id % 200 + 3 AS seed
        | FROM documents),
        |f AS (SELECT doc_id, w, h, nf, seed,
        |  unnest(generate_series(0, nf - 1)) AS fi FROM p),
        |x AS (SELECT doc_id, w, h, nf, seed, fi,
        |  unnest([0, 1, 2, 3]) AS idx FROM f WHERE fi % 2 = 0)
        |SELECT doc_id, CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height, CAST(30 AS INTEGER) AS fps_num,
        |  CAST(1 AS INTEGER) AS fps_den, CAST(nf AS INTEGER) AS n_frames,
        |  'y4m' AS fmt, CAST(fi AS INTEGER) AS frame_idx,
        |  CAST(idx AS INTEGER) AS idx,
        |  CAST(CAST(CASE WHEN idx < 2 THEN (seed + 7 * fi) % 256
        |            ELSE (seed + 13 * fi) % 256 END AS DOUBLE) / 255.0
        |    AS FLOAT) AS feat
        |FROM x ORDER BY doc_id, frame_idx, idx""".stripMargin)),
    QuerySpec("q73_exact_dupes", { s =>
      // exact-dup PAIRS via the streaming join-back shape (no per-group
      // collect_list — a mega-duplicated doc is one aggregation row).
      // Duplicates are PLANTED (doc_id % 31 slice re-appended shifted) so
      // the gate can never pass vacuously on a dup-free corpus.
      val docs = s.table("documents").select(col("doc_id"), col("text"))
      val planted = docs.unionByName(
        docs.filter(col("doc_id") % 31 === 0)
          .select((col("doc_id") + 50000).as("doc_id"), col("text")))
      Dedup.exactDupes(planted, "text", "doc_id").orderBy("doc_id")
    }, Some(
      // exact-dup PAIRS (streaming join-back shape, no per-group id lists);
      // dup rows planted so the gate can't pass vacuously
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 50000, text FROM documents WHERE doc_id % 31 = 0)
        |SELECT a.doc_id, g.dup_rep FROM planted a
        |JOIN (SELECT text, min(doc_id) AS dup_rep, count(*) AS n
        |      FROM planted GROUP BY text) g ON g.text = a.text
        |WHERE g.n > 1 AND a.doc_id != g.dup_rep
        |ORDER BY a.doc_id""".stripMargin)),
    QuerySpec("q74_minhash_capped", { s =>
      // the q31 pipeline with maxBand = 2: every band wider than two docs
      // is dropped before the self-join (the 100-TB mega-band guard), and
      // the oracle replicates the drop — surviving pairs bit-identical
      Dedup.minhashNearDups(plantedNearDups(s), "text", "doc_id",
          shingle = 3, k = 32, bandRows = 4, threshold = 0.6, maxBand = 2)
        .orderBy("id_a", "id_b")
    }, Some(
      // same pipeline with a cap low enough to BITE on the planted corpus —
      // proves the hot-band drop path is bit-identical in both engines
      minhashOracle(2))),
    QuerySpec("q76_avi_frames", { s =>
      // REAL COMPRESSED-video decode: per-row AVI containers with PNG
      // ('MPNG') frame chunks synthesized by make_avi, video_meta
      // container parse, frame_features decodes every 2nd frame through
      // javax.imageio and pools BT.601 luma — gray two-band frames make
      // every feature the analytic constant band/255 (same discipline as
      // q48/q56), so the whole compressed path is DuckDB-oracled
      s.sql("""WITH p AS (SELECT doc_id,
        |  CAST((doc_id % 5 + 1) * 2 AS INT) AS w,
        |  CAST((doc_id % 4 + 1) * 4 AS INT) AS h,
        |  CAST(doc_id % 6 + 2 AS INT) AS nf,
        |  CAST(doc_id % 200 + 3 AS INT) AS seed
        | FROM documents_par),
        |v AS (SELECT doc_id,
        |  video_meta(make_avi(w, h, nf, seed, 0)) AS m,
        |  frame_features(make_avi(w, h, nf, seed, 0), 2, 4) AS fr
        | FROM p)
        |SELECT doc_id, m.width AS width, m.height AS height,
        |  m.fps_num AS fps_num, m.fps_den AS fps_den,
        |  m.n_frames AS n_frames, m.detected_fmt AS fmt,
        |  f.frame_idx AS frame_idx, CAST(pos AS INT) AS idx, feat
        |FROM v
        |LATERAL VIEW explode(fr) AS f
        |LATERAL VIEW posexplode(f.features) AS pos, feat
        |ORDER BY doc_id, frame_idx, idx""".stripMargin)
    }, Some(
      // compressed-video frames over two-band PNG-in-AVI: lossless frame
      // codec + BT.601 pooling of gray bands => each feature is band/255
      // exactly (q56's analytic structure; fps = 1000000/40000 from avih)
      """WITH p AS (SELECT doc_id,
        |  (doc_id % 5 + 1) * 2 AS w, (doc_id % 4 + 1) * 4 AS h,
        |  doc_id % 6 + 2 AS nf, doc_id % 200 + 3 AS seed
        | FROM documents),
        |f AS (SELECT doc_id, w, h, nf, seed,
        |  unnest(generate_series(0, nf - 1)) AS fi FROM p),
        |x AS (SELECT doc_id, w, h, nf, seed, fi,
        |  unnest([0, 1, 2, 3]) AS idx FROM f WHERE fi % 2 = 0)
        |SELECT doc_id, CAST(w AS INTEGER) AS width,
        |  CAST(h AS INTEGER) AS height, CAST(1000000 AS INTEGER) AS fps_num,
        |  CAST(40000 AS INTEGER) AS fps_den, CAST(nf AS INTEGER) AS n_frames,
        |  'avi' AS fmt, CAST(fi AS INTEGER) AS frame_idx,
        |  CAST(idx AS INTEGER) AS idx,
        |  CAST(CAST(CASE WHEN idx < 2 THEN (seed + 7 * fi) % 256
        |            ELSE (seed + 13 * fi) % 256 END AS DOUBLE) / 255.0
        |    AS FLOAT) AS feat
        |FROM x ORDER BY doc_id, frame_idx, idx""".stripMargin)),
    QuerySpec("q72_arrow_roundtrip", { s =>
      // Arrow IPC interchange: point layer -> GeoArrow-tagged IPC part
      // files (separate struct-of-x/y layout + ARROW:extension:name) ->
      // distributed read-back -> coordinates. Lossless by construction,
      // so the oracle is the source CTE itself — any drift in the arrow
      // write/read path (value IO, batching, nulls) breaks the hash.
      val pts = s.sql(ptsCteOn("lineitem_par"))
        .withColumn("geom", call_function("st_point", col("lon"), col("lat")))
        .select("l_orderkey", "l_linenumber", "geom")
      val dir = pipelineDir("arrow_pts")
      graft.sources.ArrowIpc.writeGeo(pts, "geom", dir, "point", "xy", "separate")
      graft.sources.ArrowIpc.readGeo(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          call_function("st_x", col("geom")).as("lon"),
          call_function("st_y", col("geom")).as("lat"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Some(
      // Arrow IPC is lossless: the oracle is the generating arithmetic
      s"""SELECT l_orderkey, l_linenumber, lon, lat FROM ($PtsCte)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("q75_arrow_nested", { s =>
      // Arrow IPC with the NESTED native layout (polygon =
      // list<list<struct<x,y>>>) in the STREAM format: rect polygons ->
      // IPC -> read-back -> envelope corners, which must equal the
      // generating arithmetic bit-for-bit (oracle recomputes it)
      val polys = s.sql(s"""SELECT n_nationkey, st_boxgeom(st_makebox(
        |  xmin, ymin,
        |  xmin + CAST(20.0 AS DOUBLE),
        |  ymin + CAST(25.0 AS DOUBLE))) AS poly
        |FROM ($RectsCte)""".stripMargin)
      val dir = pipelineDir("arrow_polys")
      graft.sources.ArrowIpc.writeGeo(polys, "poly", dir, "polygon", "xy",
        "separate", stream = true)
      graft.sources.ArrowIpc.readGeo(s, dir)
        .select(col("n_nationkey"),
          call_function("st_envelope", col("poly")).as("env"))
        .select(col("n_nationkey"),
          col("env")("xmin").as("xmin"), col("env")("ymin").as("ymin"),
          col("env")("xmax").as("xmax"), col("env")("ymax").as("ymax"))
        .orderBy("n_nationkey")
    }, Some(
      s"""SELECT n_nationkey, xmin, ymin, xmin + 20.0 AS xmax,
         |  ymin + 25.0 AS ymax
         |FROM ($RectsCte) ORDER BY n_nationkey""".stripMargin)),
    QuerySpec("q90_dsv2_geoparquet", { s =>
      // SQL-user entry (`spark.read.format("geoparquet")` — the DSv2
      // registration; reference entry is `open_dataset(path)`): write the
      // point layer as WKB GeoParquet, read it back through the FORMAT
      // path with a pushed-down filter, decode the WKB in SQL. WKB is
      // lossless, so coordinates equal the generating arithmetic
      // bit-for-bit and the oracle recomputes the filter from source.
      val dir = pipelineDir("q90")
      val pts = s.sql(ptsCteOn("lineitem_par"))
        .withColumn("geom", call_function("st_point", col("lon"), col("lat")))
        .select("l_orderkey", "l_linenumber", "geom")
      graft.sources.GeoParquet.write(pts, "geom", dir)
      s.read.format("geoparquet").load(dir)
        .filter(col("l_orderkey") % 5 === 0)
        .withColumn("geom", call_function("st_geomfromwkb", col("geom")))
        .select(col("l_orderkey"), col("l_linenumber"),
          call_function("st_x", col("geom")).as("px"),
          call_function("st_y", col("geom")).as("py"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Some(
      // DSv2 format paths: WKB / IPC round-trips are lossless, so both
      // oracles recompute from the generating arithmetic
      s"""SELECT l_orderkey, l_linenumber, lon AS px, lat AS py
         |FROM ($PtsCte) WHERE l_orderkey % 5 = 0
         |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("q91_dsv2_arrowipc", { s =>
      // the arrowipc DSv2 scan with record-batch task splitting: IPC part
      // files -> format("arrowipc") read (decode-level column pruning,
      // maxBatchesPerTask splits) -> per-group aggregation. Aggregates are
      // order-independent (count/min/max/int-sum), so the oracle is exact.
      val dir = pipelineDir("q91")
      graft.sources.ArrowIpc.write(s.sql(ptsCteOn("lineitem_par")), dir,
        batchRows = 4096)
      s.read.format("arrowipc").option("maxBatchesPerTask", 4).load(dir)
        .groupBy(pmod(col("l_orderkey"), lit(100L)).as("grp"))
        .agg(count(lit(1)).as("n"),
          min(col("lon")).as("min_lon"), max(col("lon")).as("max_lon"),
          sum(col("l_linenumber")).cast("long").as("sum_ln"))
        .orderBy("grp")
    }, Some(
      s"""SELECT l_orderkey % 100 AS grp, count(*) AS n,
         |  min(lon) AS min_lon, max(lon) AS max_lon,
         |  CAST(sum(l_linenumber) AS BIGINT) AS sum_ln
         |FROM ($PtsCte) GROUP BY grp ORDER BY grp""".stripMargin)),
    QuerySpec("q95_dsv2_geojsonseq", { s =>
      // format("geojsonseq") DSv2: byte-offset split planning (forced here
      // with a small maxSplitBytes so the sweep exercises the straddling-
      // line protocol, not just one-task-per-file), decode-level pruning,
      // same lossless ndjson as q81 — so the oracle is the generating CTE.
      val pts = s.sql(ptsCteOn("lineitem_par"))
        .withColumn("geom", call_function("st_point", col("lon"), col("lat")))
        .select("l_orderkey", "l_linenumber", "geom")
      val dir = pipelineDir("q95")
      graft.sources.GeoJsonSeq.write(pts, "geom", dir)
      s.read.format("geojsonseq").option("maxSplitBytes", 1 << 20).load(dir)
        .select(
          get_json_object(col("properties"), "$.l_orderkey")
            .cast("long").as("l_orderkey"),
          get_json_object(col("properties"), "$.l_linenumber")
            .cast("long").as("l_linenumber"),
          call_function("st_x", col("geom")).as("lon"),
          call_function("st_y", col("geom")).as("lat"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Some(
      // DSv2 scan over the same lossless ndjson: oracle = the same CTE
      s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         |  lon, lat FROM ($PtsCte)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("q96_img_psnr", { s =>
      // the north rule's per-row image invariant as engine ops: a REAL
      // decode -> pixel-perturb -> PNG re-encode -> decode -> compare
      // chain. img_perturb moves every channel by exactly delta (away
      // from the nearer rail, so nothing clamps) => img_mse == delta^2
      // in closed form, and the PSNR>=40dB gate flips between delta=2
      // (42.1 dB) and delta=3 (38.6 dB) — far from float noise. delta=0
      // exercises the identical-image +Infinity path end-to-end.
      s.sql("""SELECT doc_id, img_mse(orig, pert) AS mse,
        |  img_psnr(orig, pert) >= CAST(40.0 AS DOUBLE) AS pass40
        |FROM (SELECT doc_id, orig,
        |    img_perturb(orig, CAST(doc_id % 6 AS INT)) AS pert
        |  FROM (SELECT doc_id,
        |      make_png(w, h, v1, v1, v1, v2, v2, v2) AS orig
        |    FROM (SELECT doc_id,
        |      CAST((doc_id % 5 + 1) * 8 AS INT) AS w,
        |      CAST((doc_id % 4 + 1) * 8 AS INT) AS h,
        |      CAST(doc_id % 256 AS INT) AS v1,
        |      CAST((doc_id * 7 + 13) % 256 AS INT) AS v2
        |     FROM documents_par)))
        |ORDER BY doc_id""".stripMargin)
    }, Some(
      // decoded-pixel parity: MSE is delta^2 exactly (integer diffs, exact
      // double division); pass40 is the PSNR>=40dB predicate, which over
      // delta in 0..5 is simply delta<=2 (42.1 dB vs 38.6 dB either side)
      """SELECT doc_id,
        |  CAST((doc_id % 6) * (doc_id % 6) AS DOUBLE) AS mse,
        |  (doc_id % 6) <= 2 AS pass40
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec("q97_tile_render", { s =>
      // distributed raster tile rendering, audited through REAL pixels:
      // render every non-empty z4 tile as a 256x256 grayscale PNG
      // (intensity = min(255, point count) per pixel), then DECODE each
      // rendered PNG and report lit-pixel count + gray-channel sum. The
      // oracle recomputes both from the raw coordinates with the same
      // web-mercator pixel math — so the whole chain (pixel assignment,
      // two-level aggregation, PNG encode, PNG decode) must agree with
      // closed-form SQL, tile by tile.
      // deliberately raw scan (r06): the world-pixel partial agg collapses
      // the scan output before the only exchange, so a round-robin spread
      // of the input costs more than it saves on a single-shot run
      // (driver-measured +0.25-0.5s with the repartition; same finding as
      // q22)
      val pts = s.sql(s"WITH pts AS ($PtsCte) SELECT lon, lat FROM pts")
      TileRender.renderTiles(pts, "lon", "lat", zoom = 4, size = 256)
        .selectExpr("x AS tx", "y AS ty",
          "img_nonzero(png) AS lit_pixels",
          "img_channel_sum(png, 0) AS gray_sum")
        .orderBy("tx", "ty")
    }, Some(
      // tile-render ground truth: the same web-mercator pixel math in SQL.
      // radians(lat) deliberately: JDK 9+ Math.toRadians is a single multiply
      // by the rounded pi/180 constant, exactly what DuckDB's radians()
      // computes — while lat/180*pi diverges by 1 ulp on ~27% of the lat
      // grid (measured), a floor-flip hazard at pixel granularity. floor ==
      // the kernel's toInt for the nonnegative fractions in play. lit pixels
      // = occupied (tile, pixel) groups; gray sum = sum of clamped counts.
      s"""WITH pts AS (${PtsCte.replace("\n", " ")}),
        |fr AS (SELECT
        |  (lon + 180.0) / 360.0 * 16 AS fx,
        |  (1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat)))
        |     / pi()) / 2.0 * 16 AS fy
        |  FROM pts),
        |px AS (SELECT
        |  CAST(floor(fx) AS INTEGER) AS tx, CAST(floor(fy) AS INTEGER) AS ty,
        |  CAST(floor((fx - floor(fx)) * 256) AS INTEGER) AS ppx,
        |  CAST(floor((fy - floor(fy)) * 256) AS INTEGER) AS ppy
        |  FROM fr),
        |cnt AS (SELECT tx, ty, ppx, ppy, count(*) AS n
        |  FROM px GROUP BY 1, 2, 3, 4)
        |SELECT tx, ty, CAST(count(*) AS BIGINT) AS lit_pixels,
        |  CAST(sum(least(n, 255)) AS BIGINT) AS gray_sum
        |FROM cnt GROUP BY tx, ty ORDER BY tx, ty""".stripMargin)),
    QuerySpec("q98_img_resize", { s =>
      // nearest-neighbor resize, oracled in closed form: NN-resizing a
      // two-band image to even target heights reproduces the two-band
      // image at the target size EXACTLY (row y' samples src row
      // floor(y'*h/h2), which preserves the band split when h and h2 are
      // even), so the decoded-pixel MSE against a directly synthesized
      // target is identically zero for both the 2x upscale and the 1/2
      // downscale. Any dimension or pixel defect would surface as a
      // nonzero (or null) MSE.
      s.sql("""SELECT doc_id,
        |  img_mse(img_resize(orig, wu, hu),
        |          make_png(wu, hu, v1, v1, v1, v2, v2, v2)) AS mse_up,
        |  img_mse(img_resize(orig, wd, hd),
        |          make_png(wd, hd, v1, v1, v1, v2, v2, v2)) AS mse_dn
        |FROM (SELECT doc_id, wu, hu, wd, hd, v1, v2,
        |    make_png(w, h, v1, v1, v1, v2, v2, v2) AS orig
        |  FROM (SELECT doc_id,
        |    CAST((doc_id % 5 + 1) * 8 AS INT) AS w,
        |    CAST((doc_id % 4 + 1) * 8 AS INT) AS h,
        |    CAST((doc_id % 5 + 1) * 16 AS INT) AS wu,
        |    CAST((doc_id % 4 + 1) * 16 AS INT) AS hu,
        |    CAST((doc_id % 5 + 1) * 4 AS INT) AS wd,
        |    CAST((doc_id % 4 + 1) * 4 AS INT) AS hd,
        |    CAST(doc_id % 256 AS INT) AS v1,
        |    CAST((doc_id * 7 + 13) % 256 AS INT) AS v2
        |   FROM documents_par))
        |ORDER BY doc_id""".stripMargin)
    }, Some(
      // NN resize reproduces the two-band synthesis exactly at even target
      // heights -> both MSEs are identically zero (a dims or pixel defect
      // would show as nonzero or null)
      """SELECT doc_id, CAST(0.0 AS DOUBLE) AS mse_up,
        |  CAST(0.0 AS DOUBLE) AS mse_dn
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec("q99_tile_pyramid", { s =>
      // full tile pyramid in one pass over the points: finest level
      // aggregates world pixels directly; every coarser level is an exact
      // integer halving of the one below (size is a power of two, so all
      // pixel-math scalings are exact — the reduction is bit-identical to
      // re-rendering each level from scratch). The oracle re-derives all
      // three levels from raw coordinates by the same shifts.
      // deliberately raw scan (r06): the spread put a RoundRobin exchange
      // under the partial pixel aggregate and regressed the driver run
      val pts = s.sql(s"WITH pts AS ($PtsCte) SELECT lon, lat FROM pts")
      TileRender.renderPyramid(pts, "lon", "lat",
          minZoom = 2, maxZoom = 4, size = 256)
        .selectExpr("z", "x AS tx", "y AS ty",
          "img_nonzero(png) AS lit_pixels",
          "img_channel_sum(png, 0) AS gray_sum")
        .orderBy("z", "tx", "ty")
    }, Some(
      // pyramid ground truth: world pixels at the finest level (same math as
      // q97), then every coarser level by exact integer halving — all scalings
      // are powers of two, so floor(wx/2.0) is exact
      s"""WITH pts AS (${PtsCte.replace("\n", " ")}),
        |fr AS (SELECT
        |  (lon + 180.0) / 360.0 * 16 AS fx,
        |  (1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat)))
        |     / pi()) / 2.0 * 16 AS fy
        |  FROM pts),
        |wp AS (SELECT
        |  CAST(floor(fx) AS BIGINT) * 256
        |    + CAST(floor((fx - floor(fx)) * 256) AS BIGINT) AS wx,
        |  CAST(floor(fy) AS BIGINT) * 256
        |    + CAST(floor((fy - floor(fy)) * 256) AS BIGINT) AS wy
        |  FROM fr),
        |lv AS (
        |  SELECT 4 AS z, wx, wy FROM wp
        |  UNION ALL SELECT 3, CAST(floor(wx / 2.0) AS BIGINT),
        |    CAST(floor(wy / 2.0) AS BIGINT) FROM wp
        |  UNION ALL SELECT 2, CAST(floor(wx / 4.0) AS BIGINT),
        |    CAST(floor(wy / 4.0) AS BIGINT) FROM wp),
        |cnt AS (SELECT z, wx, wy, count(*) AS n FROM lv GROUP BY 1, 2, 3)
        |SELECT z, CAST(floor(wx / 256.0) AS INTEGER) AS tx,
        |  CAST(floor(wy / 256.0) AS INTEGER) AS ty,
        |  CAST(count(*) AS BIGINT) AS lit_pixels,
        |  CAST(sum(least(n, 255)) AS BIGINT) AS gray_sum
        |FROM cnt GROUP BY 1, 2, 3 ORDER BY z, tx, ty""".stripMargin)),
    QuerySpec("q100_weighted_render", { s =>
      // weighted rendering: pixel intensity = min(255, SUM(l_quantity))
      // instead of point count — render any integral measure. Audited the
      // same way as q97: decoded lit-pixels + gray-sum per tile vs a
      // closed-form DuckDB re-derivation from the raw rows.
      val pts = s.sql(s"""WITH pts AS ($PtsCte)
        |SELECT lon, lat, CAST(l_quantity AS BIGINT) AS qty
        |FROM pts JOIN lineitem USING (l_orderkey, l_linenumber)""".stripMargin)
      TileRender.renderTiles(pts, "lon", "lat", zoom = 4, size = 256,
          weightCol = Some("qty"))
        .selectExpr("x AS tx", "y AS ty",
          "img_nonzero(png) AS lit_pixels",
          "img_channel_sum(png, 0) AS gray_sum")
        .orderBy("tx", "ty")
    }, Some(
      // weighted-render ground truth: same pixel math as q97, intensity =
      // clamped SUM(l_quantity) per pixel (quantities are integral, >= 1, so
      // every occupied pixel is lit and the sums are exact integers)
      s"""WITH pts AS (${PtsCte.replace("\n", " ")}),
        |pq AS (SELECT lon, lat, CAST(l_quantity AS BIGINT) AS qty
        |  FROM pts JOIN lineitem USING (l_orderkey, l_linenumber)),
        |fr AS (SELECT
        |  (lon + 180.0) / 360.0 * 16 AS fx,
        |  (1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat)))
        |     / pi()) / 2.0 * 16 AS fy, qty
        |  FROM pq),
        |px AS (SELECT
        |  CAST(floor(fx) AS INTEGER) AS tx, CAST(floor(fy) AS INTEGER) AS ty,
        |  CAST(floor((fx - floor(fx)) * 256) AS INTEGER) AS ppx,
        |  CAST(floor((fy - floor(fy)) * 256) AS INTEGER) AS ppy, qty
        |  FROM fr),
        |cnt AS (SELECT tx, ty, ppx, ppy, sum(qty) AS n
        |  FROM px GROUP BY 1, 2, 3, 4)
        |SELECT tx, ty, CAST(count(*) AS BIGINT) AS lit_pixels,
        |  CAST(sum(least(n, 255)) AS BIGINT) AS gray_sum
        |FROM cnt GROUP BY 1, 2 ORDER BY tx, ty""".stripMargin)),
    QuerySpec("q101_rgb_render", { s =>
      // categorical overlay: one-hot return-flag classes render into the
      // R/G/B channels independently; each tile's decoded per-channel sums
      // and lit-pixel count are re-derived from the raw rows by the oracle.
      val pts = s.sql(s"""WITH pts AS ($PtsCte)
        |SELECT lon, lat,
        |  CAST(l_returnflag = 'R' AS BIGINT) AS r,
        |  CAST(l_returnflag = 'A' AS BIGINT) AS g,
        |  CAST(l_returnflag = 'N' AS BIGINT) AS b
        |FROM pts JOIN lineitem USING (l_orderkey, l_linenumber)""".stripMargin)
      TileRender.renderTilesRgb(pts, "lon", "lat", zoom = 4,
          rCol = "r", gCol = "g", bCol = "b", size = 256)
        .selectExpr("x AS tx", "y AS ty",
          "img_channel_sum(png, 0) AS r_sum",
          "img_channel_sum(png, 1) AS g_sum",
          "img_channel_sum(png, 2) AS b_sum",
          "img_nonzero(png) AS lit_pixels")
        .orderBy("tx", "ty")
    }, Some(
      // RGB-render ground truth: per-channel clamped one-hot sums per pixel,
      // same pixel math as q97; every point has exactly one flag set, so
      // lit pixels == occupied pixels
      s"""WITH pts AS (${PtsCte.replace("\n", " ")}),
        |pq AS (SELECT lon, lat,
        |    CAST(l_returnflag = 'R' AS BIGINT) AS r,
        |    CAST(l_returnflag = 'A' AS BIGINT) AS g,
        |    CAST(l_returnflag = 'N' AS BIGINT) AS b
        |  FROM pts JOIN lineitem USING (l_orderkey, l_linenumber)),
        |fr AS (SELECT
        |  (lon + 180.0) / 360.0 * 16 AS fx,
        |  (1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat)))
        |     / pi()) / 2.0 * 16 AS fy, r, g, b
        |  FROM pq),
        |px AS (SELECT
        |  CAST(floor(fx) AS INTEGER) AS tx, CAST(floor(fy) AS INTEGER) AS ty,
        |  CAST(floor((fx - floor(fx)) * 256) AS INTEGER) AS ppx,
        |  CAST(floor((fy - floor(fy)) * 256) AS INTEGER) AS ppy, r, g, b
        |  FROM fr),
        |cnt AS (SELECT tx, ty, ppx, ppy,
        |    sum(r) AS r, sum(g) AS g, sum(b) AS b
        |  FROM px GROUP BY 1, 2, 3, 4)
        |SELECT tx, ty,
        |  CAST(sum(least(r, 255)) AS BIGINT) AS r_sum,
        |  CAST(sum(least(g, 255)) AS BIGINT) AS g_sum,
        |  CAST(sum(least(b, 255)) AS BIGINT) AS b_sum,
        |  CAST(count(*) AS BIGINT) AS lit_pixels
        |FROM cnt GROUP BY 1, 2 ORDER BY tx, ty""".stripMargin)),
    QuerySpec("q102_poly_render", { s =>
      // vector→raster: scanline-rasterized polygon interiors (25 disjoint
      // weighted boxes) rendered into z3 tiles, audited through decoded
      // pixels; the oracle re-derives each tile's lit-pixel count and
      // weighted gray sum in closed form from the half-open pixel-center
      // fill rule (ceil-bounded integer ranges over the same projected
      // box edges — see core/Raster.scala).
      val boxes = s.sql(s"""SELECT $ZoneBoxCols,
        |  CAST(n_nationkey % 7 + 1 AS BIGINT) AS w FROM nation""".stripMargin)
        .selectExpr("st_boxtopolygon(ax, ay, bx, by) AS g", "w")
      TileRender.renderPolygonTiles(boxes, "g", zoom = 3, size = 256,
          weightCol = Some("w"))
        .selectExpr("x AS tx", "y AS ty",
          "img_nonzero(png) AS lit_pixels",
          "img_channel_sum(png, 0) AS gray_sum")
        .orderBy("tx", "ty")
    }, Some(
      // polygon-rasterization ground truth: the half-open pixel-center fill
      // of a projected box is a pair of integer ranges — per (box, tile),
      // columns P with ua <= P+0.5 < ub are [ceil(ua-0.5), ceil(ub-0.5)-1]
      // and likewise rows; the boxes are disjoint so per-tile sums add.
      // Projection (floor-decomposed world pixels at z=3) is the exact
      // expression tree of Tiles.worldPixelXD/YD.
      s"""WITH b AS (SELECT $ZoneBoxCols,
        |    n_nationkey % 7 + 1 AS w FROM nation),
        |fr AS (SELECT w,
        |  (ax + 180.0) / 360.0 * 8 AS fxa,
        |  (bx + 180.0) / 360.0 * 8 AS fxb,
        |  (1.0 - ln(tan(radians(by)) + 1.0 / cos(radians(by))) / pi()) / 2.0 * 8 AS fyc,
        |  (1.0 - ln(tan(radians(ay)) + 1.0 / cos(radians(ay))) / pi()) / 2.0 * 8 AS fyd
        |  FROM b),
        |u AS (SELECT w,
        |  floor(fxa) * 256 + (fxa - floor(fxa)) * 256 AS ua,
        |  floor(fxb) * 256 + (fxb - floor(fxb)) * 256 AS ub,
        |  floor(fyc) * 256 + (fyc - floor(fyc)) * 256 AS vc,
        |  floor(fyd) * 256 + (fyd - floor(fyd)) * 256 AS vd
        |  FROM fr),
        |t AS (SELECT t1.range AS tx, t2.range AS ty
        |  FROM range(8) t1, range(8) t2),
        |cnt AS (SELECT tx, ty, w,
        |  GREATEST(LEAST(tx * 256 + 255, CAST(ceil(ub - 0.5) AS BIGINT) - 1)
        |    - GREATEST(tx * 256, CAST(ceil(ua - 0.5) AS BIGINT)) + 1, 0) AS nx,
        |  GREATEST(LEAST(ty * 256 + 255, CAST(ceil(vd - 0.5) AS BIGINT) - 1)
        |    - GREATEST(ty * 256, CAST(ceil(vc - 0.5) AS BIGINT)) + 1, 0) AS ny
        |  FROM u, t)
        |SELECT CAST(tx AS INT) AS tx, CAST(ty AS INT) AS ty,
        |  CAST(sum(nx * ny) AS BIGINT) AS lit_pixels,
        |  CAST(sum(w * nx * ny) AS BIGINT) AS gray_sum
        |FROM cnt WHERE nx > 0 AND ny > 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QuerySpec("q103_zonal_stats", { s =>
      // raster→vector: zonal statistics over a RENDERED tile store — the
      // tiles from the q97 pipeline are decoded back to (pixel, value)
      // rows and aggregated by the polygon zone whose interior covers
      // each pixel's center. The oracle recomputes per-pixel clamped
      // counts from the raw coordinates and joins them to the projected
      // zone boxes with the same half-open center predicate.
      // deliberately raw scan (r06): the world-pixel partial agg collapses
      // the scan output before the only exchange, so a round-robin spread
      // of the input costs more than it saves on a single-shot run
      // (driver-measured +0.25-0.5s with the repartition; same finding as
      // q22)
      val pts = s.sql(s"WITH pts AS ($PtsCte) SELECT lon, lat FROM pts")
      val tiles = TileRender.renderTiles(pts, "lon", "lat", zoom = 3, size = 256)
        .select("tile_id", "png")
      val zones = s.sql(s"SELECT n_nationkey, $ZoneBoxColsSW FROM nation")
        .selectExpr("CAST(n_nationkey AS BIGINT) AS zone_id",
          "st_boxtopolygon(ax, ay, bx, by) AS g")
      TileRender.zonalStats(tiles, zones, "zone_id", "g", zoom = 3, size = 256)
        .orderBy("zone_id")
    }, Some(
      // zonal-statistics ground truth: per-pixel clamped counts from the raw
      // coordinates (q97 math at z=3) joined to the projected zone boxes by
      // the same half-open pixel-center predicate the rasterizer fills with
      s"""WITH pts AS (${PtsCte.replace("\n", " ")}),
        |fr AS (SELECT
        |  (lon + 180.0) / 360.0 * 8 AS fx,
        |  (1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat)))
        |     / pi()) / 2.0 * 8 AS fy
        |  FROM pts),
        |wp AS (SELECT
        |  CAST(floor(fx) AS BIGINT) * 256
        |    + CAST(floor((fx - floor(fx)) * 256) AS BIGINT) AS wx,
        |  CAST(floor(fy) AS BIGINT) * 256
        |    + CAST(floor((fy - floor(fy)) * 256) AS BIGINT) AS wy
        |  FROM fr),
        |cnt AS (SELECT wx, wy, least(count(*), 255) AS v
        |  FROM wp GROUP BY 1, 2),
        |b AS (SELECT CAST(n_nationkey AS BIGINT) AS zone_id, $ZoneBoxColsSW
        |  FROM nation),
        |fb AS (SELECT zone_id,
        |  (ax + 180.0) / 360.0 * 8 AS fxa,
        |  (bx + 180.0) / 360.0 * 8 AS fxb,
        |  (1.0 - ln(tan(radians(by)) + 1.0 / cos(radians(by))) / pi()) / 2.0 * 8 AS fyc,
        |  (1.0 - ln(tan(radians(ay)) + 1.0 / cos(radians(ay))) / pi()) / 2.0 * 8 AS fyd
        |  FROM b),
        |u AS (SELECT zone_id,
        |  floor(fxa) * 256 + (fxa - floor(fxa)) * 256 AS ua,
        |  floor(fxb) * 256 + (fxb - floor(fxb)) * 256 AS ub,
        |  floor(fyc) * 256 + (fyc - floor(fyc)) * 256 AS vc,
        |  floor(fyd) * 256 + (fyd - floor(fyd)) * 256 AS vd
        |  FROM fb)
        |SELECT zone_id,
        |  CAST(sum(v) AS BIGINT) AS px_sum,
        |  CAST(count(*) AS BIGINT) AS px_count
        |FROM cnt JOIN u
        |  ON CAST(wx AS DOUBLE) + 0.5 >= ua AND CAST(wx AS DOUBLE) + 0.5 < ub
        |  AND CAST(wy AS DOUBLE) + 0.5 >= vc AND CAST(wy AS DOUBLE) + 0.5 < vd
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    QuerySpec("q104_img_augment", { s =>
      // exact augmentation kernels over decoded pixels, closed-form
      // oracled: vertical flip swaps the two bands (h is even), horizontal
      // flip is the identity on band images (both MSE 0), a quarter turn
      // swaps dimensions and preserves channel sums, and a top-band crop's
      // channel sum is v1 * w * h/2.
      s.sql("""SELECT doc_id,
        |  img_mse(img_flip(orig, 1),
        |          make_png(w, h, v2, v2, v2, v1, v1, v1)) AS mse_v,
        |  img_mse(img_flip(orig, 0), orig) AS mse_h,
        |  img_meta(img_rot90(orig, 1)).decoded_w AS rot_w,
        |  img_meta(img_rot90(orig, 1)).decoded_h AS rot_h,
        |  img_channel_sum(img_rot90(orig, 1), 0) AS rot_sum,
        |  img_channel_sum(img_crop(orig, 0, 0, w, CAST(h / 2 AS INT)), 0)
        |    AS crop_sum
        |FROM (SELECT doc_id, w, h, v1, v2,
        |    make_png(w, h, v1, v1, v1, v2, v2, v2) AS orig
        |  FROM (SELECT doc_id,
        |    CAST((doc_id % 5 + 1) * 8 AS INT) AS w,
        |    CAST((doc_id % 4 + 1) * 8 AS INT) AS h,
        |    CAST(doc_id % 256 AS INT) AS v1,
        |    CAST((doc_id * 7 + 13) % 256 AS INT) AS v2
        |   FROM documents_par))
        |ORDER BY doc_id""".stripMargin)
    }, Some(
      // augmentation ground truth, closed form on two-band images: both
      // flips have MSE 0 (band swap / identity), a quarter turn swaps dims
      // and keeps channel sums (w * h/2 * (v1+v2)), the top-band crop sums
      // to v1 * w * h/2
      """SELECT doc_id,
        |  CAST(0.0 AS DOUBLE) AS mse_v, CAST(0.0 AS DOUBLE) AS mse_h,
        |  CAST((doc_id % 4 + 1) * 8 AS INT) AS rot_w,
        |  CAST((doc_id % 5 + 1) * 8 AS INT) AS rot_h,
        |  CAST((doc_id % 5 + 1) * 8 * (doc_id % 4 + 1) * 4
        |    * (doc_id % 256 + (doc_id * 7 + 13) % 256) AS BIGINT) AS rot_sum,
        |  CAST((doc_id % 5 + 1) * 8 * (doc_id % 4 + 1) * 4
        |    * (doc_id % 256) AS BIGINT) AS crop_sum
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QuerySpec("q106_line_render", { s =>
      // linestring stroke rendering (trajectories/roads): width-1
      // supercover of each projected segment, weighted; horizontal and
      // vertical stroke families CROSS so overlap pixels sum weights.
      // The oracle enumerates every stroke's pixel run in closed form
      // (floor-bounded ranges of the same projected endpoints) and
      // re-aggregates — decoded lit-pixels + gray-sum per tile bit-exact.
      val strokes = s.sql(
        s"SELECT w, st_makeline(x1, y1, x2, y2) AS g FROM ($StrokeCte)")
      TileRender.renderPolygonTiles(strokes, "g", zoom = 3, size = 256,
          weightCol = Some("w"))
        .selectExpr("x AS tx", "y AS ty",
          "img_nonzero(png) AS lit_pixels",
          "img_channel_sum(png, 0) AS gray_sum")
        .orderBy("tx", "ty")
    }, Some(
      // stroke-render ground truth: a width-1 supercover of an axis-aligned
      // projected segment is one floor-bounded pixel run — enumerate every
      // stroke's run, sum weights per pixel (crossings add), clamp, and
      // re-derive each tile's lit count and gray sum
      s"""WITH s AS (${StrokeCte.replace("\n", " ")}),
        |proj AS (SELECT w, y1 = y2 AS horiz,
        |  (x1 + 180.0) / 360.0 * 8 AS fx1,
        |  (x2 + 180.0) / 360.0 * 8 AS fx2,
        |  (1.0 - ln(tan(radians(y1)) + 1.0 / cos(radians(y1))) / pi()) / 2.0 * 8 AS fy1,
        |  (1.0 - ln(tan(radians(y2)) + 1.0 / cos(radians(y2))) / pi()) / 2.0 * 8 AS fy2
        |  FROM s),
        |u AS (SELECT w, horiz,
        |  floor(fx1) * 256 + (fx1 - floor(fx1)) * 256 AS u1,
        |  floor(fx2) * 256 + (fx2 - floor(fx2)) * 256 AS u2,
        |  floor(fy1) * 256 + (fy1 - floor(fy1)) * 256 AS v1,
        |  floor(fy2) * 256 + (fy2 - floor(fy2)) * 256 AS v2
        |  FROM proj),
        |hp AS (SELECT w, CAST(floor(v1) AS BIGINT) AS wy,
        |  unnest(generate_series(CAST(floor(u1) AS BIGINT),
        |    CAST(floor(u2) AS BIGINT))) AS wx
        |  FROM u WHERE horiz),
        |vp AS (SELECT w, CAST(floor(u1) AS BIGINT) AS wx,
        |  unnest(generate_series(CAST(floor(LEAST(v1, v2)) AS BIGINT),
        |    CAST(floor(GREATEST(v1, v2)) AS BIGINT))) AS wy
        |  FROM u WHERE NOT horiz),
        |px AS (SELECT wx, wy, w FROM hp UNION ALL SELECT wx, wy, w FROM vp),
        |cnt AS (SELECT wx, wy, least(sum(w), 255) AS v
        |  FROM px GROUP BY 1, 2)
        |SELECT CAST(wx // 256 AS INT) AS tx, CAST(wy // 256 AS INT) AS ty,
        |  CAST(count(*) AS BIGINT) AS lit_pixels,
        |  CAST(sum(v) AS BIGINT) AS gray_sum
        |FROM cnt GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QuerySpec("q110_thick_stroke", { s =>
      // width-5px round-capped DIAGONAL strokes: a pixel lights when its
      // center is within 2.5px of the projected segment — ONE shared
      // distance expression (clamped-projection point-to-segment), so
      // the oracle replicates arbitrary-angle thick strokes bit-exactly
      // by enumerating each stroke's inflated pixel box and evaluating
      // the same predicate. Weighted; overlaps sum.
      val strokes = s.sql("""SELECT w, st_makeline(gx1, gy1, gx2, gy2) AS g
        |FROM (SELECT k, w, gx1, gy1,
        |    gx1 + CAST(25.4 AS DOUBLE) AS gx2,
        |    gy1 + CAST(11.3 AS DOUBLE) AS gy2
        |  FROM (SELECT n_nationkey AS k,
        |    CAST(n_nationkey % 9 + 1 AS BIGINT) AS w,
        |    CAST(-150.3 AS DOUBLE) + CAST(n_nationkey AS DOUBLE) * CAST(9.7 AS DOUBLE) AS gx1,
        |    CAST(-60.2 AS DOUBLE) + CAST(n_nationkey AS DOUBLE) * CAST(3.1 AS DOUBLE) AS gy1
        |   FROM nation))""".stripMargin)
      TileRender.renderPolygonTiles(strokes, "g", zoom = 3, size = 256,
          weightCol = Some("w"), strokeWidthPx = 5.0)
        .selectExpr("x AS tx", "y AS ty",
          "img_nonzero(png) AS lit_pixels",
          "img_channel_sum(png, 0) AS gray_sum")
        .orderBy("tx", "ty")
    }, Some(
      // thick-stroke ground truth: enumerate each stroke's inflated pixel
      // box and evaluate the SAME clamped-projection point-to-segment
      // distance expression the kernel uses (r = 2.5 px), sum weights per
      // pixel, clamp, re-derive per-tile lit + gray
      """WITH s AS (SELECT n_nationkey AS k, n_nationkey % 9 + 1 AS w,
        |    CAST(-150.3 AS DOUBLE) + CAST(n_nationkey AS DOUBLE) * CAST(9.7 AS DOUBLE) AS gx1,
        |    CAST(-60.2 AS DOUBLE) + CAST(n_nationkey AS DOUBLE) * CAST(3.1 AS DOUBLE) AS gy1
        |  FROM nation),
        |e AS (SELECT k, w, gx1, gy1,
        |    gx1 + CAST(25.4 AS DOUBLE) AS gx2,
        |    gy1 + CAST(11.3 AS DOUBLE) AS gy2 FROM s),
        |pj AS (SELECT k, w,
        |  (gx1 + 180.0) / 360.0 * 8 AS fx1,
        |  (gx2 + 180.0) / 360.0 * 8 AS fx2,
        |  (1.0 - ln(tan(radians(gy1)) + 1.0 / cos(radians(gy1))) / pi()) / 2.0 * 8 AS fy1,
        |  (1.0 - ln(tan(radians(gy2)) + 1.0 / cos(radians(gy2))) / pi()) / 2.0 * 8 AS fy2
        |  FROM e),
        |u AS (SELECT k, w,
        |  floor(fx1) * 256 + (fx1 - floor(fx1)) * 256 AS x1,
        |  floor(fx2) * 256 + (fx2 - floor(fx2)) * 256 AS x2,
        |  floor(fy1) * 256 + (fy1 - floor(fy1)) * 256 AS y1,
        |  floor(fy2) * 256 + (fy2 - floor(fy2)) * 256 AS y2
        |  FROM pj),
        |cand AS (SELECT k, w, x1, y1, x2, y2,
        |    x2 - x1 AS ddx, y2 - y1 AS ddy,
        |    (x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1) AS len2,
        |    unnest(generate_series(
        |      CAST(floor(LEAST(x1, x2) - 3.0) AS BIGINT),
        |      CAST(ceil(GREATEST(x1, x2) + 3.0) AS BIGINT))) AS wx
        |  FROM u),
        |cpx AS (SELECT k, w, x1, y1, ddx, ddy, len2, wx,
        |    unnest(generate_series(
        |      CAST(floor(LEAST(y1, y2) - 3.0) AS BIGINT),
        |      CAST(ceil(GREATEST(y1, y2) + 3.0) AS BIGINT))) AS wy
        |  FROM cand),
        |hit AS (SELECT wx, wy, w FROM (
        |    SELECT wx, wy, w,
        |      CAST(wx AS DOUBLE) + 0.5 - (x1 + LEAST(GREATEST(
        |        ((CAST(wx AS DOUBLE) + 0.5 - x1) * ddx
        |          + (CAST(wy AS DOUBLE) + 0.5 - y1) * ddy) / len2,
        |        0.0), 1.0) * ddx) AS dx,
        |      CAST(wy AS DOUBLE) + 0.5 - (y1 + LEAST(GREATEST(
        |        ((CAST(wx AS DOUBLE) + 0.5 - x1) * ddx
        |          + (CAST(wy AS DOUBLE) + 0.5 - y1) * ddy) / len2,
        |        0.0), 1.0) * ddy) AS dy
        |    FROM cpx)
        |  WHERE dx * dx + dy * dy <= CAST(2.5 AS DOUBLE) * CAST(2.5 AS DOUBLE)),
        |cnt AS (SELECT wx, wy, least(sum(w), 255) AS v
        |  FROM hit GROUP BY 1, 2)
        |SELECT CAST(wx // 256 AS INT) AS tx, CAST(wy // 256 AS INT) AS ty,
        |  CAST(count(*) AS BIGINT) AS lit_pixels,
        |  CAST(sum(v) AS BIGINT) AS gray_sum
        |FROM cnt GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QuerySpec("q134_pagerank", { s =>
      // link-graph authority: fixed-point PageRank (damping 17/20, floor
      // at every division, long-sum accumulation) over a skewed synthetic
      // web — a third of the edges funnel into 12 hub nodes, so the rank
      // mass concentrates the way real link graphs do. Integer arithmetic
      // end-to-end: the oracle unrolls the same three iterations with
      // DuckDB floor division and matches bit-for-bit.
      val edges = s.sql(
        """SELECT o_custkey % 150 AS src,
          |  CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey % 12
          |       ELSE o_orderkey % 150 END AS dst
          |FROM orders""".stripMargin)
      graft.operators.Graph.pageRank(edges, "src", "dst", iters = 3)
        .orderBy("node")
    }, Some(
      // fixed-point PageRank: same distinct edge set, same integer share
      // chain ((r*17)//20)//outdeg (DuckDB // == Spark DIV on positives),
      // same base 150000000 = scale*3/20, three unrolled iterations
      """WITH e AS (SELECT DISTINCT o_custkey % 150 AS src,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey % 12
        |         ELSE o_orderkey % 150 END AS dst
        |  FROM orders),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |od AS (SELECT src AS node, count(*) AS outdeg FROM e GROUP BY src),
        |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM n),
        |s0 AS (SELECT e.dst AS node,
        |    sum(((r0.rank * 17) // 20) // od.outdeg) AS m
        |  FROM e JOIN r0 ON r0.node = e.src JOIN od ON od.node = e.src
        |  GROUP BY e.dst),
        |r1 AS (SELECT n.node,
        |    CAST(150000000 + coalesce(s0.m, 0) AS BIGINT) AS rank
        |  FROM n LEFT JOIN s0 USING (node)),
        |s1 AS (SELECT e.dst AS node,
        |    sum(((r1.rank * 17) // 20) // od.outdeg) AS m
        |  FROM e JOIN r1 ON r1.node = e.src JOIN od ON od.node = e.src
        |  GROUP BY e.dst),
        |r2 AS (SELECT n.node,
        |    CAST(150000000 + coalesce(s1.m, 0) AS BIGINT) AS rank
        |  FROM n LEFT JOIN s1 USING (node)),
        |s2 AS (SELECT e.dst AS node,
        |    sum(((r2.rank * 17) // 20) // od.outdeg) AS m
        |  FROM e JOIN r2 ON r2.node = e.src JOIN od ON od.node = e.src
        |  GROUP BY e.dst),
        |r3 AS (SELECT n.node,
        |    CAST(150000000 + coalesce(s2.m, 0) AS BIGINT) AS rank
        |  FROM n LEFT JOIN s2 USING (node))
        |SELECT node, rank FROM r3 ORDER BY node""".stripMargin)),
    QuerySpec("q135_tracks", { s =>
      // trajectory assembly: one LINESTRING per entity in (ts, tie) order;
      // track length is st_length's left-to-right sqrt fold over the
      // sorted vertices, which the oracle replays with an ordered
      // list_reduce — length, endpoints and counts all bit-exact
      val pings = s.sql(TrackPingsCte)
      graft.operators.Trajectory
        .buildTracks(pings, "entity", "ts", "tie", "lon", "lat")
        .selectExpr("entity", "n_pings", "t0", "t1", "track_len",
          "st_x(st_pointn(track, 1)) AS x0",
          "st_y(st_pointn(track, 1)) AS y0",
          "st_x(st_pointn(track, CAST(n_pings AS INT))) AS xn",
          "st_y(st_pointn(track, CAST(n_pings AS INT))) AS yn",
          "st_npoints(track) AS n_vertices")
        .orderBy("entity")
    }, Some(
      // trajectory assembly: per-entity time-ordered vertex lists; length =
      // the same left-to-right fold of sqrt(dx*dx + dy*dy) st_length runs
      // (seeded [0.0] so single-ping tracks fold to 0.0)
      s"""WITH pings AS (${TrackPingsCte.replace("\n", " ")}),
        |tr AS (SELECT entity, count(*) AS n_pings, min(ts) AS t0,
        |    max(ts) AS t1,
        |    list(lon ORDER BY ts, tie, lon, lat) AS xs,
        |    list(lat ORDER BY ts, tie, lon, lat) AS ys
        |  FROM pings GROUP BY entity)
        |SELECT entity, n_pings, t0, t1,
        |  list_reduce([CAST(0 AS DOUBLE)] ||
        |    list_transform(generate_series(2, CAST(n_pings AS INTEGER)),
        |      i -> sqrt((xs[i] - xs[i-1]) * (xs[i] - xs[i-1]) +
        |                (ys[i] - ys[i-1]) * (ys[i] - ys[i-1]))),
        |    (a, b) -> a + b) AS track_len,
        |  xs[1] AS x0, ys[1] AS y0,
        |  xs[CAST(n_pings AS INTEGER)] AS xn,
        |  ys[CAST(n_pings AS INTEGER)] AS yn,
        |  CAST(n_pings AS INTEGER) AS n_vertices
        |FROM tr ORDER BY entity""".stripMargin)),
    QuerySpec("q136_kinematics", { s =>
      // per-ping kinematics: step distance / elapsed seconds / speed from
      // the previous ping of the same entity (time order), NULL speed on
      // first pings and duplicate timestamps (no 0/0 NaN), plus the
      // GPS-jitter flag at a fixed threshold — every double is a single
      // fixed expression over lag pairs, replicated verbatim in DuckDB
      val pings = s.sql(TrackPingsCte)
      graft.operators.Trajectory
        .withKinematics(pings, "entity", "ts", "tie", "lon", "lat")
        .selectExpr("entity", "tie", "step_dist", "step_s", "speed",
          "speed IS NOT NULL AND speed > CAST(0.00005 AS DOUBLE) AS is_jump")
        .orderBy("entity", "tie")
    }, Some(
      // kinematics: identical lag pairs, identical expression trees —
      // step_s computed first, speed as step_dist / step_s (two divisions
      // total, both replicated), NULL-guarded on dt <= 0
      s"""WITH pings AS (${TrackPingsCte.replace("\n", " ")}),
        |lagged AS (SELECT entity, tie, lon, lat, epoch_us(ts) AS us,
        |    lag(lon) OVER w AS plon, lag(lat) OVER w AS plat,
        |    lag(epoch_us(ts)) OVER w AS pus
        |  FROM pings WINDOW w AS (PARTITION BY entity ORDER BY ts, tie, lon, lat)),
        |k AS (SELECT entity, tie,
        |    sqrt((lon - plon) * (lon - plon) +
        |         (lat - plat) * (lat - plat)) AS step_dist,
        |    CAST(us - pus AS DOUBLE) / 1000000.0 AS step_s,
        |    us - pus AS dt_us
        |  FROM lagged)
        |SELECT entity, tie, step_dist, step_s,
        |  CASE WHEN dt_us > 0 THEN step_dist / step_s END AS speed,
        |  coalesce(CASE WHEN dt_us > 0 THEN step_dist / step_s END
        |    > CAST(0.00005 AS DOUBLE), FALSE) AS is_jump
        |FROM k ORDER BY entity, tie""".stripMargin)),
    QuerySpec("q137_od_matrix", { s =>
      // origin->destination flows at zoom 6: each entity's first/last ping
      // (lexicographic min/max of (ts, tie, x, y) structs — no window over
      // the ping table) maps to a Web-Mercator tile; the oracle re-derives
      // first/last with rank windows over the SAME four-key total order
      // and the tile from q22's ln/tan formula (bit-parity established
      // there)
      val pings = s.sql(TrackPingsCte)
      graft.operators.Trajectory
        .odMatrix(pings, "entity", "ts", "tie", "lon", "lat", z = 6)
        .orderBy("o_tx", "o_ty", "d_tx", "d_ty")
    }, Some(
      // OD matrix: first/last ping via rank windows (Spark uses min/max of
      // (ts, tie, x, y) structs — tie is unique so both resolve the same
      // row), tiles from q22's Web-Mercator formula at 2^6 = 64
      s"""WITH pings AS (${TrackPingsCte.replace("\n", " ")}),
        |sel AS (SELECT entity, lon, lat,
        |    row_number() OVER (PARTITION BY entity ORDER BY ts, tie, lon, lat) AS ra,
        |    row_number() OVER (PARTITION BY entity ORDER BY ts DESC, tie DESC, lon DESC, lat DESC) AS rd,
        |    count(*) OVER (PARTITION BY entity) AS np
        |  FROM pings),
        |o AS (SELECT entity, lon AS ox, lat AS oy, np FROM sel WHERE ra = 1),
        |d AS (SELECT entity, lon AS ex, lat AS ey FROM sel WHERE rd = 1),
        |od AS (SELECT o.entity, ox, oy, ex, ey, np
        |  FROM o JOIN d ON o.entity = d.entity)
        |SELECT
        |  CAST(floor((ox + 180.0) / 360.0 * 64) AS INTEGER) AS o_tx,
        |  CAST(floor((1.0 - ln(tan(radians(oy)) + 1.0 / cos(radians(oy))) / pi()) / 2.0 * 64) AS INTEGER) AS o_ty,
        |  CAST(floor((ex + 180.0) / 360.0 * 64) AS INTEGER) AS d_tx,
        |  CAST(floor((1.0 - ln(tan(radians(ey)) + 1.0 / cos(radians(ey))) / pi()) / 2.0 * 64) AS INTEGER) AS d_ty,
        |  count(*) AS n_entities, CAST(sum(np) AS BIGINT) AS n_pings
        |FROM od GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin)),
    QuerySpec("q138_convolve", { s =>
      // distributed raster stencil (Gaussian blur) over a RENDERED tile
      // store, audited through real pixels: render z4 density tiles, then
      // convolve with [1,2,1]⊗[1,2,1] DIV 16 — each lit pixel scatters 9
      // weighted contributions onto WORLD pixels, so output pixels on tile
      // boundaries reassemble neighbor tiles' data (the halo exchange) and
      // blur bleeds into previously-absent tiles. Integer arithmetic
      // end-to-end (clamped decode → multiply → sum → floor-div): the
      // oracle replays pixel counts, the 9-tap scatter and the division in
      // closed form, tile by tile.
      // deliberately raw scan (r06): the world-pixel partial agg collapses
      // the scan output before the only exchange, so a round-robin spread
      // of the input costs more than it saves on a single-shot run
      // (driver-measured +0.25-0.5s with the repartition; same finding as
      // q22)
      val pts = s.sql(s"WITH pts AS ($PtsCte) SELECT lon, lat FROM pts")
      val rendered = TileRender.renderTiles(pts, "lon", "lat", zoom = 4,
        size = 256)
      TileRender.convolve(rendered, TileRender.GaussianKernel, 16L,
          size = 256)
        .selectExpr("x AS tx", "y AS ty",
          "img_nonzero(png) AS lit_pixels",
          "img_channel_sum(png, 0) AS gray_sum")
        .orderBy("tx", "ty")
    }, Some(
      // Gaussian-blur stencil: q97's pixel counts (clamped at 255 exactly
      // like the rendered PNG the engine decodes), scattered through the
      // separable 9-tap [1,2,1]⊗[1,2,1] kernel on WORLD pixels (so tile
      // boundaries and bleed-into-absent-tiles follow from the grouping,
      // same as the engine's halo exchange), floor-divided by 16
      s"""WITH pts AS (${PtsCte.replace("\n", " ")}),
        |fr AS (SELECT
        |  (lon + 180.0) / 360.0 * 16 AS fx,
        |  (1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat)))
        |     / pi()) / 2.0 * 16 AS fy
        |  FROM pts),
        |px AS (SELECT
        |  CAST(floor(fx) AS INTEGER) AS tx, CAST(floor(fy) AS INTEGER) AS ty,
        |  CAST(floor((fx - floor(fx)) * 256) AS INTEGER) AS ppx,
        |  CAST(floor((fy - floor(fy)) * 256) AS INTEGER) AS ppy
        |  FROM fr),
        |cnt AS (SELECT tx, ty, ppx, ppy, count(*) AS n
        |  FROM px GROUP BY 1, 2, 3, 4),
        |base AS (SELECT CAST(tx AS BIGINT) * 256 + ppx AS wx,
        |    CAST(ty AS BIGINT) * 256 + ppy AS wy,
        |    CAST(least(n, 255) AS BIGINT) AS v
        |  FROM cnt),
        |sc AS (SELECT wx + ox.d AS wx, wy + oy.d AS wy, v * ox.w * oy.w AS c
        |  FROM base,
        |    (VALUES (-1, 1), (0, 2), (1, 1)) AS ox(d, w),
        |    (VALUES (-1, 1), (0, 2), (1, 1)) AS oy(d, w)),
        |conv AS (SELECT wx, wy, sum(c) // 16 AS v FROM sc
        |  WHERE wx BETWEEN 0 AND 4095 AND wy BETWEEN 0 AND 4095
        |  GROUP BY wx, wy)
        |SELECT CAST(wx // 256 AS INTEGER) AS tx,
        |  CAST(wy // 256 AS INTEGER) AS ty,
        |  CAST(coalesce(count(*) FILTER (WHERE v > 0), 0) AS BIGINT)
        |    AS lit_pixels,
        |  CAST(sum(v) AS BIGINT) AS gray_sum
        |FROM conv GROUP BY 1, 2 ORDER BY tx, ty""".stripMargin)),
    QuerySpec("q141_ann_pq", { s =>
      // product quantization, train→encode→serve oracled end-to-end: two
      // 32-d subspaces each trained with the fixed-point k-means (k=4,
      // 2 iterations, md5 seeds — the q113 machinery over slices), corpus
      // encoded to 2 codes, queries precompute exact subspace-L2² ADC
      // tables, candidates rank by two table lookups (ordered sum), exact
      // cosine rerank on the top 12. The oracle replays every stage —
      // codebooks, codes, tables, ADC sums, both rank windows — in SQL.
      val corpus = s.table("embeddings")
      val queries = s.table("embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.pqTopK(corpus, queries, "embedding", "vec_id", "qid", "qvec",
          k = 3, m = 2, kSub = 4, iters = 2, rerank = 4)
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("vec_id"), col("cos"))
        .orderBy("qid", "rank")
    }, Some(
      // PQ/ADC: subspace k-means replicas (slices [1:32], [33:64]) feed
      // code and table CTEs; adist = taba + tabb in subspace order (the
      // engine folds from 0.0, and 0.0 + x == x bitwise for x >= 0);
      // candidate window (adist ASC, id), exact-cosine rerank as in q43
      s"""WITH hs AS (SELECT vec_id, embedding,
        |    md5(CAST(vec_id AS VARCHAR)) AS hh FROM embeddings),
        |${pqKmCtes("a", 1, 32)},
        |${pqKmCtes("b", 33, 64)},
        |ad AS (SELECT ta.qid, ca.vec_id, ta.d2 + tb.d2 AS adist
        |  FROM codea ca JOIN codeb cb USING (vec_id)
        |  JOIN taba ta ON ta.c = ca.code
        |  JOIN tabb tb ON tb.c = cb.code AND tb.qid = ta.qid
        |  WHERE ca.vec_id <> ta.qid),
        |cand AS (SELECT qid, vec_id FROM (
        |    SELECT qid, vec_id,
        |      row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS ar
        |  FROM ad) WHERE ar <= 12),
        |rr AS (SELECT cand.qid, cand.vec_id,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM
        |      (SELECT unnest(e.embedding) AS x, unnest(q.embedding) AS y) z)
        |    / (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM
        |        (SELECT unnest(e.embedding) AS x) z))
        |       * sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM
        |        (SELECT unnest(q.embedding) AS y) z))) AS cos
        |  FROM cand JOIN hs e ON e.vec_id = cand.vec_id
        |            JOIN hs q ON q.vec_id = cand.qid)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, cos FROM (
        |  SELECT qid, vec_id, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
        |  FROM rr) WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)),
    QuerySpec("q139_triangles", { s =>
      // per-node triangle counts over q134's skewed synthetic web (hubs
      // make the degree-ordered orientation actually matter): undirected
      // simple graph, each triangle found exactly once at its lowest-
      // (degree, id) corner, counts distributed back to all three corners.
      // Exact integer output; the oracle re-derives the same triangle set
      // with the id-ordered three-way self-join (orientation-independent).
      val edges = s.sql(
        """SELECT o_custkey % 150 AS src,
          |  CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey % 12
          |       ELSE o_orderkey % 150 END AS dst
          |FROM orders""".stripMargin)
      graft.operators.Graph.triangleCounts(edges, "src", "dst")
        .orderBy("node")
    }, Some(
      // triangle counts: the id-ordered (a < b < c) three-way self-join
      // finds the same triangle set as the engine's degree-ordered
      // orientation (triangles are orientation-independent); per-node count
      // = corner multiplicity, zero-filled over all nodes
      """WITH raw AS (SELECT o_custkey % 150 AS src,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey % 12
        |         ELSE o_orderkey % 150 END AS dst
        |  FROM orders),
        |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM raw WHERE src <> dst),
        |n AS (SELECT a AS node FROM e UNION SELECT b FROM e),
        |t AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |c AS (SELECT node, count(*) AS cnt FROM (
        |    SELECT u AS node FROM t
        |    UNION ALL SELECT v FROM t
        |    UNION ALL SELECT w FROM t)
        |  GROUP BY node)
        |SELECT n.node, CAST(coalesce(c.cnt, 0) AS BIGINT) AS triangles
        |FROM n LEFT JOIN c USING (node) ORDER BY node""".stripMargin)),
    QuerySpec("q140_hausdorff", { s =>
      // trajectory similarity: discrete symmetric Hausdorff distance
      // between consecutive entities' assembled tracks (vertex-sampled,
      // squared-space max/min with one final sqrt — bit-replicable because
      // sqrt is monotone and correctly rounded in both engines). The
      // oracle recomputes both directed legs from the raw ping sets (the
      // measure is vertex-ORDER-independent, so no sorting enters).
      val pings = s.sql(TrackPingsCte).where("entity < 41")
      val tracks = graft.operators.Trajectory
        .buildTracks(pings, "entity", "ts", "tie", "lon", "lat")
        .select(col("entity"), col("track"))
      val b = tracks.select((col("entity") - 1).as("entity"),
        col("track").as("track_b"))
      tracks.join(b, "entity")
        .selectExpr("entity", "st_hausdorff(track, track_b) AS hd")
        .orderBy("entity")
    }, Some(
      // discrete Hausdorff: both directed legs from the raw ping sets —
      // min of the same (dx*dx + dy*dy) tree per vertex, max per entity,
      // sqrt(greatest(...)) at the end (sqrt is monotone, so squared-space
      // min/max + one sqrt == per-pair sqrt + min/max bit-for-bit)
      s"""WITH p0 AS (${TrackPingsCte.replace("\n", " ")}),
        |v AS (SELECT entity, lon AS x, lat AS y FROM p0 WHERE entity < 41),
        |m1 AS (SELECT va.entity, va.x, va.y,
        |    min((va.x - vb.x) * (va.x - vb.x) +
        |        (va.y - vb.y) * (va.y - vb.y)) AS m
        |  FROM v va JOIN v vb ON vb.entity = va.entity + 1
        |  GROUP BY va.entity, va.x, va.y),
        |h1 AS (SELECT entity, max(m) AS d2 FROM m1 GROUP BY entity),
        |m2 AS (SELECT vb.entity - 1 AS entity, vb.x, vb.y,
        |    min((vb.x - va.x) * (vb.x - va.x) +
        |        (vb.y - va.y) * (vb.y - va.y)) AS m
        |  FROM v vb JOIN v va ON va.entity = vb.entity - 1
        |  GROUP BY vb.entity, vb.x, vb.y),
        |h2 AS (SELECT entity, max(m) AS d2 FROM m2 GROUP BY entity)
        |SELECT h1.entity, sqrt(greatest(h1.d2, h2.d2)) AS hd
        |FROM h1 JOIN h2 USING (entity) ORDER BY entity""".stripMargin)),
    QuerySpec("q142_hausdorff_join", { s =>
      // trajectory similarity JOIN: discover ALL track pairs within
      // Hausdorff 3.0 via the expanded-envelope tile-cover candidate join
      // (SpatialJoins.hausdorffJoin — candidates equi-join on shared
      // cover tiles, min-shared-tile exactly-once claim, exact
      // st_hausdorff refine). The compact-ping synthesis pins the true
      // hit set to the within-anchor pairs (2k, 2k+1) while cross-anchor
      // candidates still reach the exact refine (zoom-6 tiles are 5.625°
      // wide vs the 4° expanded-envelope gap), so the kernel — not the
      // cull — decides every output row. The oracle rediscovers the same
      // pairs from raw ping sets: expanded-envelope candidate prefilter
      // (sound: h<=d forces env(A)⊆env(B)+d both ways), then both
      // directed legs exactly as q140.
      val pings = s.sql(CompactPingsCte).where("entity < 80")
      val tracks = graft.operators.Trajectory
        .buildTracks(pings, "entity", "ts", "tie", "lon", "lat")
        .select(col("entity"), col("track"))
      val right = tracks.select(col("entity").as("entity_b"),
        col("track").as("track_b"))
      SpatialJoins.hausdorffJoin(tracks, right, "track", "track_b",
          maxDist = 3.0, zoom = 6)
        .where(col("entity") < col("entity_b"))
        .select(col("entity").as("entity_a"), col("entity_b"),
          col("hausdorff"))
        .orderBy("entity_a", "entity_b")
    }, Some(
      // Hausdorff similarity JOIN: rediscover the hit pairs from raw ping
      // sets — envelope candidates expanded by the radius (sound: h<=d
      // forces env(A) ⊆ env(B)+d in BOTH directions, so candidate boxes
      // must overlap after expansion), then both directed legs exactly as
      // the q140 replica (squared-space min/max, one final monotone sqrt)
      s"""WITH p0 AS (${CompactPingsCte.replace("\n", " ")}),
        |v AS (SELECT entity, lon AS x, lat AS y FROM p0 WHERE entity < 80),
        |e AS (SELECT entity, min(x) AS x0, min(y) AS y0,
        |    max(x) AS x1, max(y) AS y1 FROM v GROUP BY entity),
        |cand AS (SELECT a.entity AS ea, b.entity AS eb
        |  FROM e a JOIN e b ON a.entity < b.entity
        |  AND a.x1 + CAST(3.0 AS DOUBLE) >= b.x0
        |  AND b.x1 + CAST(3.0 AS DOUBLE) >= a.x0
        |  AND a.y1 + CAST(3.0 AS DOUBLE) >= b.y0
        |  AND b.y1 + CAST(3.0 AS DOUBLE) >= a.y0),
        |m1 AS (SELECT c.ea, c.eb, va.x, va.y,
        |    min((va.x - vb.x) * (va.x - vb.x) +
        |        (va.y - vb.y) * (va.y - vb.y)) AS m
        |  FROM cand c JOIN v va ON va.entity = c.ea
        |  JOIN v vb ON vb.entity = c.eb
        |  GROUP BY c.ea, c.eb, va.x, va.y),
        |h1 AS (SELECT ea, eb, max(m) AS d2 FROM m1 GROUP BY ea, eb),
        |m2 AS (SELECT c.ea, c.eb, vb.x, vb.y,
        |    min((vb.x - va.x) * (vb.x - va.x) +
        |        (vb.y - va.y) * (vb.y - va.y)) AS m
        |  FROM cand c JOIN v vb ON vb.entity = c.eb
        |  JOIN v va ON va.entity = c.ea
        |  GROUP BY c.ea, c.eb, vb.x, vb.y),
        |h2 AS (SELECT ea, eb, max(m) AS d2 FROM m2 GROUP BY ea, eb)
        |SELECT ea AS entity_a, eb AS entity_b,
        |  sqrt(greatest(h1.d2, h2.d2)) AS hausdorff
        |FROM h1 JOIN h2 USING (ea, eb)
        |WHERE sqrt(greatest(h1.d2, h2.d2)) <= CAST(3.0 AS DOUBLE)
        |ORDER BY entity_a, entity_b""".stripMargin)),
    QuerySpec("q143_edit_neardups", { s =>
      // fuzzy short-string dedup: ALL caption pairs within Levenshtein 1
      // via the SymSpell deletion-neighborhood join (complete for
      // distance <= 1; exact levenshtein refine decides every pair —
      // both engines implement the standard unit-cost DP, so the integer
      // distances compare exactly). The corpus is a 1,500-name md5-rank
      // sample of part names plus 300 planted twins (exact copy /
      // one-char deletion / one-char substitution, round-robin by rank),
      // so the hit set is non-vacuous at every sf; the oracle is the
      // definitional brute force over the same 1,800 rows with a sound
      // |length diff| <= 1 prefilter. maxBand = 0 exercises the exact
      // min-shared-key exactly-once path (no distinct in the plan).
      val rows = s.sql(
        """WITH ranked AS (
          |  SELECT p_partkey AS id, p_name AS name, row_number() OVER
          |    (ORDER BY md5(CAST(p_partkey AS STRING)), p_partkey) AS r
          |  FROM part),
          |base AS (SELECT id, name FROM ranked WHERE r <= 1500),
          |pert AS (SELECT id + 100000000 AS id,
          |    CASE WHEN r % 3 = 0 THEN name
          |         WHEN r % 3 = 1 THEN
          |           substr(name, 1, CAST(id % length(name) AS INT))
          |           || substr(name, CAST(id % length(name) AS INT) + 2)
          |         ELSE substr(name, 1, CAST(id % length(name) AS INT))
          |           || 'x' || substr(name, CAST(id % length(name) AS INT) + 2)
          |    END AS name
          |  FROM ranked WHERE r <= 300)
          |SELECT * FROM base UNION ALL SELECT * FROM pert""".stripMargin)
      Dedup.editNearDups(rows, "name", "id", maxBand = 0)
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
        .orderBy("id_a", "id_b")
    }, Some(
      // edit-distance near-dups: definitional brute force over the same
      // 1,800-row sample — every a<b pair within |length diff| <= 1 (sound
      // prefilter: one edit changes length by at most 1) scored by the
      // standard unit-cost levenshtein DP, kept at distance <= 1
      """WITH ranked AS (
        |  SELECT p_partkey AS id, p_name AS name, row_number() OVER
        |    (ORDER BY md5(CAST(p_partkey AS VARCHAR)), p_partkey) AS r
        |  FROM part),
        |base AS (SELECT id, name FROM ranked WHERE r <= 1500),
        |pert AS (SELECT id + 100000000 AS id,
        |    CASE WHEN r % 3 = 0 THEN name
        |         WHEN r % 3 = 1 THEN
        |           substr(name, 1, CAST(id % length(name) AS INT))
        |           || substr(name, CAST(id % length(name) AS INT) + 2)
        |         ELSE substr(name, 1, CAST(id % length(name) AS INT))
        |           || 'x' || substr(name, CAST(id % length(name) AS INT) + 2)
        |    END AS name
        |  FROM ranked WHERE r <= 300),
        |allr AS (SELECT * FROM base UNION ALL SELECT * FROM pert)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM allr a JOIN allr b ON a.id < b.id
        |  AND abs(length(a.name) - length(b.name)) <= 1
        |WHERE levenshtein(a.name, b.name) <= 1
        |ORDER BY id_a, id_b""".stripMargin)),
    QuerySpec("q144_quadkey", { s =>
      // Bing-maps quadkey interop: z=8 tile assignment keyed by quadkey
      // (one base-4 digit per level, most significant first, digit =
      // 2·y_bit + x_bit). The round-trip is asserted IN-QUERY — a row
      // where st_quadkeytile(st_quadkey(tile)) != tile would drop and
      // break the count hash. The oracle re-derives tx/ty with the q22
      // tile formula and assembles the 8 digits by bit arithmetic.
      // deliberately raw scan (r06): the groupBy collapses to ~354 quadkey
      // groups before the only exchange, so the round-robin spread costs
      // more than it saves on a single-shot run (driver-measured; same
      // finding as q22/q97/q103)
      val pts = s.sql(s"WITH pts AS ($PtsCte) SELECT lon, lat FROM pts")
      // the barrier keeps the quadkey codec out of the filter
      Barrier(SpatialJoins.assignTiles(pts, "lon", "lat", zoom = 8)
          .selectExpr("st_quadkey(tile_id) AS qk", "tile_id"))
        .where("st_quadkeytile(qk) = tile_id")
        .groupBy("qk").agg(count(lit(1)).as("n"))
        .orderBy("qk")
    }, Some(
      // quadkey: q22's tile formula for tx/ty, then the 8 base-4 digits by
      // bit arithmetic (digit i = 2·y_bit + x_bit, most significant first)
      s"""WITH pts AS (${PtsCte.replace("\n", " ")}),
        |t AS (SELECT
        |  CAST(floor((lon + 180.0) / 360.0 * 256) AS INTEGER) AS tx,
        |  CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * 256) AS INTEGER) AS ty
        |FROM pts)
        |SELECT concat(${(7 to 0 by -1).map(sh =>
            s"substr('0123', ((ty >> $sh) & 1) * 2 + ((tx >> $sh) & 1) + 1, 1)")
            .mkString(", ")}) AS qk,
        |  count(*) AS n
        |FROM t GROUP BY qk ORDER BY qk""".stripMargin)),
    QuerySpec("q145_remove_repeated", { s =>
      // trajectory cleanup: every ping DOUBLED (union with itself), so
      // every track carries consecutive duplicate vertices in its
      // (ts, tie, x, y) total order; st_removerepeatedpoints collapses
      // runs (value equality on every ordinate) and length is invariant
      // (zero-length segments add exactly 0.0 to the fold) — asserted
      // IN-QUERY by the equality filter, so a bit drift would drop rows
      // and break the hash. The oracle recomputes run heads with a lag
      // window over the same order and replays the length fold on them.
      val pings0 = s.sql(TrackPingsCte).where("entity < 120")
      val pings = pings0.unionAll(pings0)
      // the barrier keeps the track construction and both length folds
      // out of the filter, which compares the projected lengths
      Barrier(graft.operators.Trajectory
          .buildTracks(pings, "entity", "ts", "tie", "lon", "lat")
          .selectExpr("entity", "st_npoints(track) AS np_before",
            "st_npoints(st_removerepeatedpoints(track)) AS np_after",
            "st_length(st_removerepeatedpoints(track)) AS len",
            "st_length(track) AS len_dup"))
        .where(col("len_dup") === col("len"))
        .drop("len_dup")
        .orderBy("entity")
    }, Some(
      // remove-repeated-points: run heads of the (ts, tie, lon, lat)-ordered
      // ping sequence via a lag window (doubling each ping cannot change the
      // run structure), then the q135 ordered length fold over the heads
      s"""WITH p0 AS (${TrackPingsCte.replace("\n", " ")}),
        |p AS (SELECT * FROM p0 WHERE entity < 120),
        |ord AS (SELECT entity, ts, tie, lon, lat,
        |    lag(lon) OVER w AS plon, lag(lat) OVER w AS plat
        |  FROM p WINDOW w AS (PARTITION BY entity ORDER BY ts, tie, lon, lat)),
        |heads AS (SELECT entity, ts, tie, lon, lat FROM ord
        |  WHERE plon IS NULL OR plon <> lon OR plat <> lat),
        |h AS (SELECT entity, count(*) AS nh,
        |    list(lon ORDER BY ts, tie, lon, lat) AS xs,
        |    list(lat ORDER BY ts, tie, lon, lat) AS ys
        |  FROM heads GROUP BY entity),
        |nb AS (SELECT entity, count(*) AS n FROM p GROUP BY entity)
        |SELECT h.entity, CAST(2 * nb.n AS INTEGER) AS np_before,
        |  CAST(nh AS INTEGER) AS np_after,
        |  list_reduce([CAST(0 AS DOUBLE)] ||
        |    list_transform(generate_series(2, CAST(nh AS INTEGER)),
        |      i -> sqrt((xs[i] - xs[i-1]) * (xs[i] - xs[i-1]) +
        |                (ys[i] - ys[i-1]) * (ys[i] - ys[i-1]))),
        |    (a, b) -> a + b) AS len
        |FROM h JOIN nb ON nb.entity = h.entity
        |ORDER BY h.entity""".stripMargin)),
    QuerySpec("q155_link_graph", { s =>
      // web-graph assembly end-to-end: synthetic HTML pages carry one or
      // two <a href> links to dirty URLs (mixed case, default port,
      // trailing slash); regexp link extraction -> url_normalize ->
      // url_host -> per-host in-link counts. The oracle knows every
      // expected host in closed form from the same key arithmetic, so
      // extraction AND canonicalization must both be exactly right.
      val pages = s.sql(
        """SELECT o_orderkey AS page_id,
          |  '<html><a href="HTTP://Site-' || CAST(o_orderkey % 23 AS STRING)
          |  || '.COM:80/p">a</a>'
          |  || CASE WHEN o_orderkey % 2 = 0 THEN
          |       '<p>x</p><a href="https://Ref-' || CAST(o_orderkey % 7 AS STRING)
          |       || '.com/x/">b</a>' ELSE '' END
          |  || '</html>' AS html
          |FROM orders""".stripMargin)
      pages
        .select(explode(expr(
          """regexp_extract_all(html, 'href="([^"]*)"', 1)""")).as("link"))
        .selectExpr("url_host(url_normalize(link)) AS host")
        .groupBy("host").agg(count(lit(1)).as("n"))
        .orderBy("host")
    }, Some(
      // link graph: the synthesis knows every expected host in closed form
      // (extraction + canonicalization must both be exactly right)
      """WITH l AS (
        |  SELECT 'site-' || CAST(o_orderkey % 23 AS VARCHAR) || '.com' AS host
        |  FROM orders
        |  UNION ALL
        |  SELECT 'ref-' || CAST(o_orderkey % 7 AS VARCHAR) || '.com'
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT host, count(*) AS n FROM l GROUP BY host ORDER BY host""".stripMargin)),
    QuerySpec("q154_kcore", { s =>
      // k-core decomposition over q134's skewed synthetic web: the
      // MAXIMAL subgraph where every node keeps degree >= 8 — unique,
      // hence value-deterministic; the engine peels to fixpoint and the
      // oracle unrolls 10 peel rounds in SQL (monotone decreasing, so an
      // unconverged unroll would be a strict superset and fail loudly).
      val edges = s.sql(
        """SELECT o_custkey % 150 AS src,
          |  CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey % 12
          |       ELSE o_orderkey % 150 END AS dst
          |FROM orders""".stripMargin)
      graft.operators.Graph.kCore(edges, "src", "dst", k = 8)
        .orderBy("node")
    }, Some(
      // k-core: 10 unrolled peel rounds (see kCoreOracleSql — an
      // unconverged unroll is a strict superset and fails loudly)
      kCoreOracleSql(k = 8, rounds = 10))),
    QuerySpec("q153_funnel", { s =>
      // funnel analysis over the event stream: per-user depth through
      // view -> click -> purchase with earliest-completion semantics
      // (t_i = min ts of a step-i event strictly after t_{i-1}). The
      // engine folds each user's sorted events once (greedy earliest
      // advance == the sequential-min recurrence); the oracle replays
      // the recurrence as chained filtered-min joins.
      graft.operators.Sessions.funnel(s.table("events"), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"))
        .orderBy("user_id")
    }, Some(
      // funnel: the sequential-min recurrence as chained filtered-min joins
      // (t1 = min view ts; t2 = min click ts > t1; t3 = min purchase ts > t2)
      """WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN t1 ON t1.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN t2 ON t2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY e.user_id),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT u.user_id,
        |  CAST(CASE WHEN t3.t3 IS NOT NULL THEN 3
        |       WHEN t2.t2 IS NOT NULL THEN 2
        |       WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
        |    AS steps_completed,
        |  coalesce(t3.t3, t2.t2, t1.t1) AS completed_ts
        |FROM u LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id)
        |LEFT JOIN t3 USING (user_id)
        |ORDER BY user_id""".stripMargin)),
    QuerySpec("q152_vec_stats", { s =>
      // feature-normalization statistics: per-dimension corpus mean over
      // the embedding table, SCHEDULE-DETERMINISTIC — the sums are the
      // k-means fixed-point machinery (float · 2^24 rounds exactly; long
      // partial sums commute), so the result is bit-identical under any
      // partitioning and the oracle replays the same integer sums + the
      // same pinned two-division mean tree.
      s.sql(
        """WITH s AS (SELECT vec_fixedsum_agg(vec_fixed(embedding, 24)) AS fs
          |  FROM embeddings)
          |SELECT dim, n,
          |  CAST(fsum AS DOUBLE) / CAST(16777216 AS DOUBLE)
          |    / CAST(n AS DOUBLE) AS mean
          |FROM (SELECT posexplode(fs.sums) AS (dim, fsum), fs.n AS n FROM s)
          |ORDER BY dim""".stripMargin)
    }, Some(
      // per-dim means: identical fixed-point rounding (floor(v·2^24 + 0.5)),
      // integer sums, the same (sum / 2^24) / n double tree
      """WITH f AS (
        |  SELECT CAST(t.i - 1 AS INTEGER) AS dim,
        |    CAST(sum(CAST(floor(CAST(embedding[t.i] AS DOUBLE)
        |      * CAST(16777216 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
        |      AS BIGINT) AS fsum,
        |    count(*) AS n
        |  FROM embeddings
        |  CROSS JOIN unnest(generate_series(1, len(embedding))) t(i)
        |  GROUP BY t.i)
        |SELECT dim, CAST(n AS BIGINT) AS n,
        |  CAST(fsum AS DOUBLE) / CAST(16777216 AS DOUBLE)
        |    / CAST(n AS DOUBLE) AS mean
        |FROM f ORDER BY dim""".stripMargin)),
    QuerySpec("q151_mutual_knn", { s =>
      // embedding clustering via the mutual-kNN graph: exact top-4 cosine
      // neighbors over a 240-vector md5-rank sample, mutual edges only,
      // min-label connected components (singletons label themselves). The
      // oracle replays cosine ranks (the q40 replica), the mutual filter
      // and a recursive reachability closure.
      val sample = s.sql(
        """SELECT vec_id, embedding FROM (
          |  SELECT vec_id, embedding, row_number() OVER
          |    (ORDER BY md5(CAST(vec_id AS STRING)), vec_id) AS r
          |  FROM embeddings) WHERE r <= 240""".stripMargin)
      Ann.mutualKnnClusters(sample, "embedding", "vec_id", k = 4)
        .orderBy("id")
    }, Some(
      // mutual-kNN clusters: q40's bit-exact cosine replica over the same
      // sample, the same top-4 rank window, mutual pairs, then min-label
      // components via recursive reachability (q55's closure pattern)
      """WITH RECURSIVE smp AS (
        |  SELECT vec_id, embedding FROM (
        |    SELECT vec_id, embedding, row_number() OVER
        |      (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
        |    FROM embeddings) WHERE r <= 240),
        |pairs AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM
        |      (SELECT unnest(q.embedding) AS x, unnest(c.embedding) AS y) z)
        |    / (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM
        |         (SELECT unnest(q.embedding) AS x) z))
        |       * sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM
        |         (SELECT unnest(c.embedding) AS y) z))) AS cos
        |  FROM smp q JOIN smp c ON c.vec_id <> q.vec_id),
        |knn AS (SELECT qid, id FROM (
        |    SELECT qid, id, row_number() OVER (
        |      PARTITION BY qid ORDER BY cos DESC, id) AS rank FROM pairs)
        |  WHERE rank <= 4),
        |mut AS (SELECT x.qid AS a, x.id AS b FROM knn x JOIN knn y
        |  ON y.qid = x.id AND y.id = x.qid AND x.qid < x.id),
        |sym AS (SELECT a AS s0, b AS d0 FROM mut
        |  UNION SELECT b, a FROM mut),
        |reach(n, m) AS (
        |  SELECT DISTINCT s0, s0 FROM sym
        |  UNION
        |  SELECT sym.d0, reach.m FROM reach JOIN sym ON sym.s0 = reach.n),
        |comp AS (SELECT n, min(m) AS cluster FROM reach GROUP BY n)
        |SELECT smp.vec_id AS id, COALESCE(comp.cluster, smp.vec_id) AS cluster
        |FROM smp LEFT JOIN comp ON comp.n = smp.vec_id
        |ORDER BY id""".stripMargin)),
    QuerySpec("q150_chunk_text", { s =>
      // context-window chunking: every document split into consecutive
      // <=16-token chunks (non-empty single-space tokens, chunk i = tokens
      // [16i, 16i+16)) — all codegen'd built-ins, no shuffle; the oracle
      // re-derives every chunk string and token count with DuckDB list
      // slicing over the identical token array.
      graft.operators.Packing
        .chunkText(s.table("documents_par").select("doc_id", "text"), "text",
          maxTokens = 16)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text"),
          col("n_tokens"))
        .orderBy("doc_id", "chunk_idx")
    }, Some(
      // chunking: identical non-empty-token arrays, 1-based inclusive list
      // slices (clamped), same ' ' re-join and least() token count
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents)
        |SELECT doc_id, CAST(r AS INTEGER) AS chunk_idx,
        |  array_to_string(ts[CAST(r * 16 + 1 AS INTEGER) :
        |                     CAST(r * 16 + 16 AS INTEGER)], ' ') AS chunk_text,
        |  CAST(least(16, len(ts) - r * 16) AS INTEGER) AS n_tokens
        |FROM toks CROSS JOIN unnest(generate_series(0, len(ts) // 16)) t(r)
        |WHERE r * 16 < len(ts)
        |ORDER BY doc_id, chunk_idx""".stripMargin)),
    QuerySpec("q149_bloom_filter", { s =>
      // Bloom membership prefilter (the join-pruning / decontamination
      // sibling of CMS/HLL): a 4096-bit, 5-probe filter built over the
      // customers that placed a %3==0 order, probed by EVERY customer.
      // Bits are splitmix64 probes and words OR-merge, so the oracle
      // rebuilds each 64-bit word exactly (distinct powers of two summed
      // in HUGEINT, wrapped signed) and reproduces every hit — INCLUDING
      // the false positives, bit-for-bit. True members asserted in-query
      // via the no-false-negatives flag.
      s.sql("""WITH s AS (SELECT bloom_sketch(o_custkey, 4096, 5) AS bf
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |m AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT c.c_custkey, bloom_contains(s.bf, c.c_custkey, 5) AS hit,
        |  m.o_custkey IS NOT NULL AS is_member
        |FROM customer c CROSS JOIN s
        |LEFT JOIN m ON m.o_custkey = c.c_custkey
        |ORDER BY c.c_custkey""".stripMargin)
    }, Some(
      // Bloom filter: rebuild every 64-bit word from the splitmix64 probes
      // (distinct powers of two summed in HUGEINT, wrapped to the signed
      // word), then evaluate the same k probe bits per customer — hits AND
      // false positives replicate exactly
      s"""WITH members AS (
        |  SELECT DISTINCT o_custkey AS id FROM orders WHERE o_orderkey % 3 = 0),
        |mh AS (SELECT id, ${smxExpr("id")} AS h1 FROM members),
        |mh2 AS (SELECT id, h1, ${smxExpr("h1")} AS h2 FROM mh),
        |bits AS (
        |  SELECT DISTINCT CAST(idx // 64 AS INTEGER) AS w,
        |    CAST(idx % 64 AS INTEGER) AS b
        |  FROM (SELECT CAST((${smxU("h1")} + r *
        |      (${smxU("h2")} - ${smxU("h2")} % 2 + 1)) % 4096 AS INTEGER) AS idx
        |    FROM mh2 CROSS JOIN range(0, 5) t(r))),
        |words AS (
        |  SELECT w, CAST(s - CASE WHEN s >= 9223372036854775808
        |      THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END
        |    AS BIGINT) AS word
        |  FROM (SELECT w, sum(DISTINCT CAST(1 AS HUGEINT) << b) AS s
        |        FROM bits GROUP BY w)),
        |ph AS (SELECT c_custkey, ${smxExpr("c_custkey")} AS h1 FROM customer),
        |ph2 AS (SELECT c_custkey, h1, ${smxExpr("h1")} AS h2 FROM ph),
        |probes AS (
        |  SELECT c_custkey, CAST((${smxU("h1")} + r *
        |      (${smxU("h2")} - ${smxU("h2")} % 2 + 1)) % 4096 AS INTEGER) AS idx
        |  FROM ph2 CROSS JOIN range(0, 5) t(r)),
        |hits AS (
        |  SELECT p.c_custkey,
        |    min(CASE WHEN (coalesce(wo.word, 0) >> CAST(p.idx % 64 AS INTEGER)) & 1 = 1
        |             THEN 1 ELSE 0 END) = 1 AS hit
        |  FROM probes p LEFT JOIN words wo ON wo.w = p.idx // 64
        |  GROUP BY p.c_custkey)
        |SELECT h.c_custkey, h.hit, m.id IS NOT NULL AS is_member
        |FROM hits h LEFT JOIN members m ON m.id = h.c_custkey
        |ORDER BY h.c_custkey""".stripMargin)),
    QuerySpec("q148_weighted_sample", { s =>
      // quality-weighted deterministic sampling: keep probability = the
      // row's weight, membership a pure function of (id, seed) — the
      // oracle recomputes the exact subset via the 128-bit splitmix64
      // replica and the same dyadic u = (h >>> 11) / 2^53 threshold test.
      val rows = s.sql(
        """SELECT doc_id, CAST(doc_id % 1000 AS DOUBLE) / 1000.0 AS wt
          |FROM documents""".stripMargin)
      Sampling.weightedSample(rows, "doc_id", "wt", seed = 7L)
        .orderBy("doc_id")
    }, Some(
      // weighted sample: the splitmix64 replica (HUGEINT wraparound), the
      // same unsigned >> 11 and exact dyadic / 2^53, the same weight tree
      s"""SELECT doc_id, CAST(doc_id % 1000 AS DOUBLE) / 1000.0 AS wt
        |FROM documents
        |WHERE CAST(${smxU(smxExpr("xor(doc_id, 7)"))} // 2048 AS DOUBLE)
        |      / 9007199254740992.0
        |    < CAST(doc_id % 1000 AS DOUBLE) / 1000.0
        |ORDER BY doc_id""".stripMargin)),
    QuerySpec("q147_overlap_join", { s =>
      // interval–interval OVERLAP join (session-conflict shape): every
      // (lineitem interval, nation interval) pair whose closed intervals
      // intersect, via chunk binning with the max-lo-chunk exactly-once
      // claim — oracled against DuckDB's native inequality join.
      val a = s.sql(
        """SELECT l_orderkey, l_linenumber,
          |  CAST((l_orderkey * 131 + l_partkey * 7 + l_linenumber) % 100000
          |    AS DOUBLE) AS alo,
          |  CAST((l_orderkey * 131 + l_partkey * 7 + l_linenumber) % 100000
          |    + 100 + (l_linenumber % 5) * 50 AS DOUBLE) AS ahi
          |FROM lineitem_par""".stripMargin)
      val b = s.sql(
        """SELECT n_nationkey,
          |  CAST((n_nationkey * 4099) % 90000 AS DOUBLE) AS blo,
          |  CAST((n_nationkey * 4099) % 90000 + 2000 + (n_nationkey % 7) * 500
          |    AS DOUBLE) AS bhi
          |FROM nation""".stripMargin)
      graft.operators.RangeJoin.overlapJoin(a, "alo", "ahi", b, "blo", "bhi",
          chunkWidth = 1000.0)
        .orderBy("l_orderkey", "l_linenumber", "n_nationkey")
    }, Some(
      // interval overlap: DuckDB native inequality join over the same
      // constructed interval layers (closed-interval intersection)
      """WITH a AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST((l_orderkey * 131 + l_partkey * 7 + l_linenumber) % 100000
        |      AS DOUBLE) AS alo,
        |    CAST((l_orderkey * 131 + l_partkey * 7 + l_linenumber) % 100000
        |      + 100 + (l_linenumber % 5) * 50 AS DOUBLE) AS ahi
        |  FROM lineitem),
        |b AS (
        |  SELECT n_nationkey,
        |    CAST((n_nationkey * 4099) % 90000 AS DOUBLE) AS blo,
        |    CAST((n_nationkey * 4099) % 90000 + 2000 + (n_nationkey % 7) * 500
        |      AS DOUBLE) AS bhi
        |  FROM nation)
        |SELECT a.l_orderkey, a.l_linenumber, a.alo, a.ahi,
        |  b.n_nationkey, b.blo, b.bhi
        |FROM a JOIN b ON a.alo <= b.bhi AND b.blo <= a.ahi
        |ORDER BY a.l_orderkey, a.l_linenumber, b.n_nationkey""".stripMargin)),
    QuerySpec("q146_url_normalize", { s =>
      // URL canonicalization (crawl dedup key): dirty URLs constructed in
      // SQL with mixed-case schemes/hosts, userinfo, default and custom
      // ports, trailing slashes, fragments, a non-URL decoy and a free-
      // text row that merely EMBEDS a URL (invalid scheme -> NULL); the
      // kernels lowercase scheme+host, strip fragments/default ports/one
      // trailing slash, preserve userinfo/path/query verbatim, and null
      // out non-URLs. The oracle is GROUND TRUTH, not a replica: the
      // synthesis knows every expected output in closed form.
      val urls = s.sql(
        """SELECT o_orderkey AS id,
          |  CASE WHEN o_orderkey % 11 = 0 THEN 'not a url ' || CAST(o_orderkey AS STRING)
          |  WHEN o_orderkey % 13 = 1 THEN 'see HTTP://Ref-' || CAST(o_orderkey % 97 AS STRING) || '.com/x'
          |  ELSE
          |    CASE WHEN o_orderkey % 3 = 0 THEN 'HTTP'
          |         WHEN o_orderkey % 3 = 1 THEN 'https' ELSE 'HtTpS' END
          |    || '://'
          |    || CASE WHEN o_orderkey % 5 = 0 THEN 'User:Pw@' ELSE '' END
          |    || 'ExAmple-' || CAST(o_orderkey % 97 AS STRING) || '.CoM'
          |    || CASE WHEN o_orderkey % 4 = 0 THEN ':80'
          |            WHEN o_orderkey % 4 = 1 THEN ':8080'
          |            WHEN o_orderkey % 4 = 2 THEN ':443' ELSE '' END
          |    || '/Path/' || CAST(o_orderkey % 13 AS STRING)
          |    || CASE WHEN o_orderkey % 2 = 0 THEN '/' ELSE '' END
          |    || CASE WHEN o_orderkey % 7 = 0 THEN '#Frag' ELSE '' END
          |  END AS url
          |FROM orders""".stripMargin)
      urls.selectExpr("id", "url_normalize(url) AS nurl",
          "url_host(url) AS host")
        .orderBy("id")
    }, Some(
      // URL canonicalization: ground-truth expected values built in closed
      // form from the same key arithmetic — lowercased scheme/host, default
      // port dropped (http:80 / https:443 only), custom ports and userinfo
      // kept, fragment + trailing slash gone, non-URLs NULL
      """SELECT o_orderkey AS id,
        |  CASE WHEN o_orderkey % 11 = 0 OR o_orderkey % 13 = 1 THEN NULL
        |  ELSE
        |    CASE WHEN o_orderkey % 3 = 0 THEN 'http' ELSE 'https' END
        |    || '://'
        |    || CASE WHEN o_orderkey % 5 = 0 THEN 'User:Pw@' ELSE '' END
        |    || 'example-' || CAST(o_orderkey % 97 AS VARCHAR) || '.com'
        |    || CASE WHEN o_orderkey % 4 = 0 AND o_orderkey % 3 <> 0 THEN ':80'
        |            WHEN o_orderkey % 4 = 1 THEN ':8080'
        |            WHEN o_orderkey % 4 = 2 AND o_orderkey % 3 = 0 THEN ':443'
        |            ELSE '' END
        |    || '/Path/' || CAST(o_orderkey % 13 AS VARCHAR)
        |  END AS nurl,
        |  CASE WHEN o_orderkey % 11 = 0 OR o_orderkey % 13 = 1 THEN NULL
        |       ELSE 'example-' || CAST(o_orderkey % 97 AS VARCHAR) || '.com'
        |  END AS host
        |FROM orders ORDER BY id""".stripMargin)),
    QuerySpec("q133_bm25", { s =>
      // corpus term weighting: top-5 BM25-scored terms per document with
      // the exact rational idf (N+1)/(df+1) — Spark's log is StrictMath,
      // DuckDB's ln is libm, so the log idf can diverge in the last ulp
      // while the rational form replicates bit-exactly. Every score is a
      // fixed IEEE tree over exact integer counts; constants appear as
      // decimal literals on both sides.
      // raw scan (r06): bm25's own first exchange moves (id, term) pairs;
      // a round-robin spread would shuffle the text column instead
      // (driver-measured +0.2s) — same finding as the minhash family
      TextRank.bm25TopTerms(s.table("documents"), "text", "doc_id", k = 5,
          logIdf = false)
        .orderBy("doc_id", "rank")
    }, Some(
      // BM25 (rational idf): same split-on-space tokenization, same integer
      // tf/df/dl/N counts, same IEEE score tree — constants written as
      // decimal literals, computed ones ((k1+1)) replicated as the same sum
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |t AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |  WHERE term <> '' GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM t GROUP BY doc_id),
        |st AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
        |              (SELECT sum(dl) FROM dl) AS total_dl),
        |dfq AS (SELECT term, count(*) AS df FROM t GROUP BY term),
        |sc AS (SELECT t.doc_id, t.term, t.tf,
        |    (CAST(st.n_docs + 1 AS DOUBLE) / CAST(dfq.df + 1 AS DOUBLE))
        |    * (CAST(t.tf AS DOUBLE)
        |       * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
        |    / (CAST(t.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |       * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
        |          + CAST(0.75 AS DOUBLE) * (CAST(dl.dl AS DOUBLE)
        |            / (CAST(st.total_dl AS DOUBLE)
        |               / CAST(st.n_docs AS DOUBLE))))) AS score
        |  FROM t JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN st)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, score FROM (
        |  SELECT sc.*, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM sc)
        |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin)),
    QuerySpec("q132_dbscan", { s =>
      // density clustering (DBSCAN, PostGIS ST_ClusterDBSCAN semantics
      // with value-deterministic labels): a fixed 400-point cloud whose
      // positions derive from each point's md5-sample RANK (1..400), so
      // the cloud geometry — and therefore the core/border/noise mix
      // (167/204/29, 51 clusters) — is identical at every sf while the
      // ids still come from the data. The oracle replays the literal
      // definition: O(400²) neighborhoods, min-core-id labels via a
      // recursive-CTE reachability closure, ambiguous borders to the
      // minimum adjacent label. Engine-side the same answer comes from
      // the grid-cell candidate join + label propagation at scale.
      val sample = s.sql(
        """WITH ids AS (
          |  SELECT DISTINCT l_orderkey * 10 + l_linenumber AS id FROM lineitem_par),
          |samp AS (
          |  SELECT id FROM ids ORDER BY md5(CAST(id AS STRING)), id LIMIT 400)
          |SELECT id,
          |  CAST((r * 7919) % 60000 AS DOUBLE) / 1000.0 AS lon,
          |  CAST((r * 104729) % 30000 AS DOUBLE) / 1000.0 AS lat
          |FROM (SELECT id, row_number() OVER
          |    (ORDER BY md5(CAST(id AS STRING)), id) AS r FROM samp)""".stripMargin)
      Cluster.dbscan(sample, "id", "lon", "lat", eps = 2.0, minPts = 5)
        .orderBy("id")
    }, Some(
      // DBSCAN: literal-definition replay over the rank-derived 400-point
      // cloud — O(400²) neighbor pairs with the engine's exact squared-
      // distance expression, cores by |ball| >= minPts (count+self),
      // min-core-id component labels via recursive reachability closure,
      // borders to the minimum adjacent cluster, the rest noise
      """WITH RECURSIVE ids AS (
        |  SELECT DISTINCT l_orderkey * 10 + l_linenumber AS id FROM lineitem),
        |samp AS (
        |  SELECT id FROM ids ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 400),
        |s AS (
        |  SELECT id,
        |    CAST((r * 7919) % 60000 AS DOUBLE) / 1000.0 AS lon,
        |    CAST((r * 104729) % 30000 AS DOUBLE) / 1000.0 AS lat
        |  FROM (SELECT id, row_number() OVER
        |      (ORDER BY md5(CAST(id AS VARCHAR)), id) AS r FROM samp)),
        |pairs AS (
        |  SELECT a.id AS ida, b.id AS idb FROM s a JOIN s b
        |  ON a.id <> b.id
        |  AND (a.lon - b.lon) * (a.lon - b.lon)
        |    + (a.lat - b.lat) * (a.lat - b.lat)
        |    <= CAST(2.0 AS DOUBLE) * CAST(2.0 AS DOUBLE)),
        |cores AS (
        |  SELECT ida AS id FROM pairs GROUP BY ida HAVING count(*) + 1 >= 5),
        |ce AS (SELECT p.ida, p.idb FROM pairs p
        |  JOIN cores ca ON ca.id = p.ida JOIN cores cb ON cb.id = p.idb),
        |reach(id, lab) AS (
        |  SELECT id, id FROM cores
        |  UNION
        |  SELECT ce.idb, r.lab FROM reach r JOIN ce ON ce.ida = r.id),
        |lab AS (SELECT id, min(lab) AS cluster FROM reach GROUP BY id),
        |border AS (
        |  SELECT p.ida AS id, min(l.cluster) AS cluster FROM pairs p
        |  JOIN lab l ON l.id = p.idb
        |  WHERE p.ida NOT IN (SELECT id FROM cores) GROUP BY p.ida)
        |SELECT s.id,
        |  CASE WHEN lab.id IS NOT NULL THEN 'core'
        |       WHEN border.id IS NOT NULL THEN 'border'
        |       ELSE 'noise' END AS role,
        |  coalesce(lab.cluster, border.cluster) AS cluster
        |FROM s LEFT JOIN lab ON lab.id = s.id
        |LEFT JOIN border ON border.id = s.id
        |ORDER BY s.id""".stripMargin)),
    QuerySpec("q131_union_agg", { s =>
      // deterministic dissolve (st_union_agg): per-group unit boxes
      // [i, i+1] × [0, 1] with planted gaps ((i + k) % 5 == 0 dropped);
      // the canonical cascaded union welds each run of adjacent boxes
      // into one ring (shared vertical edges vanish, collinear shared
      // corners survive as ring vertices) and gaps split islands. The
      // oracle re-derives the FULL canonical WKT per group in closed
      // form (gaps-and-islands + string construction) plus exact area,
      // vertex and part counts.
      s.sql("""WITH f AS (SELECT CAST(o_custkey % 40 AS INT) AS k,
        |    CAST((o_orderkey % 96) DIV 8 AS INT) AS i FROM orders),
        |d AS (SELECT DISTINCT k, i FROM f WHERE (i + k) % 5 <> 0),
        |b AS (SELECT k, st_boxtopolygon(CAST(i AS DOUBLE), CAST(0 AS DOUBLE),
        |    CAST(i + 1 AS DOUBLE), CAST(1 AS DOUBLE)) AS g FROM d),
        |u AS (SELECT k, st_union_agg(g) AS ug FROM b GROUP BY k)
        |SELECT k, st_area(ug) AS area, st_npoints(ug) AS np,
        |  st_numgeometries(ug) AS ng, st_aswkt(ug) AS wkt
        |FROM u ORDER BY k""".stripMargin)
    }, Some(
      // dissolve: gaps-and-islands over the distinct (k, i) cells, each
      // island [lo, hi+1]×[0,1] rebuilt as canonical ring text (bottom
      // left→right keeps every shared box corner, right edge up, top
      // right→left, close at the min corner); one island → POLYGON, more →
      // MULTIPOLYGON sorted by island start; area = cell count (exact),
      // npoints = Σ(2w+3), parts = island count
      """WITH f AS (SELECT CAST(o_custkey % 40 AS INT) AS k,
        |    CAST((o_orderkey % 96) // 8 AS INT) AS i FROM orders),
        |d AS (SELECT DISTINCT k, i FROM f WHERE (i + k) % 5 <> 0),
        |isl AS (SELECT k, i,
        |    i - CAST(row_number() OVER (PARTITION BY k ORDER BY i) AS INT) AS grp
        |  FROM d),
        |runs AS (SELECT k, grp, MIN(i) AS lo, MAX(i) AS hi,
        |    CAST(COUNT(*) AS INT) AS w FROM isl GROUP BY k, grp),
        |rings AS (SELECT k, lo, w,
        |    '((' || array_to_string(
        |      list_transform(generate_series(lo, hi + 1), x -> x::VARCHAR || ' 0')
        |      || list_transform(generate_series(hi + 1, lo, -1), x -> x::VARCHAR || ' 1')
        |      || [lo::VARCHAR || ' 0'], ', ') || '))' AS ring
        |  FROM runs),
        |agg AS (SELECT k, CAST(SUM(w) AS DOUBLE) AS area,
        |    CAST(SUM(2 * w + 3) AS INT) AS np,
        |    CAST(COUNT(*) AS INT) AS ng,
        |    string_agg(ring, ', ' ORDER BY lo) AS body
        |  FROM rings GROUP BY k)
        |SELECT k, area, np, ng,
        |  CASE WHEN ng = 1 THEN 'POLYGON ' || body
        |       ELSE 'MULTIPOLYGON (' || body || ')' END AS wkt
        |FROM agg ORDER BY k""".stripMargin)),
    QuerySpec("q130_overlay_holes", { s =>
      // boolean overlay, containment family: B strictly inside A (A
      // corners even, B odd — no coordinate collisions), so
      // st_difference(A,B) is A's shell plus B as a CW hole. The full
      // 10-vertex canonical dump (shell CCW from its min corner, hole CW
      // from its min corner) plus exact integer areas and the
      // union/intersection vertex counts replicate in closed form.
      s.sql("""WITH f AS (SELECT CAST(n_nationkey AS INT) AS k,
        |    CAST(-100 + (n_nationkey % 5) * 40 AS DOUBLE) AS ax1,
        |    CAST(-60 + CAST((n_nationkey - n_nationkey % 5) / 5 AS INT) * 24 AS DOUBLE) AS ay1
        |  FROM nation),
        |g AS (SELECT k, ax1, ay1,
        |    ax1 + CAST(30 AS DOUBLE) AS ax2, ay1 + CAST(20 AS DOUBLE) AS ay2,
        |    ax1 + CAST(3 + 2 * (k % 5) AS DOUBLE) AS bx1,
        |    ay1 + CAST(3 + 2 * (k % 3) AS DOUBLE) AS by1,
        |    ax1 + CAST(13 + 2 * (k % 5) AS DOUBLE) AS bx2,
        |    ay1 + CAST(11 + 2 * (k % 3) AS DOUBLE) AS by2
        |  FROM f),
        |r AS (SELECT k,
        |    st_difference(st_boxtopolygon(ax1, ay1, ax2, ay2),
        |                  st_boxtopolygon(bx1, by1, bx2, by2)) AS dg,
        |    st_area(st_symdifference(st_boxtopolygon(ax1, ay1, ax2, ay2),
        |                             st_boxtopolygon(bx1, by1, bx2, by2))) AS area_x,
        |    st_npoints(st_union(st_boxtopolygon(ax1, ay1, ax2, ay2),
        |                        st_boxtopolygon(bx1, by1, bx2, by2))) AS un_np,
        |    st_npoints(st_intersection(st_boxtopolygon(ax1, ay1, ax2, ay2),
        |                               st_boxtopolygon(bx1, by1, bx2, by2))) AS in_np
        |  FROM g)
        |SELECT k, idx, c.x AS x, c.y AS y, st_area(dg) AS area_d,
        |  area_x, un_np, in_np
        |FROM r LATERAL VIEW posexplode(st_coords(dg)) t AS idx, c
        |ORDER BY k, idx""".stripMargin)
    }, Some(
      // overlay, containment family: difference = A shell (CCW from its min
      // corner) + B as a CW hole (from B's min corner) — 10 vertices in
      // canonical dump order; areas exact integer arithmetic; union is A
      // (5 points), intersection is B (5 points)
      """WITH f AS (SELECT CAST(n_nationkey AS INT) AS k,
        |    CAST(-100 + (n_nationkey % 5) * 40 AS DOUBLE) AS ax1,
        |    CAST(-60 + CAST((n_nationkey - n_nationkey % 5) / 5 AS INT) * 24 AS DOUBLE) AS ay1
        |  FROM nation),
        |g AS (SELECT k, ax1, ay1,
        |    ax1 + CAST(30 AS DOUBLE) AS ax2, ay1 + CAST(20 AS DOUBLE) AS ay2,
        |    ax1 + CAST(3 + 2 * (k % 5) AS DOUBLE) AS bx1,
        |    ay1 + CAST(3 + 2 * (k % 3) AS DOUBLE) AS by1,
        |    ax1 + CAST(13 + 2 * (k % 5) AS DOUBLE) AS bx2,
        |    ay1 + CAST(11 + 2 * (k % 3) AS DOUBLE) AS by2
        |  FROM f),
        |v AS (SELECT g.*, i.idx FROM g
        |  CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9)) AS i(idx))
        |SELECT k, idx,
        |  CASE idx WHEN 0 THEN ax1 WHEN 1 THEN ax2 WHEN 2 THEN ax2
        |           WHEN 3 THEN ax1 WHEN 4 THEN ax1 WHEN 5 THEN bx1
        |           WHEN 6 THEN bx1 WHEN 7 THEN bx2 WHEN 8 THEN bx2
        |           ELSE bx1 END AS x,
        |  CASE idx WHEN 0 THEN ay1 WHEN 1 THEN ay1 WHEN 2 THEN ay2
        |           WHEN 3 THEN ay2 WHEN 4 THEN ay1 WHEN 5 THEN by1
        |           WHEN 6 THEN by2 WHEN 7 THEN by2 WHEN 8 THEN by1
        |           ELSE by1 END AS y,
        |  CAST(600 AS DOUBLE) - (bx2 - bx1) * (by2 - by1) AS area_d,
        |  CAST(600 AS DOUBLE) - (bx2 - bx1) * (by2 - by1) AS area_x,
        |  5 AS un_np, 5 AS in_np
        |FROM v ORDER BY k, idx""".stripMargin)),
    QuerySpec("q129_overlay", { s =>
      // boolean overlay (Martínez–Rueda sweep): rect × rect in strict
      // general position (A corners even, B odd). k%4==3 rows are
      // disjoint, k=17 is strict containment, the rest proper overlaps.
      // All four operation areas are exact integer arithmetic in double,
      // and the intersection ring dumps its canonical 5 corners
      // (min-corner first, CCW) — both replicated in closed form.
      s.sql("""WITH f AS (SELECT CAST(n_nationkey AS INT) AS k,
        |    CAST(-100 + (n_nationkey % 5) * 40 AS DOUBLE) AS ax1,
        |    CAST(-60 + CAST((n_nationkey - n_nationkey % 5) / 5 AS INT) * 24 AS DOUBLE) AS ay1
        |  FROM nation),
        |g AS (SELECT k, ax1, ay1,
        |    ax1 + CAST(30 AS DOUBLE) AS ax2, ay1 + CAST(20 AS DOUBLE) AS ay2,
        |    ax1 + CAST((k % 7) * 6 - 15 AS DOUBLE) AS bx1,
        |    ay1 + CAST((k % 4) * 10 - 9 AS DOUBLE) AS by1,
        |    ax1 + CAST((k % 7) * 6 + 7 AS DOUBLE) AS bx2,
        |    ay1 + CAST((k % 4) * 10 + 5 AS DOUBLE) AS by2
        |  FROM f),
        |r AS (SELECT k,
        |    st_intersection(st_boxtopolygon(ax1, ay1, ax2, ay2),
        |                    st_boxtopolygon(bx1, by1, bx2, by2)) AS ig,
        |    st_area(st_intersection(st_boxtopolygon(ax1, ay1, ax2, ay2),
        |                            st_boxtopolygon(bx1, by1, bx2, by2))) AS area_i,
        |    st_area(st_union(st_boxtopolygon(ax1, ay1, ax2, ay2),
        |                     st_boxtopolygon(bx1, by1, bx2, by2))) AS area_u,
        |    st_area(st_difference(st_boxtopolygon(ax1, ay1, ax2, ay2),
        |                          st_boxtopolygon(bx1, by1, bx2, by2))) AS area_d,
        |    st_area(st_symdifference(st_boxtopolygon(ax1, ay1, ax2, ay2),
        |                             st_boxtopolygon(bx1, by1, bx2, by2))) AS area_x
        |  FROM g)
        |SELECT k, coalesce(idx, -1) AS idx,
        |  coalesce(c.x, CAST(0.0 AS DOUBLE)) AS x,
        |  coalesce(c.y, CAST(0.0 AS DOUBLE)) AS y,
        |  area_i, area_u, area_d, area_x
        |FROM r LATERAL VIEW OUTER posexplode(st_coords(ig)) t AS idx, c
        |ORDER BY k, idx""".stripMargin)
    }, Some(
      // overlay, general-position rect × rect: intersection corners are
      // GREATEST/LEAST folds of the inputs (exact — the sweep pins
      // axis-parallel crossings to input ordinates), areas are
      // inclusion–exclusion over exact integer products
      """WITH f AS (SELECT CAST(n_nationkey AS INT) AS k,
        |    CAST(-100 + (n_nationkey % 5) * 40 AS DOUBLE) AS ax1,
        |    CAST(-60 + CAST((n_nationkey - n_nationkey % 5) / 5 AS INT) * 24 AS DOUBLE) AS ay1
        |  FROM nation),
        |g AS (SELECT k, ax1, ay1,
        |    ax1 + CAST(30 AS DOUBLE) AS ax2, ay1 + CAST(20 AS DOUBLE) AS ay2,
        |    ax1 + CAST((k % 7) * 6 - 15 AS DOUBLE) AS bx1,
        |    ay1 + CAST((k % 4) * 10 - 9 AS DOUBLE) AS by1,
        |    ax1 + CAST((k % 7) * 6 + 7 AS DOUBLE) AS bx2,
        |    ay1 + CAST((k % 4) * 10 + 5 AS DOUBLE) AS by2
        |  FROM f),
        |m AS (SELECT *, GREATEST(ax1, bx1) AS gx, GREATEST(ay1, by1) AS gy,
        |    LEAST(ax2, bx2) AS lx, LEAST(ay2, by2) AS ly FROM g),
        |mm AS (SELECT *, (gx < lx AND gy < ly) AS ov FROM m),
        |aa AS (SELECT *, CASE WHEN ov THEN (lx - gx) * (ly - gy)
        |    ELSE CAST(0 AS DOUBLE) END AS ai,
        |    CAST(600 AS DOUBLE) AS pa, CAST(308 AS DOUBLE) AS pb FROM mm),
        |v AS (SELECT aa.*, i.idx
        |    FROM aa CROSS JOIN (VALUES (0),(1),(2),(3),(4)) AS i(idx)
        |    WHERE aa.ov
        |  UNION ALL SELECT aa.*, -1 AS idx FROM aa WHERE NOT aa.ov)
        |SELECT k, idx,
        |  CASE idx WHEN 0 THEN gx WHEN 1 THEN lx WHEN 2 THEN lx
        |           WHEN 3 THEN gx WHEN 4 THEN gx
        |           ELSE CAST(0.0 AS DOUBLE) END AS x,
        |  CASE idx WHEN 0 THEN gy WHEN 1 THEN gy WHEN 2 THEN ly
        |           WHEN 3 THEN ly WHEN 4 THEN gy
        |           ELSE CAST(0.0 AS DOUBLE) END AS y,
        |  ai AS area_i, pa + pb - ai AS area_u, pa - ai AS area_d,
        |  pa + pb - CAST(2 AS DOUBLE) * ai AS area_x
        |FROM v ORDER BY k, idx""".stripMargin)),
    QuerySpec("q128_hexbin", { s =>
      // H3-style hexagonal heatmap binning: cube rounding is pinned IEEE
      // arithmetic (half-up floor(v+0.5), original-value branch tests),
      // so per-cell counts AND the decoded centers replicate bit-for-bit
      // — boundary points land in the same hex in both engines.
      s.sql(s"""WITH pts AS ($PtsCte),
        |h AS (SELECT st_hexcell(lon, lat, CAST(2.5 AS DOUBLE)) AS cell
        |  FROM pts)
        |SELECT cell, count(*) AS n,
        |  st_x(st_hexcenter(cell, CAST(2.5 AS DOUBLE))) AS cx,
        |  st_y(st_hexcenter(cell, CAST(2.5 AS DOUBLE))) AS cy
        |FROM h GROUP BY cell ORDER BY cell""".stripMargin)
    }, Some(
      // hexbin: same fractional axial transform, same half-up cube
      // rounding on original values, same int32 packing and center decode
      s"""WITH pts AS ($PtsCte),
         |f AS (SELECT
         |    (sqrt(3.0) / 3.0 * lon - 1.0 / 3.0 * lat) / 2.5 AS qf,
         |    (2.0 / 3.0 * lat) / 2.5 AS rf FROM pts),
         |g AS (SELECT *, -qf - rf AS yf FROM f),
         |r0 AS (SELECT *, floor(qf + 0.5) AS rq0, floor(rf + 0.5) AS rr0,
         |    floor(yf + 0.5) AS ry0 FROM g),
         |d AS (SELECT *, abs(rq0 - qf) AS dq, abs(rr0 - rf) AS dr,
         |    abs(ry0 - yf) AS dy FROM r0),
         |c AS (SELECT
         |    CASE WHEN dq > dr AND dq > dy THEN -rr0 - ry0
         |         ELSE rq0 END AS rq,
         |    CASE WHEN NOT (dq > dr AND dq > dy) AND dr > dy
         |         THEN -rq0 - ry0 ELSE rr0 END AS rr
         |  FROM d),
         |cl AS (SELECT (CAST(rq AS BIGINT) * 4294967296)
         |    | (CAST(rr AS BIGINT) & 4294967295) AS cell, rq, rr FROM c)
         |SELECT cell, count(*) AS n,
         |  2.5 * (sqrt(3.0) * rq + sqrt(3.0) / 2.0 * rr) AS cx,
         |  2.5 * (1.5 * rr) AS cy
         |FROM cl GROUP BY cell, rq, rr ORDER BY cell""".stripMargin)),
    QuerySpec("q127_geohash", { s =>
      // geohash codec over the point table at per-row precision 5..12:
      // floor-scaled quantization is one pinned IEEE expression, so the
      // oracle rebuilds every hash character and every exact-dyadic box
      // edge; prefix5 asserts the power-of-two truncation identity
      // (floor(r·2^n) >> k == floor(r·2^(n-k)) — exact because power-2
      // scaling of a double never rounds), which the ENGINE computes from
      // two independent encodes.
      s.sql(s"""WITH pts AS (${ptsCteOn("lineitem_par")}),
        |h AS (SELECT l_orderkey, l_linenumber, lon, lat,
        |    CAST(l_orderkey % 8 + 5 AS INT) AS p FROM pts),
        |e AS (SELECT l_orderkey, l_linenumber, p,
        |    st_geohash(lon, lat, p) AS gh,
        |    st_geohash(lon, lat, 5) AS gh5 FROM h)
        |SELECT l_orderkey, l_linenumber, gh,
        |  st_geohashbox(gh).xmin AS bx1,
        |  st_geohashbox(gh).ymin AS by1,
        |  st_geohashbox(gh).xmax AS bx2,
        |  st_geohashbox(gh).ymax AS by2,
        |  substring(gh, 1, 5) = gh5 AS prefix5
        |FROM e ORDER BY l_orderkey, l_linenumber""".stripMargin)
    }, Some({
      // geohash: same floor((v + off) / span * 2^n) quantization, same
      // clamp, same MSB-first lon/lat interleave, same base32 alphabet;
      // box edges are exact dyadics (360/2^n representable, products within
      // 53 mantissa bits)
      // per-character expressions (no explode/grouping — the synthetic
      // lineitem has DUPLICATE (orderkey, linenumber) keys, so any
      // key-grouped string_agg would merge distinct rows); bit parity is
      // compile-time per (j, u), shift counts clamped with GREATEST so
      // the vectorized engine never sees a negative shift on discarded
      // (j >= p) branches
      def charExpr(j: Int): String = {
        val bits = (0 until 5).map { u =>
          val t = 5 * j + u
          val src = if (t % 2 == 0) s"(qlon >> GREATEST(nlon - ${1 + t / 2}, 0))"
                    else s"(qlat >> GREATEST(nlat - ${1 + (t - 1) / 2}, 0))"
          s"($src & 1) * ${1 << (4 - u)}"
        }.mkString(" + ")
        s"CASE WHEN $j < p THEN substr('${Geohash.Alphabet}', " +
          s"CAST($bits AS INT) + 1, 1) ELSE '' END"
      }
      val ghExpr = (0 until Geohash.MaxPrecision)
        .map(charExpr).mkString("concat(", ", ", ")")
      s"""WITH pts AS ($PtsCte),
         |h AS (SELECT l_orderkey, l_linenumber, lon, lat,
         |    CAST(l_orderkey % 8 + 5 AS INT) AS p FROM pts),
         |qq AS (SELECT *, (5 * p + 1) // 2 AS nlon, (5 * p) // 2 AS nlat
         |  FROM h),
         |bb AS (SELECT *,
         |    LEAST(GREATEST(CAST(floor((lon + CAST(180.0 AS DOUBLE))
         |        / CAST(360.0 AS DOUBLE)
         |        * CAST((1::BIGINT << nlon) AS DOUBLE)) AS BIGINT),
         |      0), (1::BIGINT << nlon) - 1) AS qlon,
         |    LEAST(GREATEST(CAST(floor((lat + CAST(90.0 AS DOUBLE))
         |        / CAST(180.0 AS DOUBLE)
         |        * CAST((1::BIGINT << nlat) AS DOUBLE)) AS BIGINT),
         |      0), (1::BIGINT << nlat) - 1) AS qlat
         |  FROM qq)
         |SELECT l_orderkey, l_linenumber,
         |  $ghExpr AS gh,
         |  CAST(-180.0 AS DOUBLE) + CAST(qlon AS DOUBLE)
         |    * (CAST(360.0 AS DOUBLE)
         |       / CAST((1::BIGINT << nlon) AS DOUBLE)) AS bx1,
         |  CAST(-90.0 AS DOUBLE) + CAST(qlat AS DOUBLE)
         |    * (CAST(180.0 AS DOUBLE)
         |       / CAST((1::BIGINT << nlat) AS DOUBLE)) AS by1,
         |  CAST(-180.0 AS DOUBLE) + CAST(qlon + 1 AS DOUBLE)
         |    * (CAST(360.0 AS DOUBLE)
         |       / CAST((1::BIGINT << nlon) AS DOUBLE)) AS bx2,
         |  CAST(-90.0 AS DOUBLE) + CAST(qlat + 1 AS DOUBLE)
         |    * (CAST(180.0 AS DOUBLE)
         |       / CAST((1::BIGINT << nlat) AS DOUBLE)) AS by2,
         |  TRUE AS prefix5
         |FROM bb ORDER BY l_orderkey, l_linenumber""".stripMargin
    })),
    QuerySpec("q126_clip_box", { s =>
      // fast box clip, both families. Polygon leg: zone boxes clipped by a
      // per-k shifted window — Sutherland–Hodgman on axis-aligned input
      // emits ONLY original or boundary-constant ordinates, so the
      // envelope is exactly GREATEST/LEAST of the corners (k%4==3 rows go
      // disjoint and flag EMPTY). Line leg: the (x1,y1)→(x3,y3) diagonal
      // clipped by a vertical slab — Liang–Barsky t0/t1 are max/min folds
      // of pinned divisions (rounding-free folds), endpoints verbatim at
      // t=0/1 and pinned lerps otherwise; slab position/width sweep k%3 /
      // k%4 so all four endpoint behaviors occur.
      s.sql(s"""WITH z AS (SELECT n_nationkey AS k, $ZoneBoxColsSW FROM nation),
        |l AS ($LineCte),
        |c AS (SELECT z.k, ax, ay, bx, by, x1, y1, x3, y3,
        |    ax - CAST(4.0 AS DOUBLE)
        |      + CAST(z.k % 7 AS DOUBLE) * CAST(5.0 AS DOUBLE) AS cx1,
        |    ay - CAST(2.0 AS DOUBLE)
        |      + CAST(z.k % 4 AS DOUBLE) * CAST(4.0 AS DOUBLE) AS cy1,
        |    x1 + CAST(z.k % 3 AS DOUBLE) * CAST(2.0 AS DOUBLE)
        |      - CAST(1.0 AS DOUBLE) AS slo
        |  FROM z JOIN l ON z.k = l.k),
        |cc AS (SELECT *, cx1 + CAST(17.3 AS DOUBLE) AS cx2,
        |    cy1 + CAST(6.9 AS DOUBLE) AS cy2,
        |    slo + CAST(k % 4 + 1 AS DOUBLE) * CAST(3.0 AS DOUBLE) AS shi
        |  FROM c),
        |r AS (SELECT k, cx1, cy1, cx2, cy2,
        |    st_clipbybox2d(st_boxtopolygon(ax, ay, bx, by),
        |      cx1, cy1, cx2, cy2) AS pc,
        |    st_clipbybox2d(st_makeline(x1, y1, x3, y3),
        |      slo, y1 - CAST(50.0 AS DOUBLE),
        |      shi, y1 + CAST(50.0 AS DOUBLE)) AS lc
        |  FROM cc)
        |SELECT k, st_isempty(pc) AS pempty,
        |  st_npoints(pc) AS pnp,
        |  CASE WHEN st_isempty(pc) THEN CAST(0.0 AS DOUBLE)
        |       ELSE st_envelope(pc).xmin END AS ex1,
        |  CASE WHEN st_isempty(pc) THEN CAST(0.0 AS DOUBLE)
        |       ELSE st_envelope(pc).ymin END AS ey1,
        |  CASE WHEN st_isempty(pc) THEN CAST(0.0 AS DOUBLE)
        |       ELSE st_envelope(pc).xmax END AS ex2,
        |  CASE WHEN st_isempty(pc) THEN CAST(0.0 AS DOUBLE)
        |       ELSE st_envelope(pc).ymax END AS ey2,
        |  st_x(st_startpoint(lc)) AS lsx,
        |  st_y(st_startpoint(lc)) AS lsy,
        |  st_x(st_endpoint(lc)) AS lex,
        |  st_y(st_endpoint(lc)) AS ley
        |FROM r ORDER BY k""".stripMargin)
    }, Some(
      // box clip: polygon leg = intersection rectangle (envelope is exact
      // GREATEST/LEAST of the corners, npoints 5, k%4==3 disjoint -> EMPTY);
      // line leg = Liang–Barsky t0/t1 replicated (max/min folds of the same
      // pinned divisions; only the x-slab terms can bind — the ±50 y-slab
      // terms never do, so the fold elides them value-identically)
      s"""WITH z AS (SELECT n_nationkey AS k, $ZoneBoxColsSW FROM nation),
         |l AS ($LineCte),
         |c AS (SELECT z.k, ax, ay, bx, by, x1, y1, x3, y3,
         |    ax - CAST(4.0 AS DOUBLE)
         |      + CAST(z.k % 7 AS DOUBLE) * CAST(5.0 AS DOUBLE) AS cx1,
         |    ay - CAST(2.0 AS DOUBLE)
         |      + CAST(z.k % 4 AS DOUBLE) * CAST(4.0 AS DOUBLE) AS cy1,
         |    x1 + CAST(z.k % 3 AS DOUBLE) * CAST(2.0 AS DOUBLE)
         |      - CAST(1.0 AS DOUBLE) AS slo
         |  FROM z JOIN l ON z.k = l.k),
         |cc AS (SELECT *, cx1 + CAST(17.3 AS DOUBLE) AS cx2,
         |    cy1 + CAST(6.9 AS DOUBLE) AS cy2,
         |    slo + CAST(k % 4 + 1 AS DOUBLE) * CAST(3.0 AS DOUBLE) AS shi,
         |    (x3 - x1) AS dx, (y3 - y1) AS dy
         |  FROM c),
         |tt AS (SELECT *,
         |    (cy1 > by OR cy2 < ay OR cx1 > bx OR cx2 < ax) AS pempty,
         |    GREATEST(CAST(0.0 AS DOUBLE), (slo - x1) / dx) AS t0,
         |    LEAST(CAST(1.0 AS DOUBLE), (shi - x1) / dx) AS t1
         |  FROM cc)
         |SELECT k, pempty,
         |  CASE WHEN pempty THEN 0 ELSE 5 END AS pnp,
         |  CASE WHEN pempty THEN CAST(0.0 AS DOUBLE)
         |       ELSE GREATEST(ax, cx1) END AS ex1,
         |  CASE WHEN pempty THEN CAST(0.0 AS DOUBLE)
         |       ELSE GREATEST(ay, cy1) END AS ey1,
         |  CASE WHEN pempty THEN CAST(0.0 AS DOUBLE)
         |       ELSE LEAST(bx, cx2) END AS ex2,
         |  CASE WHEN pempty THEN CAST(0.0 AS DOUBLE)
         |       ELSE LEAST(by, cy2) END AS ey2,
         |  CASE WHEN t0 = 0 THEN x1 ELSE x1 + dx * t0 END AS lsx,
         |  CASE WHEN t0 = 0 THEN y1 ELSE y1 + dy * t0 END AS lsy,
         |  CASE WHEN t1 = 1 THEN x3 ELSE x1 + dx * t1 END AS lex,
         |  CASE WHEN t1 = 1 THEN y3 ELSE y1 + dy * t1 END AS ley
         |FROM tt ORDER BY k""".stripMargin)),
    QuerySpec("q125_segmentize", { s =>
      // densification: every vertex of the segmentized bent line echoes —
      // inserted points sit at exact i/n fractions (n = ceil(len/maxLen))
      // with the pinned lerp, original vertices ride through verbatim.
      s.sql(s"""WITH l AS ($LineCte),
        |sg AS (SELECT k, st_segmentize(
        |    st_makeline(x1, y1, x2, y2, x3, y3), CAST(3.0 AS DOUBLE)) AS g
        |  FROM l)
        |SELECT k, idx, c.x AS x, c.y AS y
        |FROM sg LATERAL VIEW posexplode(st_coords(g)) t AS idx, c
        |ORDER BY k, idx""".stripMargin)
    }, Some(
      // densification: vertex idx0 = v1, 1..n1-1 = seg1 lerps at i/n1,
      // n1 = v2, n1+1..n1+n2-1 = seg2 lerps, n1+n2 = v3 — same ceil(len/m),
      // same i/n division, same lerp shape
      s"""WITH l AS ($LineCte),
         |pj AS (SELECT k, x1, y1, x2, y2, x3, y3,
         |    sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)) AS len1,
         |    sqrt((x3 - x2) * (x3 - x2) + (y3 - y2) * (y3 - y2)) AS len2
         |  FROM l),
         |nn AS (SELECT *,
         |    CASE WHEN len1 > CAST(3.0 AS DOUBLE)
         |      THEN CAST(ceil(len1 / CAST(3.0 AS DOUBLE)) AS BIGINT)
         |      ELSE 1 END AS n1,
         |    CASE WHEN len2 > CAST(3.0 AS DOUBLE)
         |      THEN CAST(ceil(len2 / CAST(3.0 AS DOUBLE)) AS BIGINT)
         |      ELSE 1 END AS n2
         |  FROM pj),
         |v AS (SELECT k, i,
         |    CASE WHEN i = 0 THEN x1
         |         WHEN i < n1 THEN x1 + (x2 - x1)
         |           * (CAST(i AS DOUBLE) / CAST(n1 AS DOUBLE))
         |         WHEN i = n1 THEN x2
         |         WHEN i < n1 + n2 THEN x2 + (x3 - x2)
         |           * (CAST(i - n1 AS DOUBLE) / CAST(n2 AS DOUBLE))
         |         ELSE x3 END AS x,
         |    CASE WHEN i = 0 THEN y1
         |         WHEN i < n1 THEN y1 + (y2 - y1)
         |           * (CAST(i AS DOUBLE) / CAST(n1 AS DOUBLE))
         |         WHEN i = n1 THEN y2
         |         WHEN i < n1 + n2 THEN y2 + (y3 - y2)
         |           * (CAST(i - n1 AS DOUBLE) / CAST(n2 AS DOUBLE))
         |         ELSE y3 END AS y
         |  FROM nn, LATERAL (SELECT unnest(generate_series(0, n1 + n2)) AS i))
         |SELECT k, CAST(i AS INT) AS idx, x, y
         |FROM v ORDER BY k, idx""".stripMargin)),
    QuerySpec("q124_locate_closest", { s =>
      // linear-referencing inverses + proximity + azimuth: the query point
      // sweeps around the bent lines (k%9 / k%5 offsets), so projections
      // land in BOTH segments' interiors and clamp at vertices across the
      // 25 rows. Every arithmetic step is order-fixed (clamped projection,
      // strict-< first-wins, prefix-length fold), so frac and the closest
      // point replicate bit-for-bit; azimuth is oracled on cardinal
      // (exact-zero delta ⇒ IEEE atan2 special case) and literal-diagonal
      // directions only — general directions differ from libm by 1 ulp
      // (probe-measured) and stay property-tested.
      s.sql(s"""WITH l AS ($LineCte),
        |q AS (SELECT k, x1, y1, x2, y2, x3, y3,
        |    x1 + CAST(k % 9 AS DOUBLE) AS px,
        |    y1 + CAST(3.0 AS DOUBLE) - CAST(k % 5 AS DOUBLE) AS py,
        |    st_makeline(x1, y1, x2, y2, x3, y3) AS g
        |  FROM l)
        |SELECT k,
        |  st_linelocatepoint(g, st_point(px, py)) AS frac,
        |  st_x(st_closestpoint(g, st_point(px, py))) AS cx,
        |  st_y(st_closestpoint(g, st_point(px, py))) AS cy,
        |  st_x(st_startpoint(st_shortestline(g, st_point(px, py)))) AS slx,
        |  st_y(st_endpoint(st_shortestline(g, st_point(px, py)))) AS sly,
        |  st_azimuth(st_point(x1, y1),
        |    st_point(x1, y1 + CAST(5.0 AS DOUBLE))) AS az_n,
        |  st_azimuth(st_point(x1, y1),
        |    st_point(x1 + CAST(7.0 AS DOUBLE), y1)) AS az_e,
        |  st_azimuth(st_point(x1, y1),
        |    st_point(x1, y1 - CAST(3.0 AS DOUBLE))) AS az_s,
        |  st_azimuth(st_point(x1, y1),
        |    st_point(x1 - CAST(2.0 AS DOUBLE), y1)) AS az_w,
        |  st_azimuth(st_point(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
        |    st_point(CAST(4.0 AS DOUBLE), CAST(4.0 AS DOUBLE))) AS az_ne,
        |  st_azimuth(st_point(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
        |    st_point(CAST(-4.0 AS DOUBLE), CAST(-4.0 AS DOUBLE))) AS az_sw,
        |  st_azimuth(st_point(x1, y1), st_point(x1, y1)) IS NULL AS az_null
        |FROM q ORDER BY k""".stripMargin)
    }, Some(
      // linear-referencing inverses: same clamped projection, same
      // strict-< first-wins, same prefix-length fold — bit-exact; azimuth
      // replicated with DuckDB's atan2 on the same special-case inputs
      // (cardinal = exact-zero deltas, diagonals = literals; probe-verified
      // bit-equal across libms, unlike general directions)
      s"""WITH l AS ($LineCte),
         |q AS (SELECT k, x1, y1, x2, y2, x3, y3,
         |    x1 + CAST(k % 9 AS DOUBLE) AS px,
         |    y1 + CAST(3.0 AS DOUBLE) - CAST(k % 5 AS DOUBLE) AS py
         |  FROM l),
         |pj AS (SELECT *,
         |    (x2 - x1) AS dx1, (y2 - y1) AS dy1,
         |    (x3 - x2) AS dx2, (y3 - y2) AS dy2
         |  FROM q),
         |tt AS (SELECT *,
         |    LEAST(GREATEST(((px - x1) * dx1 + (py - y1) * dy1)
         |        / (dx1 * dx1 + dy1 * dy1),
         |      CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE)) AS t1,
         |    LEAST(GREATEST(((px - x2) * dx2 + (py - y2) * dy2)
         |        / (dx2 * dx2 + dy2 * dy2),
         |      CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE)) AS t2,
         |    sqrt(dx1 * dx1 + dy1 * dy1) AS len1,
         |    sqrt(dx2 * dx2 + dy2 * dy2) AS len2
         |  FROM pj),
         |cc AS (SELECT *,
         |    x1 + dx1 * t1 AS c1x, y1 + dy1 * t1 AS c1y,
         |    x2 + dx2 * t2 AS c2x, y2 + dy2 * t2 AS c2y
         |  FROM tt),
         |dd AS (SELECT *,
         |    (px - c1x) * (px - c1x) + (py - c1y) * (py - c1y) AS d1,
         |    (px - c2x) * (px - c2x) + (py - c2y) * (py - c2y) AS d2
         |  FROM cc)
         |SELECT k,
         |  CASE WHEN d2 < d1 THEN (len1 + len2 * t2) / (len1 + len2)
         |       ELSE (len1 * t1) / (len1 + len2) END AS frac,
         |  CASE WHEN d2 < d1 THEN c2x ELSE c1x END AS cx,
         |  CASE WHEN d2 < d1 THEN c2y ELSE c1y END AS cy,
         |  CASE WHEN d2 < d1 THEN c2x ELSE c1x END AS slx,
         |  py AS sly,
         |  atan2(CAST(0.0 AS DOUBLE), (y1 + CAST(5.0 AS DOUBLE)) - y1) AS az_n,
         |  atan2((x1 + CAST(7.0 AS DOUBLE)) - x1, CAST(0.0 AS DOUBLE)) AS az_e,
         |  CASE WHEN atan2(CAST(0.0 AS DOUBLE),
         |        (y1 - CAST(3.0 AS DOUBLE)) - y1) < 0
         |    THEN atan2(CAST(0.0 AS DOUBLE),
         |        (y1 - CAST(3.0 AS DOUBLE)) - y1) + 2 * pi()
         |    ELSE atan2(CAST(0.0 AS DOUBLE),
         |        (y1 - CAST(3.0 AS DOUBLE)) - y1) END AS az_s,
         |  atan2((x1 - CAST(2.0 AS DOUBLE)) - x1, CAST(0.0 AS DOUBLE))
         |    + 2 * pi() AS az_w,
         |  atan2(CAST(4.0 AS DOUBLE), CAST(4.0 AS DOUBLE)) AS az_ne,
         |  atan2(CAST(-4.0 AS DOUBLE), CAST(-4.0 AS DOUBLE))
         |    + 2 * pi() AS az_sw,
         |  TRUE AS az_null
         |FROM dd ORDER BY k""".stripMargin)),
    QuerySpec("q123_closed_reverse", { s =>
      // closure predicate + reversal: the bent lines are NEVER closed
      // (their endpoints differ by a constant (7.6, -1.3) offset — no
      // rounding can cancel it at these magnitudes), box exterior rings
      // always are, and st_reverse swaps the endpoints verbatim (the
      // reversed line starts at the old end, bit-exact coordinates).
      s.sql(s"""WITH l AS ($LineCte)
        |SELECT k,
        |  st_isclosed(g) AS closed_line,
        |  st_isclosed(st_exteriorring(
        |    st_boxtopolygon(x1, y1, x2, y2))) AS closed_ring,
        |  st_x(st_startpoint(st_reverse(g))) AS rx,
        |  st_y(st_startpoint(st_reverse(g))) AS ry,
        |  st_x(st_endpoint(st_reverse(g))) AS ex
        |FROM (SELECT k, x1, y1, x2, y2,
        |    st_makeline(x1, y1, x2, y2, x3, y3) AS g FROM l)
        |ORDER BY k""".stripMargin)
    }, Some(
      // closure + reversal: endpoints swap verbatim; the fixed (7.6, -1.3)
      // end offset makes every line provably open, box rings always closed
      s"""WITH l AS ($LineCte)
         |SELECT k, FALSE AS closed_line, TRUE AS closed_ring,
         |  x3 AS rx, y3 AS ry, x1 AS ex
         |FROM l ORDER BY k""".stripMargin)),
    QuerySpec("q122_ring_access", { s =>
      // polygon ring accessors over HOLED polygons built from the zone
      // boxes via WKT (Spark's double→string repr round-trips exactly, so
      // every parsed ordinate is the original double): exterior ring
      // vertices echo the box corners in ring order, the hole's second
      // vertex comes out through the interiorringn→pointn composition,
      // and an out-of-range ring flags null.
      s.sql(s"""WITH z AS (SELECT n_nationkey AS k, $ZoneBoxColsSW FROM nation),
        |h AS (SELECT k, ax, ay, bx, by,
        |    ax + CAST(3.0 AS DOUBLE) AS hx1, ay + CAST(2.0 AS DOUBLE) AS hy1,
        |    ax + CAST(8.0 AS DOUBLE) AS hx2, ay + CAST(5.0 AS DOUBLE) AS hy2
        |  FROM z),
        |p AS (SELECT k, hx2, hy1, st_geomfromwkt(concat(
        |    'POLYGON ((', ax, ' ', ay, ', ', bx, ' ', ay, ', ', bx, ' ', by,
        |    ', ', ax, ' ', by, ', ', ax, ' ', ay, '), (',
        |    hx1, ' ', hy1, ', ', hx2, ' ', hy1, ', ', hx2, ' ', hy2,
        |    ', ', hx1, ' ', hy2, ', ', hx1, ' ', hy1, '))')) AS g
        |  FROM h)
        |SELECT k, CAST(st_numinteriorrings(g) AS INT) AS nint, idx,
        |  c.x AS x, c.y AS y,
        |  st_x(st_pointn(st_interiorringn(g, 1), 2)) AS h2x,
        |  st_y(st_pointn(st_interiorringn(g, 1), 2)) AS h2y,
        |  st_interiorringn(g, 2) IS NULL AS oob
        |FROM p LATERAL VIEW posexplode(st_coords(st_exteriorring(g))) t AS idx, c
        |ORDER BY k, idx""".stripMargin)
    }, Some(
      // ring accessors: exterior vertices echo the box corners in ring
      // order; the hole's second vertex is (hx2, hy1) by construction
      s"""WITH z AS (SELECT n_nationkey AS k, $ZoneBoxColsSW FROM nation),
         |h AS (SELECT k, ax, ay, bx, by,
         |    ax + CAST(3.0 AS DOUBLE) AS hx1, ay + CAST(2.0 AS DOUBLE) AS hy1,
         |    ax + CAST(8.0 AS DOUBLE) AS hx2, ay + CAST(5.0 AS DOUBLE) AS hy2
         |  FROM z)
         |SELECT k, 1 AS nint, CAST(i AS INT) AS idx,
         |  CASE i WHEN 0 THEN ax WHEN 1 THEN bx WHEN 2 THEN bx
         |    WHEN 3 THEN ax ELSE ax END AS x,
         |  CASE i WHEN 0 THEN ay WHEN 1 THEN ay WHEN 2 THEN by
         |    WHEN 3 THEN by ELSE ay END AS y,
         |  hx2 AS h2x, hy1 AS h2y, TRUE AS oob
         |FROM h, (SELECT unnest(generate_series(0, 4)) AS i)
         |ORDER BY k, idx""".stripMargin)),
    QuerySpec("q121_intersects_rewrite", { s =>
      // the naive geometry-geometry formulation a user would write — just
      // st_intersects, no join keys. SpatialJoinRewrite turns it into
      // the cover equi-join with the exactly-once min-shared-tile claim
      // (same plan family as q117's hand-built operator); the oracle is
      // the identical interval logic, so a nested-loop fallback OR a
      // duplicate-emitting rewrite both fail the row count.
      val zones = s.sql(s"SELECT n_nationkey, $ZoneBoxColsSW FROM nation")
        .selectExpr("CAST(n_nationkey AS BIGINT) AS zone_id",
          "st_boxtopolygon(ax, ay, bx, by) AS zg")
      // parallel scan (r06): the zone side broadcasts, so without the
      // repartition the whole box-build + cover + refine chain would run
      // inside the raw file's single scan task
      val boxes = s.sql(s"""WITH pts AS (${ptsCteOn("lineitem_par")})
        |SELECT l_orderkey, l_linenumber,
        |  st_boxtopolygon(lon - CAST(1.5 AS DOUBLE), lat - CAST(1.0 AS DOUBLE),
        |    lon + CAST(1.5 AS DOUBLE), lat + CAST(1.0 AS DOUBLE)) AS bg
        |FROM pts""".stripMargin)
      boxes.join(zones,
          call_function("st_intersects", col("bg"), col("zg")))
        .select(col("l_orderkey"), col("l_linenumber"), col("zone_id"))
        .orderBy("l_orderkey", "l_linenumber", "zone_id")
    }, Some(
      // the auto-rewritten naive intersects join must return exactly the
      // q117 pair set (same interval oracle)
      s"""WITH pts AS ($PtsCte),
         |z AS (SELECT CAST(n_nationkey AS BIGINT) AS zone_id, $ZoneBoxColsSW
         |      FROM nation)
         |SELECT l_orderkey, l_linenumber, zone_id
         |FROM pts, z
         |WHERE ax <= lon + CAST(1.5 AS DOUBLE)
         |  AND bx >= lon - CAST(1.5 AS DOUBLE)
         |  AND ay <= lat + CAST(1.0 AS DOUBLE)
         |  AND by >= lat - CAST(1.0 AS DOUBLE)
         |ORDER BY l_orderkey, l_linenumber, zone_id""".stripMargin)),
    QuerySpec("q120_line_ops", { s =>
      // linear referencing + vertex accessors: interpolation arithmetic is
      // order-fixed (segment sqrt lengths folded left-to-right, owning
      // segment by acc+len >= target, lerp xa + dx·t), so the oracle
      // re-derives both interpolated ordinates bit-for-bit along with the
      // start/end/pointn accessors; fractions sweep 0.0..1.0 inclusive so
      // both segments and both endpoints are exercised.
      s.sql(s"""WITH l AS ($LineCte)
        |SELECT k,
        |  st_x(st_lineinterpolate(g, f)) AS ix,
        |  st_y(st_lineinterpolate(g, f)) AS iy,
        |  st_x(st_startpoint(g)) AS spx,
        |  st_y(st_endpoint(g)) AS epy,
        |  st_x(st_pointn(g, 2)) AS p2x,
        |  st_pointn(g, 5) IS NULL AS oob
        |FROM (SELECT k, f,
        |    st_makeline(x1, y1, x2, y2, x3, y3) AS g FROM l)
        |ORDER BY k""".stripMargin)
    }, Some(
      // linear referencing: same segment-length fold, same owning-segment
      // branch, same lerp — bit-exact; accessors are raw vertex echoes
      s"""WITH l AS ($LineCte),
         |pj AS (SELECT k, f, x1, y1, x2, y2, x3, y3,
         |  sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)) AS len1,
         |  sqrt((x3 - x2) * (x3 - x2) + (y3 - y2) * (y3 - y2)) AS len2
         |  FROM l),
         |tt AS (SELECT *, f * (len1 + len2) AS target FROM pj)
         |SELECT k,
         |  CASE WHEN len1 >= target THEN x1 + (x2 - x1) * (target / len1)
         |       ELSE x2 + (x3 - x2) * ((target - len1) / len2) END AS ix,
         |  CASE WHEN len1 >= target THEN y1 + (y2 - y1) * (target / len1)
         |       ELSE y2 + (y3 - y2) * ((target - len1) / len2) END AS iy,
         |  x1 AS spx, y3 AS epy, x2 AS p2x, TRUE AS oob
         |FROM tt ORDER BY k""".stripMargin)),
    QuerySpec("q119_quantile_sample", { s =>
      // deterministic approximate quantiles: the hash-minimum sample is a
      // fixed pseudo-random subset (md5 total order — q63's pattern), and
      // the interpolation arithmetic is pinned, so the oracle rebuilds
      // the SAME sample and the SAME estimates bit-for-bit.
      val li = s.table("lineitem")
        .withColumn("key", concat(col("l_orderkey"), lit("_"),
          col("l_linenumber")))
      Sampling.approxQuantiles(li, "l_extendedprice", "key",
          qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99), k = 500)
        .orderBy("q")
    }, Some(
      // hash-sample quantiles: same md5-minimum sample, same sorted-array
      // interpolation (rank = q·(n-1); lo + (hi-lo)·frac), bit-for-bit
      """WITH s AS (
        |  SELECT CAST(l_extendedprice AS DOUBLE) AS v
        |  FROM lineitem
        |  ORDER BY md5(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)),
        |    CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)
        |  LIMIT 500),
        |arr AS (SELECT list(v ORDER BY v) AS a, count(*) AS n FROM s),
        |qs AS (SELECT unnest([CAST(0.1 AS DOUBLE), CAST(0.25 AS DOUBLE),
        |  CAST(0.5 AS DOUBLE), CAST(0.75 AS DOUBLE), CAST(0.9 AS DOUBLE),
        |  CAST(0.99 AS DOUBLE)]) AS q)
        |SELECT q,
        |  a[CAST(floor(q * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1]
        |  + (a[LEAST(CAST(floor(q * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 2,
        |       CAST(n AS BIGINT))]
        |     - a[CAST(floor(q * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1])
        |    * (q * CAST(n - 1 AS DOUBLE) - floor(q * CAST(n - 1 AS DOUBLE))) AS est
        |FROM qs, arr
        |ORDER BY q""".stripMargin)),
    QuerySpec("q118_kmeans_ivf", { s =>
      // train -> serve, end-to-end: the k-means codebook trained by q113's
      // machinery plugs straight into the IVF index (cosine assignment,
      // nprobe probes, exact rerank). The oracle chains the k-means CTEs
      // into the q43 IVF replica — candidate sets, ranks and cosines all
      // come out bit-identical, proving the trained model serves exactly.
      val emb = par(s.table("embeddings"))
      val (cb, _) =
        Ann.trainKmeans(emb, "embedding", "vec_id", k = 4, iters = 2)
      val queries = s.table("embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.ivfTopK(s.table("embeddings"), queries, "embedding", "vec_id",
          "qid", "qvec", k = 3, nprobe = 2, codebook = Some(cb))
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("vec_id"), col("cos"))
        .orderBy("qid", "rank")
    }, Some(
      // trained codebook -> IVF serve path, end-to-end: the k-means CTEs
      // produce the float centroids, then the q43 IVF machinery (cosine
      // assignment, nprobe probes, exact rerank) runs against them
      s"""WITH $KmeansCtes,
         |cb AS (SELECT CAST(c AS INTEGER) AS cid, cen AS cvec FROM c2),
         |csim AS (
         |  SELECT e.vec_id, e.embedding, cb.cid,
         |    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM
         |      (SELECT unnest(e.embedding) AS x, unnest(cb.cvec) AS y) z)
         |    / (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM
         |        (SELECT unnest(e.embedding) AS x) z))
         |       * sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM
         |        (SELECT unnest(cb.cvec) AS y) z))) AS sim
         |  FROM embeddings e CROSS JOIN cb),
         |assigned AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT vec_id, embedding, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS r
         |    FROM csim) WHERE r = 1),
         |probes AS (
         |  SELECT qid, qvec, cid FROM (
         |    SELECT vec_id AS qid, embedding AS qvec, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS r
         |    FROM csim WHERE vec_id < 10) WHERE r <= 2),
         |cand AS (
         |  SELECT p.qid, a.vec_id,
         |    (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM
         |      (SELECT unnest(a.embedding) AS x, unnest(p.qvec) AS y) z)
         |    / (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM
         |        (SELECT unnest(a.embedding) AS x) z))
         |       * sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM
         |        (SELECT unnest(p.qvec) AS y) z))) AS cos
         |  FROM assigned a JOIN probes p USING (cid) WHERE a.vec_id != p.qid)
         |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, cos FROM (
         |  SELECT qid, vec_id, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
         |  FROM cand) WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)),
    QuerySpec("q117_intersects_join", { s =>
      // geometry-geometry INTERSECTS join (box layer × zone grid): the
      // general cover-join + exact-refine operator with reference-tile
      // dedup (min shared cover tile — no distinct pass). On axis-aligned
      // boxes the predicate is closed-interval overlap, so the oracle is
      // pure interval logic over the SAME shared box expressions; a pair
      // emitted twice would break the row count.
      val zones = s.sql(s"SELECT n_nationkey, $ZoneBoxColsSW FROM nation")
        .selectExpr("CAST(n_nationkey AS BIGINT) AS zone_id",
          "st_boxtopolygon(ax, ay, bx, by) AS zg")
      // parallel scan (r06): the zone side broadcasts, so without the
      // repartition the whole box-build + cover + refine chain would run
      // inside the raw file's single scan task
      val boxes = s.sql(s"""WITH pts AS (${ptsCteOn("lineitem_par")})
        |SELECT l_orderkey, l_linenumber,
        |  st_boxtopolygon(lon - CAST(1.5 AS DOUBLE), lat - CAST(1.0 AS DOUBLE),
        |    lon + CAST(1.5 AS DOUBLE), lat + CAST(1.0 AS DOUBLE)) AS bg
        |FROM pts""".stripMargin)
      SpatialJoins.intersectsJoin(boxes, zones, "bg", "zg", zoom = 5)
        .select(col("l_orderkey"), col("l_linenumber"), col("zone_id"))
        .orderBy("l_orderkey", "l_linenumber", "zone_id")
    }, Some(
      // intersects join on boxes = closed-interval overlap in both axes
      s"""WITH pts AS ($PtsCte),
         |z AS (SELECT CAST(n_nationkey AS BIGINT) AS zone_id, $ZoneBoxColsSW
         |      FROM nation)
         |SELECT l_orderkey, l_linenumber, zone_id
         |FROM pts, z
         |WHERE ax <= lon + CAST(1.5 AS DOUBLE)
         |  AND bx >= lon - CAST(1.5 AS DOUBLE)
         |  AND ay <= lat + CAST(1.0 AS DOUBLE)
         |  AND by >= lat - CAST(1.0 AS DOUBLE)
         |ORDER BY l_orderkey, l_linenumber, zone_id""".stripMargin)),
    QuerySpec("q116_img_histogram", { s =>
      // per-channel histogram + entropy over real decoded pixels: the
      // two-band fixture puts exactly w·h/2 pixels in bin v1 and w·h/2 in
      // bin v2 (v1 != v2 for every doc_id — 6d ≡ 243 (mod 256) has no
      // solution), so the nonzero bins are closed-form and the entropy is
      // exactly 1.0 bit (p = 1/2 twice; RasterOpsSpec proves both over
      // the full 1280-image fixture population, covering every row at
      // every sf).
      // hist materializes ONCE per row; both the exploded bins and the
      // entropy read it (img_entropy_hist) — one PNG decode per image
      s.sql("""SELECT doc_id, bin, cnt, img_entropy_hist(hist) AS ent
        |FROM (SELECT doc_id, img_histogram(
        |    make_png(w, h, v1, v1, v1, v2, v2, v2), 0) AS hist
        |  FROM (SELECT doc_id,
        |    CAST((doc_id % 5 + 1) * 8 AS INT) AS w,
        |    CAST((doc_id % 4 + 1) * 8 AS INT) AS h,
        |    CAST(doc_id % 256 AS INT) AS v1,
        |    CAST((doc_id * 7 + 13) % 256 AS INT) AS v2
        |   FROM documents_par))
        |LATERAL VIEW posexplode(hist) t AS bin, cnt
        |WHERE cnt > 0
        |ORDER BY doc_id, bin""".stripMargin)
    }, Some(
      // image histogram/entropy: the two bands land w·h/2 pixels in bins v1
      // and v2; entropy is exactly one bit (constant sound per the
      // RasterOpsSpec full-population proof, the q105 pattern)
      """WITH p AS (SELECT doc_id,
        |    CAST((doc_id % 5 + 1) * 8 AS INT) AS w,
        |    CAST((doc_id % 4 + 1) * 8 AS INT) AS h,
        |    CAST(doc_id % 256 AS INT) AS v1,
        |    CAST((doc_id * 7 + 13) % 256 AS INT) AS v2
        |  FROM documents),
        |bins AS (
        |  SELECT doc_id, v1 AS bin, CAST(w AS BIGINT) * h // 2 AS cnt FROM p
        |  UNION ALL
        |  SELECT doc_id, v2 AS bin, CAST(w AS BIGINT) * h // 2 AS cnt FROM p)
        |SELECT doc_id, CAST(bin AS INT) AS bin, cnt,
        |  CAST(1.0 AS DOUBLE) AS ent
        |FROM bins ORDER BY doc_id, bin""".stripMargin)),
    QuerySpec("q114_collect_dump", { s =>
      // canonical ST_Collect -> one MULTIPOINT per orderkey, then ST_Dump
      // back to per-part point rows. The aggregate's CANONICAL part order
      // (first-vertex sort) is what makes it oracle-able at all: the
      // oracle re-derives part index and coordinates with one window over
      // the raw points — PostGIS's scan-order ST_Collect could not be
      // replicated deterministically.
      s.sql(s"""WITH pts AS ($PtsCte),
        |g AS (SELECT l_orderkey, st_collect_agg(st_point(lon, lat)) AS mp
        |      FROM pts GROUP BY l_orderkey)
        |SELECT l_orderkey, st_geometrytype(mp) AS gt, idx,
        |  st_x(p) AS x, st_y(p) AS y
        |FROM g LATERAL VIEW posexplode(st_dump(mp)) t AS idx, p
        |ORDER BY l_orderkey, idx""".stripMargin)
    }, Some(
      // canonical collect/dump: part index = rank in the (x, y) sort the
      // aggregate applies; coordinates pass through untouched
      s"""WITH pts AS ($PtsCte)
         |SELECT l_orderkey, 'MULTIPOINT' AS gt,
         |  CAST(row_number() OVER (PARTITION BY l_orderkey
         |    ORDER BY lon, lat) - 1 AS INT) AS idx,
         |  lon AS x, lat AS y
         |FROM pts
         |ORDER BY l_orderkey, idx""".stripMargin)),
    QuerySpec("q115_affine", { s =>
      // affine transforms are fixed-order double arithmetic — every
      // output ordinate is one exact expression of the inputs, so the
      // oracle recomputes translate/scale/shear coordinates bit-for-bit.
      s.sql(s"""WITH pts AS (${ptsCteOn("lineitem_par")})
        |SELECT l_orderkey, l_linenumber,
        |  st_x(st_translate(st_point(lon, lat),
        |    CAST(3.25 AS DOUBLE), CAST(-1.5 AS DOUBLE))) AS tx,
        |  st_y(st_translate(st_point(lon, lat),
        |    CAST(3.25 AS DOUBLE), CAST(-1.5 AS DOUBLE))) AS ty,
        |  st_x(st_scale(st_point(lon, lat),
        |    CAST(2.5 AS DOUBLE), CAST(0.5 AS DOUBLE))) AS sx,
        |  st_y(st_scale(st_point(lon, lat),
        |    CAST(2.5 AS DOUBLE), CAST(0.5 AS DOUBLE))) AS sy,
        |  st_x(st_affine(st_point(lon, lat),
        |    CAST(0.5 AS DOUBLE), CAST(0.25 AS DOUBLE), CAST(-0.75 AS DOUBLE),
        |    CAST(1.25 AS DOUBLE), CAST(10.0 AS DOUBLE), CAST(-20.0 AS DOUBLE))) AS ax,
        |  st_y(st_affine(st_point(lon, lat),
        |    CAST(0.5 AS DOUBLE), CAST(0.25 AS DOUBLE), CAST(-0.75 AS DOUBLE),
        |    CAST(1.25 AS DOUBLE), CAST(10.0 AS DOUBLE), CAST(-20.0 AS DOUBLE))) AS ay
        |FROM pts ORDER BY l_orderkey, l_linenumber""".stripMargin)
    }, Some(
      // affine: the engine's ((a*x)+(b*y))+off left-associated doubles,
      // written out verbatim (mult binds first, addition left-assoc)
      s"""WITH pts AS ($PtsCte)
         |SELECT l_orderkey, l_linenumber,
         |  CAST(1.0 AS DOUBLE) * lon + CAST(0.0 AS DOUBLE) * lat
         |    + CAST(3.25 AS DOUBLE) AS tx,
         |  CAST(0.0 AS DOUBLE) * lon + CAST(1.0 AS DOUBLE) * lat
         |    + CAST(-1.5 AS DOUBLE) AS ty,
         |  CAST(2.5 AS DOUBLE) * lon + CAST(0.0 AS DOUBLE) * lat
         |    + CAST(0.0 AS DOUBLE) AS sx,
         |  CAST(0.0 AS DOUBLE) * lon + CAST(0.5 AS DOUBLE) * lat
         |    + CAST(0.0 AS DOUBLE) AS sy,
         |  CAST(0.5 AS DOUBLE) * lon + CAST(0.25 AS DOUBLE) * lat
         |    + CAST(10.0 AS DOUBLE) AS ax,
         |  CAST(-0.75 AS DOUBLE) * lon + CAST(1.25 AS DOUBLE) * lat
         |    + CAST(-20.0 AS DOUBLE) AS ay
         |FROM pts ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("q113_kmeans", { s =>
      // in-engine IVF codebook training: 2 distributed Lloyd's iterations,
      // k=4, over the embeddings table. Every step is exact-replicable —
      // md5 total-order seeding, argmin-L2 assignment with ordered double
      // folds, FIXED-POINT integer centroid sums (addition-order-free, so
      // the trained model is invariant to partitioning/retries) — and the
      // oracle re-runs both iterations in SQL: final centroids and
      // cluster sizes match bit-for-bit.
      val emb = par(s.table("embeddings"))
      val (_, summary) =
        Ann.trainKmeans(emb, "embedding", "vec_id", k = 4, iters = 2)
      summary.orderBy("c", "i")
    }, Some(
      // k-means training: replicate both Lloyd's iterations exactly — same
      // seed order (md5 strings), same argmin (ordered double fold, ties to
      // the lowest cluster), same fixed-point integer centroid update
      s"""WITH $KmeansCtes
         |SELECT CAST(c2.c AS INT) AS c, CAST(i - 1 AS INT) AS i,
         |  CAST(kn.n AS BIGINT) AS cnt,
         |  CAST(c2.cen[i] AS DOUBLE) AS val
         |FROM c2 JOIN kn USING (c),
         |  (SELECT unnest(generate_series(1, 64)) AS i)
         |ORDER BY c, i""".stripMargin)),
    QuerySpec("q111_merge_read", { s =>
      // Iceberg-v2-style row-level UPSERT + DELETE (equality tombstones,
      // merge-on-read): snapshot 1 writes every key at version v1;
      // snapshot 2 merges v2 rows for orderkey%5==0 plus brand-new keys
      // for orderkey%97==0; snapshot 3 deletes the current rows with
      // linenumber 4. readCurrent resolves latest-per-key minus
      // tombstones — the oracle recomputes the final state in pure SQL.
      val dir = pipelineDir("q111")
      val pts = s.sql(ptsCteOn("lineitem_par"))
        .withColumn("key", concat(lit("k"), col("l_orderkey"), lit("_"),
          col("l_linenumber")))
      // persisted across the snapshot write + merge of this query (the
      // unsplittable-scan spread is paid once), freed before the result
      val b = Pipeline.withBucket(pts, "lon", "lat", 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Pipeline.writeSnapshot(b.withColumn("ver", lit("v1")), dir, 1L,
        keyCol = "key", bytesCol = "__none")
      val upd = b.filter(col("l_orderkey") % 5 === 0)
        .withColumn("ver", lit("v2"))
      val fresh = b.filter(col("l_orderkey") % 97 === 0)
        .withColumn("key", concat(col("key"), lit("_new")))
        .withColumn("ver", lit("v1new"))
      Pipeline.mergeSnapshot(upd.unionByName(fresh), dir, 2L,
        mergeKeyCol = "key", bytesCol = "__none")
      b.unpersist(blocking = false)
      Pipeline.deleteWhere(s, dir, col("l_linenumber") === 4, 3L,
        keyCol = "key")
      Pipeline.readCurrent(s, dir, keyCol = "key")
        .select(col("key"), col("ver"),
          col("snapshot_id").cast("long").as("snap"))
        .orderBy("key")
    }, Some(
      // row-level merge/delete: recompute the final table state in pure SQL —
      // latest version per key (v2 where merged, the _new inserts), minus the
      // deleted linenumber-4 rows; snap is the winning version's snapshot
      """WITH p AS (SELECT concat('k', l_orderkey, '_', l_linenumber) AS key,
        |    l_orderkey, l_linenumber FROM lineitem),
        |cur AS (
        |  SELECT key, l_linenumber, 'v1' AS ver, 1 AS snap
        |  FROM p WHERE l_orderkey % 5 <> 0
        |  UNION ALL
        |  SELECT key, l_linenumber, 'v2' AS ver, 2 AS snap
        |  FROM p WHERE l_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT key || '_new' AS key, l_linenumber, 'v1new' AS ver, 2 AS snap
        |  FROM p WHERE l_orderkey % 97 = 0)
        |SELECT key, ver, CAST(snap AS BIGINT) AS snap
        |FROM cur WHERE l_linenumber <> 4
        |ORDER BY key""".stripMargin)),
    QuerySpec("q112_merge_compact", { s =>
      // compaction under row-level ops: same table as q111, then the
      // maintenance pass bakes the tombstones into the base snapshot and
      // retires them. The merged view must be unchanged (same oracle
      // rows, every snap relabeled to the base), raw storage must hold
      // exactly the surviving rows (no masked versions), and the delete
      // set must be empty — all asserted in-query or by the oracle.
      val dir = pipelineDir("q112")
      val pts = s.sql(ptsCteOn("lineitem_par"))
        .withColumn("key", concat(lit("k"), col("l_orderkey"), lit("_"),
          col("l_linenumber")))
      // persisted across the snapshot write + merge of this query (the
      // unsplittable-scan spread is paid once), freed before the result
      val b = Pipeline.withBucket(pts, "lon", "lat", 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Pipeline.writeSnapshot(b.withColumn("ver", lit("v1")), dir, 1L,
        keyCol = "key", bytesCol = "__none")
      val upd = b.filter(col("l_orderkey") % 5 === 0)
        .withColumn("ver", lit("v2"))
      val fresh = b.filter(col("l_orderkey") % 97 === 0)
        .withColumn("key", concat(col("key"), lit("_new")))
        .withColumn("ver", lit("v1new"))
      Pipeline.mergeSnapshot(upd.unionByName(fresh), dir, 2L,
        mergeKeyCol = "key", bytesCol = "__none")
      b.unpersist(blocking = false)
      Pipeline.deleteWhere(s, dir, col("l_linenumber") === 4, 3L,
        keyCol = "key")
      val manifest = Pipeline.compactSnapshots(s, dir, 3L, keyCol = "key",
        bytesCol = "__none")
      require(s.read.parquet(s"$dir/deletes").count() == 0,
        "compaction must retire the applied tombstones")
      val raw = s.read.parquet(s"$dir/data")
      val cur = Pipeline.readCurrent(s, dir, keyCol = "key")
      require(raw.count() == cur.count(),
        "raw storage must hold exactly the merged view after compaction")
      require(Pipeline.dataFileCount(dir) == manifest.count(),
        "compaction must leave one file per bucket")
      cur.select(col("key"), col("ver"),
          col("snapshot_id").cast("long").as("snap"))
        .orderBy("key")
    }, Some(
      // after compaction the merged view is unchanged but every surviving row
      // is relabeled to the base snapshot (snap = 3, the squash point)
      """WITH p AS (SELECT concat('k', l_orderkey, '_', l_linenumber) AS key,
        |    l_orderkey, l_linenumber FROM lineitem),
        |cur AS (
        |  SELECT key, l_linenumber, 'v1' AS ver FROM p WHERE l_orderkey % 5 <> 0
        |  UNION ALL
        |  SELECT key, l_linenumber, 'v2' AS ver FROM p WHERE l_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT key || '_new' AS key, l_linenumber, 'v1new' AS ver
        |  FROM p WHERE l_orderkey % 97 = 0)
        |SELECT key, ver, CAST(3 AS BIGINT) AS snap
        |FROM cur WHERE l_linenumber <> 4
        |ORDER BY key""".stripMargin)),
    QuerySpec("q109_buffer", { s =>
      // point buffer, COORDINATE-EXACT oracle: each disc vertex is one
      // closed-form trig expression of (center, radius, index) — the
      // oracle recomputes every vertex in DuckDB (JVM/DuckDB sin-cos
      // bit parity probe-verified); the ring closure is vertex 0 again
      // (idx % segs). st_coords + posexplode dumps the ring in order.
      s.sql("""SELECT key, idx, v.x AS vx, v.y AS vy
        |FROM (SELECT n_nationkey AS key,
        |    st_buffer(st_point(
        |      CAST(-100.0 AS DOUBLE) + CAST(n_nationkey % 5 AS DOUBLE) * CAST(30.0 AS DOUBLE) + CAST(0.37 AS DOUBLE),
        |      CAST(-40.0 AS DOUBLE) + CAST((n_nationkey - n_nationkey % 5) / 5 AS DOUBLE) * CAST(18.0 AS DOUBLE) + CAST(0.21 AS DOUBLE)),
        |      CAST(n_nationkey % 4 + 1 AS DOUBLE) * CAST(1.5 AS DOUBLE),
        |      CAST(8 + (n_nationkey % 3) * 12 AS INT)) AS g
        |  FROM nation)
        |LATERAL VIEW posexplode(st_coords(g)) t AS idx, v
        |ORDER BY key, idx""".stripMargin)
    }, Some(
      // buffer ground truth: every k-gon vertex recomputed in closed form
      // (same expression tree: cx + r*cos(2*pi*i/k)); the ring closure is
      // idx % segs = 0, i.e. vertex 0 bit-for-bit
      """WITH n AS (SELECT n_nationkey AS key,
        |    CAST(-100.0 AS DOUBLE) + CAST(n_nationkey % 5 AS DOUBLE) * CAST(30.0 AS DOUBLE) + CAST(0.37 AS DOUBLE) AS cx,
        |    CAST(-40.0 AS DOUBLE) + CAST((n_nationkey - n_nationkey % 5) / 5 AS DOUBLE) * CAST(18.0 AS DOUBLE) + CAST(0.21 AS DOUBLE) AS cy,
        |    CAST(n_nationkey % 4 + 1 AS DOUBLE) * CAST(1.5 AS DOUBLE) AS r,
        |    8 + (n_nationkey % 3) * 12 AS segs
        |  FROM nation),
        |v AS (SELECT key, cx, cy, r, segs,
        |    unnest(generate_series(0, CAST(segs AS BIGINT))) AS idx
        |  FROM n)
        |SELECT key, CAST(idx AS INT) AS idx,
        |  cx + r * cos(2.0 * pi() * (idx % segs) / segs) AS vx,
        |  cy + r * sin(2.0 * pi() * (idx % segs) / segs) AS vy
        |FROM v ORDER BY key, idx""".stripMargin)),
    QuerySpec("q108_tile_diff", { s =>
      // render regression diff: per-tile decoded-pixel MSE between the
      // density render and the quantity-weighted render of the SAME
      // points (identical tile sets since every weight >= 1). The oracle
      // recomputes each tile's MSE in closed form from the per-pixel
      // clamped count/sum difference — engine divides the exact integer
      // SE by 3.0*w*h, replicated literally.
      val pts = s.sql(s"""WITH pts AS ($PtsCte)
        |SELECT lon, lat, CAST(l_quantity AS BIGINT) AS qty
        |FROM pts JOIN lineitem USING (l_orderkey, l_linenumber)""".stripMargin)
      val dens = TileRender.renderTiles(pts, "lon", "lat", zoom = 3, size = 256)
      val wght = TileRender.renderTiles(pts, "lon", "lat", zoom = 3, size = 256,
        weightCol = Some("qty"))
      TileRender.tileDiff(dens, wght)
        .selectExpr("x AS tx", "y AS ty", "mse")
        .orderBy("tx", "ty")
    }, Some(
      // tile-diff ground truth: per tile, SE = 3 * Σ_pixels
      // (least(count,255) - least(qtysum,255))² over the occupied pixels
      // (unoccupied pixels are 0 in both renders); engine MSE divides the
      // exact integer SE by 3.0 * 256 * 256 = 196608.0, replicated literally
      s"""WITH pts AS (${PtsCte.replace("\n", " ")}),
        |pq AS (SELECT lon, lat, CAST(l_quantity AS BIGINT) AS qty
        |  FROM pts JOIN lineitem USING (l_orderkey, l_linenumber)),
        |fr AS (SELECT
        |  (lon + 180.0) / 360.0 * 8 AS fx,
        |  (1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat)))
        |     / pi()) / 2.0 * 8 AS fy, qty
        |  FROM pq),
        |px AS (SELECT
        |  CAST(floor(fx) AS INTEGER) AS tx, CAST(floor(fy) AS INTEGER) AS ty,
        |  CAST(floor((fx - floor(fx)) * 256) AS INTEGER) AS ppx,
        |  CAST(floor((fy - floor(fy)) * 256) AS INTEGER) AS ppy, qty
        |  FROM fr),
        |cnt AS (SELECT tx, ty, ppx, ppy,
        |    least(count(*), 255) AS a, least(sum(qty), 255) AS b
        |  FROM px GROUP BY 1, 2, 3, 4)
        |SELECT tx, ty,
        |  CAST(3 * sum((a - b) * (a - b)) AS DOUBLE)
        |    / CAST(196608.0 AS DOUBLE) AS mse
        |FROM cnt GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QuerySpec("q107_channel_stats", { s =>
      // corpus normalization statistics (what an image-training pipeline
      // computes before standardizing inputs): global decoded-pixel sum,
      // pixel count and mean per RGB channel. Integer sums are exact and
      // the mean is one correctly-rounded double division, so the oracle
      // re-derives all three in closed form from the band construction.
      s.sql("""SELECT
        |  CAST(sum(img_channel_sum(orig, 0)) AS BIGINT) AS r_total,
        |  CAST(sum(img_channel_sum(orig, 2)) AS BIGINT) AS b_total,
        |  CAST(sum(CAST(w AS BIGINT) * h) AS BIGINT) AS px_total,
        |  CAST(sum(img_channel_sum(orig, 0)) AS DOUBLE)
        |    / CAST(sum(CAST(w AS BIGINT) * h) AS DOUBLE) AS r_mean
        |FROM (SELECT w, h, make_png(w, h, v1, v1, v1, v2, v2, v2) AS orig
        |  FROM (SELECT
        |    CAST((doc_id % 5 + 1) * 8 AS INT) AS w,
        |    CAST((doc_id % 4 + 1) * 8 AS INT) AS h,
        |    CAST(doc_id % 256 AS INT) AS v1,
        |    CAST((doc_id * 7 + 13) % 256 AS INT) AS v2
        |   FROM documents_par))""".stripMargin)
    }, Some(
      // channel-stats ground truth: each band image's channel sum is
      // w * h/2 * (v1 + v2) exactly (all three channels equal by
      // construction); integer totals then one correctly-rounded division
      """WITH d AS (SELECT
        |    (doc_id % 5 + 1) * 8 AS w, (doc_id % 4 + 1) * 8 AS h,
        |    doc_id % 256 AS v1, (doc_id * 7 + 13) % 256 AS v2
        |  FROM documents)
        |SELECT
        |  CAST(sum(w * (h // 2) * (v1 + v2)) AS BIGINT) AS r_total,
        |  CAST(sum(w * (h // 2) * (v1 + v2)) AS BIGINT) AS b_total,
        |  CAST(sum(w * h) AS BIGINT) AS px_total,
        |  CAST(sum(w * (h // 2) * (v1 + v2)) AS DOUBLE)
        |    / CAST(sum(w * h) AS DOUBLE) AS r_mean
        |FROM d""".stripMargin)),
    QuerySpec("q105_jpeg_gate", { s =>
      // the north rule's lossy leg as a row-by-row gate: a REAL JPEG
      // re-encode at quality 95 must hold PSNR >= 40 dB against the
      // original decoded pixels for EVERY image. The oracle asserts
      // all-TRUE; RasterOpsSpec proves it exhaustively over the full
      // 1280-image population (min 51.1 dB), so the claim holds at every
      // scale factor.
      s.sql("""SELECT doc_id,
        |  img_psnr(orig, img_jpeg(orig, 95)) >= CAST(40.0 AS DOUBLE) AS pass40
        |FROM (SELECT doc_id,
        |    make_png(w, h, v1, v1, v1, v2, v2, v2) AS orig
        |  FROM (SELECT doc_id,
        |    CAST((doc_id % 5 + 1) * 8 AS INT) AS w,
        |    CAST((doc_id % 4 + 1) * 8 AS INT) AS h,
        |    CAST(doc_id % 256 AS INT) AS v1,
        |    CAST((doc_id * 7 + 13) % 256 AS INT) AS v2
        |   FROM documents_par))
        |ORDER BY doc_id""".stripMargin)
    }, Some(
      // the lossy gate holds for every row: proven exhaustively over the
      // full 1280-image population in RasterOpsSpec (min 51.1 dB at q95)
      "SELECT doc_id, TRUE AS pass40 FROM documents ORDER BY doc_id")),
    QuerySpec("q92_decontam_norm", { s =>
      // normalized decontamination: the benchmark slice leaks into the
      // corpus PERTURBED (re-cased + trailing punctuation) — verbatim
      // 8-gram matching misses it; the normalize pass (case-fold +
      // punct->space + whitespace collapse) must flag every planted row.
      // The oracle mirrors the normalization op-for-op in DuckDB.
      val docs = s.table("documents")
      // corpus side parallelized (r06): normalize regexes + 8-gram md5
      // explode are the per-row cost and the raw scan is one task
      val corpus = par(docs).select(col("doc_id"),
        when(col("doc_id") % 97 === 0,
          concat(upper(col("text")), lit(" !!!")))
          .otherwise(col("text")).as("text"))
      graft.operators.Dedup.decontaminate(
          corpus, docs.filter(col("doc_id") % 97 === 0),
          "text", "doc_id", n = 8, normalize = true)
        .orderBy("doc_id")
    }, Some(
      // normalized decontamination: perturbed corpus + the same case-fold/
      // punct-strip/collapse normalization replicated in DuckDB regex
      """WITH c AS (
        |  SELECT doc_id, CASE WHEN doc_id % 97 = 0
        |    THEN upper(text) || ' !!!' ELSE text END AS text
        |  FROM documents),
        |cn AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
        |    lower(text), '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS text
        |  FROM c),
        |bn AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
        |    lower(text), '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')) AS text
        |  FROM documents WHERE doc_id % 97 = 0),
        |g AS (
        |  SELECT DISTINCT doc_id,
        |    md5(array_to_string(t[i + 1:i + 8], ' ')) AS gram
        |  FROM (
        |    SELECT doc_id, t, unnest(generate_series(0, len(t) - 8)) AS i
        |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM cn)
        |    WHERE len(t) >= 8)),
        |b AS (
        |  SELECT DISTINCT md5(array_to_string(t[i + 1:i + 8], ' ')) AS gram
        |  FROM (
        |    SELECT t, unnest(generate_series(0, len(t) - 8)) AS i
        |    FROM (SELECT string_split(text, ' ') AS t FROM bn)
        |    WHERE len(t) >= 8))
        |SELECT g.doc_id, count(*) AS n_shared
        |FROM g JOIN b ON b.gram = g.gram
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin)),
    QuerySpec("q93_geojson_fc", { s =>
      // whole-file FeatureCollection round-trip (the single-.geojson
      // interop path; unsplittable by construction — GeoJSONSeq is the
      // scale path): one driver-assembled document, read back through the
      // st_geojson_fc codec. Lossless (shortest-round-trip digits), so
      // the oracle is the generating CTE. Input capped to a deterministic
      // 10% slice — the document parses as ONE task by definition, and a
      // single-file .geojson is a small-file format (the cap keeps the
      // sf0.1 bench sweep measuring the codec, not one straggler task).
      val pts = s.sql(ptsCteOn("lineitem_par"))
        .filter(col("l_orderkey") % 10 === 0)
        .withColumn("geom", call_function("st_point", col("lon"), col("lat")))
        .select("l_orderkey", "l_linenumber", "geom")
      val file = pipelineDir("q93") + ".geojson"
      graft.sources.GeoJsonFc.write(pts, "geom", file)
      graft.sources.GeoJsonFc.read(s, file)
        .select(
          get_json_object(col("properties"), "$.l_orderkey")
            .cast("long").as("l_orderkey"),
          get_json_object(col("properties"), "$.l_linenumber")
            .cast("long").as("l_linenumber"),
          call_function("st_x", col("geom")).as("lon"),
          call_function("st_y", col("geom")).as("lat"))
        .orderBy("l_orderkey", "l_linenumber")
    }, Some(
      // FeatureCollection round-trip is lossless: oracle = the same CTE
      s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         |  lon, lat FROM ($PtsCte) WHERE l_orderkey % 10 = 0
         |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QuerySpec("q94_knn_adaptive", { s =>
      // adaptive-start spherical kNN: per-query start level from the
      // density sketch. EXACTNESS gate — results must equal brute-force
      // haversine top-5 (same oracle as q88) no matter which start level
      // each query picked; only the round schedule may differ.
      val pts = s.sql(ptsCteOn("lineitem_par"))
      val qs = s.sql("""SELECT n_nationkey AS qid,
        |  CAST(n_nationkey AS DOUBLE) * 14.0 - 179.9500001 + 7.0 AS qlon,
        |  (CAST(n_nationkey AS DOUBLE) * 41.0) % 160.0 - 79.9500001 + 12.5 AS qlat
        |FROM nation""".stripMargin)
      graft.operators.Knn.knnMetersJoinAdaptive(pts, qs, k = 5,
          tieCols = Seq("l_orderkey", "l_linenumber"))
        .select(col("qid"), col("rank").cast("long").as("rank"),
          col("l_orderkey"), col("l_linenumber"))
        .orderBy("qid", "rank")
    }, Some(
      // adaptive kNN must produce the identical exact top-5 (q88's oracle)
      s"""WITH pts AS (${PtsCte.replace("\n", " ")}),
         |qs AS (SELECT n_nationkey AS qid,
         |  CAST(n_nationkey AS DOUBLE) * 14.0 - 179.9500001 + 7.0 AS qlon,
         |  (CAST(n_nationkey AS DOUBLE) * 41.0) % 160.0 - 79.9500001 + 12.5 AS qlat
         |FROM nation),
         |d AS (SELECT qid, l_orderkey, l_linenumber,
         |  2.0 * 6371008.8 * asin(least(1.0, sqrt(
         |    pow(sin(radians(lat - qlat) / 2), 2) +
         |    cos(radians(qlat)) * cos(radians(lat)) *
         |      pow(sin(radians(lon - qlon) / 2), 2)))) AS dist
         |  FROM pts, qs)
         |SELECT qid, rank, l_orderkey, l_linenumber FROM (
         |  SELECT qid, l_orderkey, l_linenumber, row_number() OVER (
         |    PARTITION BY qid ORDER BY dist, l_orderkey, l_linenumber) AS rank
         |  FROM d)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),
    // ---- flagship --------------------------------------------------
    QuerySpec("q60_flagship", s => entry(s), None),
    // flagship-shaped but fully oracled: PIP join + z8 tile assignment +
    // per-(polygon, tile) aggregation over the deterministic point layer —
    // the same plan shape as q60 (broadcast join, codegen'd kernels,
    // partial agg) with every output row checked against DuckDB
    QuerySpec("q61_flagship_oracle", { s =>
      val pts = s.sql(ptsCteOn("lineitem_par"))
      val rects = s.sql(s"""SELECT n_nationkey, st_geomfromwkt(concat(
        |  'POLYGON ((', CAST(xmin AS STRING), ' ', CAST(ymin AS STRING),
        |  ', ', CAST(xmin + 20.0 AS STRING), ' ', CAST(ymin AS STRING),
        |  ', ', CAST(xmin + 20.0 AS STRING), ' ', CAST(ymin + 25.0 AS STRING),
        |  ', ', CAST(xmin AS STRING), ' ', CAST(ymin + 25.0 AS STRING),
        |  ', ', CAST(xmin AS STRING), ' ', CAST(ymin AS STRING), '))')) AS poly
        |FROM ($RectsCte)""".stripMargin)
      val joined = SpatialJoins.pipJoin(pts, rects, "poly", "lon", "lat",
        zoom = 5, broadcastPolys = true)
      SpatialJoins.assignTiles(joined, "lon", "lat", zoom = 8)
        .groupBy(col("n_nationkey"),
          call_function("st_tilex", col("tile_id")).as("tx"),
          call_function("st_tiley", col("tile_id")).as("ty"))
        .agg(count(lit(1)).as("n"))
        .orderBy("n_nationkey", "tx", "ty")
    }, Some(
      s"""WITH pts AS (${PtsCte.replace("\n", " ")}),
        |rects AS (${RectsCte.replace("\n", " ")})
        |SELECT n_nationkey,
        |  CAST(floor((lon + 180.0) / 360.0 * 256) AS INTEGER) AS tx,
        |  CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi()) / 2.0 * 256) AS INTEGER) AS ty,
        |  count(*) AS n
        |FROM rects JOIN pts ON lon > xmin AND lon < xmin + 20.0
        |  AND lat > ymin AND lat < ymin + 25.0
        |GROUP BY 1, 2, 3 ORDER BY n_nationkey, tx, ty""".stripMargin))
  ))

  /** documents ∪ mutated copies (doc_id+10000, last ~8 words dropped) —
    * planted near-duplicates for the dedup operators. */
  private def plantedNearDups(s: SparkSession): DataFrame = {
    // deliberately NOT routed through documents_par (r06): the minhash
    // pipeline's own first exchange moves only (id, band) pairs — the
    // round-robin spread would shuffle the full TEXT column instead, and
    // measured 2.2x SLOWER (q31 1.2s -> 2.7s warm) than letting the
    // banded self-join parallelize after its ids-only exchange
    val base = s.table("documents").select(col("doc_id"), col("text"))
    val mutated = base.select((col("doc_id") + 10000).as("doc_id"),
      concat_ws(" ", slice(split(col("text"), " "), lit(1),
        greatest(size(split(col("text"), " ")) - 8, lit(1)))).as("text"))
    base.unionByName(mutated)
  }

  private def pipelineDir(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$tag").toFile
    dir.delete()
    dir.getAbsolutePath
  }

  // =====================================================================

  // --- DuckDB k-means L2² replica: the engine's argminL2 fold, verbatim —
  // terms (e[i]-c[i])² in index order, left-folded from 0.0, all double
  private def kmDist(e: String, c: String, dim: Int = 64): String =
    s"""list_reduce([CAST(0 AS DOUBLE)] ||
       |      [ (CAST($e[i] AS DOUBLE) - CAST($c[i] AS DOUBLE))
       |        * (CAST($e[i] AS DOUBLE) - CAST($c[i] AS DOUBLE))
       |        FOR i IN generate_series(1, $dim)],
       |      (a, x) -> a + x)""".stripMargin

  /** Per-subspace k-means → encode → ADC-table CTE chain for the PQ oracle
    * (q141): the q113 Lloyd's replica over the slice `embedding[lo:hi]`
    * (k=4, 2 iterations, same md5 seed rows), then `code$p` (nearest final
    * centroid per corpus vector, ties to the lowest index — argminL2's
    * strict-less rule) and `tab$p` (each query's exact subspace L2² to
    * every centroid — vec_l2sq and the assignment share one fold). */
  private def pqKmCtes(p: String, lo: Int, hi: Int): String = {
    val dim = hi - lo + 1
    def d(e: String, c: String) = kmDist(e, c, dim)
    s"""hp$p AS (SELECT vec_id, hh, embedding[$lo:$hi] AS sv FROM hs),
       |c0$p AS (SELECT row_number() OVER (ORDER BY hh, vec_id) - 1 AS c,
       |    sv AS cen
       |  FROM hp$p ORDER BY hh, vec_id LIMIT 4),
       |d1$p AS (SELECT e.vec_id, e.sv, c.c, ${d("e.sv", "c.cen")} AS dist
       |  FROM hp$p e, c0$p c),
       |a1$p AS (SELECT vec_id, sv, c FROM
       |    (SELECT vec_id, sv, c,
       |       row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
       |     FROM d1$p) WHERE rn = 1),
       |s1$p AS (SELECT c, i,
       |    sum(CAST(floor(CAST(sv[i] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) AS s,
       |    count(*) AS n
       |  FROM a1$p, (SELECT unnest(generate_series(1, $dim)) AS i)
       |  GROUP BY c, i),
       |c1$p AS (SELECT c0$p.c, COALESCE(u.cen, c0$p.cen) AS cen
       |  FROM c0$p LEFT JOIN (
       |    SELECT c, list(CAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
       |        / 1048576.0 AS FLOAT) ORDER BY i) AS cen
       |    FROM s1$p GROUP BY c) u USING (c)),
       |d2$p AS (SELECT e.vec_id, e.sv, c.c, ${d("e.sv", "c.cen")} AS dist
       |  FROM hp$p e, c1$p c),
       |a2$p AS (SELECT vec_id, sv, c FROM
       |    (SELECT vec_id, sv, c,
       |       row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
       |     FROM d2$p) WHERE rn = 1),
       |s2$p AS (SELECT c, i,
       |    sum(CAST(floor(CAST(sv[i] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) AS s,
       |    count(*) AS n
       |  FROM a2$p, (SELECT unnest(generate_series(1, $dim)) AS i)
       |  GROUP BY c, i),
       |c2$p AS (SELECT c1$p.c, COALESCE(u.cen, c1$p.cen) AS cen
       |  FROM c1$p LEFT JOIN (
       |    SELECT c, list(CAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
       |        / 1048576.0 AS FLOAT) ORDER BY i) AS cen
       |    FROM s2$p GROUP BY c) u USING (c)),
       |dc$p AS (SELECT e.vec_id, c.c, ${d("e.sv", "c.cen")} AS dist
       |  FROM hp$p e, c2$p c),
       |code$p AS (SELECT vec_id, c AS code FROM
       |    (SELECT vec_id, c,
       |       row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
       |     FROM dc$p) WHERE rn = 1),
       |tab$p AS (SELECT q.vec_id AS qid, c.c, ${d("q.sv", "c.cen")} AS d2
       |  FROM hp$p q, c2$p c WHERE q.vec_id < 10)""".stripMargin
  }

  /** Deterministic 3-point lines over nation for the linear-referencing
    * query (q120) — varied angles and an up-then-down bend so both
    * segments get exercised. Shared VERBATIM with the DuckDB oracle
    * (environment fact 1: all fractional literals behind CAST AS DOUBLE). */
  private val LineCte =
    """SELECT k, f, x1, y1, x2, y2,
      |  x2 + CAST(1.9 AS DOUBLE) AS x3, y2 - CAST(4.6 AS DOUBLE) AS y3
      |FROM (SELECT k, f, x1, y1,
      |    x1 + CAST(5.7 AS DOUBLE) AS x2, y1 + CAST(3.3 AS DOUBLE) AS y2
      |  FROM (SELECT n_nationkey AS k,
      |    CAST(n_nationkey % 11 AS DOUBLE) / CAST(10.0 AS DOUBLE) AS f,
      |    CAST(-120.0 AS DOUBLE) + CAST(n_nationkey AS DOUBLE) * CAST(7.3 AS DOUBLE) AS x1,
      |    CAST(-50.0 AS DOUBLE) + CAST(n_nationkey AS DOUBLE) * CAST(2.1 AS DOUBLE) AS y1
      |  FROM nation))""".stripMargin

  // --- shared k-means oracle CTE chain (q113, q118): md5 total-order
  // seeding, two Lloyd's iterations — ordered-fold argmin assignment,
  // fixed-point integer centroid updates; `s2` holds the final
  // per-(cluster, dim) sums/counts
  private lazy val KmeansCtes: String =
    s"""hs AS (SELECT vec_id, embedding,
       |    md5(CAST(vec_id AS VARCHAR)) AS hh FROM embeddings),
       |c0 AS (SELECT row_number() OVER (ORDER BY hh, vec_id) - 1 AS c,
       |    embedding AS cen
       |  FROM hs ORDER BY hh, vec_id LIMIT 4),
       |d1 AS (SELECT e.vec_id, e.embedding, c0.c,
       |    ${kmDist("e.embedding", "c0.cen")} AS dist
       |  FROM hs e, c0),
       |a1 AS (SELECT vec_id, embedding, c FROM
       |    (SELECT vec_id, embedding, c,
       |       row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
       |     FROM d1) WHERE rn = 1),
       |s1 AS (SELECT c, i,
       |    sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) AS s,
       |    count(*) AS n
       |  FROM a1, (SELECT unnest(generate_series(1, 64)) AS i) GROUP BY c, i),
       |c1 AS (SELECT c0.c, COALESCE(u1.cen, c0.cen) AS cen
       |  FROM c0 LEFT JOIN (
       |    SELECT c, list(CAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
       |        / 1048576.0 AS FLOAT) ORDER BY i) AS cen
       |    FROM s1 GROUP BY c) u1 USING (c)),
       |d2 AS (SELECT e.vec_id, e.embedding, c1.c,
       |    ${kmDist("e.embedding", "c1.cen")} AS dist
       |  FROM hs e, c1),
       |a2 AS (SELECT vec_id, embedding, c FROM
       |    (SELECT vec_id, embedding, c,
       |       row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
       |     FROM d2) WHERE rn = 1),
       |s2 AS (SELECT c, i,
       |    sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) AS s,
       |    count(*) AS n
       |  FROM a2, (SELECT unnest(generate_series(1, 64)) AS i) GROUP BY c, i),
       |c2 AS (SELECT c1.c, COALESCE(u2.cen, c1.cen) AS cen
       |  FROM c1 LEFT JOIN (
       |    SELECT c, list(CAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
       |        / 1048576.0 AS FLOAT) ORDER BY i) AS cen
       |    FROM s2 GROUP BY c) u2 USING (c)),
       |kn AS (SELECT c1.c AS c, COALESCE(s2n.n, 0) AS n
       |  FROM c1 LEFT JOIN (
       |    SELECT c, max(n) AS n FROM s2 GROUP BY c) s2n USING (c))""".stripMargin

  // --- DuckDB splitmix64 replica (SQL text generator) -------------------
  // 64-bit wraparound arithmetic via HUGEINT with 32-bit split
  // multiplication; built at runtime because the expanded expressions
  // (repeated per xor stage) exceed the JVM 64KB string-constant limit.
  private def smxU(e: String): String =
    s"(CAST($e AS HUGEINT) + CASE WHEN ($e) < 0 THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)"
  private def smxMul(z: String, c: String): String =
    s"CAST(((CAST($z AS HUGEINT) % 4294967296) * $c " +
      s"+ (((CAST($z AS HUGEINT) // 4294967296) * $c) % 4294967296) * 4294967296) " +
      s"% 18446744073709551616 AS UBIGINT)"
  private def smxXs(z: String, k: Int): String = s"xor($z, $z >> $k)"

  /** SQL computing splitmix64 of the signed-BIGINT expression `e`. */
  private def smxExpr(e: String): String = {
    val a = s"CAST((${smxU(e)} + 11400714819323198485) % 18446744073709551616 AS UBIGINT)"
    val b = smxMul(smxXs(a, 30), "13787848793156543929")
    val c = smxMul(smxXs(b, 27), "10723151780598845931")
    val f = smxXs(c, 31)
    s"CAST(CAST($f AS HUGEINT) - CASE WHEN $f >= 9223372036854775808 " +
      s"THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT)"
  }

  /** The fold lambda `(a, c) -> splitmix64(a ^ c)` shared by the rolling-
    * hash replicas. */
  private lazy val SmxLambda = smxExpr("xor(a, c)")

  /** q154's unrolled k-core peel: s0 = full-degree filter, s_i = degree
    * filter within the s_{i-1}-induced subgraph — exactly the engine's
    * round-i survivor set. Survivor sets are monotone DECREASING, so if
    * `rounds` under-runs the true peel depth the unroll is a strict
    * superset of the engine's fixpoint and the compare fails loudly. */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e0 AS (
      |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM (SELECT o_custkey % 150 AS src,
      |      CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey % 12
      |           ELSE o_orderkey % 150 END AS dst FROM orders)
      |  WHERE src <> dst),
      |u0 AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
      |s0 AS (SELECT a FROM u0 GROUP BY a HAVING count(*) >= $k)""".stripMargin
    for (i <- 1 to rounds)
      sb ++= s""",
        |s$i AS (SELECT u.a FROM u0 u JOIN s${i - 1} x ON x.a = u.a
        |  JOIN s${i - 1} y ON y.a = u.b GROUP BY u.a HAVING count(*) >= $k)""".stripMargin
    sb ++= s"\nSELECT a AS node FROM s$rounds ORDER BY node"
    sb.toString
  }

  /** Count-min counter-exact replica (q68, depth 4, width 1024): rebuild
    * every counter from the splitmix64 bucket map, then take the min over
    * rows per probe — all integer arithmetic. */
  private lazy val CmsOracle: String =
    s"""WITH idx AS (SELECT user_id, r,
       |    (${smxExpr("xor(user_id, r)")} & 1023) AS b
       |  FROM events CROSS JOIN range(0, 4) t(r)),
       |counters AS (SELECT r, b, count(*) AS cnt FROM idx GROUP BY r, b),
       |probes AS (SELECT user_id, count(*) AS exact_n FROM events
       |           GROUP BY user_id),
       |pidx AS (SELECT p.user_id, t.r,
       |    (${smxExpr("xor(p.user_id, t.r)")} & 1023) AS b
       |  FROM probes p CROSS JOIN range(0, 4) t(r)),
       |est AS (SELECT user_id, min(COALESCE(c.cnt, 0)) AS est
       |  FROM pidx LEFT JOIN counters c ON c.r = pidx.r AND c.b = pidx.b
       |  GROUP BY user_id)
       |SELECT e.user_id, CAST(e.est AS BIGINT) AS est, p.exact_n
       |FROM est e JOIN probes p ON p.user_id = e.user_id
       |ORDER BY e.user_id""".stripMargin

  /** HLL register-exact replica (q67, p=8): rebuild every register from
    * the splitmix64 hash (bucket = top 8 bits, rho = leading-zero rank of
    * the low-56-bit frame via a min-k bit probe), then fold the harmonic
    * sum in bucket order — the same fixed op sequence HllSketchAgg.eval
    * runs, so even the double estimate matches bit-for-bit. */
  private lazy val HllOracle: String =
    s"""WITH h AS (SELECT ${smxExpr("event_id")} AS hs FROM events),
       |hu AS (SELECT CAST(CAST(hs AS HUGEINT)
       |  + CASE WHEN hs < 0 THEN CAST(18446744073709551616 AS HUGEINT)
       |         ELSE CAST(0 AS HUGEINT) END AS UBIGINT) AS u FROM h),
       |bw AS (SELECT CAST(u >> 56 AS INTEGER) AS bucket,
       |  CAST(u % 72057594037927936 AS UBIGINT) AS w0 FROM hu),
       |rho AS (SELECT bucket,
       |  COALESCE((SELECT min(k) FROM range(1, 58) r(k)
       |    WHERE ((w0 >> (56 - CAST(k AS INTEGER))) % 2) = 1), 57) AS rho
       |  FROM bw),
       |regs AS (SELECT bucket, max(rho) AS mr FROM rho GROUP BY bucket),
       |fullr AS (SELECT CAST(g.range AS INTEGER) AS bucket,
       |    COALESCE(r.mr, 0) AS mr
       |  FROM range(0, 256) g LEFT JOIN regs r ON r.bucket = g.range),
       |agg AS (SELECT
       |  list_reduce(list(1.0 / CAST(CAST(1 AS BIGINT) << mr AS DOUBLE)
       |    ORDER BY bucket), (a, x) -> a + x) AS s,
       |  CAST(sum((bucket + 1) * mr) AS BIGINT) AS reg_checksum,
       |  CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS INTEGER) AS zero_regs
       |  FROM fullr)
       |SELECT (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / s AS est,
       |  reg_checksum, zero_regs,
       |  (SELECT count(DISTINCT event_id) FROM events) AS n_exact
       |FROM agg""".stripMargin

  // --- DuckDB S2 cell-index replica (SQL text generator) ----------------
  // Replicates Cells.xyzToFaceUv / uvToSt / stToIj / fromFaceIj / parent
  // bit-for-bit: every step is IEEE-exact (divisions, sqrt, dyadic
  // multiplies, floor, integer bit ops), and the Hilbert lookup table is
  // embedded as the same 1,024 constants the engine folds with.

  /** Signed-BIGINT view of an UBIGINT expression (two's-complement). The
    * threshold is compared as UBIGINT explicitly: `ubigint >= 2^63` with a
    * bare (HUGEINT-typed) literal trips an internal-cast error in DuckDB
    * when the left side is itself an arithmetic expression. */
  private def cellSgn(e: String): String =
    s"CAST(CAST($e AS HUGEINT) - CASE WHEN ($e) >= CAST(9223372036854775808 AS UBIGINT) " +
      s"THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT)"

  /** `(id & -newLsb) | newLsb` — parent at `level` of the UBIGINT id `e`. */
  private def cellParentU(e: String, level: Int): String = {
    val lsb = 1L << (2 * (30 - level))
    s"((($e) - (($e) & CAST(${lsb - 1} AS UBIGINT))) | CAST($lsb AS UBIGINT))"
  }

  /** Forward Hilbert fold as lateral-alias SELECT items: computes
    * `<p>n0` (the 60-bit curve position + face, UBIGINT) from integer
    * columns (`faceE`, `iE`, `jE`); the lut list column `l` must be in
    * scope. Alias names are prefixed with `p` so two folds can coexist. */
  private def cellFoldSteps(faceE: String, iE: String, jE: String,
                            p: String): String = {
    val head = s"  ($faceE & 1) AS ${p}b8,\n" +
      s"  CAST($faceE AS UBIGINT) * CAST(1152921504606846976 AS UBIGINT) AS ${p}n8,\n"
    head + (7 to 0 by -1).map { k =>
      val sh = 4 * k
      val iN = if (sh == 0) iE else s"($iE >> $sh)"
      val jN = if (sh == 0) jE else s"($jE >> $sh)"
      s"  l[CAST(${p}b${k + 1} + ($iN & 15) * 64 + ($jN & 15) * 4 AS INT) + 1] AS ${p}k$k," +
        s" ${p}n${k + 1} + (CAST(${p}k$k >> 2 AS UBIGINT) << ${8 * k}) AS ${p}n$k, ${p}k$k & 3 AS ${p}b$k"
    }.mkString(",\n")
  }

  /** Inverse Hilbert fold (toFaceIj) as lateral-alias SELECT items:
    * computes `i0`/`j0` (BIGINT leaf ij) from the UBIGINT id column `cu`;
    * the lutij list column `lij` must be in scope. */
  private def cellInvSteps: String = {
    val head = "  CAST(cu >> 61 AS INT) AS face2,\n" +
      "  (face2 & 1) AS ib8, CAST(0 AS BIGINT) AS i8, CAST(0 AS BIGINT) AS j8,\n"
    head + (7 to 0 by -1).map { k =>
      val mask = if (k == 7) 15 else 255 // top step carries 30-28=2 quads
      s"  lij[CAST(ib${k + 1} + CAST((cu >> ${k * 8 + 1}) & CAST($mask AS UBIGINT) AS INT) * 4 AS INT) + 1] AS q$k," +
        s" i${k + 1} + (CAST(q$k >> 6 AS BIGINT) << ${4 * k}) AS i$k," +
        s" j${k + 1} + (CAST((q$k >> 2) & 15 AS BIGINT) << ${4 * k}) AS j$k, q$k & 3 AS ib$k"
    }.mkString(",\n")
  }

  private def lutCte: String =
    s"lut AS (SELECT ${graft.core.Cells.hilbertLookupPos.mkString("[", ", ", "]")} AS l)"
  private def lutIjCte: String =
    s"lutij AS (SELECT ${graft.core.Cells.hilbertLookupIj.mkString("[", ", ", "]")} AS lij)"

  /** CTE chain `lut, fc, fold` computing `cu` — the unsigned cell id at
    * `level` — for each row of a preceding `pts` CTE carrying exact
    * (x, y, z) columns. Built at runtime (the lookup-table list literal). */
  private def cellPipelineSql(level: Int): String = {
    val steps = cellFoldSteps("face", "i", "j", "")
    s"""$lutCte,
       |fc AS (SELECT p.*,
       |  CASE WHEN abs(x) > abs(y) THEN (CASE WHEN abs(x) > abs(z) THEN 0 ELSE 2 END)
       |       ELSE (CASE WHEN abs(y) > abs(z) THEN 1 ELSE 2 END) END AS f0,
       |  CASE WHEN f0 = 0 AND x < 0 THEN 3 WHEN f0 = 1 AND y < 0 THEN 4
       |       WHEN f0 = 2 AND z < 0 THEN 5 ELSE f0 END AS face,
       |  CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
       |       WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
       |  CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
       |       WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v,
       |  CASE WHEN u >= 0 THEN 0.5 * sqrt(1 + 3 * u) ELSE 1 - 0.5 * sqrt(1 - 3 * u) END AS ss,
       |  CASE WHEN v >= 0 THEN 0.5 * sqrt(1 + 3 * v) ELSE 1 - 0.5 * sqrt(1 - 3 * v) END AS tt,
       |  GREATEST(0, LEAST(1073741823, CAST(floor(1073741824 * ss) AS BIGINT))) AS i,
       |  GREATEST(0, LEAST(1073741823, CAST(floor(1073741824 * tt) AS BIGINT))) AS j
       | FROM pts p),
       |fold AS (SELECT q.*,
       |$steps,
       |  n0 * CAST(2 AS UBIGINT) + CAST(1 AS UBIGINT) AS leafu,
       |  ${cellParentU("n0 * CAST(2 AS UBIGINT) + CAST(1 AS UBIGINT)", level)} AS cu
       | FROM fc q CROSS JOIN lut)""".stripMargin
  }

  /** q29 oracle: independent neighbor recomputation — inverse Hilbert fold
    * to the cell's (i, j), one-cell-size steps in the four directions,
    * forward fold back to ids — for face-interior cells (no cube-edge
    * wrap; the Spark side selects exactly those via the same-face test). */
  private lazy val Q29Oracle: String = {
    val size = 1 << 22 // level-8 cell span in leaf ij units
    s"""WITH pts AS (${XyzCte.replace("\n", " ")}),
       |${cellPipelineSql(8)},
       |$lutIjCte,
       |cells AS (SELECT DISTINCT cu FROM fold),
       |inv AS (SELECT cu,
       |$cellInvSteps,
       |  (i0 // $size) * $size AS ia, (j0 // $size) * $size AS ja
       | FROM cells CROSS JOIN lutij),
       |intr AS (SELECT cu, face2, ia, ja FROM inv
       |  WHERE ia - $size >= 0 AND ia + $size < 1073741824
       |    AND ja - $size >= 0 AND ja + $size < 1073741824),
       |nbrs AS (SELECT cu, face2, t.idx,
       |  CASE t.idx WHEN 1 THEN ia + $size WHEN 3 THEN ia - $size ELSE ia END AS ni,
       |  CASE t.idx WHEN 0 THEN ja - $size WHEN 2 THEN ja + $size ELSE ja END AS nj
       | FROM intr CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS idx) t),
       |nfold AS (SELECT w.*,
       |${cellFoldSteps("face2", "ni", "nj", "m")},
       |  ${cellParentU("mn0 * CAST(2 AS UBIGINT) + CAST(1 AS UBIGINT)", 8)} AS ncu
       | FROM nbrs w CROSS JOIN lut)
       |SELECT ${cellSgn("cu")} AS c, CAST(idx AS INTEGER) AS idx,
       |  ${cellSgn("ncu")} AS nbr
       |FROM nfold ORDER BY c, idx""".stripMargin
  }

  private lazy val Q20Oracle: String =
    s"""WITH pts AS (${XyzCte.replace("\n", " ")}),
       |${cellPipelineSql(12)},
       |sgn AS (SELECT ${cellSgn("cu")} AS c12,
       |  ${cellSgn(cellParentU("cu", 4))} AS cell4 FROM fold)
       |SELECT cell4, count(*) AS n, count(DISTINCT c12) AS n12,
       |  min(c12) AS min12, max(c12) AS max12
       |FROM sgn GROUP BY cell4 ORDER BY cell4""".stripMargin

  private lazy val Q21Oracle: String =
    s"""WITH pts AS (${XyzCte.replace("\n", " ")}),
       |${cellPipelineSql(10)},
       |cells AS (SELECT DISTINCT cu FROM fold),
       |nav AS (SELECT cu, ${cellParentU("cu", 6)} AS p6u,
       |  cu - CAST(1099511627775 AS UBIGINT) AS rminu,
       |  cu + CAST(1099511627775 AS UBIGINT) AS rmaxu,
       |  cu - CAST(824633720832 AS UBIGINT) AS ch0u,
       |  cu + CAST(824633720832 AS UBIGINT) AS ch3u
       | FROM cells)
       |SELECT ${cellSgn("cu")} AS c, CAST(10 AS INTEGER) AS lvl,
       |  ${cellSgn("rminu")} AS rmin,
       |  ${cellSgn("rmaxu")} AS rmax,
       |  ${cellSgn("p6u")} AS p6,
       |  CAST(CASE WHEN cu >= p6u - CAST(281474976710655 AS UBIGINT)
       |       AND cu <= p6u + CAST(281474976710655 AS UBIGINT)
       |       THEN 1 ELSE 0 END AS INTEGER) AS contained,
       |  ${cellSgn("ch0u")} AS ch0,
       |  ${cellSgn("ch3u")} AS ch3
       |FROM nav ORDER BY c""".stripMargin

  /** q31/q74 oracle: the full MinHash+LSH pipeline in SQL — word/shingle
    * rolling hashes via list_reduce splitmix64 lambdas (bit-exact), 32
    * permutation minima, 8 packed band keys, hot-band cap (bands wider
    * than `cap` dropped — replicating [[graft.operators.Dedup.capBands]]),
    * band self-join, exact word-3-gram jaccard refine. */
  private def minhashOracle(cap: Int): String =
    s"""WITH base AS (SELECT doc_id, text FROM documents),
       |mut AS (SELECT doc_id + 10000 AS doc_id,
       |  array_to_string((string_split(text, ' '))[1:greatest(len(string_split(text, ' ')) - 8, 1)], ' ') AS text
       |  FROM base),
       |planted AS (SELECT * FROM base UNION ALL SELECT * FROM mut),
       |dw AS (SELECT doc_id, text, list_filter(string_split(text, ' '), w -> w != '') AS ws FROM planted),
       |wh AS (
       |  SELECT doc_id,
       |    [list_reduce([CAST(13 AS BIGINT)] ||
       |       [CAST(unicode(w[i]) AS BIGINT) FOR i IN generate_series(1, length(w))],
       |       (a, c) -> $SmxLambda) FOR w IN ws] AS whs,
       |    len(ws) AS nw,
       |    array_to_string(ws, ' ') AS joined
       |  FROM dw),
       |sh AS (
       |  SELECT doc_id,
       |    CASE WHEN nw >= 3 THEN
       |      [list_reduce([CAST(7 AS BIGINT), whs[i], whs[i+1], whs[i+2]], (a, c) -> $SmxLambda)
       |       FOR i IN generate_series(1, nw - 2)]
       |    WHEN nw = 0 THEN CAST([] AS BIGINT[])
       |    ELSE
       |      [list_reduce([CAST(7 AS BIGINT)] ||
       |        [CAST(unicode(joined[i]) AS BIGINT) FOR i IN generate_series(1, length(joined))],
       |        (a, c) -> $SmxLambda)]
       |    END AS shs
       |  FROM wh),
       |sigp AS (
       |  SELECT s.doc_id, p.p, min(${smxExpr("xor(u.s, 1540483477 * p.p)")}) AS mh
       |  FROM sh s, (SELECT unnest(generate_series(1, 32)) AS p) p, unnest(s.shs) AS u(s)
       |  GROUP BY s.doc_id, p.p),
       |sig AS (SELECT doc_id, list(mh ORDER BY p) AS sig FROM sigp GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id,
       |    xor(b.b << 56,
       |      (list_reduce([xor(2685821657736338717, b.b), sig[b.b * 4 + 1], sig[b.b * 4 + 2],
       |        sig[b.b * 4 + 3], sig[b.b * 4 + 4]], (a, c) -> $SmxLambda) >> 8) & 72057594037927935) AS band
       |  FROM sig, (SELECT unnest(generate_series(0, 7)) AS b) b),
       |bandok AS (SELECT band FROM bands GROUP BY band HAVING count(*) <= $cap),
       |capped AS (SELECT bands.doc_id, bands.band FROM bands JOIN bandok USING (band)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM capped a JOIN capped b ON a.band = b.band AND a.doc_id < b.doc_id),
       |tx AS (SELECT doc_id, text FROM planted),
       |gs AS (
       |  SELECT doc_id,
       |    (SELECT list_distinct([array_to_string(ws[i:i+2], ' ')
       |       FOR i IN generate_series(1, greatest(len(ws) - 2, 1))])
       |     FROM (SELECT string_split(text, ' ') AS ws)) AS g
       |  FROM tx),
       |scored AS (
       |  SELECT c.id_a, c.id_b,
       |    CASE WHEN len(ga.g) = 0 AND len(gb.g) = 0 THEN 1.0
       |         WHEN len(ga.g) = 0 OR len(gb.g) = 0 THEN 0.0
       |         ELSE CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
       |              / (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)))
       |    END AS jaccard
       |  FROM cand c JOIN gs ga ON ga.doc_id = c.id_a JOIN gs gb ON gb.doc_id = c.id_b)
       |SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.6
       |ORDER BY id_a, id_b""".stripMargin

  /** q32 oracle: full SimHash pipeline in SQL — per-word rolling hashes
    * (bit-exact), 64 sign counters, hot-band cap (width > 64 dropped,
    * mirroring the operator default), 16-bit band self-join, hamming<=6
    * refine. Verified: all 613 pairs + hamming distances match. */
  private lazy val SimhashOracle: String =
    s"""WITH base AS (SELECT doc_id, text FROM documents),
       |mut AS (SELECT doc_id + 10000 AS doc_id,
       |  array_to_string((string_split(text, ' '))[1:greatest(len(string_split(text, ' ')) - 8, 1)], ' ') AS text
       |  FROM base),
       |planted AS (SELECT * FROM base UNION ALL SELECT * FROM mut),
       |words AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w != '')) AS word
       |  FROM planted),
       |wh AS (
       |  SELECT doc_id, list_reduce([CAST(31 AS BIGINT)] ||
       |    [CAST(unicode(word[i]) AS BIGINT) FOR i IN generate_series(1, length(word))],
       |    (a, c) -> $SmxLambda) AS h
       |  FROM words),
       |accs AS (
       |  SELECT doc_id, b.b,
       |    sum(CASE WHEN ((h >> b.b) & 1) = 1 THEN 1 ELSE -1 END) AS acc
       |  FROM wh, (SELECT unnest(generate_series(0, 63)) AS b) b
       |  GROUP BY doc_id, b.b),
       |sh AS (
       |  SELECT doc_id,
       |    CAST(CAST(s AS HUGEINT) - CASE WHEN s >= 9223372036854775808
       |      THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS sh
       |  FROM (SELECT doc_id,
       |      sum(CASE WHEN acc > 0 THEN CAST(1 AS HUGEINT) << b ELSE CAST(0 AS HUGEINT) END) AS s
       |    FROM accs GROUP BY doc_id)),
       |banded AS (
       |  SELECT doc_id, sh,
       |    CAST(bi AS VARCHAR) || ':' || CAST((sh >> (bi * 16)) & 65535 AS VARCHAR) AS band_key
       |  FROM sh, (SELECT unnest(generate_series(0, 3)) AS bi)),
       |bandok AS (SELECT band_key FROM banded GROUP BY band_key HAVING count(*) <= 64),
       |capped AS (SELECT banded.doc_id, banded.sh, banded.band_key
       |           FROM banded JOIN bandok USING (band_key)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
       |  FROM capped a JOIN capped b ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
       |FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= 6
       |ORDER BY id_a, id_b""".stripMargin

  /** q37 oracle: winnowing fingerprint (char-level 8-gram rolling hashes,
    * per-16 window minima, xor fold) + 64-bit simhash per document.
    * Verified bit-equal for all 500 docs (the heaviest oracle, ~3 min in
    * DuckDB — 4M rolling-hash lambda evaluations). */
  private lazy val FingerprintOracle: String =
    s"""WITH chars AS (
       |  SELECT doc_id, text,
       |    [CAST(unicode(text[i]) AS BIGINT) FOR i IN generate_series(1, length(text))] AS cs,
       |    length(text) AS n
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, text,
       |    CASE WHEN n < 8 THEN
       |      [list_reduce([CAST(17 AS BIGINT)] || cs, (a, c) -> $SmxLambda)]
       |    ELSE
       |      [list_reduce([CAST(17 AS BIGINT)] || cs[i:i+7], (a, c) -> $SmxLambda)
       |       FOR i IN generate_series(1, n - 7)]
       |    END AS hs
       |  FROM chars),
       |fp AS (
       |  SELECT doc_id, text,
       |    list_reduce([CAST(0 AS BIGINT)] ||
       |      [${smxExpr("list_aggregate(hs[(b - 1) * 16 + 1 : (b - 1) * 16 + 16], 'min')")}
       |       FOR b IN generate_series(1, (len(hs) + 15) // 16)],
       |      (a, c) -> xor(a, c)) AS fp
       |  FROM grams),
       |words AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w != '')) AS word
       |  FROM documents),
       |wh AS (
       |  SELECT doc_id, list_reduce([CAST(31 AS BIGINT)] ||
       |    [CAST(unicode(word[i]) AS BIGINT) FOR i IN generate_series(1, length(word))],
       |    (a, c) -> $SmxLambda) AS h
       |  FROM words),
       |accs AS (
       |  SELECT doc_id, b.b,
       |    sum(CASE WHEN ((h >> b.b) & 1) = 1 THEN 1 ELSE -1 END) AS acc
       |  FROM wh, (SELECT unnest(generate_series(0, 63)) AS b) b
       |  GROUP BY doc_id, b.b),
       |sh AS (
       |  SELECT doc_id,
       |    CAST(CAST(s AS HUGEINT) - CASE WHEN s >= 9223372036854775808
       |      THEN CAST(18446744073709551616 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS sh
       |  FROM (SELECT doc_id,
       |      sum(CASE WHEN acc > 0 THEN CAST(1 AS HUGEINT) << b ELSE CAST(0 AS HUGEINT) END) AS s
       |    FROM accs GROUP BY doc_id))
       |SELECT f.doc_id, f.fp, s.sh
       |FROM fp f JOIN sh s ON s.doc_id = f.doc_id
       |ORDER BY f.doc_id""".stripMargin
}
