package graft.sql

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Geo.register(s)
    s
  }
}

class GeoSqlSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("an extension-built session plans and runs a Barrier frame") {
    // a new session carries the extension but has not been through
    // Geo.register, so only the injected strategy can plan the barrier
    val fresh = spark.newSession()
    assert(!fresh.experimental.extraStrategies.contains(graft.plans.BarrierStrategy))
    val df = graft.plans.Barrier(fresh.range(0, 10).toDF().repartition(2))
      .where(org.apache.spark.sql.functions.col("id") % 2 === 0)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L, 4L, 6L, 8L))
  }

  test("wkt roundtrip through SQL") {
    val rows = spark.sql(
      """SELECT st_aswkt(st_geomfromwkt(w)) AS out FROM VALUES
        |('POINT (30 10)'), ('LINESTRING Z (1 2 3, 4 5 6)'),
        |('MULTIPOINT (10 40, 40 30)'),
        |('POLYGON ((30 10, 40 40, 20 40, 10 20, 30 10))'),
        |('GEOMETRYCOLLECTION (POINT (40 10), LINESTRING (10 10, 20 20))')
        | AS t(w)""".stripMargin).collect().map(_.getString(0))
    assert(rows.toSeq == Seq(
      "POINT (30 10)", "LINESTRING Z (1 2 3, 4 5 6)",
      "MULTIPOINT (10 40, 40 30)",
      "POLYGON ((30 10, 40 40, 20 40, 10 20, 30 10))",
      "GEOMETRYCOLLECTION (POINT (40 10), LINESTRING (10 10, 20 20))"))
  }

  test("wkb roundtrip, envelope, typeid, accessors") {
    val row = spark.sql(
      """SELECT
        |  st_aswkt(st_geomfromwkb(st_aswkb(st_geomfromwkt('POINT Z (1 2 3)')))) AS rt,
        |  st_envelope(st_geomfromwkt('LINESTRING (0 5, 10 -5)')) AS env,
        |  st_typeid(st_geomfromwkt('POINT M (1 2 3)')) AS tid,
        |  st_x(st_point(3.5d, -7.25d)) AS px,
        |  st_numgeometries(st_geomfromwkt('MULTIPOINT (1 2, 3 4, 5 6)')) AS ng
        |""".stripMargin).collect()(0)
    assert(row.getString(0) == "POINT Z (1 2 3)")
    val env = row.getStruct(1)
    assert(env.getDouble(0) == 0 && env.getDouble(1) == -5 &&
      env.getDouble(2) == 10 && env.getDouble(3) == 5)
    assert(row.getInt(2) == 2001)
    assert(row.getDouble(3) == 3.5)
    assert(row.getInt(4) == 3)
  }

  test("casts and snap") {
    val row = spark.sql(
      """SELECT
        |  st_aswkt(st_castdims(st_geomfromwkt('POINT (1 2)'), 'xyz')) AS d,
        |  st_aswkt(st_casttype(st_geomfromwkt('POINT (1 2)'), 'multipoint')) AS t,
        |  st_aswkt(st_snaptogrid(st_geomfromwkt('POINT (1.234 5.678)'), 10d)) AS s
        |""".stripMargin).collect()(0)
    assert(row.getString(0) == "POINT Z (1 2 nan)")
    assert(row.getString(1) == "MULTIPOINT (1 2)")
    assert(row.getString(2) == "POINT (1.2 5.7)")
  }

  test("aggregates: box_agg and uniquetypes_agg") {
    val row = spark.sql(
      """SELECT st_box_agg(g) AS box, st_uniquetypes_agg(g) AS types FROM (
        |  SELECT st_geomfromwkt(w) AS g FROM VALUES
        |    ('POINT (1 2)'), ('POINT Z (5 -3 9)'),
        |    ('LINESTRING (0 0, 10 10)'), ('POINT EMPTY') AS t(w))
        |""".stripMargin).collect()(0)
    val box = row.getStruct(0)
    assert(box.getDouble(0) == 0 && box.getDouble(1) == -3 &&
      box.getDouble(2) == 10 && box.getDouble(3) == 10)
    assert(row.getSeq[Int](1).sorted == Seq(1, 2, 1001))
  }

  test("contains + cells + tiles via SQL") {
    val row = spark.sql(
      """SELECT
        |  st_contains(st_geomfromwkt('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))'),
        |              st_geomfromwkt('POINT (5 5)')) AS c1,
        |  st_containsxy(st_geomfromwkt('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))'),
        |                11d, 5d) AS c2,
        |  st_celllevel(st_cellid(5d, 45d, 12)) AS lvl,
        |  st_cellcontains(st_cellid(5d, 45d, 8), st_cellid(5d, 45d, 12)) AS cc,
        |  st_tilez(st_tilezxy(5d, 45d, 8)) AS tz,
        |  size(st_cellcover(st_geomfromwkt('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))'), 8)) AS nc
        |""".stripMargin).collect()(0)
    assert(row.getBoolean(0))
    assert(!row.getBoolean(1))
    assert(row.getInt(2) == 12)
    assert(row.getBoolean(3))
    assert(row.getInt(4) == 8)
    assert(row.getInt(5) > 0)
  }

  test("text and vector kernels") {
    val row = spark.sql(
      """SELECT
        |  token_count('a b  c') AS tc,
        |  token_count_ws('a b  c') AS tw,
        |  lang_id('the cat and the dog is in that house for it was') AS lid,
        |  size(minhash('one two three four five six', 2, 16)) AS mh,
        |  hamming64(simhash('a b c'), simhash('a b c')) AS hd,
        |  ngram_jaccard('a b c d', 'a b c d', 2) AS nj,
        |  vec_cosine(array(1.0f, 2.0f), array(2.0f, 4.0f)) AS vc,
        |  vec_dot(array(1.0f, 2.0f), array(2.0f, 3.0f)) AS vd
        |""".stripMargin).collect()(0)
    assert(row.getInt(0) == 4) // 3 spaces + 1
    assert(row.getInt(1) == 3)
    assert(row.getString(2) == "en")
    assert(row.getInt(3) == 16)
    assert(row.getInt(4) == 0)
    assert(row.getDouble(5) == 1.0)
    assert(math.abs(row.getDouble(6) - 1.0) < 1e-12)
    assert(row.getDouble(7) == 8.0)
  }

  test("cell range, geom cell id, tile envelope accessors") {
    val row = spark.sql(
      """SELECT
        |  st_cellrangemin(st_cellid(5d, 45d, 8)) AS rmin,
        |  st_cellrangemax(st_cellid(5d, 45d, 8)) AS rmax,
        |  st_cellid(5d, 45d, 30) AS leaf,
        |  st_cellidofgeom(st_point(5d, 45d), 8) AS fromgeom,
        |  st_cellid(5d, 45d, 8) AS direct,
        |  st_tileenvelope(st_tilezxy(5d, 45d, 8)) AS env
        |""".stripMargin).collect()(0)
    assert(row.getLong(0) <= row.getLong(2) && row.getLong(2) <= row.getLong(1),
      "leaf inside parent's leaf range")
    assert(row.getLong(3) == row.getLong(4))
    val env = row.getStruct(5)
    assert(env.getDouble(0) <= 5 && 5 <= env.getDouble(2))
    assert(env.getDouble(1) <= 45 && 45 <= env.getDouble(3))
  }

  test("cell/tile navigation SQL bindings: children, neighbors, rings") {
    val row = spark.sql(
      """SELECT
        |  st_cellid(5d, 45d, 8) AS c,
        |  st_cellchildren(st_cellid(5d, 45d, 8)) AS kids,
        |  st_cellneighbors(st_cellid(5d, 45d, 8)) AS nbrs,
        |  st_cellringunion(st_cellid(5d, 45d, 8), 1) AS ring1,
        |  st_tilechildren(st_tilezxy(5d, 45d, 8)) AS tkids,
        |  st_tileparent(st_tilezxy(5d, 45d, 10), 8) AS tpar,
        |  st_tilezxy(5d, 45d, 8) AS tdirect,
        |  st_gridring(st_gridcell(5d, 45d, 2d), 1) AS gring
        |""".stripMargin).collect()(0)
    val c = row.getLong(0)
    val kids = row.getSeq[Long](1)
    assert(kids.length == 4 && kids.forall(k =>
      graft.core.Cells.contains(c, k)))
    assert(row.getSeq[Long](2).length == 4) // edge neighbors
    val ring1 = row.getSeq[Long](3)
    assert(ring1.contains(c) && ring1.length >= 5) // self + ring
    val tkids = row.getSeq[Long](4)
    assert(tkids.length == 4 &&
      tkids.forall(k => graft.core.Tiles.parent(k) == row.getLong(6)))
    assert(row.getLong(5) == row.getLong(6)) // parentAt == direct
    assert(row.getSeq[Long](7).length == 9) // 3x3 grid ring
  }

  test("st_dump / st_collect_agg / st_makecollection round-trips") {
    // dump splits every multi into its storage-order parts
    val dumped = spark.sql(
      """SELECT st_aswkt(p) AS w FROM (SELECT explode(st_dump(
        |  st_geomfromwkt(concat('MULTIPOLYGON (((0 0, 4 0, 4 4, 0 0)), ',
        |    '((10 10, 11 10, 11 11, 10 10), ',
        |    '(10.2 10.2, 10.8 10.2, 10.8 10.8, 10.2 10.2)))')))) AS p)"""
        .stripMargin).collect().map(_.getString(0))
    assert(dumped.toSeq == Seq(
      "POLYGON ((0 0, 4 0, 4 4, 0 0))",
      "POLYGON ((10 10, 11 10, 11 11, 10 10), " +
        "(10.2 10.2, 10.8 10.2, 10.8 10.8, 10.2 10.2))"))
    // atomic input dumps as itself; EMPTY multi dumps to zero parts
    assert(spark.sql("SELECT size(st_dump(st_geomfromwkt('POINT (1 2)')))")
      .collect()(0).getInt(0) == 1)
    assert(spark.sql(
      "SELECT size(st_dump(st_geomfromwkt('MULTILINESTRING EMPTY')))")
      .collect()(0).getInt(0) == 0)
    // aggregate collect: canonical (first-vertex-sorted) MULTIPOINT —
    // identical no matter how the input is partitioned or ordered
    val rows = Seq((1, 3.0, 1.0), (1, 1.0, 2.0), (1, 2.0, 0.5))
    import spark.implicits._
    def agg(numPart: Int): String =
      rows.toDF("k", "x", "y").repartition(numPart)
        .createOrReplaceTempView("pts_collect") match { case _ =>
          spark.sql("""SELECT st_aswkt(st_collect_agg(st_point(x, y)))
            |FROM pts_collect GROUP BY k""".stripMargin)
            .collect()(0).getString(0)
        }
    assert(agg(1) == "MULTIPOINT (1 2, 2 0.5, 3 1)")
    assert(agg(7) == "MULTIPOINT (1 2, 2 0.5, 3 1)")
    // mixed types nest as GEOMETRYCOLLECTION; dump recurses to atoms
    val mixed = spark.sql(
      """SELECT st_geometrytype(g) AS t, size(st_dump(g)) AS n FROM (
        |  SELECT st_makecollection(array(
        |    st_geomfromwkt('POINT (5 5)'),
        |    st_geomfromwkt('LINESTRING (0 0, 1 1)'))) AS g)""".stripMargin)
      .collect()(0)
    assert(mixed.getString(0) == "GEOMETRYCOLLECTION" && mixed.getInt(1) == 2)
    // a uniform SRID carries through collect (PostGIS ST_Collect keeps it)
    val srid = spark.sql(
      """SELECT st_srid(st_makecollection(array(
        |  st_setsrid(st_geomfromwkt('POINT (1 2)'), 4326),
        |  st_setsrid(st_geomfromwkt('POINT (3 4)'), 4326))))""".stripMargin)
      .collect()(0).getInt(0)
    assert(srid == 4326)
    // uniform lines/polygons build the flat MULTI and dump back to parts
    val lines = spark.sql(
      """SELECT st_aswkt(st_makecollection(array(
        |  st_geomfromwkt('LINESTRING (0 0, 1 1)'),
        |  st_geomfromwkt('LINESTRING (2 2, 3 3, 4 4)'))))""".stripMargin)
      .collect()(0).getString(0)
    assert(lines == "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3, 4 4))")
  }

  test("st_affine / st_translate / st_scale: exact ordinates, all shapes") {
    // translate/scale are exact double ops — closed-form comparisons
    val r = spark.sql(
      """SELECT st_aswkt(st_translate(st_geomfromwkt('POINT (3 4)'),
        |    CAST(1.5 AS DOUBLE), CAST(-2.25 AS DOUBLE))) AS t,
        |  st_aswkt(st_scale(st_geomfromwkt('LINESTRING (1 2, 3 4)'),
        |    CAST(2.0 AS DOUBLE), CAST(0.5 AS DOUBLE))) AS s,
        |  st_aswkt(st_affine(st_geomfromwkt('POINT (1 2)'),
        |    CAST(0.0 AS DOUBLE), CAST(-1.0 AS DOUBLE), CAST(1.0 AS DOUBLE),
        |    CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)))
        |    AS rot90""".stripMargin).collect()(0)
    assert(r.getString(0) == "POINT (4.5 1.75)")
    assert(r.getString(1) == "LINESTRING (2 1, 6 2)")
    assert(r.getString(2) == "POINT (-2 1)") // 90° CCW as an exact matrix
    // Z survives untouched; collections recurse
    val z = spark.sql(
      """SELECT st_aswkt(st_translate(
        |  st_geomfromwkt('GEOMETRYCOLLECTION (POINT Z (1 2 9))'),
        |  CAST(10.0 AS DOUBLE), CAST(20.0 AS DOUBLE)))""".stripMargin)
      .collect()(0).getString(0)
    assert(z == "GEOMETRYCOLLECTION Z (POINT Z (11 22 9))")
  }

  test("line accessors: interpolation, vertex access, Z carried, arity guarded") {
    val r = spark.sql(
      """SELECT
        |  st_aswkt(st_lineinterpolate(
        |    st_makeline(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
        |      CAST(10.0 AS DOUBLE), CAST(0.0 AS DOUBLE)), CAST(0.25 AS DOUBLE))) AS q,
        |  st_aswkt(st_startpoint(st_geomfromwkt('LINESTRING Z (1 2 3, 4 5 6)'))) AS sp,
        |  st_aswkt(st_endpoint(st_geomfromwkt('LINESTRING Z (1 2 3, 4 5 6)'))) AS ep,
        |  st_aswkt(st_pointn(st_geomfromwkt('LINESTRING (1 1, 2 2, 3 3)'), -2)) AS pn,
        |  st_pointn(st_geomfromwkt('LINESTRING (1 1, 2 2)'), 7) IS NULL AS oob,
        |  st_pointn(st_geomfromwkt('POINT (1 1)'), 1) IS NULL AS notline""".stripMargin)
      .collect()(0)
    assert(r.getString(0) == "POINT (2.5 0)")
    assert(r.getString(1) == "POINT Z (1 2 3)") // Z survives the accessor
    assert(r.getString(2) == "POINT Z (4 5 6)")
    assert(r.getString(3) == "POINT (2 2)") // negative counts from the end
    assert(r.getBoolean(4) && r.getBoolean(5))
    // Z lerps along with XY (2D distance, all ordinates interpolated)
    val z = spark.sql(
      """SELECT st_aswkt(st_lineinterpolate(
        |  st_geomfromwkt('LINESTRING Z (0 0 0, 10 0 4)'), CAST(0.5 AS DOUBLE)))"""
        .stripMargin).collect()(0).getString(0)
    assert(z == "POINT Z (5 0 2)")
    // wrong ordinate counts refuse loudly instead of truncating silently
    val e = intercept[Exception](spark.sql(
      "SELECT st_makeline(1.0, 2.0, 3.0, 4.0, 5.0)").collect())
    assert(e.getMessage.contains("st_makeline") ||
      e.getCause != null && e.getCause.getMessage.contains("st_makeline"))
  }

  test("box to polygon with min>max EMPTY rule") {
    val rows = spark.sql(
      """SELECT st_aswkt(st_boxtopolygon(0d, 0d, 4d, 3d)) AS a,
        |       st_aswkt(st_boxtopolygon(5d, 0d, 4d, 3d)) AS b""".stripMargin)
      .collect()(0)
    assert(rows.getString(0) == "POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))")
    assert(rows.getString(1) == "POLYGON EMPTY")
  }

  test("plan stays in whole-stage codegen") {
    Geo.register(spark)
    val df = spark.sql(
      "SELECT st_tilezxy(CAST(id AS DOUBLE) / 100, CAST(id AS DOUBLE) / 200, 8) " +
        "AS t FROM range(100)")
    // the `*(n)` prefix marks operators fused into a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"no codegen in:\n$plan")
    assert(df.collect().length == 100)
  }
}
