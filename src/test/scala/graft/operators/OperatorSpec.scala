package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ImagesTable
import graft.sql.{Geo, GeoOps}
import graft.core.{Pip, Wkt}

class OperatorSpec extends AnyFunSuite {
  lazy val spark = graft.sql.SparkTestSession.spark
  import spark.implicits._

  private def randPoints(n: Int, seed: Long) = {
    (0 until n).map { i =>
      val h = GeoOps.splitmix64(seed + i)
      val lon = java.lang.Long.remainderUnsigned(h, 3600000L) / 10000.0 - 180.0
      val lat = java.lang.Long.remainderUnsigned(
        java.lang.Long.divideUnsigned(h, 3600000L), 1700000L) / 10000.0 - 85.0
      (i.toLong, lon, lat)
    }
  }

  test("intersectsJoin: exact pair set vs crossJoin refine, each pair exactly once") {
    Geo.register(spark)
    val pts = randPoints(800, 21L)
    val boxes = pts.toDF("pid", "lon", "lat")
      .selectExpr("pid",
        "st_boxtopolygon(lon - 3.0, lat - 2.0, lon + 3.0, lat + 2.0) AS bg")
    val polys = ImagesTable.polygonLayer(spark).selectExpr("poly_id", "poly AS pg")
    val got = SpatialJoins.intersectsJoin(boxes, polys, "bg", "pg", zoom = 5)
      .select("pid", "poly_id").as[(Long, Long)].collect().toSeq
    // exactly-once despite multi-tile covers — no distinct pass in the plan
    assert(got.size == got.toSet.size, "duplicate pairs emitted")
    val expected = boxes.crossJoin(polys)
      .filter(call_function("st_intersects", col("bg"), col("pg")))
      .select("pid", "poly_id").as[(Long, Long)].collect().toSet
    assert(got.toSet == expected && expected.nonEmpty)

    // long crossing diagonals share MANY cover tiles; still exactly once
    val diags = Seq((1L, -60.0, -40.0, 60.0, 40.0),
        (2L, -60.0, 40.0, 60.0, -40.0))
      .toDF("id", "x1", "y1", "x2", "y2")
      .selectExpr("id", "st_makeline(x1, y1, x2, y2) AS lg")
    val self = SpatialJoins.intersectsJoin(diags,
        diags.selectExpr("id AS id2", "lg AS lg2"), "lg", "lg2", zoom = 6)
      .select("id", "id2").as[(Long, Long)].collect().toSeq
    assert(self.size == self.toSet.size, "diagonal pair emitted twice")
    assert(self.toSet == Set((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L)))
  }

  test("hausdorffJoin: pair set + distances match the crossJoin refine, exactly once") {
    Geo.register(spark)
    // 120 five-vertex tracks anchored on a 3°-pitch grid with jitter up
    // to 4° — neighbors overlap enough that the 5.0 radius admits real
    // cross pairs while pruning most of the 120² space
    val tracks = (0 until 120).map { i =>
      val h0 = GeoOps.splitmix64(1000L + i)
      val ax = java.lang.Long.remainderUnsigned(h0, 60L).toDouble * 3.0 - 90.0
      val ay = java.lang.Long.remainderUnsigned(
        java.lang.Long.divideUnsigned(h0, 60L), 40L).toDouble * 3.0 - 60.0
      val pts = (0 until 5).map { j =>
        val h = GeoOps.splitmix64(i * 31L + j)
        val dx = java.lang.Long.remainderUnsigned(h, 4000L) / 1000.0
        val dy = java.lang.Long.remainderUnsigned(
          java.lang.Long.divideUnsigned(h, 4000L), 4000L) / 1000.0
        s"${ax + dx} ${ay + dy}"
      }.mkString(", ")
      (i.toLong, s"LINESTRING ($pts)")
    } :+ (999L, "LINESTRING EMPTY")
    val df = tracks.toDF("id", "wkt").selectExpr("id", "st_geomfromwkt(wkt) AS g")
    val right = df.selectExpr("id AS id2", "g AS g2")
    val got = SpatialJoins.hausdorffJoin(df, right, "g", "g2",
        maxDist = 5.0, zoom = 5)
      .select("id", "id2", "hausdorff").as[(Long, Long, Double)]
      .collect().toSeq
    assert(got.map(t => (t._1, t._2)).distinct.size == got.size,
      "duplicate pairs emitted")
    val expected = df.crossJoin(right)
      .withColumn("hd", call_function("st_hausdorff", col("g"), col("g2")))
      .filter(col("hd") <= 5.0) // EMPTY -> NaN -> false, matching the join
      .select("id", "id2", "hd").as[(Long, Long, Double)].collect().toSet
    assert(got.toSet == expected)
    assert(expected.exists(t => t._1 != t._2), "need cross pairs in range")
    assert(expected.size < tracks.size.toLong * tracks.size,
      "radius must prune most pairs")
    assert(!expected.exists(t => t._1 == 999L || t._2 == 999L))
  }

  test("editNearDups: complete + exact vs brute-force levenshtein, both modes") {
    // fixed traps: exact dup, deletion, substitution, the "ab"/"ba"
    // anagram (shares deletion keys at distance 2 — refine must kill it),
    // empty vs one-char, and an unrelated caption
    val fixed = Seq(
      (1L, "hello world"), (2L, "hello world"), (3L, "hello worl"),
      (4L, "hxllo world"), (5L, "ab"), (6L, "ba"), (7L, ""), (8L, "a"),
      (9L, "completely different caption"))
    // randomized completeness: 150 random strings, each with a planted
    // single-edit twin (delete / substitute / insert round-robin)
    val alpha = "abcdefgh"
    val rand = fixed.size.until(fixed.size + 150).flatMap { i =>
      val h = GeoOps.splitmix64(77L + i)
      val len = 3 + (java.lang.Long.remainderUnsigned(h, 10L)).toInt
      val s = (0 until len).map { j =>
        alpha((GeoOps.splitmix64(h + j) & 7L).toInt)
      }.mkString
      val pos = (java.lang.Long.remainderUnsigned(h >>> 8, len.toLong)).toInt
      val twin = (h >>> 16) % 3 match {
        case 0 => s.substring(0, pos) + s.substring(pos + 1)          // delete
        case 1 => s.substring(0, pos) + "z" + s.substring(pos + 1)    // subst
        case _ => s.substring(0, pos) + "z" + s.substring(pos)        // insert
      }
      Seq((i * 2L + 100, s), (i * 2L + 101, twin))
    }
    val rows = (fixed ++ rand).toDF("id", "text")
    val brute = rows.as("a").crossJoin(
        rows.selectExpr("id AS id2", "text AS text2").as("b"))
      .filter(col("id") < col("id2") &&
        levenshtein(col("text"), col("text2")) <= 1)
      .select(col("id"), col("id2"),
        levenshtein(col("text"), col("text2")).as("d"))
      .as[(Long, Long, Int)].collect().toSet
    for (mb <- Seq(0, 1000)) {
      val got = Dedup.editNearDups(rows, "text", "id", maxBand = mb)
        .as[(Long, Long, Int)].collect().toSeq
      assert(got.map(t => (t._1, t._2)).distinct.size == got.size,
        s"duplicate pairs at maxBand=$mb")
      assert(got.toSet == brute, s"mismatch at maxBand=$mb")
    }
    assert(brute.contains((1L, 2L, 0)) && brute.contains((7L, 8L, 1)))
    assert(!brute.exists(t => t._1 == 5L && t._2 == 6L), "anagram leaked")
    assert(rand.nonEmpty && brute.size >= 150)

    // capped mode: 70 verbatim copies make EVERY key 70-wide — all drop
    // at maxBand=64 (verbatim mass dups belong to exact dedup), while
    // uncapped mode reports all 70*69/2 pairs
    val mass = (0 until 70).map(i => (i.toLong, "same caption")).toDF("id", "text")
    assert(Dedup.editNearDups(mass, "text", "id", maxBand = 64).count() == 0)
    assert(Dedup.editNearDups(mass, "text", "id", maxBand = 0).count() == 70L * 69 / 2)
  }

  test("url_normalize / url_host: pinned canonicalization semantics") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    import graft.sql.TextOps.{urlNormalize => n, urlHost => h}
    def ns(s: String): String = Option(n(u(s))).map(_.toString).orNull
    def hs(s: String): String = Option(h(u(s))).map(_.toString).orNull
    assert(ns("HTTP://ExAmple.CoM:80/A/b/#frag") == "http://example.com/A/b")
    // a trailing '/' inside a QUERY is data, not a path separator
    assert(ns("https://a.com/search?q=a/") == "https://a.com/search?q=a/")
    assert(ns("https://a.com/p/?q=1") == "https://a.com/p/?q=1")
    // free text embedding a URL is NOT a URL (scheme must be RFC 3986)
    assert(ns("read more at HTTPS://X.com/") == null)
    assert(hs("read more at HTTPS://X.com/") == null)
    assert(ns("h+t.p://Ok.com/") == "h+t.p://ok.com")  // exotic but valid scheme
    assert(ns("https://a.com:443/") == "https://a.com")
    assert(ns("https://a.com:80/x") == "https://a.com:80/x")  // non-default kept
    assert(ns("http://U:p@A.com:8080/q?x=1") == "http://U:p@a.com:8080/q?x=1")
    assert(ns("http://a.com") == "http://a.com")
    assert(ns("ftp://A.com:80/f") == "ftp://a.com:80/f")      // only http/https ports
    assert(ns("no scheme here") == null && ns("://host.com/") == null)
    assert(ns("http:///path") == null)                          // empty host
    assert(hs("HTTP://User@x:1@Db.Example.ORG:8080/p#f") == "db.example.org")
    assert(hs("https://Plain.Host") == "plain.host" && hs("nope") == null)
  }

  test("overlapJoin: multiset parity vs inequality crossJoin, both modes + keys") {
    def iv(n: Int, seed: Long, width: Long) = (0 until n).map { i =>
      val h = GeoOps.splitmix64(seed + i)
      val lo = java.lang.Long.remainderUnsigned(h, 10000L).toDouble
      val w = java.lang.Long.remainderUnsigned(h >>> 20, width).toDouble
      val key = java.lang.Long.remainderUnsigned(h >>> 50, 3L)
      (i.toLong, key, lo, lo + w)
    }
    val a = iv(400, 5L, 400L).toDF("aid", "k", "alo", "ahi")
    val b = iv(120, 9L, 2500L).toDF("bid", "k2", "blo", "bhi")
      .withColumnRenamed("k2", "k")
    val expectNoKey = a.crossJoin(b.withColumnRenamed("k", "kb"))
      .filter(col("alo") <= col("bhi") && col("blo") <= col("ahi"))
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    val expectKey = a.as("x").join(b.as("y"), col("x.k") === col("y.k") &&
        col("x.alo") <= col("y.bhi") && col("y.blo") <= col("x.ahi"))
      .select(col("x.aid"), col("y.bid")).as[(Long, Long)].collect().toSet
    for (bc <- Seq(true, false)) {
      val gotNoKey = graft.operators.RangeJoin.overlapJoin(
          a.drop("k"), "alo", "ahi", b.drop("k"), "blo", "bhi",
          chunkWidth = 700.0, broadcastRight = bc)
        .select("aid", "bid").as[(Long, Long)].collect().toSeq
      assert(gotNoKey.size == gotNoKey.toSet.size, s"dup pairs (bc=$bc)")
      assert(gotNoKey.toSet == expectNoKey && expectNoKey.nonEmpty)
      val gotKey = graft.operators.RangeJoin.overlapJoin(
          a, "alo", "ahi", b, "blo", "bhi",
          chunkWidth = 700.0, keys = Seq("k"), broadcastRight = bc)
        .select("aid", "bid").as[(Long, Long)].collect().toSeq
      assert(gotKey.size == gotKey.toSet.size)
      assert(gotKey.toSet == expectKey && expectKey.nonEmpty &&
        expectKey.size < expectNoKey.size)
    }
    // inverted, NaN and infinite intervals match nothing on either side
    // (Inf would otherwise floor to Long.MaxValue and crash the explode)
    val bad = Seq((1L, 10.0, 5.0), (2L, Double.NaN, 20.0), (3L, 0.0, Double.NaN),
        (4L, 0.0, Double.PositiveInfinity), (5L, Double.NegativeInfinity, 0.0))
      .toDF("bid", "blo", "bhi")
    assert(graft.operators.RangeJoin.overlapJoin(
      a.drop("k"), "alo", "ahi", bad, "blo", "bhi", 700.0).count() == 0)
  }

  test("weightedSample: exact (id, seed)-pure membership, NaN/null drop") {
    val rows = (0L until 4000L).map(i =>
        (i, if (i % 97 == 0) Double.NaN else (i % 7).toDouble / 6.0))
      .toDF("id", "wt")
    val got = graft.operators.Sampling.weightedSample(rows, "id", "wt", seed = 7L)
      .select("id").as[Long].collect().toSet
    // scala-side reference: the same splitmix64, unsigned >> 11, / 2^53
    val expected = (0L until 4000L).filter { i =>
      val w = if (i % 97 == 0) Double.NaN else (i % 7).toDouble / 6.0
      val u = (GeoOps.splitmix64(i ^ 7L) >>> 11).toDouble / 9007199254740992.0
      !w.isNaN && u < w
    }.toSet
    assert(got == expected && expected.nonEmpty)
    assert(!got.exists(_ % 97 == 0), "NaN weights must drop")
    assert((0L until 4000L).filter(_ % 7 == 0).forall(i =>
      i % 97 == 0 || !got.contains(i)), "w=0 rows must drop")
    assert((0L until 4000L).filter(i => i % 7 == 6 && i % 97 != 0)
      .forall(got.contains), "w=1 rows must all keep")
    // partition-invariant: membership can't depend on layout
    val got13 = graft.operators.Sampling.weightedSample(
        rows.repartition(13), "id", "wt", seed = 7L)
      .select("id").as[Long].collect().toSet
    assert(got13 == expected)
    // null weights drop
    val withNull = spark.sql("SELECT 1L AS id, CAST(NULL AS DOUBLE) AS wt")
    assert(graft.operators.Sampling.weightedSample(withNull, "id", "wt", 7L)
      .count() == 0)
  }

  test("chunkText: exact token partition, whitespace normalization, empty docs") {
    val rows = Seq(
      (1L, (1 to 23).map(i => s"t$i").mkString(" ")), // 23 tokens -> 3 chunks
      (2L, "  a   b  "),                              // messy whitespace -> 1 chunk
      (3L, ""), (4L, "   "),                          // no chunks
      (5L, (1 to 8).map(i => s"u$i").mkString(" "))   // exactly one budget
    ).toDF("doc_id", "text")
    val got = graft.operators.Packing.chunkText(rows, "text", maxTokens = 8)
      .select("doc_id", "chunk_idx", "chunk_text", "n_tokens")
      .as[(Long, Int, String, Int)].collect().sortBy(t => (t._1, t._2)).toSeq
    val d1 = got.filter(_._1 == 1L)
    assert(d1.map(_._2) == Seq(0, 1, 2) && d1.map(_._4) == Seq(8, 8, 7))
    assert(d1.map(_._3.split(" ").length) == Seq(8, 8, 7))
    assert(d1.flatMap(_._3.split(" ")) == (1 to 23).map(i => s"t$i"))
    assert(got.filter(_._1 == 2L) == Seq((2L, 0, "a b", 2)))
    assert(!got.exists(t => t._1 == 3L || t._1 == 4L))
    assert(got.filter(_._1 == 5L) == Seq((5L, 0, (1 to 8).map(i => s"u$i").mkString(" "), 8)))
  }

  test("pipJoin matches brute-force PIP over the polygon layer") {
    val pts = randPoints(5000, 7L)
    val ptsDf = pts.toDF("pid", "lon", "lat")
    val polys = ImagesTable.polygonLayer(spark)
    val joined = SpatialJoins.pipJoin(ptsDf, polys, "poly", "lon", "lat", zoom = 6)
      .select("pid", "poly_id").as[(Long, Long)].collect().toSet

    val polyGeoms = polys.select("poly_id", "wkt").as[(Long, String)].collect()
      .map { case (id, w) => (id, Wkt.parse(w)) }
    val expected = (for {
      (pid, lon, lat) <- pts
      (polyId, g) <- polyGeoms
      if Pip.containsPoint(g, lon, lat)
    } yield (pid, polyId)).toSet
    assert(joined == expected)
    assert(expected.nonEmpty, "layer should catch some points")
  }

  test("pipJoinCells agrees with pipJoin") {
    val raw = randPoints(2000, 11L)
    val pts = raw.toDF("pid", "lon", "lat")
    val polys = ImagesTable.polygonLayer(spark)
    val a = SpatialJoins.pipJoin(pts, polys, "poly", "lon", "lat", zoom = 6)
      .select("pid", "poly_id").as[(Long, Long)].collect().toSet
    val b = SpatialJoins.pipJoinCells(pts, polys, "poly", "lon", "lat", level = 7)
      .select("pid", "poly_id").as[(Long, Long)].collect().toSet
    assert(a == b)
    // both go through one builder, so check them against brute force too
    val geoms = polys.select("poly_id", "wkt").as[(Long, String)].collect()
      .map { case (id, w) => (id, Wkt.parse(w)) }
    val expected = (for {
      (pid, lon, lat) <- raw
      (id, g) <- geoms
      if Pip.containsPoint(g, lon, lat)
    } yield (pid, id)).toSet
    assert(expected.nonEmpty)
    assert(b == expected)
  }

  test("ring-expansion kNN matches brute force") {
    val pts = randPoints(3000, 13L)
    val ptsDf = pts.toDF("pid", "lon", "lat")
    val queries = (0 until 10).map { n =>
      (n.toLong, n * 31.7 - 150.0, (n * 17.3) % 120.0 - 60.0)
    }
    val got = Knn.knnJoin(ptsDf, queries.toDF("qid", "qlon", "qlat"), k = 4,
        res = 5.0, tieCols = Seq("pid"))
      .select("qid", "rank", "pid").as[(Long, Int, Long)].collect()
      .map(r => (r._1, r._2.toLong, r._3)).toSet

    val expected = queries.flatMap { case (qid, qlon, qlat) =>
      pts.map { case (pid, lon, lat) =>
        val d2 = (lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat)
        (pid, d2)
      }.sortBy { case (pid, d2) => (d2, pid) }
        .take(4).zipWithIndex
        .map { case ((pid, _), i) => (qid, (i + 1).toLong, pid) }
    }.toSet
    assert(got == expected)
  }

  test("adaptive kNN: exactly k rows per query when a round retires every active query") {
    // the town queries enter at a fine level and all retire before the
    // loop reaches the empty-ocean queries' coarse entry level; the retired
    // ones must not re-enter with them
    val town = (0 until 2000).map { i =>
      val h = GeoOps.splitmix64(77L + i)
      (i.toLong, 10.0 + java.lang.Long.remainderUnsigned(h, 10000L) / 10000.0,
        50.0 + java.lang.Long.remainderUnsigned(
          java.lang.Long.divideUnsigned(h, 10000L), 10000L) / 10000.0)
    }
    val pts = town ++ randPoints(200, 5L).map { case (i, lon, lat) => (3000L + i, lon, lat) }
      .filter { case (_, lon, lat) => lon > 0.0 || lat > 0.0 }
    val qs = Seq((1L, 10.3, 50.3), (2L, 10.7, 50.6), (3L, -120.0, -30.0), (4L, -60.0, -40.0))
    val k = 4
    val got = Knn.knnMetersJoinAdaptive(pts.toDF("pid", "lon", "lat"),
        qs.toDF("qid", "qlon", "qlat"), k, tieCols = Seq("pid"))
      .select("qid", "rank", "pid").as[(Long, Int, Long)].collect()
    assert(got.map(t => (t._1, t._2)).distinct.length == got.length,
      s"duplicate (qid, rank) rows: ${got.toSeq.sorted}")
    assert(got.groupBy(_._1).map { case (q, rs) => q -> rs.length } ==
      qs.map(_._1 -> k).toMap)
    val expected = qs.flatMap { case (qid, qlon, qlat) =>
      pts.map { case (pid, lon, lat) =>
        (graft.core.Measure.haversineMeters(lon, lat, qlon, qlat), pid)
      }.sorted.take(k).zipWithIndex.map { case ((_, pid), i) => (qid, i + 1, pid) }
    }
    assert(got.toSet == expected.toSet)
  }

  test("dropBoilerplateLines strips frequent lines, keeps order") {
    val docs = Seq(
      (1L, "HEADER\nreal content one\nFOOTER"),
      (2L, "HEADER\nunique two\nmiddle two\nFOOTER"),
      (3L, "HEADER\nanother three\nFOOTER"),
      (4L, "HEADER\nFOOTER")).toDF("doc_id", "text")
    val out = Dedup.dropBoilerplateLines(docs, "text", "doc_id",
        sep = "\n", minDocFreq = 3)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out(1L) == "real content one")
    assert(out(2L) == "unique two\nmiddle two") // order preserved
    assert(out(3L) == "another three")
    assert(out(4L) == "") // fully-boilerplate doc stays, emptied
  }

  test("withinDistanceJoin matches brute force") {
    val r = new java.util.Random(5)
    val pts = (0 until 3000).map { i =>
      (i.toLong, r.nextDouble() * 360 - 180, r.nextDouble() * 170 - 85)
    }
    val qs = (0 until 40).map { i =>
      (i.toLong, r.nextDouble() * 340 - 170, r.nextDouble() * 150 - 75)
    }
    val radius = 7.5
    val got = SpatialJoins.withinDistanceJoin(
      pts.toDF("pid", "lon", "lat"), qs.toDF("qid", "qlon", "qlat"), radius)
      .select("qid", "pid").as[(Long, Long)].collect().toSet
    val expected = (for {
      (qid, qlon, qlat) <- qs
      (pid, lon, lat) <- pts
      if (lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat) <= radius * radius
    } yield (qid, pid)).toSet
    assert(got == expected && expected.nonEmpty)
  }

  test("withinDistanceMetersJoin matches brute-force haversine, incl poles") {
    import graft.core.Measure
    // haversine sanity: one degree of longitude at the equator
    val oneDeg = Measure.haversineMeters(0, 0, 1, 0)
    assert(math.abs(oneDeg - 111195.0) < 100.0, oneDeg.toString)
    assert(Measure.haversineMeters(10, 20, 10, 20) == 0.0)
    // antipodal clamp: half the mean circumference
    val anti = Measure.haversineMeters(0, 0, 180, 0)
    assert(math.abs(anti - math.Pi * Measure.EarthRadiusMeters) < 1.0)
    // symmetric
    assert(Measure.haversineMeters(3, 4, -5, 60) ==
      Measure.haversineMeters(-5, 60, 3, 4))

    val pts = randPoints(4000, 13L) ++ Seq(
      (9001L, 10.0, 84.9), (9002L, -170.0, 84.95), // polar neighborhood
      (9003L, 179.9, 0.0), (9004L, -179.9, 0.05))  // antimeridian pair
    val qs = Seq((1L, 10.3, 84.92), (2L, 179.95, 0.01), (3L, 0.0, 0.0),
      (4L, -120.0, -45.0))
    val radius = 50000.0 // 50 km
    val got = SpatialJoins.withinDistanceMetersJoin(
        pts.toDF("pid", "lon", "lat"),
        qs.toDF("qid", "qlon", "qlat"), radius)
      .select("qid", "pid").as[(Long, Long)].collect().toSet
    val expected = (for {
      (qid, qlon, qlat) <- qs
      (pid, lon, lat) <- pts
      if graft.core.Measure.haversineMeters(lon, lat, qlon, qlat) <= radius
    } yield (qid, pid)).toSet
    assert(got == expected)
    assert(expected.exists(_._1 == 1L) && expected.exists(_._1 == 2L),
      "polar and antimeridian queries must match their planted points")
  }

  test("exactDupes: hash-keyed dup pairs, ids-only shuffle") {
    val docs = Seq(
      (1L, "alpha beta"), (2L, "gamma"), (3L, "alpha beta"),
      (4L, "alpha beta"), (5L, "delta")).toDF("doc_id", "text")
    val out = Dedup.exactDupes(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(out == Set((3L, 1L), (4L, 1L))) // groups >1 only, rep = min id
    // the shuffle key is the 32-byte text hash, not the document
    val plan = Dedup.exactDupes(docs, "text", "doc_id")
      .queryExecution.analyzed.toString
    assert(plan.contains("sha2"), s"expected hashed shuffle key:\n$plan")
  }

  test("dupClusters: min-label components match union-find ground truth") {
    // random sparse graph; verify against a driver-side union-find
    val rnd = new scala.util.Random(11)
    val n = 500
    val edges = (1 to 400).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(id => id -> find(id.toInt).toLong).toMap
    // ground-truth rep = min id in component, which union-by-min preserves
    val got = Dedup.dupClusters(edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == expected.keySet)
    // same partition: two nodes share a cluster iff union-find agrees
    for ((id, c) <- got) assert(c == expected(id), s"node $id")
  }

  test("dupClusters: string ids converge structurally (chain > 1 round)") {
    // the numeric-sum potential would cast string ids to NULL and declare
    // convergence after round 1, mislabeling any chain with diameter > 1;
    // structural change-detection must keep iterating until the true fix-
    // point. Chain a-b-c-d-e: everything must label to "a".
    val edges = Seq(("b", "a"), ("c", "b"), ("d", "c"), ("e", "d"))
      .toDF("id_a", "id_b")
    val got = Dedup.dupClusters(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "e" -> "a"))
  }

  test("minhash/simhash hot-band cap drops mega-bands, keeps real near-dups") {
    // 50 verbatim-identical docs share every band (width 50 >> cap) — all
    // their pairs must vanish under maxBand; a genuinely near-dup pair in
    // bands of width 2 must survive. Exact dedup owns the identical docs.
    val boiler = (0 until 50).map(i =>
      (i.toLong, "the same cookie banner text appears on every single page"))
    // (100, 101): one trailing word dropped — MinHash-near (jaccard 37/39).
    // (102, 103): verbatim-identical but NOT boilerplate — their bands have
    // width 2 and must SURVIVE the cap in both pipelines (hamming 0).
    val near = Seq(
      (100L, (0 until 40).map(j => "u" + j).mkString(" ")),
      (101L, (0 until 39).map(j => "u" + j).mkString(" ")),
      (102L, (0 until 40).map(j => "v" + j).mkString(" ")),
      (103L, (0 until 40).map(j => "v" + j).mkString(" ")))
    val df = (boiler ++ near).toDF("doc_id", "text")
    val mh = Dedup.minhashNearDups(df, "text", "doc_id", shingle = 3, k = 32,
        bandRows = 4, threshold = 0.6, maxBand = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(mh == Set((100L, 101L), (102L, 103L)), s"got $mh")
    val sh = Dedup.simhashNearDups(df, "text", "doc_id", maxHamming = 6,
        maxBand = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(sh.contains((102L, 103L)) && !sh.exists(_._1 < 50), s"got $sh")
    // and with the cap disabled the boilerplate pairs flood back in
    val uncapped = Dedup.simhashNearDups(df, "text", "doc_id",
        maxHamming = 6, maxBand = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size > 1000, s"expected ~50*49/2 pairs, got ${uncapped.size}")
  }

  test("withClusters keeps exactly one representative per component") {
    val docs = (0L until 20L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L), (10L, 10L)).toDF("id_a", "id_b")
    val out = Dedup.withClusters(docs, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byCluster = out.groupBy(_._2)
    assert(byCluster.forall { case (c, rows) => rows.count(_._3 == 1) == 1 })
    assert(out.find(_._1 == 0L).get._2 == 0L)
    assert(out.find(_._1 == 2L).get._2 == 0L) // via the 1-2 edge
    assert(out.find(_._1 == 7L).get._2 == 7L) // singleton keeps itself
    assert(out.count(_._3 == 1) == 20 - 3)    // 3 dropped non-reps
  }

  test("minhash LSH finds planted near-dups with high recall, jaccard-refined") {
    val docs = (0 until 100).map { i =>
      val words = (0 until 40).map(j =>
        "w" + java.lang.Long.remainderUnsigned(GeoOps.splitmix64(i * 100L + j), 500L))
      (i.toLong, words.mkString(" "))
    }
    // planted: same doc with last 4 words dropped (jaccard ~ 0.87)
    val planted = docs.map { case (id, t) =>
      (id + 1000, t.split(" ").dropRight(4).mkString(" "))
    }
    val df = (docs ++ planted).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(df, "text", "doc_id",
      shingle = 3, k = 32, bandRows = 4, threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expectedPairs = docs.map { case (id, _) => (id, id + 1000) }.toSet
    val recall = expectedPairs.count(pairs.contains).toDouble / expectedPairs.size
    assert(recall >= 0.9, s"recall $recall")
    // precision: every returned pair really has jaccard >= 0.6 (refine step)
    val texts = (docs ++ planted).toMap
    pairs.foreach { case (a, b) =>
      val j = graft.sql.TextOps.ngramJaccard(
        org.apache.spark.unsafe.types.UTF8String.fromString(texts(a)),
        org.apache.spark.unsafe.types.UTF8String.fromString(texts(b)), 3)
      assert(j >= 0.6)
    }
  }

  test("image payload parity: PNG bytes decode to expected pixels (PSNR)") {
    val images = ImagesTable.generate(spark, 50L, png = true)
      .select("phash", "bytes", "caption", "image_id")
      .collect()
    images.foreach { row =>
      val phash = row.getLong(0)
      val psnr = ImagesTable.psnrVsPattern(row.getAs[Array[Byte]](1), phash)
      assert(psnr >= 40.0, s"PSNR $psnr for ${row.getString(3)}")
    }
    // caption determinism: regenerate and compare exactly
    val again = ImagesTable.generate(spark, 50L, png = true)
      .select("image_id", "caption").as[(String, String)].collect().toMap
    images.foreach { row =>
      assert(again(row.getString(3)) == row.getString(2))
    }
  }

  test("payload passthrough: bytes and captions survive the flagship join") {
    val images = ImagesTable.generate(spark, 300L, png = true)
    val polys = ImagesTable.polygonLayer(spark)
    val out = SpatialJoins.pipJoin(images, polys, "poly", "lon", "lat", zoom = 6)
      .select("image_id", "bytes", "caption", "phash").collect()
    assert(out.nonEmpty)
    out.foreach { row =>
      val phash = row.getLong(3)
      assert(java.util.Arrays.equals(row.getAs[Array[Byte]](1),
        ImagesTable.pngBytes(phash)), "bytes byte-identical through the join")
      assert(ImagesTable.psnrVsPattern(row.getAs[Array[Byte]](1), phash) >= 40.0)
    }
  }

  test("ANN brute force matches naive computation") {
    val vecs = (0 until 50).map { i =>
      (i.toLong, (0 until 8).map(j =>
        ((GeoOps.splitmix64(i * 8L + j) % 1000L) / 500.0 - 1.0).toFloat).toArray)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val got = Ann.bruteForceTopK(df, queries, "embedding", "vec_id", "qid", "qvec", 5)
      .select("qid", "rank", "vec_id").as[(Long, Int, Long)].collect().toSet

    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val expected = (0 until 3).flatMap { q =>
      vecs.filter(_._1 != q)
        .map { case (id, v) => (id, cos(vecs(q)._2, v)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(5).zipWithIndex
        .map { case ((id, _), i) => (q.toLong, i + 1, id) }
    }.toSet
    assert(got == expected)
  }
}
