package geobench

import graft.core.{Cells, Dims, GeoJson, Geom, Pip, Tiles, Wkb, Wkt}

/** Kernel probe (traced runs only): single-thread ns per call of the named
  * `graft.core` functions on fixed samples drawn from the run's seed. Each
  * sample is a prefix of the inputs the owning workload generates. */
object Probe {

  @volatile private var sink = 0L

  /** Median ns per call over repeated passes of `body` (which makes `calls`
    * calls and returns something to keep the JIT from dropping them). */
  private def nsPerCall(calls: Int)(body: => Long): Double = {
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + 300000000L
    var warm = 0
    while (warm < 3 || (times.length < 5 && System.nanoTime() < deadline) || times.length < 3) {
      val t0 = System.nanoTime()
      sink += body
      val dt = (System.nanoTime() - t0).toDouble / calls
      if (warm < 3) warm += 1 else times += dt
    }
    Workloads.median(times.toSeq)
  }

  def run(seed: Long, trace: Trace): Map[String, Double] = trace.span("probe") {
    def probe(name: String, calls: Int)(body: => Long): (String, Double) =
      name -> trace.span(s"probe.$name")(nsPerCall(calls)(body))

    val corpus = Gen.corpus(seed, 300).filter(_.wkt != null).map(_.wkt)
    val geoms: Array[Geom] = corpus.map(Wkt.parse)
    val wkbs = geoms.map(Wkb.write)
    val noM = geoms.filter(g => g.dims == Dims.XY || g.dims == Dims.XYZ)
    val polys = Gen.polygons(seed, 300).map(p => Wkt.parse(p.wkt))
    val pts = Gen.points(seed, 20000)
    val covers = polys.map(p => Tiles.coverGeom(p, 6).toSet)
    // the workload's candidate pairs: point tile in the polygon's z6 cover
    val pairs = pts.iterator.flatMap { p =>
      val t = Tiles.tileId(p.lon, p.lat, 6)
      polys.indices.iterator.filter(j => covers(j).contains(t)).map(j => (j, p))
    }.take(20000).toArray
    val queries = Gen.knnQueries(seed, 64)

    Map(
      probe("core.wkt_parse_ns", corpus.length)(corpus.map(s => Wkt.parse(s).numCoords.toLong).sum),
      probe("core.wkb_write_ns", geoms.length)(geoms.map(g => Wkb.write(g).length.toLong).sum),
      probe("core.wkb_parse_ns", wkbs.length)(wkbs.map(b => Wkb.parse(b).numCoords.toLong).sum),
      probe("core.wkt_write_ns", geoms.length)(geoms.map(g => Wkt.write(g).length.toLong).sum),
      probe("core.geojson_write_ns", noM.length)(noM.map(g => GeoJson.write(g).length.toLong).sum),
      probe("core.pip_ns", pairs.length)(pairs.count { case (j, p) => Pip.containsPoint(polys(j), p.lon, p.lat) }),
      probe("core.tile_id_ns", pts.length)(pts.map(p => Tiles.tileId(p.lon, p.lat, 16)).sum),
      probe("core.cell_id_ns", pts.length)(pts.map(p => Cells.cellId(p.lon, p.lat, 12)).sum),
      probe("core.tile_cover_ns", polys.length)(polys.map(p => Tiles.coverGeom(p, 6).length.toLong).sum),
      // round-0 caps of the adaptive loop: radius twice the level's cell width
      probe("core.cap_cover_ns", queries.length * 3)(queries.map { q =>
        Seq(14, 10, 6).map(l => Cells.capCover(q.lon, q.lat,
          2.0 * Cells.minEdgeMetersLowerBound(l), l).length.toLong).sum
      }.sum))
  }
}
