package geobench

import java.util.SplittableRandom

/** The benchmark's own seeded input generator. Every element `i` of every
  * input kind is drawn from its own stream `rng(seed, kind, i)`, so a run
  * with a smaller size sees a prefix of the same inputs (the kernel probe
  * and the smoke mode rely on that), and the program receives only the
  * generated rows. Coordinates are whole multiples of 1e-4, so their
  * shortest decimal text is exact and the generator can write the WKT the
  * program is expected to print back. */
object Gen {

  def rng(seed: Long, kind: Int, i: Long): SplittableRandom =
    new SplittableRandom(mix(seed * 0x9e3779b97f4a7c15L + kind * 0xbf58476d1ce4e5b9L + i))

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Element `i` of a seeded low-discrepancy (Weyl) sequence in [0, 1):
    * sizes drawn through it spread evenly over any prefix, so the total work
    * of an input set hardly changes from seed to seed while each element
    * still does. `stream` picks one of several independent sequences. */
  def even(seed: Long, stream: Int, i: Long): Double = {
    val alpha = Array(0.6180339887498949, 0.41421356237309515, 0.7320508075688772)(stream)
    val x = rng(seed, 100 + stream, 0).nextDouble() + i * alpha
    x - math.floor(x)
  }

  /** A coordinate in 1e-4 steps, clamped to [lo, hi]. */
  def q(v: Double, lo: Double, hi: Double): Double =
    math.round(math.max(lo, math.min(hi, v)) * 1e4) / 1e4

  def fmt(v: Double): String =
    java.math.BigDecimal.valueOf(math.round(v * 1e4), 4).stripTrailingZeros.toPlainString

  // ------------------------------------------------------------ points

  /** The hot region that ~10% of points and polygons cluster on. */
  val HotLon = 14.0
  val HotLat = 47.0

  final case class Pt(id: Long, lon: Double, lat: Double)

  /** Points for pip_tile: 90% uniform over lon/lat, 10% on the hot region. */
  def points(seed: Long, n: Int): Array[Pt] = Array.tabulate(n)(i => point(seed, i))

  def point(seed: Long, i: Long): Pt = {
    val r = rng(seed, 1, i)
    if (r.nextInt(10) == 0)
      Pt(i, q(HotLon + r.nextGaussian() * 1.5, -180, 180),
        q(HotLat + r.nextGaussian() * 1.5, -85, 85))
    else Pt(i, q(r.nextDouble(-180, 180), -180, 180), q(r.nextDouble(-80, 80), -85, 85))
  }

  /** Large many-vertex star-shaped polygons: 90% on a world grid, 10% on
    * the hot region. Returns (id, wkt, ring coordinates). */
  final case class Poly(id: Long, wkt: String, xs: Array[Double], ys: Array[Double])

  def polygons(seed: Long, n: Int): Array[Poly] = {
    val side = math.max(1, math.ceil(math.sqrt(n / 2.0)).toInt)
    Array.tabulate(n) { i =>
      val r = rng(seed, 2, i)
      val hot = i % 10 == 9
      val (cx, cy, radius) =
        if (hot) (HotLon + r.nextDouble(-2, 2), HotLat + r.nextDouble(-2, 2), 0.5 + 1.5 * even(seed, 0, i))
        else ((i % (side * 2)) * (340.0 / (side * 2)) - 160.0 + r.nextDouble(-3, 3),
          ((i / (side * 2)) % side) * (140.0 / side) - 60.0 + r.nextDouble(-3, 3),
          1.5 + 5.5 * even(seed, 0, i))
      val k = 32 + (161 * even(seed, 1, i)).toInt
      val xs = new Array[Double](k + 1)
      val ys = new Array[Double](k + 1)
      var v = 0
      while (v < k) {
        val ang = 2 * math.Pi * v / k
        val rr = radius * (0.6 + 0.4 * r.nextDouble())
        xs(v) = q(cx + rr * math.cos(ang), -180, 180)
        ys(v) = q(cy + rr * math.sin(ang), -85, 85)
        v += 1
      }
      xs(k) = xs(0); ys(k) = ys(0)
      val sb = new StringBuilder("POLYGON ((")
      var j = 0
      while (j <= k) {
        if (j > 0) sb.append(", ")
        sb.append(fmt(xs(j))).append(' ').append(fmt(ys(j)))
        j += 1
      }
      Poly(i, sb.append("))").toString, xs, ys)
    }
  }

  // ------------------------------------------------------- kNN inputs

  private def sphere(r: SplittableRandom): (Double, Double) =
    (r.nextDouble(-180, 180), math.toDegrees(math.asin(r.nextDouble(-1, 1))))

  private def clusterCentre(seed: Long, c: Int): (Double, Double, Double) = {
    val r = rng(seed, 3, c)
    val (lon, lat) = sphere(r)
    (lon, math.max(-70, math.min(70, lat)), 0.02 + r.nextDouble() * 0.5)
  }

  val KnnClusters = 24

  /** kNN points: 70% in dense clusters of varying spread, 30% uniform on
    * the sphere. */
  def knnPoints(seed: Long, n: Int): Array[Pt] = Array.tabulate(n)(i => knnPoint(seed, i))

  def knnPoint(seed: Long, i: Long): Pt = {
    val r = rng(seed, 4, i)
    if (r.nextInt(10) < 7) {
      val (cx, cy, s) = clusterCentre(seed, r.nextInt(KnnClusters))
      Pt(i, q(cx + r.nextGaussian() * s, -180, 180), q(cy + r.nextGaussian() * s, -89, 89))
    } else {
      val (lon, lat) = sphere(r)
      Pt(i, q(lon, -180, 180), q(lat, -89, 89))
    }
  }

  /** kNN queries: half next to cluster centres (dense, few rounds), half
    * uniform on the sphere (sparse, many rounds). */
  def knnQueries(seed: Long, n: Int): Array[Pt] = Array.tabulate(n) { i =>
    val r = rng(seed, 5, i)
    if (i % 2 == 0) {
      val (cx, cy, s) = clusterCentre(seed, r.nextInt(KnnClusters))
      Pt(i, q(cx + r.nextGaussian() * s, -180, 180), q(cy + r.nextGaussian() * s, -89, 89))
    } else {
      val (lon, lat) = sphere(r)
      Pt(i, q(lon, -180, 180), q(lat, -89, 89))
    }
  }

  // ------------------------------------------------ geometry corpus

  /** One corpus row: WKT text as the program should print it (null for a
    * NULL row), ISO WKB type code, and whether it has coordinates. */
  final case class Geo(id: Long, wkt: String, isoCode: Int, empty: Boolean,
                       xmin: Double, ymin: Double, xmax: Double, ymax: Double) {
    /** WKB spells POINT EMPTY as all-NaN coordinates, and the program (like
      * the reference it follows) reads that back as a NaN point: after a WKB
      * trip the row prints as `POINT (nan nan)` and counts as a typed point. */
    def pointEmpty: Boolean = empty && wkt != null && isoCode % 1000 == 1
    def wktViaWkb: String =
      if (!pointEmpty) wkt
      else wkt.stripSuffix("EMPTY") + Seq.fill(Array(2, 3, 3, 4)(isoCode / 1000))("nan").mkString("(", " ", ")")
    def typedViaWkb: Boolean = wkt != null && (!empty || pointEmpty)
  }

  private val TypeNames = Array("", "POINT", "LINESTRING", "POLYGON", "MULTIPOINT",
    "MULTILINESTRING", "MULTIPOLYGON", "GEOMETRYCOLLECTION")
  private val DimTags = Array("", "", " Z", " M", " ZM")

  /** Mixed corpus: all seven types x XY/XYZ/XYM/XYZM, ~3% EMPTY, ~2% NULL,
    * 1-1000 coordinates per geometry (log-uniform). */
  def corpus(seed: Long, n: Int): Array[Geo] = Array.tabulate(n) { i =>
    val r = rng(seed, 6, i)
    val roll = (100 * even(seed, 2, i)).toInt
    val combo = (28 * even(seed, 0, i)).toInt
    val tpe = 1 + combo % 7
    val dims = 1 + combo / 7
    val iso = (dims - 1) * 1000 + tpe
    if (roll < 2) Geo(i, null, 0, true, 0, 0, 0, 0)
    else if (roll < 5)
      Geo(i, TypeNames(tpe) + DimTags(dims) + " EMPTY", iso, true, 0, 0, 0, 0)
    else {
      val nc = if (tpe == 1) 1 else math.max(1, math.exp(even(seed, 1, i) * math.log(1000)).toInt)
      val b = new GeomBuilder(r, dims)
      b.geom(tpe, nc, top = true)
      Geo(i, b.sb.toString, iso, false, b.xmin, b.ymin, b.xmax, b.ymax)
    }
  }

  /** Writes WKT in the program's canonical form (flat MULTIPOINT, ", "
    * separators, dimension tag on every collection part). */
  private final class GeomBuilder(r: SplittableRandom, dims: Int) {
    val sb = new StringBuilder
    var xmin = Double.PositiveInfinity; var ymin = Double.PositiveInfinity
    var xmax = Double.NegativeInfinity; var ymax = Double.NegativeInfinity
    private val cx = r.nextDouble(-170, 170)
    private val cy = r.nextDouble(-80, 80)

    private def coord(x0: Double, y0: Double): Unit = {
      val x = q(x0, -180, 180); val y = q(y0, -90, 90)
      xmin = math.min(xmin, x); ymin = math.min(ymin, y)
      xmax = math.max(xmax, x); ymax = math.max(ymax, y)
      sb.append(fmt(x)).append(' ').append(fmt(y))
      if (dims == 2 || dims == 4) sb.append(' ').append(fmt(q(r.nextDouble(-100, 5000), -1e6, 1e6)))
      if (dims >= 3) sb.append(' ').append(fmt(q(r.nextDouble(0, 100000), -1e6, 1e6)))
    }

    private def path(n: Int): Unit = {
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(", ")
        coord(cx + r.nextDouble(-5, 5), cy + r.nextDouble(-5, 5))
        j += 1
      }
    }

    private def ring(n0: Int): Unit = {
      val n = math.max(4, n0)
      val rad = r.nextDouble(0.01, 5.0)
      val ox = cx + r.nextDouble(-3, 3); val oy = cy + r.nextDouble(-3, 3)
      sb.append('(')
      val x0 = q(ox + rad, -180, 180); val y0 = q(oy, -90, 90)
      var j = 0
      while (j < n - 1) {
        if (j > 0) sb.append(", ")
        if (j == 0) coord(x0, y0)
        else {
          val ang = 2 * math.Pi * j / (n - 1)
          coord(ox + rad * math.cos(ang), oy + rad * math.sin(ang))
        }
        j += 1
      }
      sb.append(", ")
      // close on the first vertex exactly (same z/m drawn again is fine:
      // the writer does not require a closed ring)
      coord(x0, y0)
      sb.append(')')
    }

    private def rings(n: Int): Unit = {
      val nr = 1 + r.nextInt(math.max(1, math.min(3, n / 4)))
      sb.append('(')
      var k = 0
      while (k < nr) {
        if (k > 0) sb.append(", ")
        ring(n / nr)
        k += 1
      }
      sb.append(')')
    }

    private def split(n: Int, maxParts: Int): Int =
      1 + r.nextInt(math.max(1, math.min(maxParts, n)))

    def geom(tpe: Int, n: Int, top: Boolean): Unit = {
      sb.append(TypeNames(tpe)).append(DimTags(dims)).append(' ')
      tpe match {
        case 1 => sb.append('('); path(1); sb.append(')')
        case 2 => sb.append('('); path(math.max(2, n)); sb.append(')')
        case 3 => rings(n)
        case 4 => sb.append('('); path(n); sb.append(')')
        case 5 =>
          val k = split(n, 4)
          sb.append('(')
          (0 until k).foreach { p =>
            if (p > 0) sb.append(", ")
            sb.append('('); path(math.max(2, n / k)); sb.append(')')
          }
          sb.append(')')
        case 6 =>
          val k = split(n / 4, 3)
          sb.append('(')
          (0 until k).foreach { p => if (p > 0) sb.append(", "); rings(n / k) }
          sb.append(')')
        case 7 =>
          val k = split(n, 4)
          sb.append('(')
          (0 until k).foreach { p =>
            if (p > 0) sb.append(", ")
            geom(1 + r.nextInt(6), math.max(1, n / k), top = false)
          }
          sb.append(')')
      }
    }
  }

  // ------------------------------------------------- snapshot batches

  final case class Row(pid: Long, lon: Double, lat: Double, v: Double, payload: String)

  def row(seed: Long, pid: Long, version: Int): Row = {
    val r = rng(seed, 7, pid * 1000003L + version)
    val hot = r.nextInt(10) == 0
    val lon = if (hot) q(HotLon + r.nextGaussian(), -180, 180) else q(r.nextDouble(-180, 180), -180, 180)
    val lat = if (hot) q(HotLat + r.nextGaussian(), -85, 85) else q(r.nextDouble(-80, 80), -85, 85)
    Row(pid, lon, lat, q(r.nextDouble(0, 1000), 0, 1000),
      f"v$version%04d-${r.nextLong() & 0xffffffffffffL}%016x-${pid}%08d")
  }

  /** One commit cycle's batches against a live key set: fresh appended
    * rows, updated existing keys plus new keys for the merge, and existing
    * keys to delete. Inserted and deleted counts match, so the live table
    * keeps its size. */
  final case class Cycle(appended: Array[Row], merged: Array[Row], deleted: Array[Long])

  def cycle(seed: Long, c: Int, live: Array[Long], nextPid: Long,
            nAppend: Int, nUpdate: Int, nInsert: Int): Cycle = {
    val r = rng(seed, 8, c)
    val appended = Array.tabulate(nAppend)(j => row(seed, nextPid + j, 0))
    val picked = pick(r, live, nUpdate + nAppend + nInsert)
    val updated = picked.take(nUpdate).map(pid => row(seed, pid, c + 1))
    val inserted = Array.tabulate(nInsert)(j => row(seed, nextPid + nAppend + j, 0))
    Cycle(appended, updated ++ inserted, picked.drop(nUpdate))
  }

  /** `k` distinct elements of `xs` (partial Fisher-Yates on a copy). */
  private def pick(r: SplittableRandom, xs: Array[Long], k: Int): Array[Long] = {
    val a = xs.clone()
    val m = math.min(k, a.length)
    var j = 0
    while (j < m) {
      val s = j + r.nextInt(a.length - j)
      val t = a(j); a(j) = a(s); a(s) = t
      j += 1
    }
    a.take(m)
  }
}
