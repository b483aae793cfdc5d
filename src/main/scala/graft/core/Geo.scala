package graft.core

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer

/** From-scratch geometry kernel: minimal WKB codec, ray-cast point-in-polygon,
  * tile-cover rasterization, haversine and proximity scoring.
  *
  * Mirrors the reference semantics (SURVEY.md §2.C4, §2.H2, §2.H5, §2.H6 —
  * upstream carmen `lib/context.js` PIP over decoded MVT geometry, tile-cover
  * via the tile-cover lib, `lib/util/proximity.js`) but is written from
  * scratch per the north rule; JTS on the classpath is a TEST ORACLE only.
  */
object Geo {

  /** Decoded geometry: a list of rings (polygons: exterior+holes flattened,
    * even-odd rule makes hole handling implicit), or a line/point path.
    * Coordinates are packed [lon0, lat0, lon1, lat1, ...].
    */
  final case class Geom(kind: Int, rings: Array[Array[Double]]) {
    def isPoint: Boolean = kind == Geom.Point
    def isLine: Boolean = kind == Geom.Line
    def isPoly: Boolean = kind == Geom.Poly
    def firstLon: Double = rings(0)(0)
    def firstLat: Double = rings(0)(1)
  }
  object Geom {
    val Point = 1; val Line = 2; val Poly = 3
  }

  // ------------------------------------------------------------------
  // WKB codec (ISO WKB, little- or big-endian; geometry types 1..6)
  // ------------------------------------------------------------------

  def writeWkbPoint(lon: Double, lat: Double): Array[Byte] = {
    val bb = ByteBuffer.allocate(21).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte); bb.putInt(1); bb.putDouble(lon); bb.putDouble(lat)
    bb.array()
  }

  /** Polygon WKB from rings of packed [lon,lat,...] (first = exterior). */
  def writeWkbPolygon(rings: Array[Array[Double]]): Array[Byte] = {
    val size = 9 + rings.map(r => 4 + r.length * 8).sum
    val bb = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte); bb.putInt(3); bb.putInt(rings.length)
    rings.foreach { r =>
      bb.putInt(r.length / 2)
      var i = 0
      while (i < r.length) { bb.putDouble(r(i)); i += 1 }
    }
    bb.array()
  }

  def writeWkbLineString(path: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(9 + path.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte); bb.putInt(2); bb.putInt(path.length / 2)
    var i = 0
    while (i < path.length) { bb.putDouble(path(i)); i += 1 }
    bb.array()
  }

  /** Parse WKB -> Geom. Supports Point(1) LineString(2) Polygon(3)
    * MultiPoint(4) MultiLineString(5) MultiPolygon(6). Multi* flatten into
    * one Geom (even-odd PIP stays correct for disjoint parts). */
  def parseWkb(wkb: Array[Byte]): Geom = {
    val out = new ArrayBuffer[Array[Double]](4)
    var kind = Geom.Point
    def rd(bb: ByteBuffer): Unit = {
      val order = if (bb.get() == 0) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
      bb.order(order)
      val rawTyp = bb.getInt()
      // ISO WKB Z/M/ZM variants (1001.., 2001.., 3001..) carry extra
      // ordinates per coordinate; silently reading 2 doubles would
      // desynchronize the buffer and produce garbage geometry — fail loudly
      // until 2.5D parsing is actually implemented.
      if (rawTyp >= 1000)
        throw new IllegalArgumentException(
          s"WKB type $rawTyp: Z/M/ZM geometries are not supported (2D WKB only)")
      val typ = rawTyp
      typ match {
        case 1 =>
          kind = Geom.Point
          out += Array(bb.getDouble(), bb.getDouble())
        case 2 =>
          kind = Geom.Line
          out += readCoords(bb)
        case 3 =>
          kind = Geom.Poly
          val nRings = bb.getInt()
          var i = 0
          while (i < nRings) { out += readCoords(bb); i += 1 }
        case 4 | 5 | 6 =>
          val nParts = bb.getInt()
          var i = 0
          while (i < nParts) { rd(bb); i += 1 }
        case 7 =>
          val nParts = bb.getInt()
          var i = 0
          while (i < nParts) { rd(bb); i += 1 }
        case other =>
          throw new IllegalArgumentException(s"unsupported WKB type $other")
      }
    }
    rd(ByteBuffer.wrap(wkb))
    Geom(kind, out.toArray)
  }

  private def readCoords(bb: ByteBuffer): Array[Double] = {
    val nPts = bb.getInt()
    val a = new Array[Double](nPts * 2)
    var i = 0
    while (i < a.length) { a(i) = bb.getDouble(); i += 1 }
    a
  }

  // ------------------------------------------------------------------
  // Point-in-polygon: even-odd ray cast (C4)
  // ------------------------------------------------------------------

  /** Even-odd crossing test over all rings. Points exactly on an edge are
    * treated per the half-open convention of the crossing rule (stable,
    * deterministic; fixtures avoid exact-edge points by construction). */
  def pointInRings(rings: Array[Array[Double]], lon: Double, lat: Double): Boolean = {
    var inside = false
    var r = 0
    while (r < rings.length) {
      val ring = rings(r)
      val nPts = ring.length / 2
      var i = 0
      var j = nPts - 1
      while (i < nPts) {
        val xi = ring(2 * i); val yi = ring(2 * i + 1)
        val xj = ring(2 * j); val yj = ring(2 * j + 1)
        if (((yi > lat) != (yj > lat)) &&
            (lon < (xj - xi) * (lat - yi) / (yj - yi) + xi)) {
          inside = !inside
        }
        j = i
        i += 1
      }
      r += 1
    }
    inside
  }

  /** PIP over raw WKB (Expression-friendly single call). Points/lines never
    * contain. */
  def pipWkb(wkb: Array[Byte], lon: Double, lat: Double): Boolean = {
    val g = parseWkb(wkb)
    g.kind == Geom.Poly && pointInRings(g.rings, lon, lat)
  }

  /** Shoelace moments of the exterior ring, exact on the milli-degree
    * integer lattice: [A2, Cx6, Cy6] with vertices quantized by
    * round(x·1000) (boundary-safe — synth bounds live on the 0.001°
    * lattice), cross_i = x_i·y_{i+1} − x_{i+1}·y_i, A2 = Σ cross_i
    * (twice the signed area, positive for CCW rings), Cx6 =
    * Σ (x_i + x_{i+1})·cross_i = 6·A·Cx and likewise Cy6. All BIGINT-exact:
    * |x_q| ≤ 360 000, so each Cx6 term is < 2^56 and a ring would need
    * ~100 vertices at world scale to approach 2^63. The closing edge is
    * degenerate when the ring repeats its first vertex (cross = 0), so
    * open and closed rings both work. */
  def polyMomentsQ(g: Geom): Array[Long] = {
    require(g.isPoly && g.rings.nonEmpty, "polygon WKB required")
    val r = g.rings(0)
    val n = r.length / 2
    def xq(i: Int): Long = Math.round(r(2 * (i % n)) * 1000.0)
    def yq(i: Int): Long = Math.round(r(2 * (i % n) + 1) * 1000.0)
    var a2 = 0L; var cx6 = 0L; var cy6 = 0L
    var i = 0
    while (i < n) {
      val cross = xq(i) * yq(i + 1) - xq(i + 1) * yq(i)
      a2 += cross
      cx6 += (xq(i) + xq(i + 1)) * cross
      cy6 += (yq(i) + yq(i + 1)) * cross
      i += 1
    }
    Array(a2, cx6, cy6)
  }

  /** Bounding box [west, south, east, north] over all coordinates. */
  def bbox(g: Geom): Array[Double] = {
    var w = Double.MaxValue; var s = Double.MaxValue
    var e = -Double.MaxValue; var n = -Double.MaxValue
    var r = 0
    while (r < g.rings.length) {
      val ring = g.rings(r)
      var i = 0
      while (i + 1 < ring.length) {
        val x = ring(i); val y = ring(i + 1)
        if (x < w) w = x; if (x > e) e = x
        if (y < s) s = y; if (y > n) n = y
        i += 2
      }
      r += 1
    }
    Array(w, s, e, n)
  }

  /** Proper segment crossing: the OPEN interiors of both segments meet at a
    * single point. Collinear overlaps and endpoint touches return false. */
  private def properSegIntersect(ax: Double, ay: Double, bx: Double, by: Double,
                                 cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
    @inline def orient(px: Double, py: Double, qx: Double, qy: Double,
                       rx: Double, ry: Double): Double =
      (qx - px) * (ry - py) - (qy - py) * (rx - px)
    val o1 = orient(ax, ay, bx, by, cx, cy)
    val o2 = orient(ax, ay, bx, by, dx, dy)
    val o3 = orient(cx, cy, dx, dy, ax, ay)
    val o4 = orient(cx, cy, dx, dy, bx, by)
    ((o1 > 0 && o2 < 0) || (o1 < 0 && o2 > 0)) &&
      ((o3 > 0 && o4 < 0) || (o3 < 0 && o4 > 0))
  }

  /** C4b: do the INTERIORS of two polygons overlap in a 2-dimensional set?
    * Even-odd over ALL rings of both geometries (matching [[pointInRings]]),
    * so holes and MultiPolygon parts are first-class: a probe landing in a
    * hole of the other polygon counts as OUTSIDE it.
    *
    * True iff (1) some edge pair properly crosses, or (2) some boundary
    * probe point of one polygon lies strictly inside the other, or (3) a
    * region bounded by edges of both lies inside both (identical
    * interiors, a shared multipolygon part). Probe points are every
    * vertex plus sub-edge midpoints, each edge split at the OTHER
    * geometry's vertices lying on it: when no edge pair properly crosses,
    * the other boundary can only meet an edge at such split points (a
    * non-vertex meeting would be a proper crossing, and a collinear-overlap
    * ends at a vertex), so each sub-segment is uniformly inside / on /
    * outside and its midpoint decides it — the on-segment + local
    * side-change analysis the r4 half-open shortcut skipped.
    *
    * EXACT on the milli-degree lattice: when every coordinate of both
    * inputs sits within 1e-9° of the 0.001° lattice, coordinates are first
    * quantized to exact integer-valued doubles (round(x·1000) —
    * boundary-safe, the ov_area_q trick). All predicates are then exact:
    * orientation/cross products of integers < 2^20 stay < 2^41 ≪ 2^53, and
    * probe midpoints are dyadic halves. The r4 corner-touch false positive
    * (two squares sharing one vertex, disjoint interiors → true) is gone —
    * GeoSpec pins the flip. Non-lattice inputs take the same code path on
    * the raw coordinates: exact in general position (boundary coincidences
    * off the lattice are measure-zero; JTS relate("2********") property
    * test in GeoSpec). */
  def polysOverlap(a: Geom, b: Geom): Boolean = {
    if (a.kind != Geom.Poly || b.kind != Geom.Poly) return false
    val exact = latticeAligned(a.rings) && latticeAligned(b.rings)
    val (ra, rb) =
      if (exact) (quantRings(a.rings), quantRings(b.rings))
      else (a.rings, b.rings)
    ringsOverlap(ra, rb, exactInts = exact)
  }

  /** Whether every coordinate is within 1e-6 of the 0.001° lattice after
    * scaling by 1000, i.e. within 1e-9° of a lattice value. That snap
    * radius is part of the kernel's contract: it is wide enough for
    * lattice values carried through a few double additions (the synth
    * frames), and a genuinely non-lattice coordinate within 1e-9° of the
    * lattice is decided as its snapped value. */
  private def latticeAligned(rings: Array[Array[Double]]): Boolean = {
    var r = 0
    while (r < rings.length) {
      val ring = rings(r); var i = 0
      while (i < ring.length) {
        val q = ring(i) * 1000.0
        if (math.abs(q - math.rint(q)) > 1e-6) return false
        i += 1
      }
      r += 1
    }
    true
  }

  private def quantRings(rings: Array[Array[Double]]): Array[Array[Double]] =
    rings.map(_.map(x => math.rint(x * 1000.0)))

  /** Applies `f` to every nonzero-length edge of the ring INCLUDING the
    * closing wrap edge (degenerate when the ring repeats its first vertex);
    * short-circuits true. */
  private def anyEdge(ring: Array[Double])(
      f: (Double, Double, Double, Double) => Boolean): Boolean = {
    val n = ring.length / 2
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      val ux = ring(2 * i); val uy = ring(2 * i + 1)
      val vx = ring(2 * j); val vy = ring(2 * j + 1)
      if ((ux != vx || uy != vy) && f(ux, uy, vx, vy)) return true
      i += 1
    }
    false
  }

  /** p on the CLOSED segment u–v (exact for lattice-quantized coords). */
  private def onSeg(ux: Double, uy: Double, vx: Double, vy: Double,
                    px: Double, py: Double): Boolean =
    (vx - ux) * (py - uy) - (vy - uy) * (px - ux) == 0 &&
      px >= math.min(ux, vx) && px <= math.max(ux, vx) &&
      py >= math.min(uy, vy) && py <= math.max(uy, vy)

  /** Even-odd ray cast via cross-product SIGNS (no division — exact for
    * lattice-quantized coords). Assumes p is NOT on the boundary. */
  private def insideEvenOdd(rings: Array[Array[Double]], px: Double, py: Double): Boolean = {
    var inside = false
    var r = 0
    while (r < rings.length) {
      val ring = rings(r)
      val n = ring.length / 2
      var i = 0
      var j = n - 1
      while (i < n) {
        val xi = ring(2 * i); val yi = ring(2 * i + 1)
        val xj = ring(2 * j); val yj = ring(2 * j + 1)
        if ((yi > py) != (yj > py)) {
          val cross = (xj - xi) * (py - yi) - (px - xi) * (yj - yi)
          if (cross != 0 && (yj > yi) == (cross > 0)) inside = !inside
        }
        j = i
        i += 1
      }
      r += 1
    }
    inside
  }

  /** 1 = strictly inside (even-odd over all rings), 0 = on the boundary,
    * −1 = strictly outside. */
  private def classifyPoint(rings: Array[Array[Double]], px: Double, py: Double): Int = {
    var r = 0
    while (r < rings.length) {
      if (anyEdge(rings(r)) { (ux, uy, vx, vy) => onSeg(ux, uy, vx, vy, px, py) })
        return 0
      r += 1
    }
    if (insideEvenOdd(rings, px, py)) 1 else -1
  }

  /** Probe ∂A against B: every vertex of A plus sub-edge midpoints (edges
    * split at B-vertices lying strictly inside them). Returns 1 if any
    * probe is strictly inside B; else 0 if EVERY probe lies on ∂B; else −1
    * if some probe does; else −2. */
  private def probeBoundary(ra: Array[Array[Double]], rb: Array[Array[Double]]): Int = {
    var allOn = true
    var anyOn = false
    var hit = false
    def check(px: Double, py: Double): Boolean = {
      classifyPoint(rb, px, py) match {
        case 1 => hit = true; true
        case 0 => anyOn = true; false
        case _ => allOn = false; false
      }
    }
    var r = 0
    while (r < ra.length) {
      val ring = ra(r)
      val n = ring.length / 2
      var i = 0
      while (i < n) {
        val j = (i + 1) % n
        val ux = ring(2 * i); val uy = ring(2 * i + 1)
        val vx = ring(2 * j); val vy = ring(2 * j + 1)
        if (check(ux, uy)) return 1
        if (ux != vx || uy != vy) {
          // B vertices strictly interior to this edge, ordered along it by
          // the (exact) dot-product parameter
          val splits = ArrayBuffer.empty[(Double, Double, Double)]
          var rr = 0
          while (rr < rb.length) {
            val rg = rb(rr); var k = 0
            while (k + 1 < rg.length) {
              val wx = rg(k); val wy = rg(k + 1)
              if ((wx != ux || wy != uy) && (wx != vx || wy != vy) &&
                  onSeg(ux, uy, vx, vy, wx, wy)) {
                val t = (vx - ux) * (wx - ux) + (vy - uy) * (wy - uy)
                splits += ((t, wx, wy))
              }
              k += 2
            }
            rr += 1
          }
          var px = ux; var py = uy
          splits.sortBy(_._1).foreach { case (_, wx, wy) =>
            if (check((px + wx) / 2, (py + wy) / 2)) return 1
            px = wx; py = wy
          }
          if (check((px + vx) / 2, (py + vy) / 2)) return 1
        }
        i += 1
      }
      r += 1
    }
    if (hit) 1 else if (allOn) 0 else if (anyOn) -1 else -2
  }

  /** Whether some point lies strictly inside both even-odd regions, for
    * integer-valued rings with no proper edge crossing between A and B.
    * Every face of the combined boundary arrangement then has its lowest
    * point on a vertex, and no vertex lies strictly between two integer
    * levels, so the scanline y* = vy + 1/2 above each vertex level vy
    * meets every face whose lowest point sits at vy. Along a scanline the
    * open intervals between consecutive distinct crossings are off every
    * boundary, and a left-to-right parity sweep reads each interval's
    * membership in A and in B. Crossings are exact rationals (y2 = 2·vy+1
    * is odd, so no vertex or horizontal edge lies on the scanline); BigInt
    * throughout — only boundary-touching pairs get here. */
  private def sharedInteriorRat(ra: Array[Array[Double]], rb: Array[Array[Double]]): Boolean = {
    val levels = (ra ++ rb).flatMap(ring => ring.indices.collect { case i if i % 2 == 1 => ring(i).toLong }).distinct
    val xs = ArrayBuffer.empty[(BigInt, BigInt, Boolean)] // (num, den > 0, edge of A)
    def crossings(rings: Array[Array[Double]], y2: Long, ofA: Boolean): Unit =
      rings.foreach { ring =>
        val n = ring.length / 2
        var i = 0; var j = n - 1
        while (i < n) {
          val xi = ring(2 * i).toLong; val yi = ring(2 * i + 1).toLong
          val xj = ring(2 * j).toLong; val yj = ring(2 * j + 1).toLong
          if ((2 * yi > y2) != (2 * yj > y2)) {
            // x = xi + (xj-xi)·(y*-yi)/(yj-yi), y* = y2/2
            var num = BigInt(xi) * (2 * (yj - yi)) + BigInt(xj - xi) * (y2 - 2 * yi)
            var den = BigInt(2 * (yj - yi))
            if (den.signum < 0) { num = -num; den = -den }
            xs += ((num, den, ofA))
          }
          j = i; i += 1
        }
      }
    levels.exists { vy =>
      xs.clear()
      crossings(ra, 2 * vy + 1, ofA = true); crossings(rb, 2 * vy + 1, ofA = false)
      val sorted = xs.sortWith((a, b) => a._1 * b._2 < b._1 * a._2)
      var inA = false; var inB = false; var both = false
      var k = 0
      while (k < sorted.length && !both) {
        val (n0, d0, _) = sorted(k)
        while (k < sorted.length && sorted(k)._1 * d0 == n0 * sorted(k)._2) {
          if (sorted(k)._3) inA = !inA else inB = !inB
          k += 1
        }
        both = inA && inB // the interval up to the next crossing
      }
      both
    }
  }

  private def ringsOverlap(ra: Array[Array[Double]], rb: Array[Array[Double]],
                           exactInts: Boolean): Boolean = {
    // 1. proper open-interior edge crossing, any ring pair
    var r1 = 0
    while (r1 < ra.length) {
      val ringA = ra(r1)
      var r2 = 0
      while (r2 < rb.length) {
        val ringB = rb(r2)
        if (anyEdge(ringA) { (ax, ay, bx, by) =>
          anyEdge(ringB) { (cx, cy, dx, dy) =>
            properSegIntersect(ax, ay, bx, by, cx, cy, dx, dy) } })
          return true
        r2 += 1
      }
      r1 += 1
    }
    // 2. boundary probes strictly inside the other
    val pa = probeBoundary(ra, rb)
    if (pa == 1) return true
    val pb = probeBoundary(rb, ra)
    if (pb == 1) return true
    // 3. no boundary point of either strictly inside the other. A face of
    // the boundary arrangement inside both interiors is then bounded only
    // by edges lying on BOTH boundaries (a sub-edge off the other boundary
    // is wholly inside or outside it, and its midpoint probe said
    // outside), so one of its vertices is a probe ON the other boundary.
    // With such a probe, the exact scanline sweep decides. This covers
    // identical boundaries (true), a hole exactly filled (false), a
    // boundary coinciding with a SUBSET of a multipolygon's rings (true),
    // and two multipolygons sharing one part while each has parts outside
    // the other (true). On the non-integer path (general-position doubles,
    // where total coincidence only plausibly means identical inputs) the
    // equal-boundaries shortcut is kept.
    if (exactInts) (pa >= -1 || pb >= -1) && sharedInteriorRat(ra, rb)
    else pa == 0 && pb == 0
  }

  // ------------------------------------------------------------------
  // Tile cover (H2): geometry -> covering cell set at zoom z
  // ------------------------------------------------------------------

  /** Cells at zoom z that a geometry touches: edge rasterization (grid
    * traversal of every segment) + scanline interior fill at tile-row
    * centers. Deterministic, sorted ascending, distinct. */
  def tileCover(geom: Geom, z: Int): Array[Long] = {
    geom.kind match {
      case Geom.Point =>
        Array(CellMath.lonLatToCell(z, geom.firstLon, geom.firstLat))
      case Geom.Line =>
        val set = new java.util.TreeSet[Long]()
        geom.rings.foreach(path => rasterizePath(path, z, set, closed = false))
        toArray(set)
      case _ =>
        val set = new java.util.TreeSet[Long]()
        geom.rings.foreach(ring => rasterizePath(ring, z, set, closed = true))
        fillInterior(geom.rings, z, set)
        toArray(set)
    }
  }

  private def toArray(set: java.util.TreeSet[Long]): Array[Long] = {
    val out = new Array[Long](set.size())
    val it = set.iterator(); var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** Add every tile a polyline passes through. Conservative supercover:
    * walks each segment in tile space stepping one axis at a time. */
  private def rasterizePath(path: Array[Double], z: Int, set: java.util.TreeSet[Long],
                            closed: Boolean): Unit = {
    val nPts = path.length / 2
    var i = 0
    val last = if (closed) nPts else nPts - 1
    while (i < last) {
      val j = (i + 1) % nPts
      rasterizeSegment(path(2 * i), path(2 * i + 1), path(2 * j), path(2 * j + 1), z, set)
      i += 1
    }
    if (nPts == 1) set.add(CellMath.lonLatToCell(z, path(0), path(1)))
  }

  /** Grid traversal of one segment in continuous tile coordinates
    * (Amanatides–Woo style supercover). */
  private def rasterizeSegment(lon0: Double, lat0: Double, lon1: Double, lat1: Double,
                               z: Int, set: java.util.TreeSet[Long]): Unit = {
    val max = (1L << z) - 1
    // continuous tile coords
    def tx(lon: Double): Double = (lon + 180.0) / 360.0 * (1L << z).toDouble
    def ty(lat: Double): Double = {
      val latRad = lat * math.Pi / 180.0
      (1L << z).toDouble * (1.0 - math.log(math.tan(latRad) + 1.0 / math.cos(latRad)) / math.Pi) / 2.0
    }
    var x0 = tx(lon0); var y0 = ty(lat0)
    val x1 = tx(lon1); val y1 = ty(lat1)
    var cx = math.floor(x0).toLong
    var cy = math.floor(y0).toLong
    val ex = math.floor(x1).toLong
    val ey = math.floor(y1).toLong
    val sx = java.lang.Long.signum(ex - cx)
    val sy = java.lang.Long.signum(ey - cy)
    val dx = x1 - x0; val dy = y1 - y0
    def put(x: Long, y: Long): Unit =
      set.add(CellMath.pack(z, math.min(math.max(x, 0L), max), math.min(math.max(y, 0L), max)))
    put(cx, cy)
    var guard = 0
    val guardMax = (math.abs(ex - cx) + math.abs(ey - cy) + 2).toInt * 2
    while ((cx != ex || cy != ey) && guard < guardMax) {
      // param t to next vertical / horizontal grid line
      val txNext = if (sx > 0) (cx + 1 - x0) / dx else if (sx < 0) (cx - x0) / dx else Double.MaxValue
      val tyNext = if (sy > 0) (cy + 1 - y0) / dy else if (sy < 0) (cy - y0) / dy else Double.MaxValue
      if (txNext <= tyNext) cx += sx else cy += sy
      put(cx, cy)
      guard += 1
    }
    put(ex, ey)
  }

  /** Scanline fill: for each tile row in the bbox, cast a horizontal ray at
    * the row's center latitude; fill tiles between crossing pairs. */
  private def fillInterior(rings: Array[Array[Double]], z: Int,
                           set: java.util.TreeSet[Long]): Unit = {
    val max = (1L << z) - 1
    // bbox in tile y
    var minLat = 90.0; var maxLat = -90.0
    rings.foreach { r =>
      var i = 1
      while (i < r.length) { val la = r(i); if (la < minLat) minLat = la; if (la > maxLat) maxLat = la; i += 2 }
    }
    val yTop = CellMath.latToY(z, maxLat)
    val yBot = CellMath.latToY(z, minLat)
    var y = yTop
    while (y <= yBot && y <= max) {
      // center latitude of row y
      val latC = {
        val nn = (1L << z).toDouble
        val yy = math.Pi * (1.0 - 2.0 * (y.toDouble + 0.5) / nn)
        math.atan(math.sinh(yy)) * 180.0 / math.Pi
      }
      // collect lon crossings
      val xs = new ArrayBuffer[Double](8)
      rings.foreach { ring =>
        val nPts = ring.length / 2
        var i = 0
        var j = nPts - 1
        while (i < nPts) {
          val xi = ring(2 * i); val yi = ring(2 * i + 1)
          val xj = ring(2 * j); val yj = ring(2 * j + 1)
          if ((yi > latC) != (yj > latC)) {
            xs += (xj - xi) * (latC - yi) / (yj - yi) + xi
          }
          j = i; i += 1
        }
      }
      val sorted = xs.sorted
      var k = 0
      while (k + 1 < sorted.length) {
        val xa = CellMath.lonToX(z, sorted(k))
        val xb = CellMath.lonToX(z, sorted(k + 1))
        var x = xa
        while (x <= xb) { set.add(CellMath.pack(z, x, y)); x += 1 }
        k += 2
      }
      y += 1
    }
  }

  // ------------------------------------------------------------------
  // Tile pre-clipping (north star: "WKB polygons pre-clipped to z14
  // tiles"): Sutherland–Hodgman against the tile rectangle. Clipping each
  // ring independently preserves even-odd PIP on tile-interior points:
  // PIP(clip(A,R), p) = PIP(A,p) ∧ PIP(R,p), and the hole parity XORs
  // through ring-by-ring clipping.
  // ------------------------------------------------------------------

  /** Clip one closed ring (packed lon/lat) to the axis-aligned rect.
    * Returns the clipped closed ring, or empty if no overlap. */
  def clipRingToRect(ring: Array[Double], w: Double, s: Double,
                     e: Double, n: Double): Array[Double] = {
    // edge = 0:left(x>=w) 1:right(x<=e) 2:bottom(y>=s) 3:top(y<=n)
    var pts = ring
    var edge = 0
    while (edge < 4 && pts.length >= 6) {
      val out = new ArrayBuffer[Double](pts.length + 8)
      @inline def inside(x: Double, y: Double): Boolean = edge match {
        case 0 => x >= w
        case 1 => x <= e
        case 2 => y >= s
        case _ => y <= n
      }
      @inline def intersect(x1: Double, y1: Double, x2: Double, y2: Double): (Double, Double) =
        edge match {
          case 0 => (w, y1 + (y2 - y1) * (w - x1) / (x2 - x1))
          case 1 => (e, y1 + (y2 - y1) * (e - x1) / (x2 - x1))
          case 2 => (x1 + (x2 - x1) * (s - y1) / (y2 - y1), s)
          case _ => (x1 + (x2 - x1) * (n - y1) / (y2 - y1), n)
        }
      val nPts = pts.length / 2
      var i = 0
      while (i < nPts) {
        val j = (i + 1) % nPts
        val (x1, y1) = (pts(2 * i), pts(2 * i + 1))
        val (x2, y2) = (pts(2 * j), pts(2 * j + 1))
        val in1 = inside(x1, y1); val in2 = inside(x2, y2)
        if (in1) { out += x1; out += y1 }
        if (in1 != in2) {
          val (ix, iy) = intersect(x1, y1, x2, y2)
          out += ix; out += iy
        }
        i += 1
      }
      pts = out.toArray
      edge += 1
    }
    if (pts.length < 6) Array.emptyDoubleArray else pts
  }

  /** Clip a polygon geometry to a cell's bounds; empty Geom if disjoint. */
  def clipToCell(geom: Geom, cell: Long): Geom = {
    val (w, s, e, n) = CellMath.cellBounds(cell)
    val rings = geom.rings.iterator
      .map(clipRingToRect(_, w, s, e, n))
      .filter(_.nonEmpty)
      .toArray
    Geom(Geom.Poly, rings)
  }

  // ------------------------------------------------------------------
  // Distance & proximity scoring (H5/H6)
  // ------------------------------------------------------------------

  final val EarthRadiusKm = 6371.0088

  def haversineKm(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val p = math.Pi / 180.0
    val dLat = (lat2 - lat1) * p
    val dLon = (lon2 - lon1) * p
    val a = math.sin(dLat / 2) * math.sin(dLat / 2) +
      math.cos(lat1 * p) * math.cos(lat2 * p) * math.sin(dLon / 2) * math.sin(dLon / 2)
    2.0 * EarthRadiusKm * math.asin(math.min(1.0, math.sqrt(a)))
  }

  /** [[graft.functions.F.haversineKm]] bit for bit: its operation order,
    * Spark's `StrictMath.pow` and `Math.sin/cos/asin/sqrt`, and `least(1.0,
    * x)`, which keeps 1.0 for a NaN x (Spark orders NaN above numbers).
    * `pow(v, 2)` is `v * v`, fdlibm's own case for y = 2, and `asin` is
    * [[asin]] (GeoSpec checks both). */
  def sparkHaversineKm(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val p = math.Pi / 180.0
    val sLat = math.sin((lat2 - lat1) * p / 2); val sLon = math.sin((lon2 - lon1) * p / 2)
    val a = sLat * sLat + math.cos(lat1 * p) * math.cos(lat2 * p) * (sLon * sLon)
    val s = math.sqrt(a)
    2.0 * EarthRadiusKm * asin(if (s < 1.0) s else 1.0)
  }

  // e_asin.c's constants, by their bits
  private def hexD(bits: Long): Double = java.lang.Double.longBitsToDouble(bits)
  private val pio2Hi = hexD(0x3FF921FB54442D18L); private val pio2Lo = hexD(0x3C91A62633145C07L)
  private val pio4Hi = hexD(0x3FE921FB54442D18L)
  private val pS0 = hexD(0x3FC5555555555555L); private val pS1 = hexD(0xBFD4D61203EB6F7DL)
  private val pS2 = hexD(0x3FC9C1550E884455L); private val pS3 = hexD(0xBFA48228B5688F3BL)
  private val pS4 = hexD(0x3F49EFE07501B288L); private val pS5 = hexD(0x3F023DE10DFDF709L)
  private val qS1 = hexD(0xC0033A271C8A2D4BL); private val qS2 = hexD(0x40002AE59C598AC8L)
  private val qS3 = hexD(0xBFE6066C1B8D0159L); private val qS4 = hexD(0x3FB3B8C5B12E9282L)

  /** `Math.asin` bit for bit: fdlibm's `e_asin.c`, which `StrictMath.asin`
    * specifies, with `Math.sqrt` for fdlibm's own sqrt (both correctly
    * rounded, so equal). A JDK 17 runs the C fdlibm with a bit-by-bit
    * software sqrt: ~280 ns for |x| ≥ 0.5, against ~20 ns here (GeoSpec
    * checks the two agree). */
  def asin(x: Double): Double = {
    val bits = java.lang.Double.doubleToRawLongBits(x)
    val hx = (bits >> 32).toInt
    val ix = hx & 0x7fffffff
    if (ix >= 0x3ff00000) { // |x| >= 1: ±pi/2 at ±1, else NaN
      if (((ix - 0x3ff00000) | bits.toInt) == 0) x * pio2Hi + x * pio2Lo
      else (x - x) / (x - x)
    } else if (ix < 0x3fe00000) { // |x| < 0.5
      if (ix < 0x3e400000) x // |x| < 2^-27
      else {
        val t = x * x
        val p = t * (pS0 + t * (pS1 + t * (pS2 + t * (pS3 + t * (pS4 + t * pS5)))))
        val q = 1.0 + t * (qS1 + t * (qS2 + t * (qS3 + t * qS4)))
        x + x * (p / q)
      }
    } else { // 0.5 <= |x| < 1
      val t = (1.0 - math.abs(x)) * 0.5
      val p = t * (pS0 + t * (pS1 + t * (pS2 + t * (pS3 + t * (pS4 + t * pS5)))))
      val q = 1.0 + t * (qS1 + t * (qS2 + t * (qS3 + t * qS4)))
      val s = math.sqrt(t)
      val r =
        if (ix >= 0x3FEF3333) pio2Hi - (2.0 * (s + s * (p / q)) - pio2Lo) // |x| > 0.975
        else {
          val w = hexD(java.lang.Double.doubleToRawLongBits(s) & 0xFFFFFFFF00000000L)
          val c = (t - w * w) / (s + w)
          pio4Hi - (2.0 * s * (p / q) - (pio2Lo - 2.0 * c) - (pio4Hi - 2.0 * w))
        }
      if (hx > 0) r else -r
    }
  }

  /** Frozen proximity decay (FIXTURES.md; reference constants live in
    * upstream `lib/util/proximity.js` [U~] and are re-derived when the
    * reference tree appears). Pure rational arithmetic — no transcendentals —
    * so the DuckDB oracle reproduces it bit-for-bit given the same distance:
    *   scoredist = score / (1 + distKm / 40.0)
    */
  final val ProximityScaleKm = 40.0
  def scoredist(score: Double, distKm: Double): Double =
    score / (1.0 + distKm / ProximityScaleKm)

  // ------------------------------------------------------------------
  // Convex hull (Andrew's monotone chain, strict turns) over integer
  // lattice points — exact Long cross products (coords < 2^20 keep the
  // products < 2^41). Returns the EXTREME points only: collinear
  // boundary points and duplicates are dropped, which is the property
  // the hull-of-hulls merge and the SQL extreme-point oracle both pin.
  // ------------------------------------------------------------------

  /** Extreme points of the set, CCW from the lexicographic minimum.
    * n<=2 distinct points are all extreme; all-collinear inputs return
    * the two endpoints. hull(hull(S1) ∪ … ∪ hull(Sk)) == hull(∪ Si),
    * so partial hulls merge exactly (the distributed two-level shape). */
  def convexHull(pts: Array[(Long, Long)]): Array[(Long, Long)] = {
    val p = pts.distinct.sorted
    val n = p.length
    if (n <= 2) return p
    @inline def cross(o: (Long, Long), a: (Long, Long), b: (Long, Long)): Long =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    val h = new Array[(Long, Long)](2 * n)
    var k = 0
    var i = 0
    while (i < n) { // lower hull (strict left turns only: pop on cross <= 0)
      while (k >= 2 && cross(h(k - 2), h(k - 1), p(i)) <= 0) k -= 1
      h(k) = p(i); k += 1; i += 1
    }
    val lower = k + 1
    i = n - 2
    while (i >= 0) { // upper hull
      while (k >= lower && cross(h(k - 2), h(k - 1), p(i)) <= 0) k -= 1
      h(k) = p(i); k += 1; i -= 1
    }
    java.util.Arrays.copyOfRange(h.asInstanceOf[Array[AnyRef]], 0, k - 1)
      .asInstanceOf[Array[(Long, Long)]]
  }
}
