package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import org.locationtech.jts.geom.{GeometryFactory, Coordinate, Polygon => JtsPolygon}

/** Geometry kernel tests. JTS (on the Spark classpath) is used ONLY as a
  * test oracle for PIP correctness (SURVEY.md §1.2) — never in main code. */
class GeoSpec extends AnyFunSuite {
  import Geo._

  private val gf = new GeometryFactory()

  /** Deterministic random simple polygon: star-shaped around a center
    * (vertices at sorted angles, varying radii) — always simple. */
  private def randomPolygon(r: Random, nV: Int): Array[Double] = {
    val cx = r.nextDouble() * 300 - 150
    val cy = r.nextDouble() * 140 - 70
    val angles = Array.fill(nV)(r.nextDouble() * 2 * math.Pi).sorted
    val radii = Array.fill(nV)(0.5 + r.nextDouble() * 4.0)
    val pts = angles.zip(radii).map { case (a, rad) =>
      (cx + rad * math.cos(a), cy + rad * math.sin(a))
    }
    val closed = pts :+ pts.head
    closed.flatMap { case (x, y) => Array(x, y) }
  }

  private def toJts(ring: Array[Double]): JtsPolygon = {
    val coords = ring.grouped(2).map(p => new Coordinate(p(0), p(1))).toArray
    gf.createPolygon(coords)
  }

  test("WKB point roundtrip") {
    val wkb = writeWkbPoint(12.34, -56.78)
    val g = parseWkb(wkb)
    assert(g.isPoint && g.firstLon == 12.34 && g.firstLat == -56.78)
  }

  test("WKB Z/M geometry types are rejected loudly, not silently misparsed") {
    // take a valid point WKB and patch the type to 1001 (PointZ)
    val wkb = writeWkbPoint(1.0, 2.0)
    val bb = java.nio.ByteBuffer.wrap(wkb.clone()).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.position(1); bb.putInt(1001)
    val e = intercept[IllegalArgumentException](parseWkb(bb.array()))
    assert(e.getMessage.contains("Z/M"))
  }

  test("WKB polygon roundtrip, little and big endian") {
    val ring = Array(0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 4.0, 0.0, 0.0)
    val wkb = writeWkbPolygon(Array(ring))
    val g = parseWkb(wkb)
    assert(g.isPoly && g.rings.length == 1 && g.rings(0).sameElements(ring))
    // big-endian variant
    val bb = java.nio.ByteBuffer.allocate(wkb.length)
    bb.put(0.toByte).putInt(3).putInt(1).putInt(5)
    ring.foreach(bb.putDouble)
    val g2 = parseWkb(bb.array())
    assert(g2.isPoly && g2.rings(0).sameElements(ring))
  }

  test("PIP basic square with hole") {
    val outer = Array(0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0, 0.0, 0.0)
    val hole = Array(4.0, 4.0, 6.0, 4.0, 6.0, 6.0, 4.0, 6.0, 4.0, 4.0)
    val rings = Array(outer, hole)
    assert(pointInRings(rings, 2.0, 2.0))
    assert(!pointInRings(rings, 5.0, 5.0)) // inside hole
    assert(!pointInRings(rings, 11.0, 5.0))
    assert(pointInRings(rings, 6.5, 6.5))
  }

  test("PIP matches JTS on random star polygons and random points") {
    val r = new Random(7)
    var checked = 0
    for (_ <- 1 to 300) {
      val ring = randomPolygon(r, 5 + r.nextInt(40))
      val jts = toJts(ring)
      val wkb = writeWkbPolygon(Array(ring))
      for (_ <- 1 to 40) {
        val px = ring(0) + (r.nextDouble() - 0.5) * 12
        val py = ring(1) + (r.nextDouble() - 0.5) * 12
        val pt = gf.createPoint(new Coordinate(px, py))
        // skip points within epsilon of the boundary (edge convention differs)
        if (jts.getBoundary.distance(pt) > 1e-9) {
          assert(pipWkb(wkb, px, py) == jts.contains(pt),
            s"PIP mismatch at ($px,$py) ring=${ring.mkString(",")}")
          checked += 1
        }
      }
    }
    assert(checked > 10000)
  }

  test("multipolygon PIP: either part contains") {
    val a = Array(0.0, 0.0, 2.0, 0.0, 2.0, 2.0, 0.0, 2.0, 0.0, 0.0)
    val b = Array(10.0, 10.0, 12.0, 10.0, 12.0, 12.0, 10.0, 12.0, 10.0, 10.0)
    val bb = java.nio.ByteBuffer.allocate(9 + 2 * (9 + 4 + 5 * 16))
    bb.put(1.toByte).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(6).putInt(2)
    for (ring <- Seq(a, b)) {
      bb.put(1.toByte).putInt(3).putInt(1).putInt(5)
      ring.foreach(bb.putDouble)
    }
    val wkb = bb.array()
    assert(pipWkb(wkb, 1.0, 1.0))
    assert(pipWkb(wkb, 11.0, 11.0))
    assert(!pipWkb(wkb, 5.0, 5.0))
  }

  test("tileCover of a point is its cell") {
    val g = parseWkb(writeWkbPoint(10.0, 20.0))
    assert(tileCover(g, 12).sameElements(Array(CellMath.lonLatToCell(12, 10.0, 20.0))))
  }

  test("tileCover contains the cell of every interior point") {
    val r = new Random(13)
    for (_ <- 1 to 150) {
      val ring = randomPolygon(r, 6 + r.nextInt(20))
      val jts = toJts(ring)
      val g = parseWkb(writeWkbPolygon(Array(ring)))
      val z = 6 + r.nextInt(6)
      val cover = tileCover(g, z).toSet
      assert(cover.nonEmpty)
      // sample interior points via JTS
      var found = 0
      var tries = 0
      while (found < 15 && tries < 300) {
        val env = jts.getEnvelopeInternal
        val px = env.getMinX + r.nextDouble() * env.getWidth
        val py = env.getMinY + r.nextDouble() * env.getHeight
        if (jts.contains(gf.createPoint(new Coordinate(px, py)))) {
          val cell = CellMath.lonLatToCell(z, px, py)
          assert(cover.contains(cell),
            s"z=$z interior point ($px,$py) cell not covered")
          found += 1
        }
        tries += 1
      }
    }
  }

  test("tileCover of a segment covers both endpoints' cells and is connected-ish") {
    val path = Array(-10.0, -10.0, 15.0, 22.0)
    val g = Geom(Geom.Line, Array(path))
    val cover = tileCover(g, 8).toSet
    assert(cover.contains(CellMath.lonLatToCell(8, -10.0, -10.0)))
    assert(cover.contains(CellMath.lonLatToCell(8, 15.0, 22.0)))
  }

  test("haversine known values") {
    // London (−0.1278, 51.5074) to Paris (2.3522, 48.8566) ≈ 343.5 km
    val d = haversineKm(-0.1278, 51.5074, 2.3522, 48.8566)
    assert(math.abs(d - 343.5) < 1.5, s"got $d")
    assert(haversineKm(10, 20, 10, 20) == 0.0)
  }

  test("asin is Math.asin and v * v is StrictMath.pow(v, 2), bit for bit") {
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    def same(a: Double, b: Double) = bits(a) == bits(b) || (a.isNaN && b.isNaN)
    val r = new java.util.SplittableRandom(20261019L)
    val hx = Seq(0x3ff00000L, 0x3fe00000L, 0x3e400000L, 0x3FEF3333L).flatMap(h => Seq(h << 32, (h << 32) - 1))
    val edges = Seq(0.0, -0.0, 1.0, -1.0, 0.5, -0.5, 0.975, Math.nextUp(1.0), 2.0, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue, 1e-300) ++
      hx.map(java.lang.Double.longBitsToDouble).flatMap(x => Seq(x, -x))
    val xs = edges ++ Seq.fill(2000000)(r.nextDouble() * 2 - 1) ++
      Seq.fill(200000)(1.0 - math.pow(10, -r.nextDouble() * 17)) ++
      Seq.fill(200000)(java.lang.Double.longBitsToDouble(r.nextLong()))
    xs.foreach { x =>
      assert(same(asin(x), Math.asin(x)), s"asin($x): ${asin(x)} vs ${Math.asin(x)}")
      assert(bits(x * x) == bits(StrictMath.pow(x, 2)) || x.isNaN, s"pow($x, 2)")
    }
  }

  test("scoredist is monotone decreasing in distance") {
    assert(scoredist(100.0, 0.0) == 100.0)
    assert(scoredist(100.0, 40.0) == 50.0)
    assert(scoredist(100.0, 10.0) > scoredist(100.0, 20.0))
  }

  test("clipRingToRect: PIP on clipped ring equals PIP on original for rect-interior points") {
    var seed = 0xC11FBEEFL
    def rnd(): Double = { seed = seed * 6364136223846793005L + 1442695040888963407L; ((seed >>> 11).toDouble / (1L << 53).toDouble) }
    var trial = 0
    while (trial < 60) {
      // random star polygon around a random center
      val cx = rnd() * 300 - 150; val cy = rnd() * 140 - 70
      val nV = 6 + (rnd() * 20).toInt
      val ring = new Array[Double](nV * 2)
      var i = 0
      while (i < nV) {
        val ang = 2 * math.Pi * i / nV
        val r = 1.0 + rnd() * 4.0
        ring(2 * i) = cx + r * math.cos(ang)
        ring(2 * i + 1) = cy + r * math.sin(ang)
        i += 1
      }
      // random clip rect near the polygon
      val w = cx - 3 + rnd() * 2; val e = w + 1 + rnd() * 4
      val s0 = cy - 3 + rnd() * 2; val n = s0 + 1 + rnd() * 4
      val clipped = clipRingToRect(ring, w, s0, e, n)
      var probe = 0
      while (probe < 40) {
        // strictly interior to the rect (margin keeps off clip edges)
        val px = w + 0.05 + rnd() * (e - w - 0.1)
        val py = s0 + 0.05 + rnd() * (n - s0 - 0.1)
        val orig = pointInRings(Array(ring), px, py)
        val clip = clipped.nonEmpty && pointInRings(Array(clipped), px, py)
        assert(orig == clip, s"trial $trial probe ($px,$py): orig=$orig clip=$clip")
        probe += 1
      }
      trial += 1
    }
  }

  test("polysOverlap ≡ JTS positive-area intersection on random simple polygons") {
    val r = new Random(1234)
    var skipped = 0; var overlaps = 0; var checked = 0
    (0 until 400).foreach { trial =>
      val ra = randomPolygon(r, 5 + r.nextInt(6))
      // translate B near A (independent centers span 300°×140° — the pair
      // would practically never overlap and the test would prove nothing)
      val rb0 = randomPolygon(r, 5 + r.nextInt(6))
      val dx = ra(0) - rb0(0) + (r.nextDouble() * 12 - 6)
      val dy = ra(1) - rb0(1) + (r.nextDouble() * 12 - 6)
      val rb = rb0.zipWithIndex.map { case (v, i) => if (i % 2 == 0) v + dx else v + dy }
      val mine = Geo.polysOverlap(
        Geom(Geom.Poly, Array(ra)), Geom(Geom.Poly, Array(rb)))
      // interior∩interior is 2-dimensional ⇔ areas overlap (relate avoids
      // JTS overlay's non-noded-intersection robustness failures; the rare
      // trial where even relate throws is skipped and counted)
      val jtsOpt = try Some(toJts(ra).relate(toJts(rb)).matches("2********"))
      catch { case _: org.locationtech.jts.geom.TopologyException => None }
      jtsOpt match {
        case Some(jts) =>
          assert(mine == jts, s"trial $trial: mine=$mine jts=$jts")
          checked += 1; if (jts) overlaps += 1
        case None => skipped += 1
      }
    }
    // the fixture must exercise both outcomes or the test proves nothing
    assert(skipped < 20, s"JTS oracle unusable: $skipped/400 skipped")
    assert(overlaps > 20 && overlaps < checked - 20,
      s"degenerate fixture: $overlaps/$checked")
  }

  test("polysOverlap: containment without edge crossings, disjoint, crossing star") {
    def poly(ring: Array[Double]) = Geom(Geom.Poly, Array(ring))
    val outer = poly(Array(0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0, 0.0, 0.0))
    val inner = poly(Array(4.0, 4.0, 6.0, 4.0, 6.0, 6.0, 4.0, 6.0, 4.0, 4.0))
    assert(Geo.polysOverlap(outer, inner) && Geo.polysOverlap(inner, outer))
    val far = poly(Array(20.0, 20.0, 21.0, 20.0, 21.0, 21.0, 20.0, 21.0, 20.0, 20.0))
    assert(!Geo.polysOverlap(outer, far))
    // plus-sign cross: interiors overlap, NO vertex of either inside the other
    val hbar = poly(Array(-1.0, 4.0, 11.0, 4.0, 11.0, 6.0, -1.0, 6.0, -1.0, 4.0))
    assert(Geo.polysOverlap(outer, hbar) && Geo.polysOverlap(hbar, outer))
  }

  test("clipToCell: empty when disjoint, bounded by cell when overlapping") {
    val cell = CellMath.lonLatToCell(8, 10.0, 50.0)
    val (w, s0, e, n) = CellMath.cellBounds(cell)
    val far = Geom(Geom.Poly, Array(Array(100.0, -50.0, 101.0, -50.0, 101.0, -49.0, 100.0, -49.0, 100.0, -50.0)))
    assert(clipToCell(far, cell).rings.isEmpty)
    val big = Geom(Geom.Poly, Array(Array(w - 5, s0 - 5, e + 5, s0 - 5, e + 5, n + 5, w - 5, n + 5, w - 5, s0 - 5)))
    val c = clipToCell(big, cell)
    assert(c.rings.length == 1)
    c.rings(0).grouped(2).foreach { case Array(x, y) =>
      assert(x >= w - 1e-9 && x <= e + 1e-9 && y >= s0 - 1e-9 && y <= n + 1e-9)
    }
  }

  test("polysOverlap: degenerate lattice coincidences are decided EXACTLY") {
    import graft.core.Geo
    def poly(pts: Double*) = Geo.Geom(Geo.Geom.Poly, Array(pts.toArray))
    val square = poly(0, 0, 2, 0, 2, 2, 0, 2, 0, 0)
    // diamond whose edges pass exactly through the square's corners:
    // interiors overlap, every boundary intersection is vertex-on-edge
    val through = poly(1, -1, 3, 1, 1, 3, -1, 1, 1, -1)
    assert(Geo.polysOverlap(square, through) && Geo.polysOverlap(through, square))
    // inscribed diamond, vertices ON the square's edges: contained interior
    val inscribed = poly(1, 0, 2, 1, 1, 2, 0, 1, 1, 0)
    assert(Geo.polysOverlap(square, inscribed) && Geo.polysOverlap(inscribed, square))
    // two squares sharing ONLY the corner (2,2): interiors disjoint — the
    // r4 half-open shortcut reported a FALSE POSITIVE here; the exact
    // kernel (boundary probes, not vertex half-open PIP) must say no
    val corner = poly(2, 2, 4, 2, 4, 4, 2, 4, 2, 2)
    assert(!Geo.polysOverlap(square, corner) && !Geo.polysOverlap(corner, square))
    // shared-edge squares: interiors disjoint, boundary overlap is a full
    // collinear segment (split points are the shared-edge vertices)
    val beside = poly(2, 0, 4, 0, 4, 2, 2, 2, 2, 0)
    assert(!Geo.polysOverlap(square, beside) && !Geo.polysOverlap(beside, square))
    // identical polygons: boundaries coincide, interiors equal → overlap
    assert(Geo.polysOverlap(square, poly(0, 0, 2, 0, 2, 2, 0, 2, 0, 0)))
    // vertex-on-edge T-touch from outside: disjoint interiors
    val tee = poly(1, 2, 3, 4, -1, 4, 1, 2)
    assert(!Geo.polysOverlap(square, tee) && !Geo.polysOverlap(tee, square))
  }

  test("polysOverlap ≡ JTS 2D-interior relate on coarse-lattice triangles (degeneracy-rich)") {
    // step-1° integer coordinates in a 5×5 box: shared vertices, vertex-on-
    // edge and collinear-edge configurations occur constantly — the regime
    // the exact quantized kernel exists for (the random-double test above
    // never hits it)
    val r = new Random(4242)
    def latTri(): Array[Double] = {
      while (true) {
        val ax = r.nextInt(5).toDouble; val ay = r.nextInt(5).toDouble
        val bx = r.nextInt(5).toDouble; val by = r.nextInt(5).toDouble
        val cx = r.nextInt(5).toDouble; val cy = r.nextInt(5).toDouble
        if ((bx - ax) * (cy - ay) - (by - ay) * (cx - ax) != 0)
          return Array(ax, ay, bx, by, cx, cy, ax, ay)
      }
      throw new IllegalStateException
    }
    var checked = 0; var overlaps = 0; var degenerateTouches = 0
    (0 until 800).foreach { trial =>
      val ta = latTri(); val tb = latTri()
      val mine = Geo.polysOverlap(
        Geom(Geom.Poly, Array(ta)), Geom(Geom.Poly, Array(tb)))
      val ja = toJts(ta); val jb = toJts(tb)
      val jts = ja.relate(jb).matches("2********")
      assert(mine == jts, s"trial $trial a=${ta.mkString(",")} b=${tb.mkString(",")}")
      checked += 1
      if (jts) overlaps += 1
      else if (ja.intersects(jb)) degenerateTouches += 1
    }
    // the generator must exercise overlap, disjoint AND the degenerate
    // touching-but-not-overlapping regime, or the test proves nothing
    assert(overlaps > 100 && overlaps < checked - 50, s"$overlaps/$checked")
    assert(degenerateTouches > 30, s"only $degenerateTouches touching pairs")
    // multipart pairs A = {S1, S2}, B = {S1 or S1', S3}: S2 and S3 in a box
    // 10° east, so each input's parts are disjoint. A shared S1 overlaps
    // even when S2 and S3 do not (every probe of S1 is ON the other's
    // boundary while S2 and S3 probe outside)
    def east(t: Array[Double]) = t.indices.map(i => if (i % 2 == 0) t(i) + 10 else t(i)).toArray
    var sharedOnly = 0
    (0 until 400).foreach { trial =>
      val s1 = latTri(); val s2 = east(latTri()); val s3 = east(latTri())
      val b1 = if (trial % 2 == 0) s1 else latTri()
      val ga = Geom(Geom.Poly, Array(s1, s2)); val gb = Geom(Geom.Poly, Array(b1, s3))
      val jts = gf.createMultiPolygon(Array(toJts(s1), toJts(s2)))
        .relate(gf.createMultiPolygon(Array(toJts(b1), toJts(s3)))).matches("2********")
      assert(Geo.polysOverlap(ga, gb) == jts && Geo.polysOverlap(gb, ga) == jts,
        s"multipart trial $trial a=${s1.mkString(",")} | ${s2.mkString(",")} " +
          s"b=${b1.mkString(",")} | ${s3.mkString(",")}")
      if ((b1 eq s1) && !toJts(s2).relate(toJts(s3)).matches("2********")) sharedOnly += 1
    }
    assert(sharedOnly > 50, s"only $sharedOnly shared-part pairs whose other parts do not overlap")
  }

  test("polysOverlap: holes and multipolygon parts are even-odd first-class") {
    import graft.core.Geo
    def geom(rings: Array[Double]*) = Geo.Geom(Geo.Geom.Poly, rings.toArray)
    // 10×10 square with a 4..6 hole
    val holed = geom(
      Array(0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0, 0.0, 0.0),
      Array(4.0, 4.0, 6.0, 4.0, 6.0, 6.0, 4.0, 6.0, 4.0, 4.0))
    // entirely inside the hole: the hole EXCLUDES it → no interior overlap
    val inHole = geom(Array(4.5, 4.5, 5.5, 4.5, 5.5, 5.5, 4.5, 5.5, 4.5, 4.5))
    assert(!Geo.polysOverlap(holed, inHole) && !Geo.polysOverlap(inHole, holed))
    // exactly filling the hole (boundary = hole ring): still no overlap
    val fillHole = geom(Array(4.0, 4.0, 6.0, 4.0, 6.0, 6.0, 4.0, 6.0, 4.0, 4.0))
    assert(!Geo.polysOverlap(holed, fillHole) && !Geo.polysOverlap(fillHole, holed))
    // spanning the hole boundary: overlaps the solid part
    val spans = geom(Array(3.0, 3.0, 5.0, 3.0, 5.0, 5.0, 3.0, 5.0, 3.0, 3.0))
    assert(Geo.polysOverlap(holed, spans) && Geo.polysOverlap(spans, holed))
    // two disjoint parts as one multipolygon-flattened Geom: a probe hitting
    // either part overlaps; between the parts (even-odd outside) does not
    val multi = geom(
      Array(0.0, 0.0, 2.0, 0.0, 2.0, 2.0, 0.0, 2.0, 0.0, 0.0),
      Array(8.0, 0.0, 10.0, 0.0, 10.0, 2.0, 8.0, 2.0, 8.0, 0.0))
    val betw = geom(Array(4.0, 0.0, 6.0, 0.0, 6.0, 2.0, 4.0, 2.0, 4.0, 0.0))
    val onPart = geom(Array(1.0, 0.5, 1.5, 0.5, 1.5, 1.5, 1.0, 1.5, 1.0, 0.5))
    assert(!Geo.polysOverlap(multi, betw) && Geo.polysOverlap(multi, onPart))
    // boundary-COINCIDENT part subset: one polygon IS a part of the multi —
    // no proper crossing, every probe of the part lies ON the multi's
    // boundary, yet interiors overlap (decided by the exact rational
    // interior-point probe; the boundaries-must-be-equal shortcut said no)
    val part1 = geom(Array(0.0, 0.0, 2.0, 0.0, 2.0, 2.0, 0.0, 2.0, 0.0, 0.0))
    assert(Geo.polysOverlap(multi, part1) && Geo.polysOverlap(part1, multi))
    // and a part-sized square coincident with part1's boundary but offset
    // to cover the GAP keeps reading false (interiors disjoint)
    assert(!Geo.polysOverlap(multi, betw) && !Geo.polysOverlap(betw, multi))
    // WKB MultiPolygon round-trip feeds the same kernel
    val wkbMulti = {
      val p1 = Geo.writeWkbPolygon(Array(Array(0.0, 0.0, 2.0, 0.0, 2.0, 2.0, 0.0, 2.0, 0.0, 0.0)))
      val p2 = Geo.writeWkbPolygon(Array(Array(8.0, 0.0, 10.0, 0.0, 10.0, 2.0, 8.0, 2.0, 8.0, 0.0)))
      val bb = java.nio.ByteBuffer.allocate(9 + p1.length + p2.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(1.toByte); bb.putInt(6); bb.putInt(2); bb.put(p1); bb.put(p2)
      Geo.parseWkb(bb.array())
    }
    assert(!Geo.polysOverlap(wkbMulti, betw) && Geo.polysOverlap(wkbMulti, onPart))
  }

  test("polyMomentsQ: exact shoelace area + centroid vs JTS on lattice polygons") {
    // fixed CCW rect (w,s,e,n) = (1,2,4,6): A2 = 2·3000·4000 exactly,
    // centroid at the midpoint (2.5, 4.0) = (2500, 4000) milli
    val rect = parseWkb(writeWkbPolygon(Array(
      Array(1.0, 2.0, 4.0, 2.0, 4.0, 6.0, 1.0, 6.0, 1.0, 2.0))))
    val Array(ra2, rcx6, rcy6) = polyMomentsQ(rect)
    assert(ra2 == 2L * 3000 * 4000)
    assert(rcx6.toDouble / (3.0 * ra2) == 2500.0)
    assert(rcy6.toDouble / (3.0 * ra2) == 4000.0)
    // random simple polygons snapped to the 0.001° lattice: the integer
    // kernel must agree with JTS's double shoelace on the same vertices
    val r = new Random(77)
    var checked = 0
    (0 until 60).foreach { trial =>
      val snapped = randomPolygon(r, 3 + r.nextInt(8))
        .map(v => math.rint(v * 1000.0) / 1000.0)
      val Array(a2, cx6, cy6) = polyMomentsQ(parseWkb(writeWkbPolygon(Array(snapped))))
      if (a2 != 0) {
        val jts = toJts(snapped)
        assert(math.abs(math.abs(a2.toDouble) / 2.0e6 - jts.getArea) < 1e-7,
          s"trial $trial area: a2=$a2 jts=${jts.getArea}")
        val c = jts.getCentroid
        assert(math.abs(cx6.toDouble / (3.0 * a2) / 1000.0 - c.getX) < 1e-6,
          s"trial $trial cx")
        assert(math.abs(cy6.toDouble / (3.0 * a2) / 1000.0 - c.getY) < 1e-6,
          s"trial $trial cy")
        checked += 1
      }
    }
    assert(checked >= 55, s"degenerate fixture: only $checked/60 non-zero areas")
  }
}
