package graft.core

/** Cell-key math for the tile/cell index.
  *
  * Re-expresses the reference's grid keys (carmen packs `x:14|y:14|...` per
  * zoom; see SURVEY.md §2.H7 / upstream `lib/util/grid.js` [U]) as a single
  * 61-bit packed key `z:5 | x:28 | y:28`, so one Long column addresses every
  * zoom 0..28. All functions are pure, allocation-free bit/FP math, safe to
  * call from codegen'd Catalyst expressions.
  *
  * Web-mercator convention matches the slippy-map / tilebelt scheme the
  * reference uses (`lib/context.js` pointToTile [U]):
  *   x = floor((lon+180)/360 * 2^z)
  *   y = floor((1 - ln(tan(latRad) + 1/cos(latRad))/pi) / 2 * 2^z)
  *
  * IMPORTANT for the DuckDB oracle: the expression is written exactly as
  * `lat * PI / 180` (NOT Math.toRadians, which computes `lat/180*PI` and can
  * round differently) so the SQL mirror `lat*pi()/180.0` evaluates the same
  * double. See FIXTURES.md §4.
  */
object CellMath {
  final val MaxZ = 28

  // ---- packing: z:5 (bits 60..56) | x:28 (55..28) | y:28 (27..0) ----
  @inline def pack(z: Int, x: Long, y: Long): Long =
    (z.toLong << 56) | (x << 28) | y
  @inline def zOf(cell: Long): Int = ((cell >>> 56) & 0x1fL).toInt
  @inline def xOf(cell: Long): Long = (cell >>> 28) & 0xfffffffL
  @inline def yOf(cell: Long): Long = cell & 0xfffffffL

  /** Number of tiles along one axis at zoom z. */
  @inline def n(z: Int): Long = 1L << z

  // ---- lon/lat -> tile ----
  def lonToX(z: Int, lon: Double): Long = {
    val nn = (1L << z).toDouble
    val raw = math.floor((lon + 180.0) / 360.0 * nn)
    clampIdx(raw, z)
  }

  /** Mercator y. Written to mirror the SQL form token-for-token:
    * floor(n * (1 - ln(tan(lat*pi/180) + 1/cos(lat*pi/180))/pi) / 2).
    */
  def latToY(z: Int, lat: Double): Long = {
    val nn = (1L << z).toDouble
    val latRad = lat * math.Pi / 180.0
    val raw = math.floor(
      nn * (1.0 - math.log(math.tan(latRad) + 1.0 / math.cos(latRad)) / math.Pi) / 2.0)
    clampIdx(raw, z)
  }

  @inline private def clampIdx(raw: Double, z: Int): Long = {
    val max = (1L << z) - 1
    if (raw.isNaN) 0L
    else if (raw < 0) 0L
    else if (raw > max) max
    else raw.toLong
  }

  def lonLatToCell(z: Int, lon: Double, lat: Double): Long =
    pack(z, lonToX(z, lon), latToY(z, lat))

  /** West edge longitude of tile x at zoom z. */
  def tileLonWest(z: Int, x: Long): Double = x.toDouble / (1L << z).toDouble * 360.0 - 180.0
  /** North edge latitude of tile y at zoom z (inverse mercator). */
  def tileLatNorth(z: Int, y: Long): Double = {
    val nn = (1L << z).toDouble
    val yy = math.Pi * (1.0 - 2.0 * y.toDouble / nn)
    math.atan(math.sinh(yy)) * 180.0 / math.Pi
  }
  /** (west, south, east, north) of a cell. */
  def cellBounds(cell: Long): (Double, Double, Double, Double) = {
    val z = zOf(cell); val x = xOf(cell); val y = yOf(cell)
    (tileLonWest(z, x), tileLatNorth(z, y + 1), tileLonWest(z, x + 1), tileLatNorth(z, y))
  }
  /** Center lon/lat of a cell. */
  def cellCenter(cell: Long): (Double, Double) = {
    val (w, s, e, nn) = cellBounds(cell)
    ((w + e) / 2.0, (s + nn) / 2.0)
  }

  // ---- hierarchy ----
  /** Ancestor of `cell` at zoom `zp` (zp <= z). Mirrors carmen's coalesce
    * zoom-alignment `x >> dz` (SURVEY.md §2.D2). */
  def parentCell(cell: Long, zp: Int): Long = {
    val z = zOf(cell)
    require(zp <= z, s"parent zoom $zp > cell zoom $z")
    val dz = z - zp
    pack(zp, xOf(cell) >>> dz, yOf(cell) >>> dz)
  }

  /** Direct 4 children at z+1. */
  def childrenCells(cell: Long): Array[Long] = {
    val z = zOf(cell); val x = xOf(cell) << 1; val y = yOf(cell) << 1
    Array(pack(z + 1, x, y), pack(z + 1, x + 1, y),
          pack(z + 1, x, y + 1), pack(z + 1, x + 1, y + 1))
  }

  /** Cells at Chebyshev distance exactly r from `cell` at same zoom,
    * clamped to the grid (no antimeridian wrap in v1; points near the
    * dateline simply see a truncated ring). r=0 returns the cell itself.
    * Used by the kNN ring-expansion reverse geocode (SURVEY.md §2.D6). */
  def ringCells(cell: Long, r: Int): Array[Long] =
    if (r < 0) Array.emptyLongArray else annulusCells(cell, r - 1, r)

  /** All cells within Chebyshev distance r (disk = rings 0..r). */
  def diskCells(cell: Long, r: Int): Array[Long] =
    if (r < 0) Array.emptyLongArray else annulusCells(cell, -1, r)

  /** Cells with Chebyshev distance in (rIn, rOut] — the annulus between two
    * disks (rIn = -1 degenerates to the full disk), ring by ring, each
    * ring by dx then dy ascending, clamped to the grid like [[ringCells]].
    * Written into one primitive array of the unclamped size, trimmed once
    * when the grid edge clamps it.
    * Used by the expanding-ring kNN's over-ceiling round loop (and the
    * `knn_disk` query): a residual point's previous disk is
    * provably feature-free, so the next round probes only the new annulus
    * (ring explode volume drops ~30% across the 1,2,4,8 schedule). */
  def annulusCells(cell: Long, rIn: Int, rOut: Int): Array[Long] = {
    require(rIn < rOut, s"annulus needs rIn < rOut, got ($rIn, $rOut)")
    val z = zOf(cell); val x = xOf(cell); val y = yOf(cell)
    val max = (1L << z) - 1
    val inner = if (rIn < 0) 0L else 2L * rIn + 1
    val out = new Array[Long](Math.toIntExact((2L * rOut + 1) * (2L * rOut + 1) - inner * inner))
    var k = 0
    var d = math.max(rIn + 1, 0)
    while (d <= rOut) {
      if (d == 0) { out(k) = cell; k += 1 }
      else {
        var nx = math.max(x - d, 0L)
        while (nx <= math.min(x + d, max)) {
          var ny = math.max(y - d, 0L)
          while (ny <= math.min(y + d, max)) {
            if (math.max(math.abs(nx - x), math.abs(ny - y)) == d) { out(k) = pack(z, nx, ny); k += 1 }
            ny += 1
          }
          nx += 1
        }
      }
      d += 1
    }
    if (k == out.length) out else java.util.Arrays.copyOf(out, k)
  }

  // ---- Hilbert curve (sort/partition key; SURVEY.md §2.H4) ----
  /** Hilbert distance of (x,y) on the 2^z × 2^z grid. Bijection on
    * [0, 4^z). Standard Lam–Shapiro xy2d. */
  def hilbert(z: Int, x0: Long, y0: Long): Long = {
    var x = x0; var y = y0; var d = 0L
    var s: Long = 1L << (z - 1)
    if (z == 0) return 0L
    while (s > 0) {
      val rx = if ((x & s) != 0) 1L else 0L
      val ry = if ((y & s) != 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      // rotate quadrant
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Inverse of [[hilbert]]: distance -> (x, y) at zoom z. */
  def hilbertInv(z: Int, d0: Long): (Long, Long) = {
    var x = 0L; var y = 0L; var d = d0
    var s = 1L
    val nn = 1L << z
    while (s < nn) {
      val rx = 1L & (d / 2)
      val ry = 1L & (d ^ rx)
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      x += s * rx
      y += s * ry
      d /= 4
      s *= 2
    }
    (x, y)
  }

  /** Hilbert order of a packed cell (key for range partitioning, G1). */
  def hilbertOfCell(cell: Long): Long = hilbert(zOf(cell), xOf(cell), yOf(cell))

  /** C3 scale path: a lon/lat bbox → merged, sorted Hilbert-key ranges
    * [lo, hi] at zoom z, for range-predicate pruning against the sorted
    * index (file min/max skipping). The tile set of the bbox maps to
    * scattered Hilbert values; adjacent values merge into maximal runs. */
  /** Tile-count ceiling for exact per-tile range enumeration: above this the
    * box is answered as ONE coarse [min,max] Hilbert range (still correct —
    * range pruning is only ever an over-approximation that the exact
    * geometry predicate re-filters; a world bbox at z14 would otherwise
    * enumerate 2^28 tiles / several GB of Longs, and the Long→Int cast
    * overflowed outright at z>=16). */
  final val MaxRangeTiles = 1 << 20

  def bboxToHilbertRanges(w: Double, s: Double, e: Double, n: Double,
                          z: Int): Array[(Long, Long)] = {
    val x0 = lonToX(z, w); val x1 = lonToX(z, e)
    val y0 = latToY(z, n); val y1 = latToY(z, s)
    val count: Long = (x1 - x0 + 1L) * (y1 - y0 + 1L)
    if (count > MaxRangeTiles) {
      // coarse fallback: hull of the box's Hilbert values. min/max over the
      // boundary is NOT sufficient for Hilbert (interior cells can take the
      // extrema), so take the conservative full-curve hull of the parent
      // cells: walk the box at a coarser zoom where enumeration is bounded,
      // then widen each coarse cell to its descendant Hilbert span at z.
      var zc = z
      var span = 1L
      while ((((x1 >> (z - zc)) - (x0 >> (z - zc)) + 1L) *
              ((y1 >> (z - zc)) - (y0 >> (z - zc)) + 1L)) > MaxRangeTiles) {
        zc -= 1; span <<= 2
      }
      val coarse = bboxToHilbertRanges(w, s, e, n, zc)
      // each coarse cell at zc covers a contiguous aligned block of 4^(z-zc)
      // Hilbert values at z (Hilbert curves recurse per quadrant)
      return coarse.map { case (lo, hi) => (lo * span, (hi + 1) * span - 1) }
    }
    val hs = new Array[Long](count.toInt)
    var i = 0
    var x = x0
    while (x <= x1) {
      var y = y0
      while (y <= y1) { hs(i) = hilbert(z, x, y); i += 1; y += 1 }
      x += 1
    }
    java.util.Arrays.sort(hs)
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var lo = hs(0); var hi = hs(0)
    i = 1
    while (i < hs.length) {
      if (hs(i) == hi + 1) hi = hs(i)
      else { out += ((lo, hi)); lo = hs(i); hi = hs(i) }
      i += 1
    }
    out += ((lo, hi))
    out.toArray
  }
}
