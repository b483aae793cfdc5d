package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.functions._
import graft.core.{CellMath, Geo}
import graft.functions.F

/** The polygon-cover index of one feature set at one zoom: the broadcast
  * form of carmen's tile cover (`lib/context.js` [U]: covering tile, then
  * point-in-polygon on that tile's features; GeoBlocks, PAPERS.md).
  *
  *   - `cells`/`fids`: the distinct (cell, feature_id) cover entries,
  *     sorted by cell, then id — a cell's features are one binary-searched
  *     slice, ids ascending. 16 B per entry.
  *   - `polyIds`/`polys`: every polygon feature's rings, decoded once with
  *     [[Geo.parseWkb]], ids ascending; a feature_id that appears in
  *     several rows keeps each row's rings. 16 B per ring vertex. Empty in
  *     an index built without rings (the [[CellIndex.CellLookup]] probe
  *     reads entries only).
  *
  * [[CellIndex.ContextCover]] walks a cell's slice in id order and stops at
  * the first id whose rings pass [[Geo.pointInRings]] — the cell equi-join,
  * PIP and `min(feature_id)` of [[graft.ops.Geocode.reversePip]] in one
  * probe. [[CellIndex.CellLookup]] returns the slice itself. Past the
  * broadcast ceiling (~10^8 entries plus vertices) the same entries live as
  * the Hilbert-sorted parquet table ([[IndexBuild]]) and the probe is the
  * D5 cell equi-join.
  */
final class CellIndexData(val cells: Array[Long], val fids: Array[Long],
                          polyIds: Array[Long], polys: Array[Array[Array[Array[Double]]]])
    extends Serializable {

  /** All feature ids covering `cell` (ascending, distinct by construction). */
  def lookup(cell: Long): Array[Long] = {
    var i = CellIndex.lowerBound(cells, cell)
    if (i >= cells.length || cells(i) != cell) return Array.emptyLongArray
    val start = i
    while (i < cells.length && cells(i) == cell) i += 1
    java.util.Arrays.copyOfRange(fids, start, i)
  }

  /** Entry index of the smallest feature id covering `cell` with a polygon
    * that contains (lon, lat), or -1. Points, lines and null geometries
    * have no rings here, so they never hit. */
  def firstContaining(cell: Long, lon: Double, lat: Double): Int = {
    var i = CellIndex.lowerBound(cells, cell)
    while (i < cells.length && cells(i) == cell) {
      val p = java.util.Arrays.binarySearch(polyIds, fids(i))
      if (p >= 0) {
        val rows = polys(p)
        var g = 0
        while (g < rows.length) {
          if (Geo.pointInRings(rows(g), lon, lat)) return i
          g += 1
        }
      }
      i += 1
    }
    -1
  }

  def size: Int = cells.length
}

/** The kNN fallback's feature-point index: every feature point as parallel
  * arrays sorted by (cell at one zoom, feature_id). 32 B/point. The
  * `z:5|x:28|y:28` packing makes a disk's grid column (x, ylo..yhi) one key
  * range `[pack(z, x, ylo), pack(z, x, yhi) + 1)` — at y = 2^28 − 1 the
  * `+ 1` carries into x, still the right bound — so [[nearest]] walks
  * disk(r) as 2r + 1 ranges, two binary searches each (GeoBlocks). */
final class PointIndexData(val cells: Array[Long], val fids: Array[Long],
                           val lons: Array[Double], val lats: Array[Double])
    extends Serializable {

  /** Index of the least feature of disk(r) around `cell`, grid-clamped
    * as [[CellMath.diskCells]], by ([[Geo.sparkHaversineKm]] from (lon,
    * lat), feature_id) — doubles compared as Spark's struct ordering does,
    * `==` first, then `Double.compare` — or -1 when the disk is empty. */
  def nearest(cell: Long, lon: Double, lat: Double, r: Int): Int = {
    val z = CellMath.zOf(cell); val x = CellMath.xOf(cell); val y = CellMath.yOf(cell)
    val max = (1L << z) - 1
    val ylo = math.max(0L, y - r); val yhi = math.min(max, y + r)
    var best = -1; var bestD = 0.0
    var cx = math.max(0L, x - r); var from = 0
    while (cx <= math.min(max, x + r)) {
      var i = CellIndex.lowerBound(cells, CellMath.pack(z, cx, ylo), from)
      from = CellIndex.lowerBound(cells, CellMath.pack(z, cx, yhi) + 1, i)
      while (i < from) {
        val d = Geo.sparkHaversineKm(lon, lat, lons(i), lats(i))
        if (best < 0 || (if (d == bestD) fids(i) < fids(best) else java.lang.Double.compare(d, bestD) < 0)) {
          best = i; bestD = d
        }
        i += 1
      }
      cx += 1
    }
    best
  }
}

object CellIndex {

  /** First index of `cells` (ascending) at or after `from` holding a
    * value >= key. */
  private[index] def lowerBound(cells: Array[Long], key: Long, from: Int = 0): Int = {
    var lo = from; var hi = cells.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cells(mid) < key) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Build the [[CellIndexData]] of (feature_id, geom_wkb) features at zoom
    * z. The cover explode, distinct and sort run in Spark (the same rows
    * [[IndexBuild]] writes as the on-disk sorted table); the entries and
    * then the id-sorted geometries stream back one partition at a time into
    * primitive arrays, as in [[buildPoints]]; without `rings` only the
    * entries. Rows with a null id or geometry are skipped: the cell
    * equi-join drops them too. A batch-index build — the caller memoizes it
    * per feature plan, zoom and `rings`. */
  def buildFromFeatures(features: DataFrame, z: Int, rings: Boolean = true): CellIndexData = {
    val fid = col("feature_id").cast("long").as("feature_id")
    val rows = features.filter(col("feature_id").isNotNull && col("geom_wkb").isNotNull)
    val cells = Array.newBuilder[Long]; val fids = Array.newBuilder[Long]
    val it = rows.select(explode(F.tileCover(col("geom_wkb"), lit(z))).as("cell"), fid)
      .distinct().sort("cell", "feature_id").toLocalIterator()
    while (it.hasNext) { val r = it.next(); cells += r.getLong(0); fids += r.getLong(1) }
    val polyIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val polys = scala.collection.mutable.ArrayBuffer.empty[Array[Array[Array[Double]]]]
    val git = if (rings) rows.select(fid, col("geom_wkb")).sort("feature_id").toLocalIterator()
              else java.util.Collections.emptyIterator[org.apache.spark.sql.Row]()
    while (git.hasNext) {
      val r = git.next()
      val g = Geo.parseWkb(r.getAs[Array[Byte]](1))
      if (g.kind == Geo.Geom.Poly) {
        val id = r.getLong(0)
        if (polyIds.nonEmpty && polyIds.last == id) polys(polys.length - 1) :+= g.rings
        else { polyIds += id; polys += Array(g.rings) }
      }
    }
    new CellIndexData(cells.result(), fids.result(), polyIds.toArray, polys.toArray)
  }

  /** Build a [[PointIndexData]] at zoom z from (feature_id, flon, flat),
    * `n` rows at most. The sort runs in Spark and the rows stream back one
    * partition at a time into primitive arrays, so the driver holds the
    * 32 B/point arrays plus one partition of rows. Rows with a null id or
    * coordinate are skipped: the cell equi-join drops them too. */
  def buildPoints(featurePoints: DataFrame, z: Int, n: Long): PointIndexData = {
    require(n <= Int.MaxValue, s"$n feature points do not fit one array")
    val cells = Array.newBuilder[Long]; val fids = Array.newBuilder[Long]
    val lons = Array.newBuilder[Double]; val lats = Array.newBuilder[Double]
    cells.sizeHint(n.toInt); fids.sizeHint(n.toInt); lons.sizeHint(n.toInt); lats.sizeHint(n.toInt)
    val it = featurePoints
      .select(F.cellAt(lit(z), col("flon"), col("flat")).as("cell"),
        col("feature_id").cast("long").as("feature_id"),
        col("flon").cast("double"), col("flat").cast("double"))
      .filter(col("cell").isNotNull && col("feature_id").isNotNull)
      .sort("cell", "feature_id")
      .toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      cells += r.getLong(0); fids += r.getLong(1); lons += r.getDouble(2); lats += r.getDouble(3)
    }
    new PointIndexData(cells.result(), fids.result(), lons.result(), lats.result())
  }

  private val KnnType: StructType = new StructType()
    .add("radius", IntegerType, nullable = false)
    .add("feature_id", LongType, nullable = false)
    .add("dist", DoubleType, nullable = false)

  /** The expanding-ring ladder over `idx`: with t the first position of
    * `ladder` whose disk around `cell` holds a feature, `(t << 32) | i`
    * for that disk's [[PointIndexData.nearest]] feature i, or -1 when
    * disk(ladder.last) is empty. One loop for [[KnnRings]] and the kNN
    * fallback of [[ContextCover]]; packed so the per-row call allocates
    * nothing. */
  private def ladderNearest(idx: PointIndexData, ladder: Array[Int],
                            cell: Long, lon: Double, lat: Double): Long = {
    var t = 0
    while (t < ladder.length) {
      val i = idx.nearest(cell, lon, lat, ladder(t))
      if (i >= 0) return (t.toLong << 32) | i
      t += 1
    }
    -1L
  }

  /** knn_rings(cell, elon, elat): the closed form of the expanding-ring
    * kNN over a broadcast [[PointIndexData]]. With r* the first ladder
    * radius whose disk around `cell` holds a feature, returns
    * `[struct(radius = r*, feature_id, dist)]` for that disk's
    * [[PointIndexData.nearest]] feature, or `[]` when disk(radii.last) is
    * empty — a 0/1-element array consumed by explode, so the optimizer can
    * never inline the kernel into two consumers. */
  case class KnnRings(first: Expression, second: Expression, third: Expression,
                      bc: Broadcast[PointIndexData], radii: Seq[Int])
      extends TernaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(KnnType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "knn_rings"
    @transient private lazy val ladder = radii.toArray
    override def nullSafeEval(c: Any, lo: Any, la: Any): Any = {
      val idx = bc.value
      val lon = lo.asInstanceOf[Double]; val lat = la.asInstanceOf[Double]
      val hit = ladderNearest(idx, ladder, c.asInstanceOf[Long], lon, lat)
      if (hit < 0) new GenericArrayData(Array.empty[Any])
      else {
        val i = hit.toInt
        new GenericArrayData(Array[Any](InternalRow(ladder((hit >>> 32).toInt), idx.fids(i),
          Geo.sparkHaversineKm(lon, lat, idx.lons(i), idx.lats(i)))))
      }
    }
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): KnnRings =
      copy(first = f, second = s, third = t)
  }

  def knnRingsCol(cell: Column, lon: Column, lat: Column, bc: Broadcast[PointIndexData],
                  radii: Seq[Int]): Column =
    ColumnBridge.column(KnnRings(ColumnBridge.expression(cell), ColumnBridge.expression(lon),
      ColumnBridge.expression(lat), bc, radii))

  private val ContainType: StructType = new StructType()
    .add("typ", StringType, nullable = false)
    .add("feature_id", LongType, nullable = false)
    .add("via", StringType, nullable = false)
  private val ViaPip = UTF8String.fromString("pip")
  private val ViaKnn = UTF8String.fromString("knn")

  /** The kNN fallback of [[ContextCover]]: the broadcast feature-point
    * index at zoom `z`, the radius ladder, and the type its rows carry. */
  final case class KnnFallback(bc: Broadcast[PointIndexData], z: Int, radii: Seq[Int], typ: String)

  /** context_cover(lon, lat): a point's reverse-geocode rows as
    * `[struct(typ, feature_id, via)]`.
    *
    * For each type in order, the smallest feature_id whose polygon
    * contains the point, with `via = "pip"` — one entry per type with a
    * hit. Per type it computes the point's cell at that type's zoom with
    * [[CellMath.lonLatToCell]] and probes that type's broadcast
    * [[CellIndexData]]; candidates, PIP and the minimum id are those of
    * `reversePip` + `min(feature_id)` by construction.
    *
    * With a [[KnnFallback]], a point without any hit instead gets one
    * `via = "knn"` row of the fallback's type: the feature [[KnnRings]]
    * answers for the point's cell at the fallback zoom (the same ladder
    * loop), or no row when the last ladder disk is empty. That is carmen's
    * reverse context with its nearest-feature fallback (`lib/context.js`
    * [U]) as one row function, so `Geocoder.reverse` is points → explode →
    * select. A null coordinate gives null (no rows once exploded). */
  case class ContextCover(left: Expression, right: Expression, typs: Seq[String],
                          zs: Seq[Int], bcs: Seq[Broadcast[CellIndexData]],
                          knn: Option[KnnFallback] = None)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(ContainType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "context_cover"
    @transient private lazy val names = typs.map(UTF8String.fromString).toArray
    @transient private lazy val zoom = zs.toArray
    @transient private lazy val index = bcs.map(_.value).toArray
    @transient private lazy val points = knn.map(_.bc.value).orNull
    @transient private lazy val ladder = knn.map(_.radii.toArray).orNull
    @transient private lazy val knnZ = knn.map(_.z).getOrElse(0)
    @transient private lazy val knnTyp = knn.map(k => UTF8String.fromString(k.typ)).orNull
    override def nullSafeEval(lo: Any, la: Any): Any = {
      val lon = lo.asInstanceOf[Double]; val lat = la.asInstanceOf[Double]
      val out = new Array[AnyRef](index.length)
      var t = 0; var k = 0
      while (t < index.length) {
        val idx = index(t)
        val i = idx.firstContaining(CellMath.lonLatToCell(zoom(t), lon, lat), lon, lat)
        if (i >= 0) { out(k) = InternalRow(names(t), idx.fids(i), ViaPip); k += 1 }
        t += 1
      }
      if (k == 0 && points != null) {
        val hit = ladderNearest(points, ladder, CellMath.lonLatToCell(knnZ, lon, lat), lon, lat)
        if (hit >= 0) { out(0) = InternalRow(knnTyp, points.fids(hit.toInt), ViaKnn); k = 1 }
      }
      new GenericArrayData((if (k == out.length) out else java.util.Arrays.copyOf(out, k)).asInstanceOf[Array[Any]])
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ContextCover =
      copy(left = l, right = r)
  }

  /** The [[ContextCover]] column over (lon, lat) cast to double. */
  def contextCoverCol(lon: Column, lat: Column, typs: Seq[String], zs: Seq[Int],
                      bcs: Seq[Broadcast[CellIndexData]], knn: Option[KnnFallback] = None): Column =
    ColumnBridge.column(ContextCover(ColumnBridge.expression(lon.cast("double")),
      ColumnBridge.expression(lat.cast("double")), typs, zs, bcs, knn))

  /** cell_lookup(cell): array of feature ids — binary search against the
    * broadcast index, evaluated inside the map stage (no shuffle, no join). */
  case class CellLookup(child: Expression, bc: Broadcast[CellIndexData])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "cell_lookup"
    override def nullSafeEval(cell: Any): Any =
      new GenericArrayData(bc.value.lookup(cell.asInstanceOf[Long]))
    override protected def withNewChildInternal(c: Expression): CellLookup = copy(child = c)
  }

  def lookupCol(cell: Column, bc: Broadcast[CellIndexData]): Column =
    ColumnBridge.column(CellLookup(ColumnBridge.expression(cell), bc))

  /** long_set_contains(key): membership in a broadcast SORTED long array —
    * the semi-join reduction filter. Used to prune probe rows BEFORE they
    * shuffle into a large equi-join (e.g. token windows vs the grid index:
    * the distinct phrase-id set is dictionary-sized even when the index is
    * not, so windows matching nothing — the overwhelming majority — die in
    * the map stage instead of shuffling). Exact, not a bloom filter: 8 B ×
    * 10^7 phrases = 80 MB, comfortably under the broadcast ceiling. */
  case class LongSetContains(child: Expression, bc: Broadcast[Array[Long]])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = org.apache.spark.sql.types.BooleanType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "long_set_contains"
    override def nullSafeEval(key: Any): Any =
      java.util.Arrays.binarySearch(bc.value, key.asInstanceOf[Long]) >= 0
    override protected def withNewChildInternal(c: Expression): LongSetContains =
      copy(child = c)
  }

  def longSetContains(key: Column, bc: Broadcast[Array[Long]]): Column =
    ColumnBridge.column(LongSetContains(ColumnBridge.expression(key), bc))

  /** bloom_might_contain(key): membership in a broadcast Bloom filter — the
    * OVER-CEILING tier of the semi-join reduction. At ~1.2 B/entry (1% fpp)
    * vs 8 B for the exact sorted array, the map-side kill stays
    * broadcastable well past [[LongSetContains]]'s ceiling; false positives
    * ride the shuffle and die in the join, so results are row-identical. */
  case class BloomMightContain(child: Expression,
                               bc: Broadcast[org.apache.spark.util.sketch.BloomFilter])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = org.apache.spark.sql.types.BooleanType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "bloom_might_contain"
    override def nullSafeEval(key: Any): Any =
      bc.value.mightContainLong(key.asInstanceOf[Long])
    override protected def withNewChildInternal(c: Expression): BloomMightContain =
      copy(child = c)
  }

  def bloomMightContain(key: Column,
                        bc: Broadcast[org.apache.spark.util.sketch.BloomFilter]): Column =
    ColumnBridge.column(BloomMightContain(ColumnBridge.expression(key), bc))
}
