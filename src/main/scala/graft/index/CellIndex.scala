package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructType}
import org.apache.spark.sql.functions._
import graft.core.CellMath
import graft.functions.F

/** The north star's "broadcastable sorted cell->feature-id array replacing
  * Carmen's grid/cover index": two parallel Long arrays (cells ascending,
  * ids tie-sorted) + binary-search range lookup. Replaces carmen-cache's
  * per-phrase grid lists / RocksDB pointer chases with one cache-friendly
  * sorted array that ships to every executor as a broadcast — a cell →
  * feature-ids probe is then pure in-memory binary search inside a map
  * stage: the reverse-geocode join needs NO shuffle at all.
  *
  * Size: 16 B/entry → 10^8 cover entries ≈ 1.6 GB, the practical broadcast
  * ceiling; beyond that the same layout lives as the Hilbert-sorted parquet
  * table ([[IndexBuild]]) and the probe becomes the D5 cell equi-join.
  */
final class CellIndexData(val cells: Array[Long], val fids: Array[Long])
    extends Serializable {

  /** All feature ids covering `cell` (ascending, distinct by construction). */
  def lookup(cell: Long): Array[Long] = {
    var i = CellIndex.lowerBound(cells, cell)
    if (i >= cells.length || cells(i) != cell) return Array.emptyLongArray
    val start = i
    while (i < cells.length && cells(i) == cell) i += 1
    java.util.Arrays.copyOfRange(fids, start, i)
  }

  def size: Int = cells.length
}

/** The kNN fallback's feature-point index: every feature point as parallel
  * arrays sorted by (cell at one zoom, feature_id), so a cell's features
  * are one binary-searched slice. 32 B/point. */
final class PointIndexData(val cells: Array[Long], val fids: Array[Long],
                           val lons: Array[Double], val lats: Array[Double])
    extends Serializable {

  /** Index range of the features in `cell`. */
  private def slice(cell: Long): Range =
    CellIndex.lowerBound(cells, cell) until CellIndex.lowerBound(cells, cell + 1)

  /** Smallest Chebyshev ring d in 0..maxR around `cell` that holds a
    * feature, or -1 ([[CellMath.ringCells]], so grid-clamped). */
  def firstRing(cell: Long, maxR: Int): Int =
    (0 to maxR).find(d => CellMath.ringCells(cell, d).exists(slice(_).nonEmpty)).getOrElse(-1)

  /** Indexes of the features in disk(r) around `cell`, grid-clamped. */
  def disk(cell: Long, r: Int): Array[Int] = CellMath.diskCells(cell, r).flatMap(slice)
}

object CellIndex {

  /** First index of `cells` (ascending) holding a value >= key. */
  private[index] def lowerBound(cells: Array[Long], key: Long): Int = {
    var lo = 0; var hi = cells.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cells(mid) < key) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Process-wide memo of built indexes: the collect-and-sort build is a
    * batch-index job, not a per-query step — a query path that rebuilt the
    * (up to ~1.6 GB) array per invocation would be a driver collect per
    * query at the ceiling. Keyed by caller-supplied identity (source table
    * path + zoom); survives session restarts within the JVM. */
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, CellIndexData]()
  def cached(key: String)(build: => CellIndexData): CellIndexData =
    memo.computeIfAbsent(key, _ => build)

  /** Build from a (cell, feature_id) frame. The distributed sort happens in
    * Spark (range shuffle); only the final compact arrays are collected —
    * the same rows [[IndexBuild]] writes as the on-disk sorted table. */
  def build(cover: DataFrame): CellIndexData = {
    val rows = cover.select(col("cell").cast("long"), col("feature_id").cast("long"))
      .sort("cell", "feature_id")
      .collect()
    val cells = new Array[Long](rows.length)
    val fids = new Array[Long](rows.length)
    var i = 0
    while (i < rows.length) {
      cells(i) = rows(i).getLong(0); fids(i) = rows(i).getLong(1); i += 1
    }
    new CellIndexData(cells, fids)
  }

  def buildFromFeatures(features: DataFrame, z: Int): CellIndexData =
    build(features.select(col("feature_id"),
      explode(F.tileCover(col("geom_wkb"), lit(z))).as("cell")))

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

  private val KnnCandType: StructType = new StructType()
    .add("feature_id", LongType, nullable = false)
    .add("flon", DoubleType, nullable = false)
    .add("flat", DoubleType, nullable = false)

  /** knn_rings(cell): the closed form of the expanding-ring kNN over a
    * broadcast [[PointIndexData]]. With d the smallest Chebyshev ring
    * holding a feature and r* the smallest ladder radius >= d, returns
    * `[struct(radius = r*, cands = features in disk(r*))]`, or `[]` when
    * disk(radii.last) is empty — a 0/1-element array consumed by explode,
    * so the optimizer can never inline the kernel into two consumers. */
  case class KnnRings(child: Expression, bc: Broadcast[PointIndexData], radii: Seq[Int])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(new StructType()
      .add("radius", IntegerType, nullable = false)
      .add("cands", ArrayType(KnnCandType, containsNull = false), nullable = false),
      containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "knn_rings"
    override def nullSafeEval(c: Any): Any = {
      val idx = bc.value
      val cell = c.asInstanceOf[Long]
      val d = idx.firstRing(cell, radii.last)
      if (d < 0) return new GenericArrayData(Array.empty[Any])
      val r = radii.find(_ >= d).get
      val cands = idx.disk(cell, r).map { i =>
        InternalRow(idx.fids(i), idx.lons(i), idx.lats(i)): Any
      }
      new GenericArrayData(Array[Any](InternalRow(r, new GenericArrayData(cands))))
    }
    override protected def withNewChildInternal(c: Expression): KnnRings = copy(child = c)
  }

  def knnRingsCol(cell: Column, bc: Broadcast[PointIndexData], radii: Seq[Int]): Column =
    ColumnBridge.column(KnnRings(ColumnBridge.expression(cell), bc, radii))

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
