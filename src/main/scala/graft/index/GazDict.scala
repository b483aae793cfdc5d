package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import graft.core.Text

/** The broadcast forward-geocode dictionary behind `fwd_topk`: the place
  * and region rows of a gazetteer, or of a fat grid index, as parallel
  * primitive arrays grouped by name, with an open-addressing name table
  * over one string pool. `cells` holds each row's index cell, as the
  * build took it ([[GazDict.build]]: z12 for places and z8 for regions,
  * the cells [[graft.ops.Geocode.coalesce2]] computes;
  * [[GazDict.buildFromGrid]]: the grid's own `cell`). ~41 B per row plus
  * ~16 B and the name's chars per distinct name; rows of any other `typ`
  * never become candidates and are left out. Only the name match runs
  * over it: a page's matched rows go to the [[StackRank]] kernel, which
  * the indexed and staged forward paths share.
  *
  * `flags` are [[StackRank]]'s row bits: Region (else place), GidNull,
  * CellNull, CoordNull (glon or glat null), ScoreNull. */
final class GazDictData(pool: String, nameOff: Array[Int], slots: Array[Int],
                        rowOff: Array[Int], val gids: Array[Long], val cells: Array[Long],
                        val lons: Array[Double], val lats: Array[Double],
                        val scores: Array[Double], val flags: Array[Byte], val maxLen: Int)
    extends Serializable {
  import GazDict._

  /** Rows of name i are `rowStart(i) until rowStart(i + 1)`. */
  def rowStart(name: Int): Int = rowOff(name)

  /** Name index of the window `toks(start until start + len)`, whose
    * space-joined `String.hashCode` is `h`, or -1. */
  def find(toks: Array[String], start: Int, len: Int, h: Int): Int = {
    val mask = slots.length - 1
    var s = spread(h) & mask
    while (slots(s) != 0) {
      val name = slots(s) - 1
      if (matches(name, toks, start, len)) return name
      s = (s + 1) & mask
    }
    -1
  }

  private def matches(name: Int, toks: Array[String], start: Int, len: Int): Boolean = {
    var off = nameOff(name)
    val end = nameOff(name + 1)
    var j = 0
    while (j < len) {
      val t = toks(start + j)
      if (j > 0) {
        if (off >= end || pool.charAt(off) != ' ') return false
        off += 1
      }
      if (off + t.length > end || !pool.regionMatches(off, t, 0, t.length)) return false
      off += t.length
      j += 1
    }
    off == end
  }
}

object GazDict {

  private[index] def spread(h: Int): Int = { val x = h * 0x9E3779B9; x ^ (x >>> 16) }

  /** Build a [[GazDictData]] from the place and region rows of `gaz`
    * (name, typ, gid, glon, glat, score; `n` rows at most), each row at
    * the index cell `cell`. The rows are sorted by name in Spark and
    * stream back one partition at a time into primitive arrays, like
    * [[CellIndex.buildPoints]]. */
  def build(gaz: DataFrame, cell: Column, n: Long): GazDictData = {
    require(n <= Int.MaxValue, s"$n gazetteer rows do not fit one array")
    val pool = new java.lang.StringBuilder
    val nameOff = Array.newBuilder[Int]; val rowOff = Array.newBuilder[Int]
    val gids = Array.newBuilder[Long]; val cells = Array.newBuilder[Long]
    val lons = Array.newBuilder[Double]; val lats = Array.newBuilder[Double]
    val scores = Array.newBuilder[Double]; val flags = Array.newBuilder[Byte]
    val hashes = Array.newBuilder[Int]
    Seq(gids, cells).foreach(_.sizeHint(n.toInt))
    Seq(lons, lats, scores).foreach(_.sizeHint(n.toInt))
    flags.sizeHint(n.toInt)
    val it = gaz.filter(col("typ").isin("place", "region") && col("name").isNotNull)
      .select(col("name"), (col("typ") === "region").as("region"), col("gid").cast("long"),
        cell.cast("long").as("cell"),
        col("glon").cast("double"), col("glat").cast("double"), col("score").cast("double"))
      .sort("name")
      .toLocalIterator()
    var prev: String = null
    var row = 0; var maxLen = 1
    while (it.hasNext) {
      val r = it.next()
      val name = r.getString(0)
      if (name != prev) {
        nameOff += pool.length; rowOff += row; hashes += name.hashCode
        pool.append(name)
        maxLen = math.max(maxLen, name.split(" ", -1).length)
        prev = name
      }
      var f = if (r.getBoolean(1)) StackRank.Region else 0
      if (r.isNullAt(2)) f |= StackRank.GidNull
      if (r.isNullAt(3)) f |= StackRank.CellNull
      if (r.isNullAt(4) || r.isNullAt(5)) f |= StackRank.CoordNull
      if (r.isNullAt(6)) f |= StackRank.ScoreNull
      flags += f.toByte
      gids += (if (r.isNullAt(2)) 0L else r.getLong(2))
      cells += (if (r.isNullAt(3)) 0L else r.getLong(3))
      lons += (if (r.isNullAt(4)) 0.0 else r.getDouble(4))
      lats += (if (r.isNullAt(5)) 0.0 else r.getDouble(5))
      scores += (if (r.isNullAt(6)) 0.0 else r.getDouble(6))
      row += 1
    }
    nameOff += pool.length; rowOff += row
    val hs = hashes.result()
    val slots = new Array[Int](math.max(2, Integer.highestOneBit(math.max(1, hs.length)) << 2))
    val mask = slots.length - 1
    var i = 0
    while (i < hs.length) {
      var s = spread(hs(i)) & mask
      while (slots(s) != 0) s = (s + 1) & mask
      slots(s) = i + 1
      i += 1
    }
    new GazDictData(pool.toString, nameOff.result(), slots, rowOff.result(), gids.result(),
      cells.result(), lons.result(), lats.result(), scores.result(), flags.result(), maxLen)
  }

  /** The rows of a fat grid index ([[IndexBuild.gazetteerGridFat]]) that
    * a token window can match, `feature_id` renamed `gid`: place and
    * region rows whose `phrase_id` is their name's
    * [[IndexBuild.phraseId]]. The grid match joins a window on its
    * phrase's id and verifies `phrase = name`, so any other row never
    * matches. */
  def gridRows(grid: DataFrame): DataFrame =
    grid.filter(col("typ").isin("place", "region") && col("name").isNotNull &&
        col("phrase_id") === IndexBuild.phraseId(col("name")))
      .withColumnRenamed("feature_id", "gid")

  /** Size and collision guard of [[gridRows]]: the row count and the most
    * distinct names that share one phrase_id (more than one only on an
    * xxhash64 collision). */
  final case class GridProbe(rows: Long, namesPerPhrase: Long)

  def probe(rows: DataFrame): GridProbe = {
    val r = rows.groupBy("phrase_id").agg(count(lit(1)).as("n"), countDistinct("name").as("names"))
      .agg(coalesce(sum("n"), lit(0L)), coalesce(max("names"), lit(0L))).head()
    GridProbe(r.getLong(0), r.getLong(1))
  }

  /** Build a [[GazDictData]] from a fat grid index: its [[gridRows]] at
    * their own `cell` (a grid may be built at any zooms), with the F2
    * grid-stage prune applied once: the [[graft.ops.Geocode.GridStackCap]]
    * best rows per (phrase_id, typ) by (relev_q desc, score_q desc, gid
    * asc), [[StackRank.Pages]]' order. The shuffled grid path prunes the
    * same groups per page; with one name per phrase_id
    * ([[GridProbe.namesPerPhrase]] ≤ 1) a page's group is every grid row
    * of that name, so the build-time cap is exact. */
  def buildFromGrid(grid: DataFrame, n: Long): GazDictData =
    build(gridRows(grid)
      .withColumn("gr", row_number().over(Window.partitionBy(col("phrase_id"), col("typ"))
        .orderBy(col("relev_q").cast("int").desc_nulls_last, col("score_q").cast("int").desc_nulls_last,
          col("gid").cast("long").asc_nulls_first)))
      .filter(col("gr") <= graft.ops.Geocode.GridStackCap), col("cell"), n)

  /** fwd_topk(text, qlon, qlat): one page's forward geocode over a
    * broadcast [[GazDictData]]: windows ([[graft.functions.Exprs.WindowPos]])
    * → name matches in-row, then the shared [[StackRank]] kernel replays
    * [[graft.ops.Geocode.coalesce2]] → [[graft.ops.Geocode.rank]]. Returns
    * the page's top-k [[StackRank.FwdCandType]] rows (empty for null text),
    * consumed by explode. */
  case class FwdTopK(first: Expression, second: Expression, third: Expression,
                     bc: Broadcast[GazDictData], k: Int, dedupe: Boolean)
      extends TernaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StackRank.FwdCandType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "fwd_topk"
    override def eval(input: InternalRow): Any = {
      val text = first.eval(input)
      if (text == null) return new GenericArrayData(Array.empty[Any])
      val qlon = second.eval(input); val qlat = third.eval(input)
      val qNull = qlon == null || qlat == null
      val sr = new StackRank
      matchWindows(bc.value, Text.tokenize(text.toString),
        if (qNull) 0.0 else qlon.asInstanceOf[Double],
        if (qNull) 0.0 else qlat.asInstanceOf[Double],
        if (qNull) StackRank.QNull else 0, sr)
      new GenericArrayData(sr.topK(k, dedupe).asInstanceOf[Array[Any]])
    }
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): FwdTopK =
      copy(first = f, second = s, third = t)
  }

  def fwdTopKCol(text: Column, qlon: Column, qlat: Column, bc: Broadcast[GazDictData],
                 k: Int, dedupe: Boolean): Column =
    ColumnBridge.column(FwdTopK(ColumnBridge.expression(text), ColumnBridge.expression(qlon),
      ColumnBridge.expression(qlat), bc, k, dedupe))

  /** [[graft.functions.Exprs.WindowPos]] ⋈ gazetteer on name: every row of
    * every distinct matched window of `toks` joins `sr` at the window's
    * first occurrence, with the page's query point. The scan is
    * start-major, so a name's first hit is its first occurrence. */
  private def matchWindows(d: GazDictData, toks: Array[String], qlon: Double, qlat: Double,
                           qFlag: Int, sr: StackRank): Unit = {
    val hs = new Array[Int](toks.length)
    var i = 0
    while (i < toks.length) { hs(i) = toks(i).hashCode; i += 1 }
    var keys = new Array[Long](16); var hitPos, hitLen = new Array[Int](16); var nh = 0
    i = 0
    while (i < toks.length) {
      var h = 0; var l = 1
      while (l <= d.maxLen && i + l <= toks.length) {
        // String.hashCode of the space-joined window, extended one token
        if (l == 1) h = hs(i)
        else {
          h = h * 31 + ' '
          var c = toks(i + l - 1).length
          while (c > 0) { h *= 31; c -= 1 }
          h += hs(i + l - 1)
        }
        val name = d.find(toks, i, l, h)
        if (name >= 0) {
          if (nh == keys.length) {
            keys = java.util.Arrays.copyOf(keys, nh * 2)
            hitPos = java.util.Arrays.copyOf(hitPos, nh * 2); hitLen = java.util.Arrays.copyOf(hitLen, nh * 2)
          }
          keys(nh) = (name.toLong << 32) | nh; hitPos(nh) = i + 1; hitLen(nh) = l; nh += 1
        }
        l += 1
      }
      i += 1
    }
    java.util.Arrays.sort(keys, 0, nh)
    var j = 0
    while (j < nh) {
      val name = (keys(j) >>> 32).toInt
      if (j == 0 || (keys(j - 1) >>> 32).toInt != name) {
        val hit = keys(j).toInt; val p = hitPos(hit)
        var r = d.rowStart(name)
        while (r < d.rowStart(name + 1)) {
          sr.add(d.gids(r), d.cells(r), d.lons(r), d.lats(r), d.scores(r), qlon, qlat,
            d.flags(r) | qFlag, name, p, toks, p - 1, hitLen(hit))
          r += 1
        }
      }
      j += 1
    }
  }
}
