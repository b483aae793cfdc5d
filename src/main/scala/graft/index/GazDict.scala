package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.core.{CellMath, Geo, Text}
import graft.functions.F

/** The broadcast forward-geocode dictionary: every place and region row of
  * a gazetteer as parallel primitive arrays grouped by name, with an
  * open-addressing name table over one string pool. `cells` holds each
  * row's index cell (z12 for places, z8 for regions, the cells
  * [[graft.ops.Geocode.coalesce2]] computes). ~41 B per row plus ~16 B and
  * the name's chars per distinct name; rows of any other `typ` never
  * become candidates and are left out.
  *
  * `flags` bits: [[Region]] (else place), [[GidNull]], [[CoordNull]] (glon
  * or glat null, so no cell), [[ScoreNull]]. */
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

  final val Region: Byte = 1
  final val GidNull: Byte = 2
  final val CoordNull: Byte = 4
  final val ScoreNull: Byte = 8

  private[index] def spread(h: Int): Int = { val x = h * 0x9E3779B9; x ^ (x >>> 16) }

  /** Build a [[GazDictData]] from the place and region rows of `gaz`
    * (`n` rows at most). The rows are sorted by name in Spark and stream
    * back one partition at a time into primitive arrays, like
    * [[CellIndex.buildPoints]]. */
  def build(gaz: DataFrame, n: Long): GazDictData = {
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
    val region = col("typ") === "region"
    val cell = when(region, F.cellAt(lit(8), col("glon"), col("glat")))
      .otherwise(F.cellAt(lit(12), col("glon"), col("glat")))
    val it = gaz.filter(col("typ").isin("place", "region") && col("name").isNotNull)
      .select(col("name"), region.as("region"), col("gid").cast("long"), cell.as("cell"),
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
      var f = if (r.getBoolean(1)) Region else 0
      if (r.isNullAt(2)) f |= GidNull
      if (r.isNullAt(3)) f |= CoordNull
      if (r.isNullAt(6)) f |= ScoreNull
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

  /** Output element of `fwd_topk`: [[graft.ops.Geocode.rank]]'s columns
    * with `sd` unrounded. */
  val FwdCandType: StructType = new StructType()
    .add("feature_id", LongType).add("typ", StringType, nullable = false)
    .add("relev", DoubleType, nullable = false).add("cell", LongType)
    .add("ctx", LongType, nullable = false).add("sd", DoubleType)
    .add("rank", IntegerType, nullable = false)

  /** fwd_topk(text, qlon, qlat): one page's forward geocode over a
    * broadcast [[GazDictData]], replaying in-row what the staged operators
    * do for the page: windows ([[graft.functions.Exprs.WindowPos]]) →
    * name matches → [[graft.ops.Geocode.coalesce2]] → [[graft.ops.Geocode.rank]].
    * Returns the page's top-k candidates (empty for null text), consumed
    * by explode. See [[FwdKernel]] for the replay. */
  case class FwdTopK(first: Expression, second: Expression, third: Expression,
                     bc: Broadcast[GazDictData], k: Int, dedupe: Boolean)
      extends TernaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(FwdCandType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "fwd_topk"
    override def eval(input: InternalRow): Any = {
      val text = first.eval(input)
      if (text == null) return new GenericArrayData(Array.empty[Any])
      val qlon = second.eval(input); val qlat = third.eval(input)
      val qNull = qlon == null || qlat == null
      new FwdKernel(bc.value, Text.tokenize(text.toString)).topK(
        if (qNull) 0.0 else qlon.asInstanceOf[Double],
        if (qNull) 0.0 else qlat.asInstanceOf[Double], qNull, k, dedupe)
    }
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): FwdTopK =
      copy(first = f, second = s, third = t)
  }

  def fwdTopKCol(text: Column, qlon: Column, qlat: Column, bc: Broadcast[GazDictData],
                 k: Int, dedupe: Boolean): Column =
    ColumnBridge.column(FwdTopK(ColumnBridge.expression(text), ColumnBridge.expression(qlon),
      ColumnBridge.expression(qlat), bc, k, dedupe))

  private val PlaceTyp = UTF8String.fromString("place")
  private val RegionTyp = UTF8String.fromString("region")
  /** [[F.haversineKm]] when any coordinate is null: Spark's `least` skips
    * the null `sqrt(a)`, leaving asin(1.0). */
  private val NullDistKm = 2.0 * Geo.EarthRadiusKm * math.asin(1.0)

  /** [[F.haversineKm]] with Spark's exact calls: `StrictMath.pow`,
    * `Math.sin/cos/asin/sqrt`, and `least(1.0, x)`, which keeps 1.0 for a
    * NaN x (Spark orders NaN above every number). */
  private def haversineKm(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val p = math.Pi / 180.0
    val a = StrictMath.pow(math.sin((lat2 - lat1) * p / 2), 2) +
      math.cos(lat1 * p) * math.cos(lat2 * p) * StrictMath.pow(math.sin((lon2 - lon1) * p / 2), 2)
    val s = math.sqrt(a)
    2.0 * Geo.EarthRadiusKm * math.asin(if (s < 1.0) s else 1.0)
  }

  /** Spark's double order: NaN above every number, -0.0 == 0.0. */
  private def cmpD(a: Double, b: Double): Int = if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Stable merge sort of `idx` by `cmp` (no boxing; mention lists are
    * short, but a page may hold many). */
  private def sortIdx(idx: Array[Int], cmp: (Int, Int) => Int): Unit = {
    val tmp = new Array[Int](idx.length)
    def go(lo: Int, hi: Int): Unit = if (hi - lo > 1) {
      val mid = (lo + hi) >>> 1
      go(lo, mid); go(mid, hi)
      var i = lo; var j = mid; var o = lo
      while (o < hi) {
        if (j >= hi || (i < mid && cmp(idx(i), idx(j)) <= 0)) { tmp(o) = idx(i); i += 1 }
        else { tmp(o) = idx(j); j += 1 }
        o += 1
      }
      System.arraycopy(tmp, lo, idx, lo, hi - lo)
    }
    go(0, idx.length)
  }

  /** The per-page replay behind [[FwdTopK]]. Mention m is gazetteer row
    * `row(m)` (name `nm(m)`) matched by the window at 1-based token
    * `pos(m)` of `len(m)` tokens; every ordering is the staged path's, with
    * nulls placed where Spark places them. */
  private final class FwdKernel(d: GazDictData, toks: Array[String]) {
    import graft.ops.Geocode.{GapPenalty, OrderPenalty, StackRegionCap, ZRegion}
    private var n = 0
    private var row, nm, pos, len = new Array[Int](16)

    private def add(r: Int, name: Int, p: Int, l: Int): Unit = {
      if (n == row.length) {
        row = java.util.Arrays.copyOf(row, n * 2); nm = java.util.Arrays.copyOf(nm, n * 2)
        pos = java.util.Arrays.copyOf(pos, n * 2); len = java.util.Arrays.copyOf(len, n * 2)
      }
      row(n) = r; nm(n) = name; pos(n) = p; len(n) = l; n += 1
    }

    /** [[graft.functions.Exprs.WindowPos]] ⋈ gazetteer on name: every row
      * of every distinct matched window, at the window's first occurrence.
      * The scan is start-major, so a name's first hit is its first
      * occurrence. */
    private def matchWindows(): Unit = {
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
          val hit = keys(j).toInt
          var r = d.rowStart(name)
          while (r < d.rowStart(name + 1)) { add(r, name, hitPos(hit), hitLen(hit)); r += 1 }
        }
        j += 1
      }
    }

    private def has(m: Int, flag: Byte): Boolean = (d.flags(row(m)) & flag) != 0
    private def gid(m: Int): Long = d.gids(row(m))
    private def cell(m: Int): Long = d.cells(row(m))

    /** gid asc, nulls first (Spark's asc) or last (the stack order). */
    private def cmpGid(a: Int, b: Int, nullsFirst: Boolean): Int = {
      val an = has(a, GidNull); val bn = has(b, GidNull)
      if (an || bn) { if (an == bn) 0 else if (an == nullsFirst) -1 else 1 }
      else java.lang.Long.compare(gid(a), gid(b))
    }

    /** Stack order of two regions, -1 = none: (wr desc, rid asc) nulls last. */
    private def stackOrder(a: Int, b: Int): Int =
      if (a < 0 || b < 0) Integer.compare(b, a)
      else { val c = Integer.compare(len(b), len(a)); if (c != 0) c else cmpGid(a, b, nullsFirst = false) }

    /** |distinct tokens of place p's name ∪ region r's name|. */
    private def unionTokens(p: Int, r: Int): Int = {
      val ts = new Array[String](len(p) + len(r))
      System.arraycopy(toks, pos(p) - 1, ts, 0, len(p))
      System.arraycopy(toks, pos(r) - 1, ts, len(p), len(r))
      var distinct = 0; var i = 0
      while (i < ts.length) {
        var j = 0
        while (j < i && ts(j) != ts(i)) j += 1
        if (j == i) distinct += 1
        i += 1
      }
      distinct
    }

    def topK(qlon: Double, qlat: Double, qNull: Boolean, k: Int, dedupe: Boolean): GenericArrayData = {
      matchWindows()
      val regions = (0 until n).filter(has(_, Region)).toArray
      val places = (0 until n).filterNot(has(_, Region)).toArray
      // F1 cap: the StackRegionCap best regions by (wr desc, rid asc)
      sortIdx(regions, (a, b) => {
        val c = Integer.compare(len(b), len(a)); if (c != 0) c else cmpGid(a, b, nullsFirst = true)
      })
      val capped = regions.take(StackRegionCap).filterNot(has(_, CoordNull))
      // each place mention's best capped region in its z8 ancestor cell
      val best = new Array[Int](places.length)
      var i = 0
      while (i < places.length) {
        val p = places(i)
        var b = -1
        if (!has(p, CoordNull)) {
          val c8 = CellMath.parentCell(cell(p), ZRegion)
          capped.foreach(r => if (cell(r) == c8 && stackOrder(r, b) < 0) b = r)
        }
        best(i) = b
        i += 1
      }
      // one candidate per (doc, gid): the place mention with the best stack
      val byGid = places.indices.toArray
      sortIdx(byGid, (a, b) => {
        val c = cmpGid(places(a), places(b), nullsFirst = true); if (c != 0) c else stackOrder(best(a), best(b))
      })
      val keep = byGid.indices
        .filter(j => j == 0 || cmpGid(places(byGid(j - 1)), places(byGid(j)), nullsFirst = true) != 0)
        .map(byGid)

      val nc = keep.length + regions.length
      val cm = new Array[Int](nc) // candidate -> mention
      val relev = new Array[Double](nc)
      val ctx = new Array[Long](nc)
      var c = 0
      keep.foreach { j =>
        val p = places(j); val r = best(j)
        cm(c) = p
        if (r < 0 || has(r, GidNull)) { relev(c) = len(p) / 3.0; ctx(c) = -1L }
        else {
          val gap = if (pos(r) > pos(p) + len(p) || pos(p) > pos(r) + len(r)) GapPenalty else 0.0
          val order = if (pos(r) < pos(p)) OrderPenalty else 0.0
          relev(c) = unionTokens(p, r) / 3.0 - (gap + order)
          ctx(c) = gid(r)
        }
        c += 1
      }
      regions.foreach { r => cm(c) = r; relev(c) = len(r) / 3.0; ctx(c) = -1L; c += 1 }

      val sd = new Array[Double](nc)
      c = 0
      while (c < nc) {
        val r = row(cm(c))
        val dist =
          if (qNull || (d.flags(r) & CoordNull) != 0) NullDistKm
          else haversineKm(qlon, qlat, d.lons(r), d.lats(r))
        sd(c) = d.scores(r) / (1.0 + dist / Geo.ProximityScaleKm)
        c += 1
      }
      def sdNull(a: Int) = has(cm(a), ScoreNull)
      // rank order: relev desc, sd desc nulls last, feature_id asc
      val rankOrder = (a: Int, b: Int) => {
        var x = cmpD(relev(b), relev(a))
        if (x == 0) x =
          if (sdNull(a) || sdNull(b)) java.lang.Boolean.compare(sdNull(a), sdNull(b))
          else cmpD(sd(b), sd(a))
        if (x == 0) cmpGid(cm(a), cm(b), nullsFirst = true) else x
      }
      var order = (0 until nc).toArray
      if (dedupe) {
        // E4: the best candidate per (name, cell)
        def cmpCell(a: Int, b: Int): Int = {
          val an = has(cm(a), CoordNull); val bn = has(cm(b), CoordNull)
          if (an || bn) java.lang.Boolean.compare(bn, an)
          else java.lang.Long.compare(cell(cm(a)), cell(cm(b)))
        }
        def sameGroup(a: Int, b: Int) = nm(cm(a)) == nm(cm(b)) && cmpCell(a, b) == 0
        sortIdx(order, (a, b) => {
          var x = Integer.compare(nm(cm(a)), nm(cm(b)))
          if (x == 0) x = cmpCell(a, b)
          if (x == 0) rankOrder(a, b) else x
        })
        order = order.indices.filter(j => j == 0 || !sameGroup(order(j - 1), order(j))).map(order).toArray
      }
      sortIdx(order, rankOrder)

      val out = new Array[Any](math.max(0, math.min(k, order.length)))
      i = 0
      while (i < out.length) {
        val a = order(i); val m = cm(a)
        out(i) = InternalRow(
          if (has(m, GidNull)) null else gid(m),
          if (has(m, Region)) RegionTyp else PlaceTyp,
          relev(a),
          if (has(m, CoordNull)) null else cell(m),
          ctx(a),
          if (sdNull(a)) null else sd(a),
          i + 1)
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}
