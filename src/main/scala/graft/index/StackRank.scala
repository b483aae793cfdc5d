package graft.index

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.core.{CellMath, Geo}

/** The stack-and-rank kernel of every 2-level forward path: one page's
  * candidate mentions in, the page's top-k out, replaying in-row what
  * [[graft.ops.Geocode.coalesce2]] → [[graft.ops.Geocode.rank]] do for the
  * page:
  *   1. F1 cap: the [[graft.ops.Geocode.StackRegionCap]] best regions by
  *      (w desc, gid asc);
  *   2. each place's best capped region in its z8 ancestor cell, by
  *      (w desc, gid asc);
  *   3. one candidate per gid: the place mention with the best stack;
  *   4. relev: the covered-token count / 3 minus the gap and order
  *      penalties (regions stand alone at w);
  *   5. `sd` = scoredist(score, haversine(q, g));
  *   6. with dedupe, the best candidate per (name, cell);
  *   7. the top-k by (relev desc, sd desc, feature_id asc).
  * Every ordering is the staged path's, with nulls placed where Spark
  * places them. A mention is added with its index cell, its name's key
  * (equal keys = equal names) and tokens, its first-occurrence 1-based
  * token position and its page row's query point. */
final class StackRank {
  import StackRank._
  import graft.ops.Geocode.{GapPenalty, OrderPenalty, StackRegionCap, ZRegion}

  private var n = 0
  private var gids, cells = new Array[Long](16)
  private var lons, lats, scores, qlons, qlats = new Array[Double](16)
  private var flags = new Array[Byte](16)
  private var names, poss, lens, tokStarts = new Array[Int](16)
  private var tokArrs = new Array[Array[String]](16)

  /** Add mention `n`: `flags` are [[Region]] … [[QNull]]; its name has
    * `len` tokens, `toks(tokStart until tokStart + len)`. */
  def add(gid: Long, cell: Long, lon: Double, lat: Double, score: Double,
          qlon: Double, qlat: Double, flag: Int, name: Int, pos: Int,
          toks: Array[String], tokStart: Int, len: Int): Unit = {
    if (n == gids.length) {
      val m = n * 2
      gids = java.util.Arrays.copyOf(gids, m); cells = java.util.Arrays.copyOf(cells, m)
      lons = java.util.Arrays.copyOf(lons, m); lats = java.util.Arrays.copyOf(lats, m)
      scores = java.util.Arrays.copyOf(scores, m)
      qlons = java.util.Arrays.copyOf(qlons, m); qlats = java.util.Arrays.copyOf(qlats, m)
      flags = java.util.Arrays.copyOf(flags, m); names = java.util.Arrays.copyOf(names, m)
      poss = java.util.Arrays.copyOf(poss, m); lens = java.util.Arrays.copyOf(lens, m)
      tokStarts = java.util.Arrays.copyOf(tokStarts, m); tokArrs = java.util.Arrays.copyOf(tokArrs, m)
    }
    gids(n) = gid; cells(n) = cell; lons(n) = lon; lats(n) = lat; scores(n) = score
    qlons(n) = qlon; qlats(n) = qlat; flags(n) = flag.toByte; names(n) = name
    poss(n) = pos; tokArrs(n) = toks; tokStarts(n) = tokStart; lens(n) = len
    n += 1
  }

  private def has(m: Int, flag: Int): Boolean = (flags(m) & flag) != 0

  /** gid asc, nulls first (Spark's asc) or last (the stack order). */
  private def cmpGid(a: Int, b: Int, nullsFirst: Boolean): Int = {
    val an = has(a, GidNull); val bn = has(b, GidNull)
    if (an || bn) { if (an == bn) 0 else if (an == nullsFirst) -1 else 1 }
    else java.lang.Long.compare(gids(a), gids(b))
  }

  /** Stack order of two regions, -1 = none: (wr desc, rid asc) nulls last. */
  private def stackOrder(a: Int, b: Int): Int =
    if (a < 0 || b < 0) Integer.compare(b, a)
    else { val c = Integer.compare(lens(b), lens(a)); if (c != 0) c else cmpGid(a, b, nullsFirst = false) }

  /** |distinct tokens of place p's name ∪ region r's name|. */
  private def unionTokens(p: Int, r: Int): Int = {
    val ts = new Array[String](lens(p) + lens(r))
    System.arraycopy(tokArrs(p), tokStarts(p), ts, 0, lens(p))
    System.arraycopy(tokArrs(r), tokStarts(r), ts, lens(p), lens(r))
    var distinct = 0; var i = 0
    while (i < ts.length) {
      var j = 0
      while (j < i && ts(j) != ts(i)) j += 1
      if (j == i) distinct += 1
      i += 1
    }
    distinct
  }

  /** The page's top-k as [[FwdCandType]] rows, `sd` unrounded. */
  def topK(k: Int, dedupe: Boolean): Array[InternalRow] = {
    val regions = (0 until n).filter(has(_, Region)).toArray
    val places = (0 until n).filterNot(has(_, Region)).toArray
    // F1 cap: the StackRegionCap best regions by (wr desc, rid asc)
    sortIdx(regions, (a, b) => {
      val c = Integer.compare(lens(b), lens(a)); if (c != 0) c else cmpGid(a, b, nullsFirst = true)
    })
    val capped = regions.take(StackRegionCap).filterNot(has(_, CellNull))
    // each place mention's best capped region in its z8 ancestor cell
    val best = new Array[Int](places.length)
    var i = 0
    while (i < places.length) {
      val p = places(i)
      var b = -1
      if (!has(p, CellNull)) {
        val c8 = CellMath.parentCell(cells(p), ZRegion)
        capped.foreach(r => if (cells(r) == c8 && stackOrder(r, b) < 0) b = r)
      }
      best(i) = b
      i += 1
    }
    // one candidate per gid: the place mention with the best stack
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
      if (r < 0 || has(r, GidNull)) { relev(c) = lens(p) / 3.0; ctx(c) = -1L }
      else {
        val gap = if (poss(r) > poss(p) + lens(p) || poss(p) > poss(r) + lens(r)) GapPenalty else 0.0
        val order = if (poss(r) < poss(p)) OrderPenalty else 0.0
        relev(c) = unionTokens(p, r) / 3.0 - (gap + order)
        ctx(c) = gids(r)
      }
      c += 1
    }
    regions.foreach { r => cm(c) = r; relev(c) = lens(r) / 3.0; ctx(c) = -1L; c += 1 }

    val sd = new Array[Double](nc)
    c = 0
    while (c < nc) {
      val m = cm(c)
      val dist =
        if (has(m, QNull | CoordNull)) NullDistKm
        else Geo.sparkHaversineKm(qlons(m), qlats(m), lons(m), lats(m))
      sd(c) = scores(m) / (1.0 + dist / Geo.ProximityScaleKm)
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
        val an = has(cm(a), CellNull); val bn = has(cm(b), CellNull)
        if (an || bn) java.lang.Boolean.compare(bn, an)
        else java.lang.Long.compare(cells(cm(a)), cells(cm(b)))
      }
      def sameGroup(a: Int, b: Int) = names(cm(a)) == names(cm(b)) && cmpCell(a, b) == 0
      sortIdx(order, (a, b) => {
        var x = Integer.compare(names(cm(a)), names(cm(b)))
        if (x == 0) x = cmpCell(a, b)
        if (x == 0) rankOrder(a, b) else x
      })
      order = order.indices.filter(j => j == 0 || !sameGroup(order(j - 1), order(j))).map(order).toArray
    }
    sortIdx(order, rankOrder)

    val out = new Array[InternalRow](math.max(0, math.min(k, order.length)))
    i = 0
    while (i < out.length) {
      val a = order(i); val m = cm(a)
      out(i) = InternalRow(
        if (has(m, GidNull)) null else gids(m),
        if (has(m, Region)) RegionTyp else PlaceTyp,
        relev(a),
        if (has(m, CellNull)) null else cells(m),
        ctx(a),
        if (sdNull(a)) null else sd(a),
        i + 1)
      i += 1
    }
    out
  }
}

object StackRank {

  /** Mention flags: a region (else a place), a null gid, a null index
    * cell, a null glon or glat, a null score, a null qlon or qlat. */
  final val Region = 1
  final val GidNull = 2
  final val CellNull = 4
  final val CoordNull = 8
  final val ScoreNull = 16
  final val QNull = 32

  /** One ranked candidate: [[graft.ops.Geocode.rank]]'s columns with `sd`
    * unrounded. */
  val FwdCandType: StructType = new StructType()
    .add("feature_id", LongType).add("typ", StringType, nullable = false)
    .add("relev", DoubleType, nullable = false).add("cell", LongType)
    .add("ctx", LongType, nullable = false).add("sd", DoubleType)
    .add("rank", IntegerType, nullable = false)

  private val PlaceTyp = UTF8String.fromString("place")
  private val RegionTyp = UTF8String.fromString("region")
  /** [[graft.functions.F.haversineKm]] when any coordinate is null:
    * Spark's `least` skips the null `sqrt(a)`, leaving asin(1.0). */
  private val NullDistKm = 2.0 * Geo.EarthRadiusKm * math.asin(1.0)

  /** The kernel over one page's candidate rows, for
    * [[graft.plans.GroupKernel]]. Row layout: doc_id, gid (long), region
    * (boolean), name, cell (long), glon, glat, score, qlon, qlat
    * (doubles), pos (int); with `gridCap` also phrase_id (long), relev_q,
    * score_q (ints), and the F2 grid-stage prune runs first: per
    * (phrase_id, typ) only the [[graft.ops.Geocode.GridStackCap]] best rows
    * by (relev_q desc, score_q desc, gid asc) stay. */
  final case class Pages(k: Int, dedupe: Boolean, gridCap: Boolean) extends graft.plans.GroupFn {
    override def outputSchema: StructType = FwdCandType

    override def apply(rows: Array[InternalRow]): Array[InternalRow] = {
      val kept = if (gridCap) pruneGrid(rows) else rows
      val sr = new StackRank
      val names = new java.util.HashMap[UTF8String, Integer]
      kept.foreach { r =>
        val name = r.getUTF8String(3)
        var key = names.get(name)
        if (key == null) { key = names.size; names.put(name, key) }
        val toks = name.toString.split(" ", -1)
        var f = if (r.getBoolean(2)) Region else 0
        if (r.isNullAt(1)) f |= GidNull
        if (r.isNullAt(4)) f |= CellNull
        if (r.isNullAt(5) || r.isNullAt(6)) f |= CoordNull
        if (r.isNullAt(7)) f |= ScoreNull
        if (r.isNullAt(8) || r.isNullAt(9)) f |= QNull
        def d(i: Int) = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
        sr.add(if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(4)) 0L else r.getLong(4),
          d(5), d(6), d(7), d(8), d(9), f, key, r.getInt(10), toks, 0, toks.length)
      }
      sr.topK(k, dedupe)
    }

    private def pruneGrid(rows: Array[InternalRow]): Array[InternalRow] = {
      import graft.ops.Geocode.GridStackCap
      if (rows.length <= GridStackCap) return rows
      // nullable ascending compare, nulls first
      def cmp(a: InternalRow, b: InternalRow, i: Int, long: Boolean): Int =
        if (a.isNullAt(i) || b.isNullAt(i)) java.lang.Boolean.compare(!a.isNullAt(i), !b.isNullAt(i))
        else if (long) java.lang.Long.compare(a.getLong(i), b.getLong(i))
        else Integer.compare(a.getInt(i), b.getInt(i))
      def group(a: InternalRow, b: InternalRow) = {
        val x = cmp(a, b, 11, long = true)
        if (x != 0) x else java.lang.Boolean.compare(a.getBoolean(2), b.getBoolean(2))
      }
      val idx = rows.indices.toArray
      sortIdx(idx, (i, j) => {
        val a = rows(i); val b = rows(j)
        var x = group(a, b)
        if (x == 0) x = cmp(b, a, 12, long = false) // desc, nulls last
        if (x == 0) x = cmp(b, a, 13, long = false)
        if (x == 0) cmp(a, b, 1, long = true) else x
      })
      val keep = new Array[Boolean](rows.length)
      var run = 0
      idx.indices.foreach { j =>
        run = if (j > 0 && group(rows(idx(j - 1)), rows(idx(j))) == 0) run + 1 else 0
        if (run < GridStackCap) keep(idx(j)) = true
      }
      rows.indices.filter(keep).map(rows).toArray
    }
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
}
