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
  * places them, and every sort is stable, so ties keep the add order. A
  * mention is added with its index cell, its name's key (equal keys =
  * equal names) and token ids (equal ids = equal tokens), its
  * first-occurrence 1-based token position and its page row's query
  * point.
  *
  * One instance serves a task: [[reset]] starts the next page, and every
  * array, the per-page scratch of [[topK]] included, grows to the largest
  * page seen and is reused. The per-page work is primitive loops and
  * index sorts over these arrays; only the output rows are allocated. */
final class StackRank extends StackRank.IdxOrder {
  import StackRank._
  import graft.ops.Geocode.{GapPenalty, OrderPenalty, StackRegionCap, ZRegion}

  private var n = 0
  private var gids, cells = new Array[Long](16)
  private var lons, lats, scores, qlons, qlats = new Array[Double](16)
  private var flags = new Array[Byte](16)
  private var names, poss, lens, tokStarts = new Array[Int](16)
  private var tokArrs = new Array[Array[Int]](16)

  // topK scratch: mention or candidate indexes, at least n long
  private var regs, plas, best, ord, tmp, cm = new Array[Int](16)
  private var relev, sd = new Array[Double](16)
  private var ctx = new Array[Long](16)
  private var sdSet = new Array[Boolean](16)
  /** The order [[cmp]] applies: one of the `By*` constants below. */
  private var mode = 0

  /** Start a new page: drop every mention. */
  def reset(): Unit = n = 0

  /** Add mention `n`: `flags` are [[Region]] … [[QNull]]; its name has
    * `len` tokens with ids `toks(tokStart until tokStart + len)`. */
  def add(gid: Long, cell: Long, lon: Double, lat: Double, score: Double,
          qlon: Double, qlat: Double, flag: Int, name: Int, pos: Int,
          toks: Array[Int], tokStart: Int, len: Int): Unit = {
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

  /** Token id `i` of mention m's name. */
  private def tok(m: Int, i: Int): Int = tokArrs(m)(tokStarts(m) + i)

  /** |distinct tokens of place p's name ∪ region r's name|. */
  private def unionTokens(p: Int, r: Int): Int = {
    val lp = lens(p); val all = lp + lens(r)
    var distinct = 0; var i = 0
    while (i < all) {
      val t = if (i < lp) tok(p, i) else tok(r, i - lp)
      var j = 0
      while (j < i && (if (j < lp) tok(p, j) else tok(r, j - lp)) != t) j += 1
      if (j == i) distinct += 1
      i += 1
    }
    distinct
  }

  private def sdNull(c: Int): Boolean = has(cm(c), ScoreNull)

  /** Candidate c's `sd` = scoredist(score, haversine(q, g)), computed once
    * per page, when first compared or output. */
  private def sdOf(c: Int): Double = {
    if (!sdSet(c)) {
      val m = cm(c)
      val dist =
        if (has(m, QNull | CoordNull)) NullDistKm
        else Geo.sparkHaversineKm(qlons(m), qlats(m), lons(m), lats(m))
      sd(c) = scores(m) / (1.0 + dist / Geo.ProximityScaleKm)
      sdSet(c) = true
    }
    sd(c)
  }

  /** Candidate rank order: relev desc, sd desc nulls last, feature_id asc. */
  private def rankOrder(a: Int, b: Int): Int = {
    var x = cmpD(relev(b), relev(a))
    if (x == 0) x =
      if (sdNull(a) || sdNull(b)) java.lang.Boolean.compare(sdNull(a), sdNull(b))
      else cmpD(sdOf(b), sdOf(a))
    if (x == 0) cmpGid(cm(a), cm(b), nullsFirst = true) else x
  }

  /** Candidate cell order, nulls first. */
  private def cmpCell(a: Int, b: Int): Int = {
    val an = has(cm(a), CellNull); val bn = has(cm(b), CellNull)
    if (an || bn) java.lang.Boolean.compare(bn, an)
    else java.lang.Long.compare(cells(cm(a)), cells(cm(b)))
  }

  override def cmp(a: Int, b: Int): Int = (mode: @scala.annotation.switch) match {
    case ByCap => // regions: (wr desc, rid asc)
      val c = Integer.compare(lens(b), lens(a)); if (c != 0) c else cmpGid(a, b, nullsFirst = true)
    case ByGid => // place slots: gid asc, then the best stack
      val c = cmpGid(plas(a), plas(b), nullsFirst = true); if (c != 0) c else stackOrder(best(a), best(b))
    case ByNameCell => // candidates: (name, cell), then rank
      var x = Integer.compare(names(cm(a)), names(cm(b)))
      if (x == 0) x = cmpCell(a, b)
      if (x == 0) rankOrder(a, b) else x
    case ByRelev => cmpD(relev(b), relev(a))
    case _ => rankOrder(a, b)
  }

  /** The best `kk` of `ord(0 until ns)` by [[cmp]] into `tmp(0 until kk)`,
    * stable, skipping candidates whose relev is below `floor`. */
  private def topInto(ns: Int, kk: Int, floor: Double): Unit = {
    var held = 0; var c = 0
    while (c < ns && kk > 0) {
      val x = ord(c)
      if (cmpD(relev(x), floor) >= 0 && (held < kk || cmp(tmp(kk - 1), x) > 0)) {
        var at = if (held < kk) held else kk - 1
        while (at > 0 && cmp(tmp(at - 1), x) > 0) { tmp(at) = tmp(at - 1); at -= 1 }
        tmp(at) = x
        if (held < kk) held += 1
      }
      c += 1
    }
  }

  /** The page's top-k as [[FwdCandType]] rows, `sd` rounded by
    * [[StackRank.roundSd]]. */
  def topK(k: Int, dedupe: Boolean): Array[InternalRow] = {
    if (regs.length < n) {
      val m = gids.length
      regs = new Array[Int](m); plas = new Array[Int](m); best = new Array[Int](m)
      ord = new Array[Int](m); tmp = new Array[Int](m); cm = new Array[Int](m)
      relev = new Array[Double](m); sd = new Array[Double](m); ctx = new Array[Long](m)
      sdSet = new Array[Boolean](m)
    }
    var nr = 0; var np = 0; var i = 0
    while (i < n) {
      if (has(i, Region)) { regs(nr) = i; nr += 1 } else { plas(np) = i; np += 1 }
      i += 1
    }
    // F1 cap: the StackRegionCap best regions by (wr desc, rid asc)
    mode = ByCap; sortIdx(regs, nr, tmp, this)
    val nCap = math.min(nr, StackRegionCap)
    // each place mention's best capped region in its z8 ancestor cell
    i = 0
    while (i < np) {
      val p = plas(i)
      var b = -1
      if (nCap > 0 && !has(p, CellNull)) {
        val c8 = CellMath.parentCell(cells(p), ZRegion)
        var j = 0
        while (j < nCap) {
          val r = regs(j)
          if (!has(r, CellNull) && cells(r) == c8 && stackOrder(r, b) < 0) b = r
          j += 1
        }
      }
      best(i) = b
      i += 1
    }
    // one candidate per gid: the place mention with the best stack
    i = 0
    while (i < np) { ord(i) = i; i += 1 }
    mode = ByGid; sortIdx(ord, np, tmp, this)
    var nc = 0
    i = 0
    while (i < np) {
      val a = ord(i); val p = plas(a)
      if (i == 0 || cmpGid(plas(ord(i - 1)), p, nullsFirst = true) != 0) {
        val r = best(a)
        cm(nc) = p
        if (r < 0 || has(r, GidNull)) { relev(nc) = lens(p) / 3.0; ctx(nc) = -1L }
        else {
          val gap = if (poss(r) > poss(p) + lens(p) || poss(p) > poss(r) + lens(r)) GapPenalty else 0.0
          val order = if (poss(r) < poss(p)) OrderPenalty else 0.0
          relev(nc) = unionTokens(p, r) / 3.0 - (gap + order)
          ctx(nc) = gids(r)
        }
        nc += 1
      }
      i += 1
    }
    i = 0
    while (i < nr) { val r = regs(i); cm(nc) = r; relev(nc) = lens(r) / 3.0; ctx(nc) = -1L; nc += 1; i += 1 }

    // sd is computed on first use: only rank ties and the output need it
    java.util.Arrays.fill(sdSet, 0, nc, false)
    // the ranked candidates, in the order a stable sort breaks rank ties
    var c = 0
    while (c < nc) { ord(c) = c; c += 1 }
    var ns = nc
    if (dedupe) {
      // E4: the best candidate per (name, cell)
      mode = ByNameCell; sortIdx(ord, nc, tmp, this)
      ns = 0; c = 0
      while (c < nc) {
        val a = ord(c)
        val prev = if (c == 0) -1 else ord(c - 1)
        if (prev < 0 || names(cm(prev)) != names(cm(a)) || cmpCell(prev, a) != 0) { ord(ns) = a; ns += 1 }
        c += 1
      }
    }
    // stable bounded top-k into tmp: an insertion after every equal, the
    // worst dropped once k are held; first by relev alone, so that only
    // candidates at or above the k-th relev go on to be ranked with sd
    val kk = math.max(0, math.min(k, ns))
    mode = ByRelev
    topInto(ns, kk, Double.NegativeInfinity)
    val floor = if (kk > 0) relev(tmp(kk - 1)) else 0.0
    mode = ByRank
    topInto(ns, kk, floor)

    val out = new Array[InternalRow](kk)
    i = 0
    while (i < kk) {
      val a = tmp(i); val m = cm(a)
      out(i) = InternalRow(
        if (has(m, GidNull)) null else gids(m),
        if (has(m, Region)) RegionTyp else PlaceTyp,
        relev(a),
        if (has(m, CellNull)) null else cells(m),
        ctx(a),
        if (sdNull(a)) null else StackRank.roundSd(sdOf(a)),
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

  /** Spark's `round(sd, 4)` on a double, bit for bit: HALF_UP to 4
    * places of the shortest decimal of `x` (`BigDecimal.valueOf`), then the
    * double nearest that decimal. Unless |x|·10⁴ is within 4 ulps of a
    * tie, that is r / 10⁴ with r = ⌊|x|·10⁴ + ½⌋ carrying x's sign: the
    * decimal is within ½ ulp of x and the product within ½ ulp of x·10⁴,
    * so both sit on the same side of the tie, and JDK 17's
    * `BigDecimal.doubleValue` divides an integer below 2⁵² by 10⁴ the same
    * way. Near a tie and from |x|·10⁴ ≥ 2⁵² on, Spark's own route; NaN
    * and ±∞ pass through. */
  def roundSd(x: Double): Double = {
    val y = math.abs(x) * 1e4
    if (y < TwoTo52 && math.abs(y - math.floor(y) - 0.5) > 4 * math.ulp(y)) {
      val r = (y + 0.5).toLong
      (if (x < 0) -r else r) / 1e4
    } else if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  private final val TwoTo52 = 4503599627370496.0

  /** One ranked candidate: [[graft.ops.Geocode.rank]]'s columns with `sd`
    * rounded as `rank` rounds it ([[roundSd]]). */
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

  /** The orders of [[StackRank.cmp]]. */
  private final val ByCap = 0
  private final val ByGid = 1
  private final val ByNameCell = 2
  private final val ByRank = 3
  private final val ByRelev = 4

  /** The kernel over one page's candidate rows, for
    * [[graft.plans.GroupKernel]]. Row layout: doc_id, gid (long), region
    * (boolean), name, cell (long), glon, glat, score, qlon, qlat
    * (doubles), pos (int); with `gridCap` also phrase_id (long), relev_q,
    * score_q (ints), and the F2 grid-stage prune runs first: per
    * (phrase_id, typ) only the [[graft.ops.Geocode.GridStackCap]] best rows
    * by (relev_q desc, score_q desc, gid asc) stay. Each distinct name of
    * a page is split once, its tokens numbered in the page's own
    * vocabulary, and the task's one [[StackRank]] is reset per page. */
  final case class Pages(k: Int, dedupe: Boolean, gridCap: Boolean) extends graft.plans.GroupFn {
    @transient private lazy val sr = new StackRank
    /** Page scratch: name → its key followed by its token ids, token → id. */
    @transient private lazy val names = new java.util.HashMap[UTF8String, Array[Int]]
    @transient private lazy val vocab = new java.util.HashMap[String, Integer]

    override def outputSchema: StructType = FwdCandType

    override def apply(rows: Array[InternalRow]): Array[InternalRow] = {
      val kept = if (gridCap) pruneGrid(rows) else rows
      sr.reset(); names.clear(); vocab.clear()
      var i = 0
      while (i < kept.length) {
        val r = kept(i)
        val name = r.getUTF8String(3)
        var key = names.get(name)
        if (key == null) {
          val toks = name.toString.split(" ", -1)
          key = new Array[Int](toks.length + 1)
          key(0) = names.size
          var j = 0
          while (j < toks.length) {
            var id = vocab.get(toks(j))
            if (id == null) { id = vocab.size; vocab.put(toks(j), id) }
            key(j + 1) = id
            j += 1
          }
          names.put(name, key)
        }
        var f = if (r.getBoolean(2)) Region else 0
        if (r.isNullAt(1)) f |= GidNull
        if (r.isNullAt(4)) f |= CellNull
        if (r.isNullAt(5) || r.isNullAt(6)) f |= CoordNull
        if (r.isNullAt(7)) f |= ScoreNull
        if (r.isNullAt(8) || r.isNullAt(9)) f |= QNull
        sr.add(if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(4)) 0L else r.getLong(4),
          d(r, 5), d(r, 6), d(r, 7), d(r, 8), d(r, 9), f, key(0), r.getInt(10), key, 1, key.length - 1)
        i += 1
      }
      sr.topK(k, dedupe)
    }

    private def d(r: InternalRow, i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getDouble(i)

    private def pruneGrid(rows: Array[InternalRow]): Array[InternalRow] = {
      import graft.ops.Geocode.GridStackCap
      if (rows.length <= GridStackCap) return rows
      val order = new GridOrder(rows)
      val idx = rows.indices.toArray
      sortIdx(idx, idx.length, new Array[Int](idx.length), order)
      val keep = new Array[Boolean](rows.length)
      var run = 0
      idx.indices.foreach { j =>
        run = if (j > 0 && order.group(idx(j - 1), idx(j)) == 0) run + 1 else 0
        if (run < GridStackCap) keep(idx(j)) = true
      }
      rows.indices.filter(keep).map(rows).toArray
    }
  }

  /** [[Pages]]' F2 prune order over grid rows: (phrase_id nulls first,
    * typ), then relev_q desc, score_q desc (nulls last), gid asc (nulls
    * first). */
  private final class GridOrder(rows: Array[InternalRow]) extends IdxOrder {
    /** Nullable ascending compare of column `i`, nulls first. */
    private def asc(a: InternalRow, b: InternalRow, i: Int, long: Boolean): Int =
      if (a.isNullAt(i) || b.isNullAt(i)) java.lang.Boolean.compare(!a.isNullAt(i), !b.isNullAt(i))
      else if (long) java.lang.Long.compare(a.getLong(i), b.getLong(i))
      else Integer.compare(a.getInt(i), b.getInt(i))

    def group(i: Int, j: Int): Int = {
      val a = rows(i); val b = rows(j)
      val x = asc(a, b, 11, long = true)
      if (x != 0) x else java.lang.Boolean.compare(a.getBoolean(2), b.getBoolean(2))
    }

    override def cmp(i: Int, j: Int): Int = {
      val a = rows(i); val b = rows(j)
      var x = group(i, j)
      if (x == 0) x = asc(b, a, 12, long = false) // desc, nulls last
      if (x == 0) x = asc(b, a, 13, long = false)
      if (x == 0) asc(a, b, 1, long = true) else x
    }
  }

  /** Spark's double order: NaN above every number, -0.0 == 0.0. */
  private def cmpD(a: Double, b: Double): Int = if (a == b) 0 else java.lang.Double.compare(a, b)

  /** An order over indexes, for [[sortIdx]]. */
  private[index] trait IdxOrder {
    def cmp(a: Int, b: Int): Int
  }

  /** Stable merge sort of `idx(0 until len)` by `o`, through `tmp` (at
    * least `len` long). */
  private[index] def sortIdx(idx: Array[Int], len: Int, tmp: Array[Int], o: IdxOrder): Unit = {
    def go(lo: Int, hi: Int): Unit = if (hi - lo > 1) {
      val mid = (lo + hi) >>> 1
      go(lo, mid); go(mid, hi)
      var i = lo; var j = mid; var k = lo
      while (k < hi) {
        if (j >= hi || (i < mid && o.cmp(idx(i), idx(j)) <= 0)) { tmp(k) = idx(i); i += 1 }
        else { tmp(k) = idx(j); j += 1 }
        k += 1
      }
      System.arraycopy(tmp, lo, idx, lo, hi - lo)
    }
    go(0, len)
  }
}
