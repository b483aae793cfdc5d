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
import org.apache.spark.unsafe.types.UTF8String
import graft.core.Text

/** The broadcast forward-geocode dictionary behind `fwd_topk`: the place
  * and region rows of a gazetteer, or of a fat grid index, as parallel
  * primitive arrays grouped by name. Each name is stored as the ids of its
  * space-split tokens in a vocabulary of every name token: a page token
  * costs one [[tokenId]] probe; a one-token window is its token's
  * [[singleName]], and a longer one, up to [[longestFrom]] its first
  * token, is an id sequence probed in one open-addressing name table
  * ([[find]]), with no per-character hashing. `cells` holds each row's
  * index cell, as the build took it ([[GazDict.build]]: z12 for places
  * and z8 for regions, the cells [[graft.ops.Geocode.coalesce2]]
  * computes; [[GazDict.buildFromGrid]]: the grid's own `cell`). Rows of
  * any other `typ` never become candidates and are left out. A name with
  * an empty or non-token part ("a  b", "Data") stays in the table but can
  * never match: page tokens are non-empty and already lowercased. Only
  * the name match runs over it: a page's matched rows go to the
  * [[StackRank]] kernel, which the indexed and staged forward paths
  * share.
  *
  * Sizes (both tables at most half full): 41 B per row; per distinct
  * name 8 B plus 4 B per token, and 8–16 B of name-table slots if it has
  * two tokens or more (a one-token name is its token's [[singleName]]);
  * per distinct token 20–28 B plus 1 B per char (2 B past Latin-1).
  * `flags` are [[StackRank]]'s row bits: Region (else place), GidNull,
  * CellNull, CoordNull (glon or glat null), ScoreNull. */
final class GazDictData(tokChars: String, tokOff: Array[Int], tokSlots: Array[Int],
                        single: Array[Int], reach: Array[Int],
                        val nameToks: Array[Int], nameOff: Array[Int], nameSlots: Array[Int],
                        rowOff: Array[Int], val gids: Array[Long], val cells: Array[Long],
                        val lons: Array[Double], val lats: Array[Double],
                        val scores: Array[Double], val flags: Array[Byte])
    extends Serializable {
  import GazDict._

  /** Number of distinct names. */
  def names: Int = rowOff.length - 1

  /** Rows of name i are `rowStart(i) until rowStart(i + 1)`. */
  def rowStart(name: Int): Int = rowOff(name)

  /** Token ids of name i are `nameToks(nameStart(i) until nameStart(i + 1))`. */
  def nameStart(name: Int): Int = nameOff(name)

  /** The one-token name that is token `id`, or -1. */
  def singleName(id: Int): Int = single(id)

  /** Token count of the longest name whose first token is `id`. */
  def longestFrom(id: Int): Int = reach(id)

  /** Vocabulary id of the token `cs(from until to)`, whose
    * `String.hashCode` is `h`, or -1. */
  def tokenId(cs: Array[Char], from: Int, to: Int, h: Int): Int = {
    val mask = tokSlots.length - 1
    var s = home(h, tokSlots.length)
    while (tokSlots(s) != 0) {
      val id = tokSlots(s) - 1
      val o = tokOff(id)
      if (tokOff(id + 1) - o == to - from) {
        var j = 0
        while (j < to - from && tokChars.charAt(o + j) == cs(from + j)) j += 1
        if (j == to - from) return id
      }
      s = (s + 1) & mask
    }
    -1
  }

  /** Name index of the token-id window `ids(start until start + len)`,
    * `len` ≥ 2, whose [[mix]] fold is `h`, or -1. */
  def find(ids: Array[Int], start: Int, len: Int, h: Int): Int = {
    val mask = nameSlots.length - 1
    var s = home(h, nameSlots.length)
    while (nameSlots(s) != 0) {
      val name = nameSlots(s) - 1
      val o = nameOff(name)
      if (nameOff(name + 1) - o == len) {
        var j = 0
        while (j < len && nameToks(o + j) == ids(start + j)) j += 1
        if (j == len) return name
      }
      s = (s + 1) & mask
    }
    -1
  }
}

object GazDict {

  /** Home slot of hash `h` in a table of `size` slots, a power of two:
    * the top bits of h·φ (Fibonacci hashing mixes every bit of h in). */
  private[index] def home(h: Int, size: Int): Int =
    (h * 0x9E3779B9) >>> (Integer.numberOfLeadingZeros(size) + 1)

  /** One step of the hash of a token-id sequence (start at 0). */
  private[index] def mix(h: Int, id: Int): Int = Integer.rotateLeft(h ^ (id * 0xCC9E2D51), 15) * 5 + 0xE6546B64

  /** An open-addressing table of `n` entries with hashes `hs`, at most half
    * full: slot = entry + 1, 0 = empty. */
  private def table(hs: Array[Int], n: Int): Array[Int] = {
    val slots = new Array[Int](Integer.highestOneBit(math.max(1, 2 * n - 1)) << 1)
    val mask = slots.length - 1
    var i = 0
    while (i < n) {
      var s = home(hs(i), slots.length)
      while (slots(s) != 0) s = (s + 1) & mask
      slots(s) = i + 1
      i += 1
    }
    slots
  }

  /** The build's token vocabulary: distinct tokens in first-seen order in
    * one char pool, behind the `String.hashCode` table [[GazDictData.tokenId]]
    * probes. */
  private final class Vocab {
    val chars = new java.lang.StringBuilder
    var off = new Array[Int](16)
    var hashes = new Array[Int](16)
    var n = 0
    var slots = new Array[Int](2)

    def id(t: String): Int = {
      val h = t.hashCode
      var s = home(h, slots.length)
      while (slots(s) != 0) {
        val id = slots(s) - 1
        if (same(id, t)) return id
        s = (s + 1) & (slots.length - 1)
      }
      if (n + 2 > off.length) {
        off = java.util.Arrays.copyOf(off, off.length * 2); hashes = java.util.Arrays.copyOf(hashes, off.length)
      }
      chars.append(t); hashes(n) = h; n += 1; off(n) = chars.length
      if (2 * n > slots.length) slots = table(hashes, n) else slots(s) = n
      n - 1
    }

    private def same(id: Int, t: String): Boolean = {
      val o = off(id)
      if (off(id + 1) - o != t.length) return false
      var j = 0
      while (j < t.length && chars.charAt(o + j) == t.charAt(j)) j += 1
      j == t.length
    }
  }

  /** Build a [[GazDictData]] from the place and region rows of `gaz`
    * (name, typ, gid, glon, glat, score; `n` rows at most), each row at
    * the index cell `cell`. The rows are sorted by name in Spark and
    * stream back one partition at a time into primitive arrays, like
    * [[CellIndex.buildPoints]]. */
  def build(gaz: DataFrame, cell: Column, n: Long): GazDictData = {
    require(n <= Int.MaxValue, s"$n gazetteer rows do not fit one array")
    val vocab = new Vocab
    val nameToks = Array.newBuilder[Int]
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
    var row = 0; var nTok = 0
    while (it.hasNext) {
      val r = it.next()
      val name = r.getString(0)
      if (name != prev) {
        nameOff += nTok; rowOff += row
        val toks = name.split(" ", -1)
        var h = 0
        toks.foreach { t => val id = vocab.id(t); nameToks += id; h = mix(h, id) }
        hashes += h; nTok += toks.length
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
    nameOff += nTok; rowOff += row
    val hs = hashes.result(); val toks = nameToks.result(); val offs = nameOff.result()
    val single = Array.fill(vocab.n)(-1); val reach = new Array[Int](vocab.n)
    var i = 0
    while (i < hs.length) {
      val len = offs(i + 1) - offs(i); val first = toks(offs(i))
      if (len == 1) single(first) = i
      reach(first) = math.max(reach(first), len)
      i += 1
    }
    // only windows of 2+ tokens probe the name table: a one-token name is
    // its token's `single`
    val multi = (0 until hs.length).filter(i => offs(i + 1) - offs(i) > 1).toArray
    val nameSlots = table(multi.map(hs), multi.length).map(e => if (e == 0) 0 else multi(e - 1) + 1)
    new GazDictData(vocab.chars.toString, java.util.Arrays.copyOf(vocab.off, vocab.n + 1),
      vocab.slots, single, reach, toks, offs, nameSlots,
      rowOff.result(), gids.result(), cells.result(), lons.result(), lats.result(), scores.result(),
      flags.result())
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
    * broadcast [[GazDictData]]: the page's tokens ([[Text.scan]], the
    * tokenizer of [[graft.functions.Exprs.WindowPos]]) → vocabulary ids →
    * name matches over id windows in-row, then the shared [[StackRank]]
    * kernel replays [[graft.ops.Geocode.coalesce2]] →
    * [[graft.ops.Geocode.rank]]. Returns the page's top-k
    * [[StackRank.FwdCandType]] rows, `sd` rounded as `rank` rounds it
    * ([[StackRank.roundSd]]; empty for null text), consumed by
    * explode. Stateful: every buffer of a page is per-task [[Scratch]],
    * reused row after row, so the output rows are all a page allocates;
    * Spark gives each task and projection a fresh copy. */
  case class FwdTopK(first: Expression, second: Expression, third: Expression,
                     bc: Broadcast[GazDictData], k: Int, dedupe: Boolean)
      extends TernaryExpression with CodegenFallback {
    @transient private lazy val dict = bc.value
    @transient private lazy val scratch = new Scratch
    override def stateful: Boolean = true
    override def dataType: DataType = ArrayType(StackRank.FwdCandType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "fwd_topk"
    override def eval(input: InternalRow): Any = {
      val text = first.eval(input)
      if (text == null) return new GenericArrayData(Array.empty[Any])
      val qlon = second.eval(input); val qlat = third.eval(input)
      val qNull = qlon == null || qlat == null
      val s = scratch
      Text.scan(text.asInstanceOf[UTF8String], s.toks)
      s.sr.reset()
      matchWindows(dict, s,
        if (qNull) 0.0 else qlon.asInstanceOf[Double],
        if (qNull) 0.0 else qlat.asInstanceOf[Double],
        if (qNull) StackRank.QNull else 0)
      new GenericArrayData(s.sr.topK(k, dedupe).asInstanceOf[Array[Any]])
    }
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): FwdTopK =
      copy(first = f, second = s, third = t)
  }

  def fwdTopKCol(text: Column, qlon: Column, qlat: Column, bc: Broadcast[GazDictData],
                 k: Int, dedupe: Boolean): Column =
    ColumnBridge.column(FwdTopK(ColumnBridge.expression(text), ColumnBridge.expression(qlon),
      ColumnBridge.expression(qlat), bc, k, dedupe))

  /** One task's page buffers: the scanned tokens, their vocabulary ids,
    * the distinct hits, the name stamps and the [[StackRank]]. */
  private final class Scratch {
    val toks = new Text.Tokens
    var ids = new Array[Int](64)
    var hits = new Array[Long](16)
    /** `stamps(name) == page` iff name already hit on this page. */
    var stamps: Array[Int] = Array.emptyIntArray
    var page = 0
    val sr = new StackRank
  }

  /** [[graft.functions.Exprs.WindowPos]] ⋈ gazetteer on name over the
    * scanned `s.toks`: every row of every distinct matched name joins
    * `s.sr` at the name's first occurrence, with the page's query point.
    * A window stops growing at a token outside the vocabulary. The scan
    * is start-major, so a name's first hit is its first occurrence; the
    * distinct hits are added in name order. */
  private def matchWindows(d: GazDictData, s: Scratch, qlon: Double, qlat: Double, qFlag: Int): Unit = {
    val t = s.toks; val n = t.n
    if (s.ids.length < n) s.ids = new Array[Int](math.max(n, 2 * s.ids.length))
    val ids = s.ids
    var i = 0
    while (i < n) { ids(i) = d.tokenId(t.chars, t.offs(i), t.offs(i + 1), t.hashes(i)); i += 1 }
    if (s.stamps.length != d.names || s.page == Int.MaxValue) { s.stamps = new Array[Int](d.names); s.page = 0 }
    s.page += 1
    val stamps = s.stamps; val page = s.page
    var nh = 0
    i = 0
    while (i < n) {
      val first = ids(i)
      if (first >= 0) {
        // a window is a name only if its first token starts one that long
        val most = math.min(d.longestFrom(first), n - i)
        var h = mix(0, first); var l = 1
        var name = d.singleName(first)
        while (l <= most && (l == 1 || ids(i + l - 1) >= 0)) {
          if (l > 1) { h = mix(h, ids(i + l - 1)); name = d.find(ids, i, l, h) }
          if (name >= 0 && stamps(name) != page) {
            stamps(name) = page
            if (nh == s.hits.length) s.hits = java.util.Arrays.copyOf(s.hits, nh * 2)
            s.hits(nh) = (name.toLong << 32) | (i + 1)
            nh += 1
          }
          l += 1
        }
      }
      i += 1
    }
    java.util.Arrays.sort(s.hits, 0, nh)
    var j = 0
    while (j < nh) {
      val name = (s.hits(j) >>> 32).toInt; val pos = s.hits(j).toInt
      val start = d.nameStart(name); val len = d.nameStart(name + 1) - start
      var r = d.rowStart(name)
      while (r < d.rowStart(name + 1)) {
        s.sr.add(d.gids(r), d.cells(r), d.lons(r), d.lats(r), d.scores(r), qlon, qlat,
          d.flags(r) | qFlag, name, pos, d.nameToks, start, len)
        r += 1
      }
      j += 1
    }
  }
}
