package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, CodegenFallback}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{CellMath, Geo, Text, Fingerprint}

/** Native Catalyst expressions over the pure graft.core kernel.
  *
  * Design (SURVEY.md §2.K, §4): cell/bit math gets `doGenCode` emitting a
  * static call into [[graft.core.CellMath]] so it stays inside whole-stage
  * codegen; geometry (PIP, tile cover) is CodegenFallback (complex control
  * flow, still columnar-batched by the surrounding codegen'd stage); text
  * kernels are CodegenFallback UnaryExpressions (single virtual call per row
  * dominated by the scan itself).
  *
  * All are registered on demand via [[F]] which wraps them as Columns using
  * the classic-mode ExpressionUtils bridge (Spark 4 removed the public
  * Column(expr) constructor).
  */
object Exprs {

  // ---------------------------------------------------------------
  // Cell math (H1/H3/H4/H7) — codegen'd static calls
  // ---------------------------------------------------------------

  case class CellAt(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "cell_at"
    override def nullSafeEval(z: Any, lon: Any, lat: Any): Any =
      CellMath.lonLatToCell(z.asInstanceOf[Int], lon.asInstanceOf[Double], lat.asInstanceOf[Double])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (z, lon, lat) => s"graft.core.CellMath.lonLatToCell($z, $lon, $lat)")
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): CellAt =
      copy(first = f, second = s, third = t)
  }

  case class ParentCell(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "parent_cell"
    override def nullSafeEval(cell: Any, zp: Any): Any =
      CellMath.parentCell(cell.asInstanceOf[Long], zp.asInstanceOf[Int])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (c, z) => s"graft.core.CellMath.parentCell($c, $z)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ParentCell =
      copy(left = l, right = r)
  }

  case class HilbertOfCell(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "hilbert_cell"
    override def nullSafeEval(cell: Any): Any =
      CellMath.hilbertOfCell(cell.asInstanceOf[Long])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.core.CellMath.hilbertOfCell($c)")
    override protected def withNewChildInternal(c: Expression): HilbertOfCell = copy(child = c)
  }

  /** ring_cells(cell, r): cells at Chebyshev distance exactly r (kNN D6). */
  case class RingCells(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "ring_cells"
    override def nullSafeEval(cell: Any, r: Any): Any =
      UnsafeArrayData.fromPrimitiveArray(CellMath.ringCells(cell.asInstanceOf[Long], r.asInstanceOf[Int]))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): RingCells =
      copy(left = l, right = r)
  }

  /** disk_cells(cell, r): all cells within Chebyshev distance r. */
  case class DiskCells(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "disk_cells"
    override def nullSafeEval(cell: Any, r: Any): Any =
      UnsafeArrayData.fromPrimitiveArray(CellMath.diskCells(cell.asInstanceOf[Long], r.asInstanceOf[Int]))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): DiskCells =
      copy(left = l, right = r)
  }

  /** annulus_cells(cell, r_in, r_out): cells with Chebyshev distance in
    * (r_in, r_out] — the probe set of the expanding kNN's over-ceiling
    * round loop (the previous disk is already known empty for residual
    * points; see Geocode.knnLoop). */
  case class AnnulusCells(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "annulus_cells"
    override def nullSafeEval(cell: Any, rIn: Any, rOut: Any): Any =
      UnsafeArrayData.fromPrimitiveArray(CellMath.annulusCells(
        cell.asInstanceOf[Long], rIn.asInstanceOf[Int], rOut.asInstanceOf[Int]))
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): AnnulusCells =
      copy(first = f, second = s, third = t)
  }

  // ---------------------------------------------------------------
  // Geometry (C4 PIP, H2 tile cover) — CodegenFallback
  // ---------------------------------------------------------------

  /** pip_wkb(geom_wkb, lon, lat): even-odd ray-cast point-in-polygon. */
  case class PipWkb(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "pip_wkb"
    override def nullSafeEval(wkb: Any, lon: Any, lat: Any): Any =
      Geo.pipWkb(wkb.asInstanceOf[Array[Byte]], lon.asInstanceOf[Double], lat.asInstanceOf[Double])
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): PipWkb =
      copy(first = f, second = s, third = t)
  }

  /** polys_overlap(wkb_a, wkb_b): do the outer shells overlap in their
    * interiors (proper edge crossing or vertex containment — see
    * Geo.polysOverlap)? The exact-verify kernel of the general polygon
    * overlap join. */
  case class PolysOverlap(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "polys_overlap"
    override def nullSafeEval(a: Any, b: Any): Any =
      Geo.polysOverlap(Geo.parseWkb(a.asInstanceOf[Array[Byte]]),
        Geo.parseWkb(b.asInstanceOf[Array[Byte]]))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): PolysOverlap =
      copy(left = l, right = r)
  }

  /** wkb_bbox(geom_wkb): [west, south, east, north]. */
  case class WkbBbox(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "wkb_bbox"
    override def nullSafeEval(wkb: Any): Any =
      new GenericArrayData(Geo.bbox(Geo.parseWkb(wkb.asInstanceOf[Array[Byte]])))
    override protected def withNewChildInternal(c: Expression): WkbBbox =
      copy(child = c)
  }

  /** poly_moments(geom_wkb): [A2, Cx6, Cy6] exterior-ring shoelace moments
    * on the milli-degree integer lattice ([[Geo.polyMomentsQ]]). */
  case class PolyMoments(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "poly_moments"
    override def nullSafeEval(wkb: Any): Any =
      new GenericArrayData(Geo.polyMomentsQ(Geo.parseWkb(wkb.asInstanceOf[Array[Byte]])))
    override protected def withNewChildInternal(c: Expression): PolyMoments =
      copy(child = c)
  }

  /** tile_cover(geom_wkb, z): packed cells covering the geometry. */
  case class TileCoverExpr(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "tile_cover"
    override def nullSafeEval(wkb: Any, z: Any): Any =
      new GenericArrayData(
        Geo.tileCover(Geo.parseWkb(wkb.asInstanceOf[Array[Byte]]), z.asInstanceOf[Int]))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): TileCoverExpr =
      copy(left = l, right = r)
  }

  /** rect_wkb(west, south, east, north): axis-aligned polygon WKB (closed
    * CCW ring). Used by the deterministic fixture synthesis; real data
    * carries arbitrary WKB through the same downstream operators. */
  case class RectWkb(first: Expression, second: Expression, third: Expression, fourth: Expression)
      extends QuaternaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "rect_wkb"
    override def nullSafeEval(w: Any, s: Any, e: Any, n: Any): Any = {
      val (ww, ss, ee, nn) = (w.asInstanceOf[Double], s.asInstanceOf[Double],
        e.asInstanceOf[Double], n.asInstanceOf[Double])
      Geo.writeWkbPolygon(Array(Array(ww, ss, ee, ss, ee, nn, ww, nn, ww, ss)))
    }
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression, q: Expression): RectWkb =
      copy(first = f, second = s, third = t, fourth = q)
  }

  /** frame_wkb(w, s, e, n; band): rect shell with a rect hole inset by
    * `band` per side — the donut/frame geometry for hole-aware overlap
    * (band is a literal constructor param, not a child). */
  case class FrameWkb(first: Expression, second: Expression, third: Expression,
                      fourth: Expression, band: Double)
      extends QuaternaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "frame_wkb"
    override def nullSafeEval(w: Any, s: Any, e: Any, n: Any): Any = {
      val (ww, ss, ee, nn) = (w.asInstanceOf[Double], s.asInstanceOf[Double],
        e.asInstanceOf[Double], n.asInstanceOf[Double])
      val (hw, hs, he, hn) = (ww + band, ss + band, ee - band, nn - band)
      Geo.writeWkbPolygon(Array(
        Array(ww, ss, ee, ss, ee, nn, ww, nn, ww, ss),
        Array(hw, hs, he, hs, he, hn, hw, hn, hw, hs)))
    }
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression, q: Expression): FrameWkb =
      copy(first = f, second = s, third = t, fourth = q)
  }

  /** dp_keep_ids(xs, ys, ids, tol2): Douglas–Peucker kept-point ids over
    * ONE rn-sorted track (parallel BIGINT coordinate/id arrays). The
    * refinement tree is replayed with an explicit segment stack: each
    * segment finds its farthest interior point (cross²/len2 double key,
    * squared-distance-to-a when degenerate, smallest-index tiebreak — the
    * EXACT arithmetic and tie rule of the recursive-CTE oracle) and splits
    * iff the key exceeds tol2. Split order cannot change the result (each
    * segment's argmax is independent), so the stack replay equals the
    * level-by-level oracle recursion. Per-track LOCAL by design: tracks
    * are bounded (day-segmented at 10^12-event scale), so the whole
    * simplification is one groupBy exchange + this kernel + explode — no
    * per-round driver iteration, no repeated corpus passes. */
  case class DpKeepIds(first: Expression, second: Expression, third: Expression, fourth: Expression)
      extends QuaternaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "dp_keep_ids"
    override def nullSafeEval(xsA: Any, ysA: Any, idsA: Any, tolA: Any): Any = {
      val xs = xsA.asInstanceOf[ArrayData].toLongArray()
      val ys = ysA.asInstanceOf[ArrayData].toLongArray()
      val ids = idsA.asInstanceOf[ArrayData].toLongArray()
      val tol2 = tolA.asInstanceOf[Double]
      val n = xs.length
      if (n == 0) return new GenericArrayData(Array.empty[Long])
      val keep = new Array[Boolean](n)
      keep(0) = true; keep(n - 1) = true
      // explicit segment stack of (i, j) index pairs (≤ 2n live segments)
      val st = new Array[Int](4 * n + 8)
      var sp = 0
      if (n >= 3) { st(0) = 0; st(1) = n - 1; sp = 2 }
      while (sp > 0) {
        sp -= 2
        val i = st(sp); val j = st(sp + 1)
        if (j - i >= 2) {
          val ax = xs(i); val ay = ys(i); val bx = xs(j); val by = ys(j)
          val len2 = (bx - ax) * (bx - ax) + (by - ay) * (by - ay)
          var best = -1.0; var m = -1
          var k = i + 1
          while (k < j) {
            val dkey =
              if (len2 == 0)
                ((xs(k) - ax) * (xs(k) - ax) + (ys(k) - ay) * (ys(k) - ay)).toDouble
              else {
                val cr = (bx - ax) * (ys(k) - ay) - (by - ay) * (xs(k) - ax)
                cr.toDouble * cr.toDouble / len2.toDouble
              }
            if (dkey > best) { best = dkey; m = k }
            k += 1
          }
          if (m >= 0 && best > tol2) {
            keep(m) = true
            st(sp) = i; st(sp + 1) = m
            st(sp + 2) = m; st(sp + 3) = j
            sp += 4
          }
        }
      }
      var cnt = 0; var k = 0
      while (k < n) { if (keep(k)) cnt += 1; k += 1 }
      val out = new Array[Any](cnt)
      var o = 0; k = 0
      while (k < n) { if (keep(k)) { out(o) = ids(k); o += 1 }; k += 1 }
      new GenericArrayData(out)
    }
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression, q: Expression): DpKeepIds =
      copy(first = f, second = s, third = t, fourth = q)
  }

  /** clip_to_cell(geom_wkb, cell): polygon pre-clipped to the tile rect
    * (Sutherland–Hodgman) re-encoded as WKB — the per-tile geometry the
    * batched PIP stage consumes. */
  case class ClipToCellWkb(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "clip_to_cell"
    override def nullSafeEval(wkb: Any, cell: Any): Any = {
      val g = Geo.clipToCell(Geo.parseWkb(wkb.asInstanceOf[Array[Byte]]),
        cell.asInstanceOf[Long])
      Geo.writeWkbPolygon(g.rings)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ClipToCellWkb =
      copy(left = l, right = r)
  }

  // ---------------------------------------------------------------
  // Text kernel (B1/B2/B7) — CodegenFallback unary
  // ---------------------------------------------------------------

  case class ExtractText(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "extract_text"
    override def nullSafeEval(html: Any): Any =
      UTF8String.fromString(Text.extractText(html.asInstanceOf[Array[Byte]]))
    override protected def withNewChildInternal(c: Expression): ExtractText = copy(child = c)
  }

  case class TokenizeExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "tokenize"
    override def nullSafeEval(s: Any): Any =
      new GenericArrayData(Text.tokenize(s.toString).map(UTF8String.fromString): Array[Any])
    override protected def withNewChildInternal(c: Expression): TokenizeExpr = copy(child = c)
  }

  case class PhraseFormExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "phrase_form"
    override def nullSafeEval(s: Any): Any =
      UTF8String.fromString(Text.phraseForm(s.toString))
    override protected def withNewChildInternal(c: Expression): PhraseFormExpr = copy(child = c)
  }

  /** window_strings(text): the DISTINCT space-joined token windows of the
    * given EXACT lengths — native single pass feeding a built-in explode
    * (the array-HOF form — nested transform/array_join/array_distinct
    * lambdas — is interpreted and was measured at 2.5× the whole consuming
    * query). Distinctness is per row, which equals per (doc_id, w)
    * dedup downstream without any exchange. */
  case class WindowStrings(child: Expression, lengths: Seq[Int])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "window_strings"
    override def nullSafeEval(s: Any): Any = {
      val toks = Text.tokenize(s.toString)
      val seen = new java.util.LinkedHashSet[String]()
      lengths.foreach { len =>
        var i = 0
        while (i + len <= toks.length) {
          val sb = new java.lang.StringBuilder(toks(i))
          var j = 1
          while (j < len) { sb.append(' ').append(toks(i + j)); j += 1 }
          seen.add(sb.toString)
          i += 1
        }
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var i = 0
      while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): WindowStrings =
      copy(child = c)
  }

  /** window_pos(text): the DISTINCT space-joined token windows of the given
    * EXACT lengths, each with the 1-BASED TOKEN INDEX of its FIRST
    * occurrence — array<struct<phrase,pos>>. The positional sibling of
    * [[WindowStrings]] (same single native pass + built-in explode shape;
    * the in-row first-occurrence dedup is a hashmap, linear, where the HOF
    * equivalent is a quadratic array_position scan per window). `pos` feeds
    * carmen's stack-relevance penalties (gap / out-of-order mentions —
    * upstream verifymatch [U]): the oracle mirror recovers the same index
    * from `strpos(' '||text||' ', ' '||name||' ')` space-counting, valid
    * because corpus text is single-space normalized tokens. */
  case class WindowPos(child: Expression, lengths: Seq[Int])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("phrase", StringType, nullable = false),
        StructField("pos", IntegerType, nullable = false))), containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "window_pos"
    override def nullSafeEval(s: Any): Any = {
      val toks = Text.tokenize(s.toString)
      val seen = new java.util.LinkedHashMap[String, Integer]()
      lengths.foreach { len =>
        var i = 0
        while (i + len <= toks.length) {
          val sb = new java.lang.StringBuilder(toks(i))
          var j = 1
          while (j < len) { sb.append(' ').append(toks(i + j)); j += 1 }
          seen.putIfAbsent(sb.toString, i + 1) // 1-based token index
          i += 1
        }
      }
      val out = new Array[Any](seen.size)
      val it = seen.entrySet().iterator()
      var k = 0
      while (it.hasNext) {
        val e = it.next()
        out(k) = InternalRow(UTF8String.fromString(e.getKey), e.getValue.intValue())
        k += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): WindowPos =
      copy(child = c)
  }

  /** shingle_hashes(text): the DISTINCT xxhash64 values (seed 42, byte-equal
    * to the built-in `xxhash64` over the space-joined shingle string) of the
    * text's raw-space token n-grams — RAW `split(text, ' ')` semantics, NOT
    * [[graft.core.Text.tokenize]], mirroring DuckDB `string_split`. One
    * native pass replacing a transform∘sequence∘concat_ws∘array_distinct
    * HOF pile-up that ran per shingle position (interpreted; see the
    * del_keys/window_strings precedent), and the exploded payload carries
    * 8-byte hashes instead of n-token strings. */
  case class ShingleHashes(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    require(n >= 1, "shingle length must be >= 1")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "shingle_hashes"
    override def nullSafeEval(s: Any): Any = {
      // limit -1: keep trailing empty tokens, matching Spark split()/DuckDB
      val toks = s.toString.split(" ", -1)
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      var i = 0
      while (i + n <= toks.length) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        seen.add(XxHash64Function.hash(
          UTF8String.fromString(sb.toString), StringType, 42L))
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = it.next().longValue(); k += 1 }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): ShingleHashes =
      copy(child = c)
  }

  /** del_keys(token): the DISTINCT deletion-1 neighborhood of a token —
    * token with position i removed, for every i, plus the token itself
    * (SymSpell symmetric-delete blocking keys). Native form of the
    * interpreted transform(sequence(...), i -> concat(left, substr)) HOF,
    * which dominated the fuzzy-join key stage (~8 interpreted evals per
    * token × millions of tokens). First-occurrence order, matching
    * array_distinct. */
  case class DelKeys(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "del_keys"
    override def nullSafeEval(s: Any): Any = {
      val str = s.toString
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i < str.length) {
        seen.add(str.substring(0, i) + str.substring(i + 1))
        i += 1
      }
      seen.add(str)
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): DelKeys = copy(child = c)
  }

  // ---------------------------------------------------------------
  // Fingerprints / sketches — CodegenFallback
  // ---------------------------------------------------------------

  case class DocFingerprint(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "doc_fingerprint"
    override def nullSafeEval(s: Any): Any = Fingerprint.docFingerprint(s.toString)
    override protected def withNewChildInternal(c: Expression): DocFingerprint = copy(child = c)
  }

  /** mix64(x): splitmix64 finalizer of a BIGINT column — the deterministic
    * sampling/shuffling rank key (can't be written as Column arithmetic:
    * the 64-bit multiplies overflow-error under ANSI). DuckDB mirror:
    * [[graft.queries.SqlHash.mix64Ctes]], bit-exact. */
  case class Mix64(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "mix64"
    override def nullSafeEval(x: Any): Any = Fingerprint.mix64(x.asInstanceOf[Long])
    override protected def withNewChildInternal(c: Expression): Mix64 = copy(child = c)
  }

  /** fnv1a64(s): FNV-1a 64-bit hash of a string column — the per-token
    * hash the HLL distinct sketch keys on (same kernel the SimHash token
    * weights use). DuckDB mirror: [[graft.queries.SqlHash.fnv1a64]]
    * (HUGEINT limb arithmetic), bit-exact for ASCII. */
  case class Fnv1a64(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "fnv1a64"
    override def nullSafeEval(s: Any): Any = Fingerprint.fnv1a64(s.toString)
    override protected def withNewChildInternal(c: Expression): Fnv1a64 = copy(child = c)
  }

  /** char_ngrams(text, n): the array of all length-n character substrings
    * (one per position — overlapping). One virtual call per ROW; the
    * `transform(sequence(...), i -> substring(...))` formulation it
    * replaces pays an interpreted lambda per POSITION (HOFs have no
    * doGenCode), measured 2× the whole langid query cost. UTF-16 code-unit
    * semantics, same as Spark's substring for BMP text. */
  case class CharNgrams(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "char_ngrams"
    override def nullSafeEval(s: Any): Any = {
      val str = s.toString
      val len = math.max(str.length - n + 1, 0)
      val out = new Array[AnyRef](len)
      var i = 0
      while (i < len) { out(i) = UTF8String.fromString(str.substring(i, i + n)); i += 1 }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): CharNgrams = copy(child = c)
  }

  case class SimHash(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "simhash64"
    override def nullSafeEval(s: Any): Any = Fingerprint.simhash64(Text.tokenize(s.toString))
    override protected def withNewChildInternal(c: Expression): SimHash = copy(child = c)
  }

  /** lsh_bands(sig, rowsPerBand): LSH band keys derived from an existing
    * MinHash signature — avoids re-hashing the document when both the
    * signature and its bands are needed. */
  case class LshBandsFromSig(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "lsh_bands"
    override def nullSafeEval(sig: Any, rpb: Any): Any =
      new GenericArrayData(Fingerprint.lshBands(
        sig.asInstanceOf[ArrayData].toLongArray(), rpb.asInstanceOf[Int]))
    override protected def withNewChildrenInternal(l: Expression, r: Expression): LshBandsFromSig =
      copy(left = l, right = r)
  }

  /** lang_ngram_best(text): per-language Σ of profile weights over the
    * text's char-trigram POSITIONS (same UTF-16 window semantics as
    * [[CharNgrams]]), argmax folded IN the expression — returns a 0/1-element
    * array<struct<pred_lang,score>> meant to be exploded (empty = no profile
    * trigram matched; ties keep the first language in profile order). The
    * in-row form of explode-trigrams ⋈ profile-dim ⋈ re-group when the
    * profile is frozen at plan time: one string pass, trigram keys packed
    * into a long (3 × 16-bit units), transient hash-map lookups. Emitting
    * through a Generator (not a scalar struct) is load-bearing: scalar
    * results get re-substituted per reference by CollapseProject/predicate
    * pushdown — a nested argmax CASE chain re-evaluated the scorer
    * exponentially (measured 511 copies in the plan) — while generator
    * output attributes can never be inlined. */
  case class LangNgramBest(child: Expression, langs: Seq[String],
                           profile: Seq[(Long, Array[Long])])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("pred_lang", StringType, nullable = false),
      StructField("score", LongType, nullable = false))), containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "lang_ngram_best"
    @transient private lazy val jmap = {
      val m = new java.util.HashMap[java.lang.Long, Array[Long]](profile.size * 2)
      profile.foreach { case (k, v) => m.put(k, v) }
      m
    }
    @transient private lazy val langU8 = langs.map(UTF8String.fromString).toArray
    override def nullSafeEval(s: Any): Any = {
      val str = s.toString
      val sums = new Array[Long](langs.size)
      var i = 0
      val n = str.length - 2
      while (i < n) {
        val key = (str.charAt(i).toLong << 32) |
          (str.charAt(i + 1).toLong << 16) | str.charAt(i + 2).toLong
        val hits = jmap.get(key)
        if (hits != null) {
          var j = 0
          while (j < hits.length) {
            val p = hits(j)
            sums((p >>> 32).toInt) += (p & 0xffffffffL)
            j += 1
          }
        }
        i += 1
      }
      var best = 0; i = 1
      while (i < sums.length) { if (sums(i) > sums(best)) best = i; i += 1 }
      if (sums(best) <= 0L) new GenericArrayData(Array.empty[Any])
      else new GenericArrayData(Array[Any](
        InternalRow(langU8(best), sums(best))))
    }
    override protected def withNewChildInternal(c: Expression): LangNgramBest = copy(child = c)
  }

  /** The rolling-row DP shared by [[DtwCells]] and [[FrechetCells]] over
    * two packed-cell tracks under Manhattan ground distance on the (x, y)
    * tile lattice: cost(i, j) = step(d(i, j), min(cost(i−1, j),
    * cost(i, j−1), cost(i−1, j−1))), two rolling rows, O(|a|·|b|) time and
    * O(|b|) state. Integer-exact; track lengths are capped upstream. */
  private def cellTrackDp(a: ArrayData, b: ArrayData, step: (Long, Long) => Long): Long = {
    val m = a.numElements(); val n = b.numElements()
    val bx = new Array[Long](n); val by = new Array[Long](n)
    var j = 0
    while (j < n) {
      val c = b.getLong(j)
      bx(j) = CellMath.xOf(c); by(j) = CellMath.yOf(c)
      j += 1
    }
    val Big = Long.MaxValue / 4
    var prev = Array.fill(n + 1)(Big)
    var cur = new Array[Long](n + 1)
    prev(0) = 0L
    var i = 0
    while (i < m) {
      val c = a.getLong(i)
      val ax = CellMath.xOf(c); val ay = CellMath.yOf(c)
      cur(0) = Big
      j = 1
      while (j <= n) {
        val d = math.abs(ax - bx(j - 1)) + math.abs(ay - by(j - 1))
        cur(j) = step(d, math.min(prev(j), math.min(cur(j - 1), prev(j - 1))))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(n)
  }

  /** dtw_cells(a, b): dynamic-time-warping distance between two packed-cell
    * tracks — [[cellTrackDp]] with (+, min). Mirrored in DuckDB as an
    * anti-diagonal wave recursion (Queries.dtwTracksSql). */
  case class DtwCells(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "dtw_cells"
    override def nullSafeEval(a: Any, b: Any): Any =
      cellTrackDp(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], _ + _)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): DtwCells =
      copy(left = l, right = r)
  }

  /** frechet_cells(a, b): DISCRETE Fréchet distance (Eiter–Mannila '94)
    * between two packed-cell tracks — [[cellTrackDp]] with (max, min).
    * Shares the wave-recursion oracle. */
  case class FrechetCells(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "frechet_cells"
    override def nullSafeEval(a: Any, b: Any): Any =
      cellTrackDp(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], math.max)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): FrechetCells =
      copy(left = l, right = r)
  }

  /** sorted_inter_count(a, b): |a ∩ b| for two SORTED array<long> inputs —
    * a single merge pass, no hash set, no output array allocation. The
    * verify kernel of set-similarity joins: with token arrays pre-hashed to
    * sorted longs, per-pair cost is O(|a|+|b|) primitive compares vs
    * array_intersect's per-element hashing of strings. */
  case class SortedInterCount(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = IntegerType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "sorted_inter_count"
    override def nullSafeEval(a: Any, b: Any): Any = {
      val xa = a.asInstanceOf[ArrayData]
      val xb = b.asInstanceOf[ArrayData]
      val na = xa.numElements(); val nb = xb.numElements()
      var i = 0; var j = 0; var n = 0
      while (i < na && j < nb) {
        val va = xa.getLong(i); val vb = xb.getLong(j)
        if (va < vb) i += 1
        else if (va > vb) j += 1
        else { n += 1; i += 1; j += 1 }
      }
      n
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedInterCount =
      copy(left = l, right = r)
  }

  /** winnow_fps(text): MOSS winnowing fingerprints (char k-grams, window w)
    * — the substring-robust document sketch for near-dup candidate
    * generation (any shared run >= w+k-1 chars shares a fingerprint). */
  case class WinnowFps(child: Expression, k: Int, w: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "winnow_fps"
    override def nullSafeEval(s: Any): Any =
      new GenericArrayData(Fingerprint.winnow(s.toString, k, w))
    override protected def withNewChildInternal(c: Expression): WinnowFps = copy(child = c)
  }

  /** lsh_buckets(q): the nTables sign-LSH bucket keys of an int-quantized
    * vector — all nTables × planesPerTable hyperplane dot products in one
    * tight primitive loop per row, replacing a 128-subexpression
    * aggregate(zip_with(...)) tree that dominated the ANN bucket stage
    * (measured ~6 s → sub-second at sf0.01). Planes are frozen pseudo-random
    * values derived from (table, plane, dim) via the fingerprint mix. */
  case class LshBuckets(child: Expression, nTables: Int, planesPerTable: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "lsh_buckets"
    // Plane components are the INTEGER numerators mix64(p·131+i) % 10^6
    // (the real-valued plane is m/10^6, but sign(Σ (m_i/10^6)·q_i) =
    // sign(Σ m_i·q_i) — so the sign test runs in exact integer arithmetic:
    // order-independent AND SQL-expressible, which is what gives ann_lsh a
    // full DuckDB oracle (Ann.lshTopKSql). |m| < 10^6, |q| ≲ 2·10^3 →
    // 64 terms < 2^38, no overflow.
    @transient private lazy val planes: Array[Array[Long]] =
      Array.tabulate(nTables * planesPerTable, 64) { (p, i) =>
        Fingerprint.mix64(p.toLong * 131 + i) % 1000000L
      }
    override def nullSafeEval(qa: Any): Any = {
      val q = qa.asInstanceOf[ArrayData].toLongArray()
      val out = new Array[Long](nTables)
      var t = 0
      while (t < nTables) {
        var bits = 0L
        var b = 0
        while (b < planesPerTable) {
          val h = planes(t * planesPerTable + b)
          var dot = 0L
          var i = 0
          val n = math.min(h.length, q.length)
          while (i < n) { dot += h(i) * q(i); i += 1 }
          if (dot >= 0) bits |= (1L << b)
          b += 1
        }
        out(t) = bits + (t.toLong << 32)
        t += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): LshBuckets = copy(child = c)
  }

  /** hull_2d(points): extreme points (strict convex hull) of an
    * array<struct<x:bigint,y:bigint>> of integer lattice points, CCW from
    * the lexicographic minimum — a single native monotone-chain pass
    * ([[graft.core.Geo.convexHull]]). Exact Long cross products; duplicate
    * and collinear-boundary points are dropped on both the Spark side and
    * the SQL extreme-point oracle. Consumed by explode, so the Generator
    * boundary keeps the kernel out of scalar re-substitution (the
    * lang_ngram_best lesson). hull(∪ hulls) == hull(∪ sets), so the same
    * expression serves both levels of the distributed hull-of-hulls. */
  case class Hull2D(child: Expression)
      extends UnaryExpression with CodegenFallback {
    private val pointType = StructType(Seq(
      StructField("x", LongType, nullable = false),
      StructField("y", LongType, nullable = false)))
    override def dataType: DataType = ArrayType(pointType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "hull_2d"
    override def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val pts = new Array[(Long, Long)](arr.numElements())
      var i = 0
      while (i < pts.length) {
        val row = arr.getStruct(i, 2)
        pts(i) = (row.getLong(0), row.getLong(1))
        i += 1
      }
      val hull = Geo.convexHull(pts)
      val out = new Array[Any](hull.length)
      i = 0
      while (i < hull.length) {
        out(i) = InternalRow(hull(i)._1, hull(i)._2)
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Hull2D = copy(child = c)
  }

  /** minhash_sig(text, k, numHashes): full MinHash signature (for verify-stage
    * estimated-Jaccard between candidate pairs). */
  case class MinHashSig(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "minhash_sig"
    override def nullSafeEval(s: Any, k: Any, nh: Any): Any = {
      val toks = Text.tokenize(s.toString)
      new GenericArrayData(Fingerprint.minhash(
        Fingerprint.shingles(toks, k.asInstanceOf[Int]), nh.asInstanceOf[Int]))
    }
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): MinHashSig =
      copy(first = f, second = s, third = t)
  }
}

/** Column-level API over [[Exprs]] (+ a few composed built-in helpers). */
object F {
  import Exprs._
  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def x(col: Column): Expression = ColumnBridge.expression(col)

  def cellAt(z: Column, lon: Column, lat: Column): Column = c(CellAt(x(z), x(lon), x(lat)))
  def parentCell(cell: Column, zp: Column): Column = c(ParentCell(x(cell), x(zp)))
  def hilbertCell(cell: Column): Column = c(HilbertOfCell(x(cell)))
  def ringCells(cell: Column, r: Column): Column = c(RingCells(x(cell), x(r)))
  def diskCells(cell: Column, r: Column): Column = c(DiskCells(x(cell), x(r)))
  def annulusCells(cell: Column, rIn: Column, rOut: Column): Column =
    c(AnnulusCells(x(cell), x(rIn), x(rOut)))
  def pipWkb(wkb: Column, lon: Column, lat: Column): Column = c(PipWkb(x(wkb), x(lon), x(lat)))
  def polysOverlap(a: Column, b: Column): Column = c(PolysOverlap(x(a), x(b)))
  def wkbBbox(wkb: Column): Column = c(WkbBbox(x(wkb)))
  def polyMoments(wkb: Column): Column = c(PolyMoments(x(wkb)))
  def tileCover(wkb: Column, z: Column): Column = c(TileCoverExpr(x(wkb), x(z)))
  def clipToCell(wkb: Column, cell: Column): Column = c(ClipToCellWkb(x(wkb), x(cell)))
  def rectWkb(w: Column, s: Column, e: Column, n: Column): Column =
    c(RectWkb(x(w), x(s), x(e), x(n)))
  def dpKeepIds(xs: Column, ys: Column, ids: Column, tol2: Column): Column =
    c(DpKeepIds(x(xs), x(ys), x(ids), x(tol2)))
  def frameWkb(w: Column, s: Column, e: Column, n: Column, band: Double): Column =
    c(FrameWkb(x(w), x(s), x(e), x(n), band))
  def extractText(html: Column): Column = c(ExtractText(x(html)))
  def tokenize(s: Column): Column = c(TokenizeExpr(x(s)))
  def phraseForm(s: Column): Column = c(PhraseFormExpr(x(s)))
  def docFingerprint(s: Column): Column = c(DocFingerprint(x(s)))
  def mix64(v: Column): Column = c(Mix64(x(v)))
  def fnv1a64(s: Column): Column = c(Fnv1a64(x(s)))
  def charNgrams(s: Column, n: Int): Column = c(CharNgrams(x(s), n))
  def simhash64(s: Column): Column = c(SimHash(x(s)))
  def minhashSig(s: Column, k: Column, numHashes: Column): Column =
    c(MinHashSig(x(s), x(k), x(numHashes)))
  def lshBandsFromSig(sig: Column, rowsPerBand: Column): Column =
    c(LshBandsFromSig(x(sig), x(rowsPerBand)))
  def lshBuckets(q: Column, nTables: Int, planesPerTable: Int): Column =
    c(LshBuckets(x(q), nTables, planesPerTable))
  def sortedInterCount(a: Column, b: Column): Column =
    c(SortedInterCount(x(a), x(b)))
  def dtwCells(a: Column, b: Column): Column = c(DtwCells(x(a), x(b)))
  def frechetCells(a: Column, b: Column): Column = c(FrechetCells(x(a), x(b)))
  def hull2d(points: Column): Column = c(Hull2D(x(points)))
  def windowStrings(text: Column, lengths: Seq[Int]): Column =
    c(WindowStrings(x(text), lengths))
  def windowPos(text: Column, lengths: Seq[Int]): Column =
    c(WindowPos(x(text), lengths))
  def shingleHashes(text: Column, n: Int): Column =
    c(ShingleHashes(x(text), n))
  def delKeys(tok: Column): Column = c(DelKeys(x(tok)))
  /** Builds the packed trigram→(langIdx, weight) profile for
    * [[Exprs.LangNgramBest]] (weight = profile length − rank). Trigrams
    * longer/shorter than 3 UTF-16 units are rejected (the packing is
    * 3×16-bit). */
  def langNgramBest(text: Column, profiles: Seq[(String, Seq[String])]): Column = {
    val packed = profiles.zipWithIndex.flatMap { case ((_, tris), li) =>
      tris.zipWithIndex.map { case (t, r) =>
        require(t.length == 3, s"trigram profile entry '$t' must be 3 chars")
        val key = (t.charAt(0).toLong << 32) | (t.charAt(1).toLong << 16) | t.charAt(2).toLong
        val wt = (tris.size - r).toLong
        key -> ((li.toLong << 32) | wt)
      }
    }.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (k, vs) => (k, vs.map(_._2).toArray) }
    c(LangNgramBest(x(text), profiles.map(_._1), packed))
  }
  def winnowFps(s: Column, k: Int, w: Int): Column =
    c(WinnowFps(x(s), k, w))

  import org.apache.spark.sql.functions._

  /** Haversine distance in km, written with built-ins so it stays inside
    * whole-stage codegen AND mirrors token-for-token into the DuckDB oracle
    * (see Synth.sqlHaversine). */
  def haversineKm(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    val p = lit(math.Pi / 180.0)
    val a = pow(sin((lat2 - lat1) * p / 2), 2) +
      cos(lat1 * p) * cos(lat2 * p) * pow(sin((lon2 - lon1) * p / 2), 2)
    lit(2.0 * Geo.EarthRadiusKm) * asin(least(lit(1.0), sqrt(a)))
  }

  /** Proximity-decayed score (H6): score / (1 + distKm / 40). */
  def scoredist(score: Column, distKm: Column): Column =
    score / (lit(1.0) + distKm / lit(Geo.ProximityScaleKm))
}
