package graft.core

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic text kernel: tokenizer, token-replacement rules, and the
  * frozen HTML→text extractor. The byte-identical contract (BASELINE.json
  * input_hint) lives here — every function is a hand-rolled scanner with no
  * locale or regex-engine dependence.
  *
  * Reference semantics: upstream carmen `lib/util/token.js` (replacement
  * rules) and `lib/util/termops.js` `tokenize` [U]; extraction spec frozen in
  * FIXTURES.md §1 (reference tree empty at survey time, SURVEY.md §0).
  */
object Text {

  // ------------------------------------------------------------------
  // B2: tokenize — lowercase, strip punctuation, collapse ws, split
  // ------------------------------------------------------------------

  /** The token char of each UTF-16 char, 0 for a separator: ASCII letters
    * lowercased by +32 and digits kept; a non-ASCII letter or digit kept
    * as `Character.toLowerCase` (stable on a fixed JVM); everything else,
    * lone surrogates included, separates. */
  private val Fold: Array[Char] = Array.tabulate(65536) { i =>
    val c = i.toChar
    if (c >= 'a' && c <= 'z') c
    else if (c >= 'A' && c <= 'Z') (c + 32).toChar
    else if (c >= '0' && c <= '9') c
    else if (c > 127 && Character.isLetterOrDigit(c)) Character.toLowerCase(c)
    else 0.toChar
  }

  /** The tokens of the last [[scan]], lowercased and back to back in
    * `chars`: token `t` is `chars(offs(t) until offs(t + 1))` and its
    * `String.hashCode` is `hashes(t)`, `n` tokens. The arrays grow to the
    * longest text scanned and are kept, so a kernel scans every row of a
    * task into one buffer. */
  final class Tokens(capacity: Int = 256) {
    var chars: Array[Char] = new Array[Char](math.max(16, capacity))
    var offs: Array[Int] = new Array[Int](32)
    var hashes: Array[Int] = new Array[Int](32)
    var n = 0
    private var end = 0
    private var h = 0

    def token(t: Int): String = new String(chars, offs(t), offs(t + 1) - offs(t))

    private[Text] def clear(): Unit = { n = 0; end = 0; h = 0 }

    /** Append token char `c`, or end the open token on a separator (0). */
    private[Text] def put(c: Char): Unit =
      if (c != 0) {
        if (end == chars.length) chars = java.util.Arrays.copyOf(chars, end * 2)
        chars(end) = c
        end += 1
        h = 31 * h + c
      } else close()

    private[Text] def close(): Unit =
      if (end > offs(n)) {
        hashes(n) = h; h = 0
        n += 1
        if (n == offs.length) {
          offs = java.util.Arrays.copyOf(offs, n * 2); hashes = java.util.Arrays.copyOf(hashes, n * 2)
        }
        offs(n) = end
      }
  }

  /** Tokenize `s` into `t` (cleared first; null is no tokens): every
    * char through [[Fold]], a token per run of kept chars. */
  def scan(s: String, t: Tokens): Tokens = {
    t.clear()
    if (s != null) {
      var i = 0
      while (i < s.length) { t.put(Fold(s.charAt(i))); i += 1 }
    }
    t.close()
    t
  }

  /** [[scan]] of `u.toString`, decoded in place: a well-formed 1- to
    * 3-byte UTF-8 sequence is its char; any other byte separates, as the
    * JDK decoder's U+FFFD for a malformed sequence and the surrogates of
    * a 4-byte one do. The JDK replaces a maximal prefix of a well-formed
    * sequence, never an ASCII or lead byte after it, so the two agree. */
  def scan(u: UTF8String, t: Tokens): Tokens = u.getBaseObject match {
    case a: Array[Byte] => scan(a, (u.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, u.numBytes, t)
    case _ => val a = u.getBytes; scan(a, 0, a.length, t)
  }

  private def scan(bs: Array[Byte], from: Int, len: Int, t: Tokens): Tokens = {
    t.clear()
    val end = from + len
    var i = from
    while (i < end) {
      val b = bs(i)
      if (b >= 0) { t.put(Fold(b)); i += 1 }
      else {
        val x = b & 0xff
        var c = -1
        if (x >= 0xC2 && x <= 0xDF && i + 1 < end) {
          val b1 = bs(i + 1)
          if ((b1 & 0xC0) == 0x80) { c = ((x & 0x1F) << 6) | (b1 & 0x3F); i += 1 }
        } else if (x >= 0xE0 && x <= 0xEF && i + 2 < end) {
          val b1 = bs(i + 1) & 0xff; val b2 = bs(i + 2)
          // E0 needs A0..BF (not overlong), ED 80..9F (not a surrogate)
          val lo = if (x == 0xE0) 0xA0 else 0x80
          val hi = if (x == 0xED) 0x9F else 0xBF
          if (b1 >= lo && b1 <= hi && (b2 & 0xC0) == 0x80) {
            c = ((x & 0x0F) << 12) | ((b1 & 0x3F) << 6) | (b2 & 0x3F); i += 2
          }
        }
        t.put(if (c < 0) 0.toChar else Fold(c))
        i += 1
      }
    }
    t.close()
    t
  }

  /** [[scan]] with each token materialized as a String. */
  def tokenize(s: String): Array[String] = {
    if (s == null) return Array.empty
    val t = scan(s, new Tokens(s.length))
    val out = new Array[String](t.n)
    var i = 0
    while (i < t.n) { out(i) = t.token(i); i += 1 }
    out
  }

  def normalize(s: String): String = tokenize(s).mkString(" ")

  // ------------------------------------------------------------------
  // B1: token replacement rules (abbreviation folding)
  // ------------------------------------------------------------------

  /** Global token replacements applied to both index text and query text
    * (upstream `lib/util/token.js` ships a large table; we freeze a
    * representative deterministic subset — per-index custom tables can be
    * layered by callers). Applied token-wise after [[tokenize]]. */
  val TokenRules: Map[String, String] = Map(
    "street" -> "st", "avenue" -> "ave", "boulevard" -> "blvd",
    "drive" -> "dr", "lane" -> "ln", "road" -> "rd", "court" -> "ct",
    "place" -> "pl", "square" -> "sq", "highway" -> "hwy",
    "north" -> "n", "south" -> "s", "east" -> "e", "west" -> "w",
    "northeast" -> "ne", "northwest" -> "nw",
    "southeast" -> "se", "southwest" -> "sw",
    "saint" -> "st", "fort" -> "ft", "mount" -> "mt", "mountain" -> "mtn",
  )

  def applyTokenRules(tokens: Array[String]): Array[String] =
    tokens.map(t => TokenRules.getOrElse(t, t))

  /** tokenize + replace + rejoin: the canonical phrase form used for both
    * index phrases and query subqueries. */
  def phraseForm(s: String): String = applyTokenRules(tokenize(s)).mkString(" ")

  // ------------------------------------------------------------------
  // B7: HTML -> text extraction (frozen spec, FIXTURES.md §1)
  // ------------------------------------------------------------------

  private val BlockTags = Set(
    "p", "div", "br", "li", "h1", "h2", "h3", "h4", "h5", "h6", "tr", "title")

  /** Frozen extractor:
    *  - drop <script>/<style> subtrees entirely
    *  - block tags -> "\n", all other tags -> ""
    *  - decode &amp; &lt; &gt; &quot; and numeric &#NN; / &#xNN;
    *  - collapse runs of spaces/tabs to one space
    *  - collapse >=2 newlines to one
    *  - trim; UTF-8 in/out
    * Hand-rolled single-pass scanner; no regex.
    */
  def extractText(html: Array[Byte]): String = {
    val s = new String(html, java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    var skipUntil: String = null // closing tag name we're skipping to
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        // find tag end
        var j = i + 1
        while (j < n && s.charAt(j) != '>') j += 1
        val inner = s.substring(i + 1, math.min(j, n))
        val isClose = inner.startsWith("/")
        val rawName = (if (isClose) inner.substring(1) else inner)
        var k = 0
        while (k < rawName.length && isNameChar(rawName.charAt(k))) k += 1
        val name = rawName.substring(0, k).toLowerCase(java.util.Locale.ROOT)
        if (skipUntil != null) {
          if (isClose && name == skipUntil) skipUntil = null
        } else if (!isClose && (name == "script" || name == "style") &&
                   !inner.endsWith("/")) {
          skipUntil = name
        } else if (BlockTags.contains(name)) {
          sb.append('\n')
        } // inline tags: append nothing
        i = j + 1
      } else if (skipUntil != null) {
        i += 1
      } else if (c == '&') {
        val (decoded, next) = decodeEntity(s, i)
        sb.append(decoded)
        i = next
      } else {
        sb.append(c)
        i += 1
      }
    }
    collapse(sb.toString)
  }

  @inline private def isNameChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  /** Decode one entity starting at s(i)=='&'. Returns (text, nextIndex).
    * Unknown entities pass through literally. */
  private def decodeEntity(s: String, i: Int): (String, Int) = {
    val n = s.length
    var j = i + 1
    val max = math.min(n, i + 10)
    while (j < max && s.charAt(j) != ';') j += 1
    if (j >= max || s.charAt(j) != ';') return ("&", i + 1)
    val body = s.substring(i + 1, j)
    val out = body match {
      case "amp" => "&"
      case "lt" => "<"
      case "gt" => ">"
      case "quot" => "\""
      case _ if body.startsWith("#x") || body.startsWith("#X") =>
        try String.valueOf(Character.toChars(Integer.parseInt(body.substring(2), 16)))
        catch { case _: Exception => null }
      case _ if body.startsWith("#") =>
        try String.valueOf(Character.toChars(Integer.parseInt(body.substring(1))))
        catch { case _: Exception => null }
      case _ => null
    }
    if (out == null) ("&", i + 1) else (out, j + 1)
  }

  /** Whitespace collapse per the frozen spec. */
  private def collapse(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    var pendingNl = false
    var pendingSp = false
    var emitted = false
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\n' || c == '\r') pendingNl = true
      else if (c == ' ' || c == '\t') pendingSp = true
      else {
        if (emitted) {
          if (pendingNl) sb.append('\n')
          else if (pendingSp) sb.append(' ')
        }
        pendingNl = false; pendingSp = false
        sb.append(c)
        emitted = true
      }
      i += 1
    }
    sb.toString
  }

  // ------------------------------------------------------------------
  // B3/B4: phrase generation & subquery windows
  // ------------------------------------------------------------------

  /** Feature text "Name One, Synonym" -> canonical phrase forms. */
  def indexablePhrases(text: String): Array[String] = {
    if (text == null) return Array.empty
    text.split(',').iterator.map(phraseForm).filter(_.nonEmpty).distinct.toArray
  }

  /** All proper prefixes of a phrase's token sequence (autocomplete degens),
    * including the full phrase. "foo bar baz" -> ["foo","foo bar","foo bar baz"]. */
  def prefixPhrases(phrase: String): Array[String] = {
    val toks = phrase.split(' ')
    (1 to toks.length).map(k => toks.take(k).mkString(" ")).toArray
  }

  /** Tokens of a query [[subqueries]] keeps (upstream caps similarly). */
  final val MaxQueryTokens = 20

  /** Contiguous token windows of a query, longest first, with coverage
    * bitmask. Returns (phrase, mask, startPos). Query capped at
    * [[MaxQueryTokens]] tokens. */
  def subqueries(query: String): Array[(String, Long, Int)] = {
    val toks = applyTokenRules(tokenize(query)).take(MaxQueryTokens)
    val nT = toks.length
    val out = new ArrayBuffer[(String, Long, Int)](nT * (nT + 1) / 2)
    var len = nT
    while (len >= 1) {
      var start = 0
      while (start + len <= nT) {
        val phrase = toks.slice(start, start + len).mkString(" ")
        val mask = ((1L << len) - 1L) << start
        out += ((phrase, mask, start))
        start += 1
      }
      len -= 1
    }
    out.toArray
  }
}
