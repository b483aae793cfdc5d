package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.unsafe.types.UTF8String

class TextSpec extends AnyFunSuite {
  import Text._

  test("tokenize basics") {
    assert(tokenize("Hello, World!").sameElements(Array("hello", "world")))
    assert(tokenize("  A  B\t C ").sameElements(Array("a", "b", "c")))
    assert(tokenize("123 Main St.").sameElements(Array("123", "main", "st")))
    assert(tokenize("").isEmpty)
    assert(tokenize(null).isEmpty)
  }

  /** The tokenizer loop as it stood before [[Text.scan]], frozen as the
    * reference: one String per token through a StringBuilder. */
  private def frozenTokenize(s: String): Seq[String] = {
    if (s == null) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val keep: Char =
        if (c >= 'a' && c <= 'z') c
        else if (c >= 'A' && c <= 'Z') (c + 32).toChar
        else if (c >= '0' && c <= '9') c
        else if (c > 127 && Character.isLetterOrDigit(c)) Character.toLowerCase(c)
        else 0
      if (keep != 0) sb.append(keep)
      else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      i += 1
    }
    if (sb.length > 0) out += sb.toString
    out.toSeq
  }

  private def tokensOf(t: Tokens): Seq[String] = {
    (0 until t.n).foreach(i => assert(t.hashes(i) == t.token(i).hashCode))
    (0 until t.n).map(t.token)
  }

  test("tokenizer parity: scan and tokenize ≡ the frozen loop on every char, malformed UTF-8 and mixed scripts") {
    val buf = new Tokens(4) // one reused buffer, grown on the way
    def check(s: String): Unit = {
      val want = frozenTokenize(s)
      assert(tokenize(s).toSeq == want, String.valueOf(s))
      assert(tokensOf(scan(s, buf)) == want, String.valueOf(s))
      if (s != null) assert(tokensOf(scan(UTF8String.fromString(s), buf)) == want, s)
    }
    // every UTF-16 char alone and between ASCII letters; U+0130 lowercases
    // to the 1-byte 'i', and lone surrogates separate
    (0 until 65536).foreach { c =>
      val ch = c.toChar.toString
      check(ch); check("a" + ch + "b")
    }
    assert(tokenize("\u0130stanbul").toSeq == Seq("istanbul"))
    assert(tokenize("a\uD800b\uDC00c\uD83D\uDE00d").toSeq == Seq("a", "b", "c", "d"))
    Seq("", " ", " ,.;-\t\n!?", "\u00A0\u2000\u3000").foreach { s =>
      check(s); assert(tokenize(s).isEmpty && scan(UTF8String.fromString(s), buf).n == 0)
    }
    check(null)

    // malformed UTF-8 decodes as UTF8String.toString decodes it: truncated,
    // overlong, surrogate and out-of-range sequences, lone continuations,
    // read from an offset into a larger array
    val r = new java.util.SplittableRandom(20261019L)
    def utf8(s: String) = s.getBytes(UTF_8).toSeq.map(_ & 0xff)
    val pieces: Array[Array[Byte]] = Array(
      utf8("a"), utf8("Zz9"), utf8(" "), utf8("é"), utf8("\u0130"), utf8("中文"), utf8("\uD83D\uDE00"),
      Seq(0xC3), Seq(0xE4, 0xB8), Seq(0xF0, 0x9F, 0x98), Seq(0x80), Seq(0xBF, 0x80),
      Seq(0xC0, 0x80), Seq(0xC1, 0xBF), Seq(0xE0, 0x80, 0x80), Seq(0xE0, 0x9F, 0xBF),
      Seq(0xED, 0xA0, 0x80), Seq(0xED, 0xBF, 0xBF), Seq(0xF0, 0x80, 0x80, 0x80),
      Seq(0xF4, 0x90, 0x80, 0x80), Seq(0xF5, 0x80), Seq(0xFF), Seq(0xFE, 0x41),
      Seq(0xE4, 0x41), Seq(0xC3, 0x41), Seq(0xF0, 0x9F, 0x41)).map(_.map(_.toByte).toArray)
    (0 until 20000).foreach { _ =>
      val bytes = (0 until r.nextInt(12)).flatMap(_ => pieces(r.nextInt(pieces.length))).toArray
      val pad = r.nextInt(3)
      val framed = Array.fill[Byte](pad)('x'.toByte) ++ bytes ++ Array.fill[Byte](r.nextInt(3))('y'.toByte)
      val u = UTF8String.fromBytes(framed, pad, bytes.length)
      val want = frozenTokenize(u.toString)
      assert(tokensOf(scan(u, buf)) == want, bytes.map(b => f"${b & 0xff}%02X").mkString(" "))
      assert(tokenize(u.toString).toSeq == want)
    }

    // seeded mixed-script text
    val alphabet = "abcXYZ019 ,.-_\t\n\u00E9\u00C9\u00DF\u0130\u0131\u03A3\u03C2\u0416\u4E2D\u3042" +
      "\u0661\u0966\uFF21\uFF41\u212A\u00A0\u2028\uD83D\uDE00\uDC00\u0300\u05D0"
    (0 until 10000).foreach { _ =>
      check(Array.fill(r.nextInt(40))(alphabet.charAt(r.nextInt(alphabet.length))).mkString)
    }
  }

  test("tokenize is idempotent through normalize") {
    val inputs = Seq("Foo-Bar Baz", "a,b,,c", "ÜBER straße", "x1 y2 z3")
    inputs.foreach { s =>
      val once = normalize(s)
      assert(normalize(once) == once)
    }
  }

  test("token rules fold abbreviations") {
    assert(phraseForm("Main Street") == "main st")
    assert(phraseForm("North  Avenue") == "n ave")
    assert(phraseForm("spark") == "spark")
  }

  test("extractText: frozen golden cases") {
    def x(h: String): String = extractText(h.getBytes(UTF_8))
    assert(x("<html><body><p>hello</p><p>world</p></body></html>") == "hello\nworld")
    assert(x("<b>bold</b> text") == "bold text")
    assert(x("<script>var x = '<p>no</p>';</script>yes") == "yes")
    assert(x("<style>p { color: red }</style>visible") == "visible")
    assert(x("a &amp; b &lt;c&gt; &quot;d&quot;") == "a & b <c> \"d\"")
    assert(x("x &#65; y &#x42; z") == "x A y B z")
    assert(x("a   b\t\tc") == "a b c")
    assert(x("<div>a</div><div></div><div>b</div>") == "a\nb")
    assert(x("  <p>  padded  </p>  ") == "padded")
    assert(x("<ul><li>one</li><li>two</li></ul>") == "one\ntwo")
    assert(x("<title>T</title><h1>H</h1>body") == "T\nH\nbody")
    assert(x("br<br/>break") == "br\nbreak")
    assert(x("&bogus; stays") == "&bogus; stays")
    assert(x("trailing &") == "trailing &")
  }

  test("extractText: nested and unclosed tags") {
    def x(h: String): String = extractText(h.getBytes(UTF_8))
    assert(x("<div><span>a<b>b</b></span>c</div>") == "abc")
    assert(x("<p>unclosed") == "unclosed")
    assert(x("<SCRIPT>hidden</SCRIPT>shown") == "shown")
  }

  test("extractText is byte-stable (idempotent encode)") {
    val html = "<html><title>Tïtle</title><p>ünïcode &amp; more</p></html>".getBytes(UTF_8)
    val a = extractText(html)
    val b = extractText(html)
    assert(a == b && a == "Tïtle\nünïcode & more")
  }

  test("indexablePhrases splits synonyms and canonicalizes") {
    val p = indexablePhrases("Main Street, The Main St")
    assert(p.toSet == Set("main st", "the main st"))
  }

  test("prefixPhrases") {
    assert(prefixPhrases("a b c").sameElements(Array("a", "a b", "a b c")))
  }

  test("subqueries: windows longest-first with coverage masks") {
    val sq = subqueries("one two three")
    assert(sq.length == 6)
    assert(sq(0) == (("one two three", 7L, 0)))
    assert(sq(1) == (("one two", 3L, 0)))
    assert(sq(2) == (("two three", 6L, 1)))
    assert(sq(3) == (("one", 1L, 0)))
    assert(sq(5) == (("three", 4L, 2)))
  }
}
