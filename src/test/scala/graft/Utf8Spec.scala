package graft

import java.nio.ByteBuffer
import java.nio.charset.{CharacterCodingException, CodingErrorAction, StandardCharsets}

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.Extractor
import graft.html.{HtmlText, StringMarkup}

/** The HTML path validates UTF-8 inside its own byte scan, the
  * plain-text path with the same `Utf8.at`: a payload is an error row
  * exactly when the JDK's strict decoder rejects it, wherever the bad
  * bytes sit. The byte-level markup primitives agree
  * with their `String` versions at every position. */
class Utf8Spec extends AnyFunSuite {

  private val InvalidRow = Extractor.ErrorPrefix + "invalid utf-8 payload"

  private def strictlyValid(b: Array[Byte]): Boolean =
    try {
      StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
        .decode(ByteBuffer.wrap(b))
      true
    } catch { case _: CharacterCodingException => false }

  /** Places for a byte string in a page: text, a comment, a skipped
    * script body, an attribute value, dropped title text and an entity
    * body — and the bare string, which goes down the plain-text path
    * unless it holds both '<' and '>'. */
  private val placements: Seq[Array[Byte] => Array[Byte]] = Seq(
    "<p>" -> "</p>", "<p>a</p><!--" -> "--><p>b</p>", "<script>" -> "</script><p>b</p>",
    "<p title=\"" -> "\">x</p>", "<title>" -> "</title><p>b</p>", "<p>&#" -> ";</p>", "" -> ""
  ).map { case (pre, post) =>
    (b: Array[Byte]) => pre.getBytes(StandardCharsets.UTF_8) ++ b ++ post.getBytes(StandardCharsets.UTF_8)
  }

  private def check(payload: Array[Byte], what: => String): Unit = {
    val r = Extractor.extract(payload, "en")
    if (strictlyValid(payload)) assert(r.error == null, s"$what: ${r.error}")
    else assert(r.error == InvalidRow && r.text == null, s"$what: ${r.text}")
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xFF}%02X").mkString(" ")

  test("error row exactly when the strict decoder rejects: 100k random byte strings in seven places") {
    // a string is 1-6 units; a unit is a well-formed char near a
    // boundary of the UTF-8 table, or one byte biased to the lead and
    // continuation bytes around those boundaries, ASCII and markup
    val pool: Array[Int] = (Seq(0x41, 0x20, 0x3B, 0x3C, 0x3E, 0x22, 0x2D) ++
      Seq(0x80, 0x8F, 0x90, 0x9F, 0xA0, 0xBF) ++ Seq(0xC0, 0xC1, 0xC2, 0xDF) ++
      Seq(0xE0, 0xE1, 0xEC, 0xED, 0xEE, 0xEF) ++ Seq(0xF0, 0xF1, 0xF3, 0xF4, 0xF5, 0xFF)).toArray
    val chars: Array[Int] = Array(0x41, 0x7F, 0x80, 0xA0, 0x130, 0x7FF, 0x800, 0x1680,
      0x3000, 0xD7FF, 0xE000, 0xFEFF, 0xFFFD, 0xFFFF, 0x10000, 0x1F600, 0x10FFFF)
    val rng = new java.util.Random(20261019L)
    def unit(): Array[Byte] =
      if (rng.nextInt(5) == 0) {
        val x = if (rng.nextInt(4) == 0) 0x80 + rng.nextInt(64) else pool(rng.nextInt(pool.length))
        Array(x.toByte)
      } else new String(Character.toChars(chars(rng.nextInt(chars.length))))
        .getBytes(StandardCharsets.UTF_8)
    val n = 100000
    var invalid = 0
    (0 until n).foreach { i =>
      val b = Array.fill(1 + rng.nextInt(6))(unit()).flatten
      val payload = placements(i % placements.length)(b)
      if (!strictlyValid(payload)) invalid += 1
      check(payload, s"#$i ${hex(b)}")
    }
    // both outcomes are well represented
    assert(invalid > n / 5 && invalid < n * 4 / 5, invalid)
  }

  test("error row exactly when the strict decoder rejects: the adversarial list") {
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val cases = Seq(
      bytes(0xC0, 0x80), bytes(0xE0, 0x80, 0x80), bytes(0xED, 0xA0, 0x80),
      bytes(0xF0, 0x80, 0x80, 0x80), bytes(0xF4, 0x90, 0x80, 0x80), bytes(0xF5), bytes(0x80),
      bytes(0xE2, 0x82), bytes(0xF0, 0x9F, 0x98),
      // valid: a BOM, U+10FFFF, the largest 2- and 3-byte chars
      bytes(0xEF, 0xBB, 0xBF), bytes(0xF4, 0x8F, 0xBF, 0xBF), bytes(0xDF, 0xBF),
      bytes(0xEF, 0xBF, 0xBF), bytes(0xED, 0x9F, 0xBF))
    val valid = Set(9, 10, 11, 12, 13)
    cases.zipWithIndex.foreach { case (b, k) =>
      assert(strictlyValid(b) == valid(k), hex(b))
      placements.foreach(place => check(place(b), hex(b)))
      // a truncated tail: the sequence is the payload's last bytes
      check("<p>x</p>".getBytes(StandardCharsets.UTF_8) ++ b, s"tail ${hex(b)}")
    }
  }

  test("byte-level isWs equals isWs(Char) on every non-surrogate char") {
    (0 until 0x10000).foreach { i =>
      val c = i.toChar
      if (!Character.isSurrogate(c)) {
        val b = String.valueOf(c).getBytes(StandardCharsets.UTF_8)
        assert(HtmlText.isWs(b, 0) == HtmlText.isWs(c), f"U+$i%04X")
      }
    }
  }

  test("byte entityAt, indexOfCloseTag and tagEnd agree with the String versions at every position") {
    val frag = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(4)),
      Gen.oneOf("<", ">", "/", "&", "#", "x", ";", "\"", "'", " ", "\u00A0", "\u2003",
        "</script", "</style", "</scr\u0130pt", "</STYLE", "amp", "12", "\uFF12", "\uFF21",
        "\u0661", "\u00E9", "\u0635", "\uD83D\uDE00", "\uD835\uDFCE", "-"))
    val doc = Gen.listOf(frag).map(_.mkString)
    (0 until 2000).foreach { k =>
      val s = doc.pureApply(Gen.Parameters.default, Seed(7L + k))
      val b = s.getBytes(StandardCharsets.UTF_8)
      // byte offset of each char offset (of the pair's first char)
      val at = new Array[Int](s.length + 1)
      var i = 0
      while (i < s.length) {
        val w = String.valueOf(Character.toChars(s.codePointAt(i))).getBytes(StandardCharsets.UTF_8).length
        val cs = Character.charCount(s.codePointAt(i))
        at(i + cs) = at(i) + w
        if (cs == 2) at(i + 1) = -1
        i += cs
      }
      def toByte(c: Int): Int = if (c < 0) c else at(c)
      (0 until s.length).filter(at(_) >= 0).foreach { i =>
        if (s.charAt(i) == '&') {
          val r = StringMarkup.entityAt(s, i)
          val rb = HtmlText.entityAt(b, at(i))
          assert(HtmlText.entityCodePoint(rb) == HtmlText.entityCodePoint(r) &&
            HtmlText.entityNext(rb) == at(HtmlText.entityNext(r)), s"entityAt $i in $s")
        }
        assert(HtmlText.tagEnd(b, at(i)) == at(StringMarkup.tagEnd(s, i)), s"tagEnd $i in $s")
        Seq("script", "style").foreach { name =>
          assert(HtmlText.indexOfCloseTag(b, at(i), name) ==
            toByte(StringMarkup.indexOfCloseTag(s, i, name)), s"close $name $i in $s")
        }
      }
    }
  }
}
