package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.gen.PageGen
import graft.html.{BlockSegmenter, FusedSegmenter, HtmlTokenizer}
import graft.html.BlockSegmenter.Block
import graft.html.FusedSegmenter.RawBlocks

/** The fused hot-path segmenter must be block-for-block identical to
  * the readable reference pair (tokenize → segment). */
class FusedEquivalenceSpec extends AnyFunSuite {

  private def unfused(s: String) = BlockSegmenter.segment(HtmlTokenizer.tokenize(s))

  /** Block-object view of the fused segmenter's range-based output. */
  private def segment(html: String): IndexedSeq[Block] = {
    val rb = FusedSegmenter.segmentRaw(html)
    (0 until rb.n).map { i =>
      Block(rb.parts(i), RawBlocks.KindNames(rb.kindIds(i)), rb.text(i),
        rb.words(i), rb.linkWords(i), rb.boiler(i))
    }
  }

  test("equivalent on 3000 generated HTML documents") {
    (0L until 3000L).foreach { id =>
      if (PageGen.kindOf(id) == PageGen.Html || PageGen.kindOf(id) == PageGen.Blank) {
        val html = new String(PageGen.row(id).html, "UTF-8")
        assert(segment(html) == unfused(html), s"id=$id diverged")
      }
    }
  }

  test("equivalent on adversarial tag soup") {
    val nasty = Seq(
      "", "<", "plain text only", "<p>a<b>c", "a &amp b &unknown; &#x41;",
      "<div>a</div>b<div>c", "<script>while(1){if(a<b)x()}</script><p>x</p>",
      "<SCRIPT>s</SCRIPT><P>Q</P>", "<a href=\"x>y\">l</a>m",
      "<article><article><p>deep</p></article></article>",
      "<nav>x<div>y</div>z</nav>w", "<!-- <p>no</p> --><p>yes</p>",
      "<h1>h<h2>g</h2></h1><p>body body body</p>", "</>", "< p>not a tag</ p>",
      "<ul><li>a</li>between<li>b</li></ul>", "<title>t</title>x",
      "<p>&#1605;&#1585;&#1581;&#1576;&#1575;</p>", "a<br/>b<br />c",
      "text &hellip", "&;x", "<div class='q\">'>z</div>",
      // quote-aware tag ends: unterminated quote, self-close forms
      "<p class=\"x>y", "<br/>a", "<div a='>'/>b", "<p x=\">\"/ >c",
      "<nav/>x<script src='>'/>y",
      // entity replacements inside and between words
      "a&amp;b c&#32;d", "x&nbsp;y",
      // numeric entities by Integer.parseInt's rules, surrogates,
      // malformed bodies, case, a missing ';', the 12-char window
      "&#+65;", "&#-0;", "&#x+41;", "&#\u0661\u0662;", "&#2147483648;", "&#xD800;",
      "&#x1F600;", "&#;", "&#x;", "&AMP;", "&hellip", "&abcdefghijk;",
      // every name in the entity table
      "&amp;&lt;&gt;&quot;&apos;&nbsp;&copy;&reg;&trade;&hellip;&mdash;" +
        "&ndash;&ldquo;&rdquo;&lsquo;&rsquo;&laquo;&raquo;&times;&bull;" +
        "&middot;&deg;&euro;&pound;&cent;&sect;&para;&shy;x",
      // close-tag search: Character.toLowerCase maps U+0130 to 'i', and
      // a space may follow the close name
      "</scr\u0130pt><p>x</p>", "<script>a</scr\u0130pt><p>x</p>",
      "<script>a</script ><p>x</p>", "<style>a</style\u2003><p>x</p>",
      // numeric bodies read as Integer.parseInt reads UTF-16 chars:
      // fullwidth digits parse, a supplementary digit is two surrogates
      "&#\uFF11\uFF12;", "&#x\uFF21;", "&#\uD835\uDFCE;",
      // the entity window counts chars, not bytes
      "&" + "\u00E9" * 10 + ";", "&" + "\u00E9" * 11 + ";",
      // non-ASCII whitespace and near misses (U+2007, U+202F are not)
      "a\u00A0b", "a\u1680b", "a\u2007b", "a\u202Fb", "a\u205Fb", "a\u3000b",
      // a 4-byte char in text, in an attribute value and in a comment
      "<p>a\uD83D\uDE00b</p>", "<p title=\"\uD83D\uDE00>\">x</p>",
      "<!-- \uD83D\uDE00 --><p>y</p>")
    nasty.foreach { s =>
      assert(segment(s) == unfused(s), s"input: $s")
    }
  }

  test("property: equivalent on random markup-ish strings") {
    val frag = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.oneOf("<p>", "</p>", "<div>", "</div>", "<a>", "</a>", "<nav>",
        "</nav>", "<li>", "</li>", "<h1>", "</h1>", "<article>", "</article>",
        "&amp;", "&#65;", "&bad;", " ", "\n", "\t", "<", ">", "<!--", "-->",
        "<script>", "</script>", "é", "ص", "&"))
    val doc = Gen.listOf(frag).map(_.mkString)
    // deterministic scalacheck sampling (offline cache has no
    // scalatestplus bridge; fixed seed keeps the corpus stable)
    (0 until 500).foreach { i =>
      val s = doc.pureApply(Gen.Parameters.default, Seed(42L + i))
      assert(segment(s) == unfused(s), s"seed=$i input: $s")
    }
  }
}
