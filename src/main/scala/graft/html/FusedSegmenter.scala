package graft.html

import HtmlText.{entityAt, entityCodePoint, entityNext, indexOfCloseTag, isWs, tagEnd, NoChar}

/** Fused tokenizer+segmenter: one pass over the decoded HTML string,
  * zero intermediate token objects, text folded straight into one
  * shared per-document `char[]` with entities decoded in place.
  *
  * Its `RawBlocks` are the one in-memory segmentation representation
  * between a payload and its output: `Boilerplate.classifyRaw` decides
  * keep per block, `Assemble.fromRaw` builds the text, and
  * `graft_explode_blocks` emits the blocks as rows. Block-for-block
  * identical to `BlockSegmenter.segment(HtmlTokenizer.tokenize(s))`,
  * the readable reference pair in test scope — asserted by
  * `FusedEquivalenceSpec` over generated corpora and by the frozen
  * golden digests. Fused because the extraction hot loop is
  * allocation-bound at high core counts (SURVEY.md §4.2: "hot loop
  * must avoid overhead").
  */
object FusedSegmenter {

  /** Range-based segmentation result — the allocation-light hot-path
    * representation: ALL block text lives in ONE shared `char[]` per
    * document, `buf[0, len)`; a block is (part, kindId, start, end,
    * words, linkWords, boiler) where [start,end) indexes `buf`.
    * Compared to one String + one Block object per block this removes
    * the dominant per-block allocations (the extraction loop is
    * memory-bandwidth-bound at high core counts — BASELINE.md).
    * kindId: 0=content 1=heading 2=list. `buf` starts at 512 chars and
    * grows with the block text, not with the page. */
  final class RawBlocks extends CharBuf(512) {
    var n = 0
    var parts = new Array[Int](32)
    var kindIds = new Array[Int](32)
    var starts = new Array[Int](32)
    var ends = new Array[Int](32)
    var words = new Array[Int](32)
    var linkWords = new Array[Int](32)
    var boiler = new Array[Boolean](32)

    def add(part: Int, kindId: Int, start: Int, end: Int,
            w: Int, lw: Int, b: Boolean): Unit = {
      if (n == parts.length) {
        val m = n * 2
        parts = java.util.Arrays.copyOf(parts, m)
        kindIds = java.util.Arrays.copyOf(kindIds, m)
        starts = java.util.Arrays.copyOf(starts, m)
        ends = java.util.Arrays.copyOf(ends, m)
        words = java.util.Arrays.copyOf(words, m)
        linkWords = java.util.Arrays.copyOf(linkWords, m)
        boiler = java.util.Arrays.copyOf(boiler, m)
      }
      parts(n) = part; kindIds(n) = kindId; starts(n) = start; ends(n) = end
      words(n) = w; linkWords(n) = lw; boiler(n) = b
      n += 1
    }

    /** Append `text` verbatim as one non-boilerplate block with no link
      * words (PDF pages, plain-text paragraphs, generator ground truth). */
    def addText(part: Int, kindId: Int, text: String, w: Int): Unit = {
      val start = len
      put(text)
      add(part, kindId, start, len, w, 0, false)
    }

    def text(i: Int): String = new String(buf, starts(i), ends(i) - starts(i))
  }
  object RawBlocks {
    val KindNames: Array[String] = Array("content", "heading", "list")
  }

  // tag ids for the tags the segmenter reacts to
  private final val T_OTHER = 0      // inline/unknown: no effect
  private final val T_BLOCK = 1      // block boundary only
  private final val T_HEADING = 2
  private final val T_LI = 3
  private final val T_A = 4
  private final val T_BOILER = 5     // nav/header/footer/aside
  private final val T_DROP = 6       // title/head
  private final val T_ARTICLE = 7
  private final val T_RAWTEXT = 8    // script/style

  /** Classify a lowercase tag name located at s[from,until) without
    * allocating. Mirrors the reference BlockSegmenter's tag sets exactly. */
  private def tagId(s: String, from: Int, until: Int): Int = {
    val len = until - from
    @inline def is(t: String): Boolean = {
      if (t.length != len) return false
      var i = 0
      while (i < len) {
        if (Character.toLowerCase(s.charAt(from + i)) != t.charAt(i)) return false
        i += 1
      }
      true
    }
    val c0 = Character.toLowerCase(s.charAt(from))
    c0 match {
      case 'a' =>
        if (len == 1) T_A
        else if (is("article")) T_ARTICLE
        else if (is("aside")) T_BOILER
        else T_OTHER
      case 'b' =>
        if (is("br") || is("blockquote") || is("body")) T_BLOCK else T_OTHER
      case 'd' => if (is("div") || is("dl") || is("dt") || is("dd")) T_BLOCK else T_OTHER
      case 'f' =>
        if (is("footer")) T_BOILER
        else if (is("figure") || is("figcaption") || is("form") || is("fieldset")) T_BLOCK
        else T_OTHER
      case 'h' =>
        if (len == 2 && s.charAt(from + 1) >= '1' && s.charAt(from + 1) <= '6') T_HEADING
        else if (is("header")) T_BOILER
        else if (is("head")) T_DROP
        else if (is("hr") || is("html")) T_BLOCK
        else T_OTHER
      case 'l' => if (is("li")) T_LI else T_OTHER
      case 'm' => if (is("main")) T_BLOCK else T_OTHER
      case 'n' => if (is("nav")) T_BOILER else T_OTHER
      case 'o' => if (is("ol")) T_BLOCK else T_OTHER
      case 'p' => if (len == 1 || is("pre")) T_BLOCK else T_OTHER
      case 's' =>
        if (is("script") || is("style")) T_RAWTEXT
        else if (is("section")) T_BLOCK
        else T_OTHER
      case 't' =>
        if (is("title")) T_DROP
        else if (is("table") || is("thead") || is("tbody") || is("tfoot") ||
          is("tr") || is("td") || is("th")) T_BLOCK
        else T_OTHER
      case 'u' => if (is("ul")) T_BLOCK else T_OTHER
      case _   => T_OTHER
    }
  }

  /** Is this tag id a block-boundary tag (flushes the pending block)?
    * (All reactive ids except a/rawtext/other are block tags.) */
  @inline private def isBlockBoundary(id: Int): Boolean =
    id == T_BLOCK || id == T_HEADING || id == T_LI || id == T_BOILER ||
      id == T_DROP || id == T_ARTICLE

  def segmentRaw(html: String): RawBlocks = new Seg(html).run()

  /** Segmentation state as PLAIN FIELDS (r6): the previous spelling
    * held the state in local `var`s captured by nested defs, which
    * scalac compiles to heap-allocated runtime Ref boxes — a double
    * indirection on every character of every document. Logic is
    * char-for-char identical (FusedEquivalenceSpec + the frozen golden
    * digest attest). */
  private final class Seg(html: String) {
    private[this] val n = html.length
    private[this] val rb = new RawBlocks

    // segmentation state (mirrors BlockSegmenter.segment)
    private[this] var part = 1
    private[this] var seenArticle = false
    private[this] var boilerDepth = 0
    private[this] var dropDepth = 0
    private[this] var aDepth = 0
    private[this] var headingDepth = 0
    private[this] var liDepth = 0
    // block accumulation: normalized text appended straight into the
    // shared doc buffer (the unfused path normalizes at flush; direct
    // normalization is equivalent because normalize() is a streaming
    // fold); the current block is rb.buf[blockStart, rb.len)
    private[this] var blockStart = 0
    private[this] var pendingSpace = false
    private[this] var words = 0
    private[this] var linkWords = 0
    private[this] var inWord = false
    private[this] var blockBoiler = false

    private def flush(): Unit = {
      if (rb.len > blockStart) {
        val kindId =
          if (headingDepth > 0) 1
          else if (liDepth > 0) 2
          else 0
        rb.add(part, kindId, blockStart, rb.len, words, linkWords, blockBoiler)
      }
      blockStart = rb.len
      pendingSpace = false
      words = 0; linkWords = 0; inWord = false
      blockBoiler = boilerDepth > 0
    }

    @inline private def startWord(): Unit = {
      inWord = true
      words += 1
      if (aDepth > 0) linkWords += 1
      if (boilerDepth > 0) blockBoiler = true
    }

    /** Fold the text run at `from` into the block, up to the next '<'
      * or '&'; returns where it stopped. This is the per-char fold of
      * normalize/countWords: a whitespace char sets pendingSpace (once
      * the block has text) and ends the word; a non-whitespace char
      * first writes any pending space, and starts a word if none is
      * open. A word is found to its end first and then copied from the
      * source in bulk. */
    private def text(from: Int): Int = {
      var k = from
      var c = '\u0000'
      while (k < n && { c = html.charAt(k); c != '<' && c != '&' }) {
        if (isWs(c)) {
          k += 1
          if (rb.len > blockStart) pendingSpace = true
          inWord = false
        } else {
          var e = k + 1
          while (e < n && !endsWord(html.charAt(e))) e += 1
          rb.ensure(e - k + 1)
          if (pendingSpace) { rb.buf(rb.len) = ' '; rb.len += 1; pendingSpace = false }
          if (!inWord) startWord()
          html.getChars(k, e, rb.buf, rb.len)
          rb.len += e - k
          k = e
        }
      }
      k
    }

    /** Fold one decoded char (an entity's replacement or a literal '&'
      * or '<') into the block, as `text` folds a source char. */
    private def emit(c: Char): Unit =
      if (isWs(c)) {
        if (rb.len > blockStart) pendingSpace = true
        inWord = false
      } else {
        if (pendingSpace) { rb.put(' '); pendingSpace = false }
        if (!inWord) startWord()
        rb.put(c)
      }

    def run(): RawBlocks = {
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '&') {
        val r = entityAt(html, i)
        val cp = entityCodePoint(r)
        if (dropDepth == 0 && cp != NoChar) {
          if (cp < Character.MIN_SUPPLEMENTARY_CODE_POINT) emit(cp.toChar)
          else { emit(Character.highSurrogate(cp)); emit(Character.lowSurrogate(cp)) }
        }
        i = entityNext(r)
      } else if (c != '<') {
        if (dropDepth == 0) i = text(i)
        else {
          // dropped text: skip to the next markup/entity character
          i += 1
          while (i < n && { val ch = html.charAt(i); ch != '<' && ch != '&' }) i += 1
        }
      } else if (i + 1 >= n) {
        if (dropDepth == 0) emit('<')
        i += 1
      } else {
        val c1 = html.charAt(i + 1)
        // any tag/comment construct ends the current text run — word
        // counting is per-run in the unfused reference implementation
        // (adjacent runs never merge into one word)
        if (c1 == '!' || c1 == '?' || c1 == '/' || isNameStart(c1)) inWord = false
        if (c1 == '!' || c1 == '?') {
          if (html.startsWith("<!--", i)) {
            val end = html.indexOf("-->", i + 4)
            i = if (end < 0) n else end + 3
          } else {
            val end = html.indexOf('>', i + 2)
            i = if (end < 0) n else end + 1
          }
        } else if (c1 == '/') {
          var j = i + 2
          val ns = j
          while (j < n && isNameChar(html.charAt(j))) j += 1
          val ne = j
          val end = html.indexOf('>', j)
          i = if (end < 0) n else end + 1
          if (ne > ns) {
            val id = tagId(html, ns, ne)
            if (isBlockBoundary(id)) flush()
            id match {
              case T_A => if (aDepth > 0) aDepth -= 1
              case T_BOILER =>
                if (boilerDepth > 0) {
                  boilerDepth -= 1
                  if (boilerDepth == 0) blockBoiler = false
                }
              case T_DROP => if (dropDepth > 0) dropDepth -= 1
              case T_HEADING => if (headingDepth > 0) headingDepth -= 1
              case T_LI => if (liDepth > 0) liDepth -= 1
              case _ => ()
            }
          }
        } else if (isNameStart(c1)) {
          var j = i + 1
          val ns = j
          while (j < n && isNameChar(html.charAt(j))) j += 1
          val ne = j
          val end = tagEnd(html, j)
          val selfClose = end < n && html.charAt(end - 1) == '/'
          i = math.min(end + 1, n)
          val id = tagId(html, ns, ne)
          if (isBlockBoundary(id)) flush()
          if (!selfClose) {
            id match {
              case T_A => aDepth += 1
              case T_BOILER => boilerDepth += 1; blockBoiler = true
              case T_DROP => dropDepth += 1
              case T_HEADING => headingDepth += 1
              case T_LI => liDepth += 1
              case T_ARTICLE =>
                if (seenArticle) part += 1
                seenArticle = true
              case T_RAWTEXT =>
                // raw-text element: skip to matching close tag
                val closeAt = indexOfCloseTag(html, i,
                  if (ne - ns == 6) "script" else "style")
                if (closeAt < 0) i = n
                else {
                  val end2 = html.indexOf('>', closeAt)
                  i = if (end2 < 0) n else end2 + 1
                }
              case _ => ()
            }
          }
        } else {
          if (dropDepth == 0) emit('<')
          i += 1
        }
      }
    }
    flush()
    rb
    }
  }

  /** Bit `c` is set for each char `c` below '@' that ends a word in a
    * text run: whitespace, '<' and '&'. */
  private final val WordEnds = HtmlText.AsciiWs | 1L << '<' | 1L << '&'

  @inline private def endsWord(c: Char): Boolean =
    if (c < '@') (WordEnds >>> c & 1L) != 0 else isWs(c)

  @inline private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  @inline private def isNameChar(c: Char): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == ':'
}
