package graft.html

import java.nio.charset.StandardCharsets

import HtmlText.{entityAt, entityCodePoint, entityNext, indexOfCloseTag, isWs, isWsLead, tagEnd, NoChar}

/** Fused tokenizer+segmenter: one pass over a UTF-8 payload's bytes,
  * zero intermediate token objects, text runs copied as byte ranges
  * into one shared per-document buffer with entities decoded in place.
  * Markup, entity syntax and tag names are ASCII; every byte ≥ 0x80 is
  * validated where the scan meets it (text, tags, attributes, comments,
  * dropped and skipped text), so `segment` throws `Utf8.Invalid`
  * exactly when the payload is not valid UTF-8.
  *
  * Its `RawBlocks` are the one in-memory segmentation representation
  * between a payload and its output: `Boilerplate.classifyRaw` decides
  * keep per block, `Assemble.assemble` builds the text, and
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
    * representation: ALL block text lives in ONE shared WTF-8 buffer
    * per document, `buf[0, len)` (see `Utf8`); a block is (part,
    * kindId, start, end, chars, words, linkWords, boiler) where
    * [start,end) indexes `buf` and `chars` is the block's length in
    * Java chars, which span offsets count. Compared to one String + one
    * Block object per block this removes the dominant per-block
    * allocations (the extraction loop is memory-bandwidth-bound at high
    * core counts — BASELINE.md). kindId: 0=content 1=heading 2=list.
    * `buf` starts at `capacity` bytes and grows with the block text, not
    * with the page. `surrogates` is set once an entity wrote a
    * surrogate. */
  final class RawBlocks(capacity: Int = 512) extends ByteBuf(capacity) {
    var n = 0
    var parts = new Array[Int](32)
    var kindIds = new Array[Int](32)
    var starts = new Array[Int](32)
    var ends = new Array[Int](32)
    var chars = new Array[Int](32)
    var words = new Array[Int](32)
    var linkWords = new Array[Int](32)
    var boiler = new Array[Boolean](32)
    var surrogates = false

    def add(part: Int, kindId: Int, start: Int, end: Int, nChars: Int,
            w: Int, lw: Int, b: Boolean): Unit = {
      if (n == parts.length) {
        val m = n * 2
        parts = java.util.Arrays.copyOf(parts, m)
        kindIds = java.util.Arrays.copyOf(kindIds, m)
        starts = java.util.Arrays.copyOf(starts, m)
        ends = java.util.Arrays.copyOf(ends, m)
        chars = java.util.Arrays.copyOf(chars, m)
        words = java.util.Arrays.copyOf(words, m)
        linkWords = java.util.Arrays.copyOf(linkWords, m)
        boiler = java.util.Arrays.copyOf(boiler, m)
      }
      parts(n) = part; kindIds(n) = kindId; starts(n) = start; ends(n) = end
      chars(n) = nChars; words(n) = w; linkWords(n) = lw; boiler(n) = b
      n += 1
    }

    /** Append `text` as one non-boilerplate block with no link words
      * (PDF pages, plain-text paragraphs, generator ground truth),
      * encoded as `String.getBytes(UTF_8)` encodes it. */
    def addText(part: Int, kindId: Int, text: String, w: Int): Unit = {
      val start = len
      put(text)
      add(part, kindId, start, len, text.length, w, 0, false)
    }

    /** Block `i`'s text as a `String`. */
    def text(i: Int): String = Utf8.decode(buf, starts(i), ends(i), surrogates)
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

  /** Classify the tag name at b[from,until) (ASCII name chars) without
    * allocating, case-insensitively. Mirrors the reference
    * BlockSegmenter's tag sets exactly. */
  private def tagId(b: Array[Byte], from: Int, until: Int): Int = {
    val len = until - from
    @inline def is(t: String): Boolean = {
      if (t.length != len) return false
      var i = 0
      while (i < len) {
        if (lower(b(from + i)) != t.charAt(i)) return false
        i += 1
      }
      true
    }
    val c0 = lower(b(from))
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
        if (len == 2 && b(from + 1) >= '1' && b(from + 1) <= '6') T_HEADING
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

  /** Segment a UTF-8 payload; throws `Utf8.Invalid` if it is not
    * valid UTF-8. */
  def segment(payload: Array[Byte]): RawBlocks = new Seg(payload).run()

  /** `segment` of `html` encoded as `String.getBytes(UTF_8)` encodes
    * it (a lone surrogate becomes '?'). */
  def segmentRaw(html: String): RawBlocks = segment(html.getBytes(StandardCharsets.UTF_8))

  /** Segmentation state as PLAIN FIELDS (r6): the previous spelling
    * held the state in local `var`s captured by nested defs, which
    * scalac compiles to heap-allocated runtime Ref boxes — a double
    * indirection on every byte of every document. Logic is
    * char-for-char identical to the reference pair
    * (FusedEquivalenceSpec + the frozen golden digests attest). */
  private final class Seg(b: Array[Byte]) {
    private[this] val n = b.length
    // block text is never longer than the payload (an entity is longer
    // than its replacement), so a small page's text never regrows
    private[this] val rb = new RawBlocks(math.min(n, 4096))

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
    // fold); the current block is rb.buf[blockStart, rb.len), blockChars
    // Java chars long
    private[this] var blockStart = 0
    private[this] var blockChars = 0
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
        rb.add(part, kindId, blockStart, rb.len, blockChars, words, linkWords, blockBoiler)
      }
      blockStart = rb.len
      blockChars = 0
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
      * open. A word is found to its end first (validating and counting
      * its chars) and then copied from the payload in bulk, together
      * with the words that follow it after a single ' ' each: that space
      * is the pending space the fold would write. */
    private def text(from: Int): Int = {
      var k = from
      while (k < n) {
        val x = b(k)
        var len = 1
        var ws = false
        if (x >= 0) {
          if (x == '<' || x == '&') return k
          ws = x < '@' && (HtmlText.AsciiWs >>> x & 1L) != 0
        } else {
          val r = Utf8.at(b, k)
          len = Utf8.length(r)
          ws = isWsLead(x) && isWs(Utf8.codePoint(r).toChar)
        }
        if (ws) {
          k += len
          if (rb.len > blockStart) pendingSpace = true
          inWord = false
        } else {
          var e = k + len
          var chars = Utf8.chars(len)
          var more = 0 // words after the first
          var open = true
          while (open && e < n) {
            val ascii = e
            while (e < n && inWordAscii(b(e))) e += 1
            chars += e - ascii
            if (e < n) {
              val y = b(e)
              if (y >= 0) {
                if (y == ' ' && e + 1 < n && inWordAscii(b(e + 1))) {
                  e += 2; chars += 2; more += 1
                } else open = false
              } else {
                val r = Utf8.at(b, e)
                if (isWsLead(y) && isWs(Utf8.codePoint(r).toChar)) open = false
                else { e += Utf8.length(r); chars += Utf8.chars(Utf8.length(r)) }
              }
            }
          }
          rb.ensure(e - k + 1)
          if (pendingSpace) {
            rb.buf(rb.len) = ' '; rb.len += 1; blockChars += 1; pendingSpace = false
          }
          if (!inWord) startWord()
          words += more
          if (aDepth > 0) linkWords += more
          System.arraycopy(b, k, rb.buf, rb.len, e - k)
          rb.len += e - k
          blockChars += chars
          k = e
        }
      }
      k
    }

    /** Fold one decoded code point (an entity's replacement or a
      * literal '&' or '<') into the block, as `text` folds a payload
      * char. */
    private def emit(cp: Int): Unit =
      if (cp < Character.MIN_SUPPLEMENTARY_CODE_POINT && isWs(cp.toChar)) {
        if (rb.len > blockStart) pendingSpace = true
        inWord = false
      } else {
        if (pendingSpace) { rb.put(' '.toByte); blockChars += 1; pendingSpace = false }
        if (!inWord) startWord()
        if (Utf8.put(rb, cp)) rb.surrogates = true
        blockChars += (if (cp < Character.MIN_SUPPLEMENTARY_CODE_POINT) 1 else 2)
      }

    /** Index of the next "-->" at or after `from`, or -1. */
    private def commentEnd(from: Int): Int = {
      var j = Utf8.indexOf(b, from, '-')
      while (j >= 0 && !(j + 2 < n && b(j + 1) == '-' && b(j + 2) == '>'))
        j = Utf8.indexOf(b, j + 1, '-')
      j
    }

    def run(): RawBlocks = {
    var i = 0
    while (i < n) {
      val c = b(i)
      if (c == '&') {
        val r = entityAt(b, i)
        val cp = entityCodePoint(r)
        if (dropDepth == 0 && cp != NoChar) emit(cp)
        i = entityNext(r)
      } else if (c != '<') {
        if (dropDepth == 0) i = text(i)
        else {
          // dropped text: skip to the next markup/entity character
          while (i < n && { val x = b(i); x != '<' && x != '&' })
            i += (if (b(i) >= 0) 1 else Utf8.length(Utf8.at(b, i)))
        }
      } else if (i + 1 >= n) {
        if (dropDepth == 0) emit('<')
        i += 1
      } else {
        val c1 = b(i + 1)
        // any tag/comment construct ends the current text run — word
        // counting is per-run in the unfused reference implementation
        // (adjacent runs never merge into one word)
        if (c1 == '!' || c1 == '?' || c1 == '/' || isNameStart(c1)) inWord = false
        if (c1 == '!' || c1 == '?') {
          if (c1 == '!' && i + 3 < n && b(i + 2) == '-' && b(i + 3) == '-') {
            val end = commentEnd(i + 4)
            i = if (end < 0) n else end + 3
          } else {
            val end = Utf8.indexOf(b, i + 2, '>')
            i = if (end < 0) n else end + 1
          }
        } else if (c1 == '/') {
          var j = i + 2
          val ns = j
          while (j < n && isNameChar(b(j))) j += 1
          val ne = j
          val end = Utf8.indexOf(b, j, '>')
          i = if (end < 0) n else end + 1
          if (ne > ns) {
            val id = tagId(b, ns, ne)
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
          while (j < n && isNameChar(b(j))) j += 1
          val ne = j
          val end = tagEnd(b, j)
          val selfClose = end < n && b(end - 1) == '/'
          i = math.min(end + 1, n)
          val id = tagId(b, ns, ne)
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
                val closeAt = indexOfCloseTag(b, i,
                  if (ne - ns == 6) "script" else "style")
                if (closeAt < 0) i = n
                else {
                  val end2 = Utf8.indexOf(b, closeAt, '>')
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

  /** An ASCII name char lowercased: setting bit 5 lowercases a letter
    * and leaves digits, '-' and ':' as they are. */
  @inline private def lower(c: Byte): Char = (c | 0x20).toChar

  /** Is `c` an ASCII byte of a word (not whitespace, '<' or '&')? */
  @inline private def inWordAscii(c: Byte): Boolean =
    c >= '@' || (c >= 0 && (WordEnds >>> c & 1L) == 0)

  @inline private def isNameStart(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  @inline private def isNameChar(c: Byte): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == ':'
}
