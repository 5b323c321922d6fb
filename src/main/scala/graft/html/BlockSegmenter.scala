package graft.html

import scala.collection.mutable.ArrayBuffer

/** Tag-driven block segmentation over the token stream.
  *
  * Mirrors the reference's page/block model (reference:
  * main_window.py:331-347 pages; :368 psm-6 "single uniform block"):
  * a document explodes into ordered parts (`<article>` elements ≈
  * pages, 1-indexed like main_window.py:347) and each part into text
  * blocks bounded by block-level tags.
  *
  * Per block we record the features the classifier needs — word count
  * and link-word count (Boilerpipe-style text/link density) — plus
  * whether the block sits inside a structural boilerplate container
  * (nav/header/footer/aside), the analogue of the reference's ROI
  * crop (main_window.py:355-359: only the selected region is OCR'd).
  *
  * With `HtmlTokenizer.tokenize` this is the readable reference
  * implementation that `FusedSegmenter.segmentRaw` (the path extraction
  * runs on) must match block for block — `FusedEquivalenceSpec`.
  */
object BlockSegmenter {

  /** kind ∈ content | heading | list */
  final case class Block(
      part: Int,
      kind: String,
      text: String,
      words: Int,
      linkWords: Int,
      boiler: Boolean)

  private val BLOCK_TAGS = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "dl", "dt", "dd", "table", "thead", "tbody", "tfoot", "tr", "td",
    "th", "br", "hr", "section", "article", "main", "header", "footer",
    "nav", "aside", "blockquote", "pre", "title", "figure",
    "figcaption", "form", "fieldset", "body", "html", "head")

  private val BOILER_CONTAINERS = Set("nav", "header", "footer", "aside")
  private val DROP_CONTAINERS = Set("title", "head")
  private val HEADINGS = Set("h1", "h2", "h3", "h4", "h5", "h6")

  def segment(toks: IndexedSeq[HtmlTokenizer.Tok]): IndexedSeq[Block] = {
    val out = new ArrayBuffer[Block](32)
    var part = 1
    var seenArticle = false
    var boilerDepth = 0
    var dropDepth = 0
    var aDepth = 0
    var headingDepth = 0
    var liDepth = 0
    val raw = new java.lang.StringBuilder(256)
    var words = 0
    var linkWords = 0
    var blockBoiler = false

    def flush(): Unit = {
      val t = normalize(raw.toString)
      if (t.nonEmpty) {
        val kind =
          if (headingDepth > 0) "heading"
          else if (liDepth > 0) "list"
          else "content"
        out += Block(part, kind, t, words, linkWords, blockBoiler)
      }
      raw.setLength(0); words = 0; linkWords = 0
      blockBoiler = boilerDepth > 0
    }

    toks.foreach {
      case HtmlTokenizer.Text(s) =>
        if (dropDepth == 0) {
          val w = countWords(s)
          raw.append(s)
          if (w > 0) {
            words += w
            if (aDepth > 0) linkWords += w
            if (boilerDepth > 0) blockBoiler = true
          }
        }
      case HtmlTokenizer.Open(name, selfClose) =>
        if (BLOCK_TAGS.contains(name)) flush()
        if (!selfClose) {
          if (name == "a") aDepth += 1
          if (BOILER_CONTAINERS.contains(name)) { boilerDepth += 1; blockBoiler = true }
          if (DROP_CONTAINERS.contains(name)) dropDepth += 1
          if (HEADINGS.contains(name)) headingDepth += 1
          if (name == "li") liDepth += 1
          if (name == "article") {
            if (seenArticle) part += 1
            seenArticle = true
          }
        }
      case HtmlTokenizer.Close(name) =>
        if (BLOCK_TAGS.contains(name)) flush()
        if (name == "a" && aDepth > 0) aDepth -= 1
        if (BOILER_CONTAINERS.contains(name) && boilerDepth > 0) {
          boilerDepth -= 1
          if (boilerDepth == 0) blockBoiler = false
        }
        if (DROP_CONTAINERS.contains(name) && dropDepth > 0) dropDepth -= 1
        if (HEADINGS.contains(name) && headingDepth > 0) headingDepth -= 1
        if (name == "li" && liDepth > 0) liDepth -= 1
    }
    flush()
    out.toIndexedSeq
  }

  /** Whitespace set: Java whitespace plus NBSP (Python str.strip strips
    * Unicode spaces — reference F8 byte-identity note, SURVEY.md §2.8). */
  @inline def isWs(c: Char): Boolean =
    Character.isWhitespace(c) || c == '\u00A0'

  /** Collapse whitespace runs to single spaces and trim (Unicode-aware,
    * matching Python str.strip semantics — main_window.py:370,385). */
  def normalize(s: String): String = {
    val n = s.length
    val b = new java.lang.StringBuilder(n)
    var i = 0
    var pendingSpace = false
    while (i < n) {
      val c = s.charAt(i)
      if (isWs(c)) { if (b.length > 0) pendingSpace = true }
      else {
        if (pendingSpace) { b.append(' '); pendingSpace = false }
        b.append(c)
      }
      i += 1
    }
    b.toString
  }

  def countWords(s: String): Int = {
    var i = 0; val n = s.length
    var w = 0; var inWord = false
    while (i < n) {
      val ws = isWs(s.charAt(i))
      if (!ws && !inWord) { w += 1; inWord = true }
      else if (ws) inWord = false
      i += 1
    }
    w
  }

  /** Unicode-aware trim matching Python str.strip (reference F8). */
  def unicodeTrim(s: String): String = {
    var a = 0; var b = s.length
    while (a < b && isWs(s.charAt(a))) a += 1
    while (b > a && isWs(s.charAt(b - 1))) b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }
}
