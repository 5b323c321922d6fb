package graft.html

import scala.collection.mutable.ArrayBuffer

import HtmlText.{countWords, normalize}

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
  * implementation, kept in test scope, that `FusedSegmenter.segmentRaw`
  * (the path extraction runs on) must match block for block —
  * `FusedEquivalenceSpec`. Both share main's `HtmlText` primitives.
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
}
