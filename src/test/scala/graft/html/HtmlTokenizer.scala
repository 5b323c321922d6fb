package graft.html

import scala.collection.mutable.ArrayBuffer

import HtmlText.{decodeEntityAt, indexOfCloseTag}

/** Streaming HTML tokenizer — no DOM tree materialization.
  *
  * Domain analogue of the reference's raster preprocess chain
  * (reference: image_preprocess.py:5-28 — grayscale/median/contrast):
  * byte decode, entity normalization, and script/style/comment noise
  * removal happen in a single forward pass over the decoded string.
  *
  * Tolerant of tag soup: unknown entities pass through literally,
  * unterminated constructs run to EOF, attribute quoting is honored so
  * a '>' inside a quoted attribute value does not end the tag.
  */
object HtmlTokenizer {

  sealed trait Tok
  /** Text run (entities decoded, raw whitespace preserved — the
    * segmenter normalizes). */
  final case class Text(s: String) extends Tok
  final case class Open(name: String, selfClose: Boolean) extends Tok
  final case class Close(name: String) extends Tok

  private val RAW_TEXT_TAGS = Set("script", "style")

  def tokenize(html: String): IndexedSeq[Tok] = {
    val out = new ArrayBuffer[Tok](64)
    val n = html.length
    var i = 0
    val text = new java.lang.StringBuilder(256)

    def flushText(): Unit =
      if (text.length > 0) { out += Text(text.toString); text.setLength(0) }

    while (i < n) {
      val c = html.charAt(i)
      if (c == '&') {
        val (rep, next) = decodeEntityAt(html, i)
        text.append(rep); i = next
      } else if (c != '<') {
        text.append(c); i += 1
      } else if (i + 1 >= n) { // lone trailing '<'
        text.append(c); i += 1
      } else {
        val c1 = html.charAt(i + 1)
        if (c1 == '!' || c1 == '?') { // comment / doctype / PI → noise strip
          flushText()
          if (html.startsWith("<!--", i)) {
            val end = html.indexOf("-->", i + 4)
            i = if (end < 0) n else end + 3
          } else {
            val end = html.indexOf('>', i + 2)
            i = if (end < 0) n else end + 1
          }
        } else if (c1 == '/') {
          flushText()
          var j = i + 2
          val ns = j
          while (j < n && isNameChar(html.charAt(j))) j += 1
          val name = html.substring(ns, j).toLowerCase
          val end = html.indexOf('>', j)
          i = if (end < 0) n else end + 1
          if (name.nonEmpty) out += Close(name)
        } else if (isNameStart(c1)) {
          flushText()
          var j = i + 1
          val ns = j
          while (j < n && isNameChar(html.charAt(j))) j += 1
          val name = html.substring(ns, j).toLowerCase
          // skip attributes, honoring quotes
          var selfClose = false
          var done = false
          while (j < n && !done) {
            val a = html.charAt(j)
            if (a == '"' || a == '\'') {
              val q = html.indexOf(a, j + 1)
              j = if (q < 0) n else q + 1
            } else if (a == '>') {
              selfClose = j > 0 && html.charAt(j - 1) == '/'
              j += 1; done = true
            } else j += 1
          }
          i = j
          out += Open(name, selfClose)
          if (!selfClose && RAW_TEXT_TAGS.contains(name)) {
            // raw-text content: skip to matching close tag (noise strip —
            // reference analogue: median denoise image_preprocess.py:14)
            val closeAt = indexOfCloseTag(html, i, name)
            if (closeAt < 0) i = n
            else {
              val end = html.indexOf('>', closeAt)
              i = if (end < 0) n else end + 1
              out += Close(name)
            }
          }
        } else { // stray '<' followed by non-name char: literal text
          text.append(c); i += 1
        }
      }
    }
    flushText()
    out.toIndexedSeq
  }

  private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isNameChar(c: Char): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == ':'
}
