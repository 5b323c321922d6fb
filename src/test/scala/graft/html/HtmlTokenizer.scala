package graft.html

import scala.collection.mutable.ArrayBuffer

import StringMarkup.indexOfCloseTag

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

  /** Fixed, versioned entity table (byte-identity relevant — see
    * SURVEY.md §7.7). Unknown entities are left verbatim. */
  private val ENTITIES: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> " ", "copy" -> "©",
    "reg" -> "®", "trade" -> "™", "hellip" -> "…",
    "mdash" -> "—", "ndash" -> "–", "ldquo" -> "“",
    "rdquo" -> "”", "lsquo" -> "‘", "rsquo" -> "’",
    "laquo" -> "«", "raquo" -> "»", "times" -> "×",
    "bull" -> "•", "middot" -> "·", "deg" -> "°",
    "euro" -> "€", "pound" -> "£", "cent" -> "¢",
    "sect" -> "§", "para" -> "¶", "shy" -> "")

  /** Decode one entity starting at `i` (html(i) == '&').
    * Returns (replacement, nextIndex); unknown → ("&", i+1) literal.
    * The reference tokenizer's own decoder, with its own copy of the
    * table: `FusedEquivalenceSpec` checks main's allocation-free
    * `HtmlText.entityAt` against it. */
  private[html] def decodeEntityAt(html: String, i: Int): (String, Int) = {
    val n = html.length
    val semi = {
      var j = i + 1
      val lim = math.min(n, i + 12)
      while (j < lim && html.charAt(j) != ';') j += 1
      if (j < lim && j < n && html.charAt(j) == ';') j else -1
    }
    if (semi < 0 || semi == i + 1) return ("&", i + 1)
    val body = html.substring(i + 1, semi)
    if (body.charAt(0) == '#') {
      val num = body.substring(1)
      val cp =
        try {
          if (num.nonEmpty && (num.charAt(0) == 'x' || num.charAt(0) == 'X'))
            Integer.parseInt(num.substring(1), 16)
          else Integer.parseInt(num)
        } catch { case _: NumberFormatException => -1 }
      if (cp >= 0 && cp <= 0x10ffff && Character.isValidCodePoint(cp))
        (new String(Character.toChars(cp)), semi + 1)
      else ("&", i + 1)
    } else ENTITIES.get(body) match {
      case Some(rep) => (rep, semi + 1)
      case None      => ("&", i + 1)
    }
  }

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
