package graft.html

/** The markup and text primitives every scanner in main shares:
  * entity decoding, raw-text close-tag search, the quote-aware tag end,
  * and the whitespace rules of block text. Byte-identity relevant —
  * `FusedSegmenter`, `Assemble`, `Extractor` and the expression layer
  * all read these one definitions (SURVEY.md §7.7).
  */
object HtmlText {

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
    * Returns (replacement, nextIndex); unknown → ("&", i+1) literal. */
  def decodeEntityAt(html: String, i: Int): (String, Int) = {
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

  /** Case-insensitive search for "</name" followed by '>' or whitespace. */
  def indexOfCloseTag(html: String, from: Int, name: String): Int = {
    val needle = "</" + name
    var i = from
    val n = html.length
    while (i >= 0 && i < n) {
      i = indexOfIgnoreCase(html, needle, i)
      if (i >= 0) {
        val after = i + needle.length
        if (after >= n || html.charAt(after) == '>' ||
            Character.isWhitespace(html.charAt(after))) return i
        i += 1
      }
    }
    -1
  }

  private def indexOfIgnoreCase(h: String, needle: String, from: Int): Int = {
    val n = h.length; val m = needle.length
    var i = from
    while (i + m <= n) {
      var k = 0
      while (k < m && Character.toLowerCase(h.charAt(i + k)) == needle.charAt(k)) k += 1
      if (k == m) return i
      i += 1
    }
    -1
  }

  /** Index of the '>' that closes the tag whose attributes start at
    * `from`, or `s.length` if none: a '>' inside a quoted attribute
    * value does not end the tag, and an unterminated quote runs to EOF. */
  def tagEnd(s: String, from: Int): Int = {
    val n = s.length
    var j = from
    while (j < n) {
      val a = s.charAt(j)
      if (a == '"' || a == '\'') {
        val q = s.indexOf(a, j + 1)
        j = if (q < 0) n else q + 1
      } else if (a == '>') return j
      else j += 1
    }
    n
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
