package graft.html

import HtmlText.{EntityChars, EntityNames, Malformed, NoChar}

/** The markup primitives on a decoded `String`: the reference for
  * their byte versions in `HtmlText`. `HtmlTokenizer` searches raw-text
  * close tags with `indexOfCloseTag`, and `Utf8Spec` checks
  * `HtmlText.entityAt`, `indexOfCloseTag` and `tagEnd` against these at
  * every position. */
object StringMarkup {

  /** Decode the entity at `i` (s(i) == '&') in place; nothing is
    * allocated except the exception of a malformed numeric body. Returns `(next << 32) | (codePoint & 0xffffffffL)`;
    * read it with `entityNext` and `entityCodePoint`. The code point is
    * `NoChar` for an entity that decodes to nothing, and an unknown or
    * malformed entity is a literal '&' with `next == i + 1`.
    *
    * The body is what lies between the '&' and the first ';' within
    * the next 11 chars. A named body matches the fixed table exactly; a
    * numeric body (`#` digits, or `#x`/`#X` hex digits) parses as
    * `Integer.parseInt` parses it — an optional sign, `Character.digit`
    * digits, overflow is malformed — and must be a valid code point. */
  def entityAt(s: String, i: Int): Long = {
    val lim = math.min(s.length, i + 12)
    var semi = i + 1
    while (semi < lim && s.charAt(semi) != ';') semi += 1
    val cp =
      if (semi >= lim || semi == i + 1) Malformed
      else if (s.charAt(i + 1) == '#') {
        val hex = semi > i + 2 && (s.charAt(i + 2) == 'x' || s.charAt(i + 2) == 'X')
        val v = if (hex) parseInt(s, i + 3, semi, 16) else parseInt(s, i + 2, semi, 10)
        if (v >= 0 && v <= Character.MAX_CODE_POINT) v else Malformed
      } else namedEntity(s, i + 1, semi)
    if (cp == Malformed) (i + 1).toLong << 32 | '&'
    else (semi + 1).toLong << 32 | (cp & 0xffffffffL)
  }

  private def namedEntity(s: String, from: Int, until: Int): Int = {
    var k = 0
    while (k < EntityNames.length) {
      val name = EntityNames(k)
      if (name.length == until - from && name.charAt(0) == s.charAt(from) &&
          s.regionMatches(from, name, 0, name.length))
        return if (k < EntityChars.length) EntityChars.charAt(k).toInt else NoChar
      k += 1
    }
    Malformed
  }

  /** `Integer.parseInt` of `s[from, until)`, read in place; -1 where it
    * throws. */
  private def parseInt(s: String, from: Int, until: Int, radix: Int): Int =
    try Integer.parseInt(s, from, until, radix)
    catch { case _: NumberFormatException => -1 }

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

  /** `needle` starts with '<', which has no other case: only the
    * positions of a '<' are candidates. */
  private def indexOfIgnoreCase(h: String, needle: String, from: Int): Int = {
    val n = h.length; val m = needle.length
    var i = h.indexOf('<', from)
    while (i >= 0 && i + m <= n) {
      var k = 1
      while (k < m && Character.toLowerCase(h.charAt(i + k)) == needle.charAt(k)) k += 1
      if (k == m) return i
      i = h.indexOf('<', i + 1)
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
}
