package graft.html

import java.nio.charset.StandardCharsets

/** The markup and text primitives every scanner in main shares:
  * entity decoding, raw-text close-tag search and the quote-aware tag
  * end over a UTF-8 payload's bytes, and the whitespace rules of block
  * text on chars and on bytes. Byte-identity relevant —
  * `FusedSegmenter`, `Assemble`, `Extractor` and the expression layer
  * all read these one definitions (SURVEY.md §7.7).
  */
object HtmlText {

  /** Fixed, versioned entity table (byte-identity relevant — see
    * SURVEY.md §7.7): `EntityNames(k)` decodes to `EntityChars(k)`,
    * except `shy`, which decodes to nothing. Unknown entities are left
    * verbatim. */
  private[html] val EntityNames: Array[String] = Array(
    "amp", "lt", "gt", "quot", "apos", "nbsp", "copy", "reg", "trade",
    "hellip", "mdash", "ndash", "ldquo", "rdquo", "lsquo", "rsquo",
    "laquo", "raquo", "times", "bull", "middot", "deg", "euro", "pound",
    "cent", "sect", "para", "shy")
  private[html] val EntityChars = "&<>\"'\u00A0©®™…—–“”‘’«»×•·°€£¢§¶"

  /** Code point of `entityAt` for an entity that decodes to nothing. */
  final val NoChar = -1
  private[html] final val Malformed = -2

  /** Decode the entity at `i` (b(i) == '&') of a UTF-8 payload in
    * place; nothing is allocated. Returns `(next << 32) | (codePoint &
    * 0xffffffffL)`; read it with `entityNext` and `entityCodePoint`. The
    * code point is `NoChar` for an entity that decodes to nothing, and
    * an unknown or malformed entity is a literal '&' with
    * `next == i + 1`. Every byte ≥ 0x80 read is validated (`Utf8.at`).
    *
    * The body is what lies between the '&' and the first ';' within
    * the next 11 Java chars (a 4-byte char counts two). A named body
    * matches the fixed table exactly; a numeric body (`#` digits, or
    * `#x`/`#X` hex digits) parses as `Integer.parseInt` parses its
    * UTF-16 chars — an optional sign, `Character.digit` digits (a
    * supplementary char is two surrogates, never a digit), overflow is
    * malformed — and must be a valid code point. */
  def entityAt(b: Array[Byte], i: Int): Long = {
    val n = b.length
    var semi = i + 1
    var pos = 1 // chars from the '&' to b(semi)
    while (semi < n && pos <= 11 && b(semi) != ';') {
      if (b(semi) >= 0) { semi += 1; pos += 1 }
      else {
        val len = Utf8.length(Utf8.at(b, semi))
        semi += len; pos += Utf8.chars(len)
      }
    }
    val cp =
      if (semi >= n || pos > 11 || semi == i + 1) Malformed
      else if (b(i + 1) == '#') {
        val hex = semi > i + 2 && (b(i + 2) == 'x' || b(i + 2) == 'X')
        val v = if (hex) parseInt(b, i + 3, semi, 16) else parseInt(b, i + 2, semi, 10)
        if (v >= 0 && v <= Character.MAX_CODE_POINT) v else Malformed
      } else namedEntity(b, i + 1, semi)
    if (cp == Malformed) (i + 1).toLong << 32 | '&'
    else (semi + 1).toLong << 32 | (cp & 0xffffffffL)
  }

  @inline def entityNext(r: Long): Int = (r >>> 32).toInt
  @inline def entityCodePoint(r: Long): Int = r.toInt

  private val MaxNameLength = EntityNames.map(_.length).max

  /** A body of at most `MaxNameLength` (< 8) bytes as a Long: its
    * length above its bytes, so distinct bodies never share a key. */
  private def nameKey(b: Array[Byte], from: Int, until: Int): Long = {
    var key = (until - from).toLong
    var i = from
    while (i < until) { key = key << 8 | (b(i) & 0xFF); i += 1 }
    key
  }
  private val NameKeys: Array[Long] =
    EntityNames.map(n => nameKey(n.getBytes(StandardCharsets.US_ASCII), 0, n.length))

  private def namedEntity(b: Array[Byte], from: Int, until: Int): Int = {
    if (until - from > MaxNameLength) return Malformed
    val key = nameKey(b, from, until)
    var k = 0
    while (k < NameKeys.length) {
      if (NameKeys(k) == key)
        return if (k < EntityChars.length) EntityChars.charAt(k).toInt else NoChar
      k += 1
    }
    Malformed
  }

  /** `Integer.parseInt` of the UTF-16 chars of `b[from, until)`, read
    * in place; -1 where it throws. */
  private def parseInt(b: Array[Byte], from: Int, until: Int, radix: Int): Int = {
    if (from == until) return -1
    var k = from
    var negative = false
    var limit = -Integer.MAX_VALUE
    val first = b(k)
    if (first >= 0 && first < '0') { // a sign; every non-ASCII char is above '0'
      if (first == '-') { negative = true; limit = Integer.MIN_VALUE }
      else if (first != '+') return -1
      k += 1
      if (k == until) return -1
    }
    val multmin = limit / radix
    var result = 0
    while (k < until) {
      val x = b(k)
      var digit = -1
      if (x >= 0) { digit = Character.digit(x.toInt, radix); k += 1 }
      else {
        val r = Utf8.at(b, k)
        if (Utf8.codePoint(r) < Character.MIN_SUPPLEMENTARY_CODE_POINT)
          digit = Character.digit(Utf8.codePoint(r), radix)
        k += Utf8.length(r)
      }
      if (digit < 0 || result < multmin) return -1
      result *= radix
      if (result < limit + digit) return -1
      result -= digit
    }
    if (negative) result else -result
  }

  /** Index of the first "</name" (`name` lowercase ASCII) at or after
    * `from` whose chars lowercase (`Character.toLowerCase`, so U+0130
    * is 'i') to it and that is followed by '>', a Java whitespace char
    * or the end; -1 if none. Every sequence before it is validated. */
  def indexOfCloseTag(b: Array[Byte], from: Int, name: String): Int = {
    var i = Utf8.indexOf(b, from, '<')
    while (i >= 0) {
      if (closesAt(b, i, name)) return i
      i = Utf8.indexOf(b, i + 1, '<')
    }
    -1
  }

  private def closesAt(b: Array[Byte], i: Int, name: String): Boolean = {
    val n = b.length
    if (i + 1 >= n || b(i + 1) != '/') return false
    var p = i + 2
    var k = 0
    while (k < name.length) {
      if (p >= n) return false
      val x = b(p)
      if (x >= 0) {
        if (Character.toLowerCase(x.toChar) != name.charAt(k)) return false
        p += 1
      } else {
        val r = Utf8.at(b, p)
        val cp = Utf8.codePoint(r)
        // a supplementary char's first UTF-16 char is a surrogate: no match
        if (cp >= Character.MIN_SUPPLEMENTARY_CODE_POINT ||
            Character.toLowerCase(cp.toChar) != name.charAt(k)) return false
        p += Utf8.length(r)
      }
      k += 1
    }
    if (p >= n || b(p) == '>') true
    else if (b(p) >= 0) Character.isWhitespace(b(p).toChar)
    else {
      val cp = Utf8.codePoint(Utf8.at(b, p))
      cp < Character.MIN_SUPPLEMENTARY_CODE_POINT && Character.isWhitespace(cp.toChar)
    }
  }

  /** Index of the '>' that closes the tag whose attributes start at
    * `from`, or `b.length` if none: a '>' inside a quoted attribute
    * value does not end the tag, and an unterminated quote runs to EOF.
    * Every sequence before it is validated. */
  def tagEnd(b: Array[Byte], from: Int): Int = {
    val n = b.length
    var j = from
    while (j < n) {
      val a = b(j)
      if (a == '"' || a == '\'') {
        val q = Utf8.indexOf(b, j + 1, a)
        j = if (q < 0) n else q + 1
      } else if (a == '>') return j
      else j += (if (a >= 0) 1 else Utf8.length(Utf8.at(b, j)))
    }
    n
  }

  /** `isWs` of the char whose UTF-8 form starts at `b(k)`. Only the
    * lead bytes of the set's non-ASCII members are decoded: C2 (NBSP),
    * E1 (U+1680), E2 (U+2000–U+200A but U+2007, U+2028/9, U+205F) and
    * E3 (U+3000). */
  def isWs(b: Array[Byte], k: Int): Boolean = {
    val x = b(k)
    if (x >= 0) x < '@' && (AsciiWs >>> x & 1L) != 0
    else isWsLead(x) && isWs(Utf8.codePoint(Utf8.at(b, k)).toChar)
  }

  /** Is `x` the lead byte of a non-ASCII whitespace char? */
  @inline def isWsLead(x: Byte): Boolean =
    x == 0xC2.toByte || x == 0xE1.toByte || x == 0xE2.toByte || x == 0xE3.toByte

  /** Whitespace set: Java whitespace plus NBSP (Python str.strip strips
    * Unicode spaces — reference F8 byte-identity note, SURVEY.md §2.8).
    * Below U+1680 (the first non-ASCII Java whitespace) the set is
    * spelled out — one mask test below '@', NBSP above it — so the hot
    * loops skip the Unicode table there. */
  @inline def isWs(c: Char): Boolean =
    if (c < '@') (AsciiWs >>> c & 1L) != 0
    else c == '\u00A0' || c >= '\u1680' && Character.isWhitespace(c)

  /** Bit `c` is set for each whitespace char `c` below '@':
    * '\t'..'\r' (bits 9-13) and '\u001C'..' ' (bits 28-32). */
  final val AsciiWs = 0x1F0003E00L

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
