package graft.html

import java.nio.charset.StandardCharsets

/** UTF-8 at the byte level, for scanners that read a payload's bytes
  * without decoding them.
  *
  * `at` reads and validates one multi-byte sequence: the scanners call
  * it for every byte ≥ 0x80 they meet, so a payload passes exactly when
  * the JDK's strict (REPORT) decoder accepts it — no overlong form, no
  * encoded surrogate, nothing above U+10FFFF, no truncated sequence, no
  * stray continuation byte.
  *
  * Block and output buffers hold WTF-8: UTF-8 in which a surrogate that
  * an entity produced is written in its 3-byte form. `decode` turns
  * such a range into the `String` the char path gives (a high then a low
  * surrogate read as one pair), and `toUtf8` into the bytes
  * `String.getBytes(UTF_8)` writes for that `String` (a pair as one
  * 4-byte char, a lone surrogate as '?').
  */
object Utf8 {

  /** Thrown for a payload that is not valid UTF-8. */
  object Invalid extends Exception("invalid utf-8 payload", null, false, false)

  /** The sequence that starts at `b(k)` (a byte ≥ 0x80), validated:
    * `(length << 21) | codePoint`; read it with `length` and
    * `codePoint`. Throws `Invalid` for a malformed sequence. */
  def at(b: Array[Byte], k: Int): Int = {
    val b0 = b(k) & 0xFF
    if (b0 < 0xC2) throw Invalid // a continuation byte, or an overlong C0/C1 lead
    if (b0 < 0xE0) {
      if (k + 1 >= b.length) throw Invalid
      val b1 = b(k + 1)
      if ((b1 & 0xC0) != 0x80) throw Invalid
      2 << 21 | (b0 & 0x1F) << 6 | b1 & 0x3F
    } else if (b0 < 0xF0) {
      if (k + 2 >= b.length) throw Invalid
      val b1 = b(k + 1); val b2 = b(k + 2)
      if ((b1 & 0xC0) != 0x80 || (b2 & 0xC0) != 0x80) throw Invalid
      val cp = (b0 & 0x0F) << 12 | (b1 & 0x3F) << 6 | b2 & 0x3F
      if (cp < 0x800 || (cp >= 0xD800 && cp <= 0xDFFF)) throw Invalid
      3 << 21 | cp
    } else if (b0 < 0xF5) {
      if (k + 3 >= b.length) throw Invalid
      val b1 = b(k + 1); val b2 = b(k + 2); val b3 = b(k + 3)
      if ((b1 & 0xC0) != 0x80 || (b2 & 0xC0) != 0x80 || (b3 & 0xC0) != 0x80) throw Invalid
      val cp = (b0 & 0x07) << 18 | (b1 & 0x3F) << 12 | (b2 & 0x3F) << 6 | b3 & 0x3F
      if (cp < 0x10000 || cp > Character.MAX_CODE_POINT) throw Invalid
      4 << 21 | cp
    } else throw Invalid
  }

  @inline def length(r: Int): Int = r >>> 21
  @inline def codePoint(r: Int): Int = r & 0x1FFFFF

  /** Java chars in a sequence of `length` bytes. */
  @inline def chars(length: Int): Int = if (length == 4) 2 else 1

  /** Index of the ASCII byte `d` at or after `from`, or -1; every
    * sequence before it is validated. */
  def indexOf(b: Array[Byte], from: Int, d: Byte): Int = {
    val n = b.length
    var j = from
    while (j < n) {
      val x = b(j)
      if (x == d) return j
      j += (if (x >= 0) 1 else length(at(b, j)))
    }
    -1
  }

  /** Append `cp` to `out` in its WTF-8 form; true when it is a
    * surrogate (written in its 3-byte form). */
  def put(out: ByteBuf, cp: Int): Boolean = {
    out.ensure(4)
    val buf = out.buf
    var k = out.len
    if (cp < 0x80) { buf(k) = cp.toByte; k += 1 }
    else if (cp < 0x800) {
      buf(k) = (0xC0 | cp >> 6).toByte; buf(k + 1) = (0x80 | cp & 0x3F).toByte; k += 2
    } else if (cp < 0x10000) {
      buf(k) = (0xE0 | cp >> 12).toByte; buf(k + 1) = (0x80 | cp >> 6 & 0x3F).toByte
      buf(k + 2) = (0x80 | cp & 0x3F).toByte; k += 3
    } else {
      buf(k) = (0xF0 | cp >> 18).toByte; buf(k + 1) = (0x80 | cp >> 12 & 0x3F).toByte
      buf(k + 2) = (0x80 | cp >> 6 & 0x3F).toByte; buf(k + 3) = (0x80 | cp & 0x3F).toByte; k += 4
    }
    out.len = k
    cp >= Character.MIN_SURROGATE && cp <= Character.MAX_SURROGATE
  }

  /** `b[from, until)` (WTF-8) as a `String`. Without surrogates this is
    * the JDK decode; with them each 3-byte surrogate form is its char. */
  def decode(b: Array[Byte], from: Int, until: Int, surrogates: Boolean): String = {
    if (!surrogates) return new String(b, from, until - from, StandardCharsets.UTF_8)
    val out = new Array[Char](until - from)
    var i = from
    var o = 0
    while (i < until) {
      val b0 = b(i) & 0xFF
      if (b0 < 0x80) { out(o) = b0.toChar; o += 1; i += 1 }
      else if (b0 < 0xE0) {
        out(o) = ((b0 & 0x1F) << 6 | b(i + 1) & 0x3F).toChar; o += 1; i += 2
      } else if (b0 < 0xF0) {
        out(o) = ((b0 & 0x0F) << 12 | (b(i + 1) & 0x3F) << 6 | b(i + 2) & 0x3F).toChar
        o += 1; i += 3
      } else {
        val cp = (b0 & 0x07) << 18 | (b(i + 1) & 0x3F) << 12 | (b(i + 2) & 0x3F) << 6 | b(i + 3) & 0x3F
        out(o) = Character.highSurrogate(cp); out(o + 1) = Character.lowSurrogate(cp)
        o += 2; i += 4
      }
    }
    new String(out, 0, o)
  }

  /** `b[from, until)` (WTF-8, holding surrogates) as the UTF-8 bytes
    * `String.getBytes(UTF_8)` writes for its `decode`: a high surrogate
    * directly followed by a low one is one 4-byte char, any other
    * surrogate is '?'. */
  def toUtf8(b: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val out = new Array[Byte](until - from)
    var i = from
    var o = 0
    while (i < until) {
      if (isSurrogate(b, i, until)) {
        val hi = surrogate(b, i)
        if (Character.isHighSurrogate(hi) && isSurrogate(b, i + 3, until) &&
            Character.isLowSurrogate(surrogate(b, i + 3))) {
          val cp = Character.toCodePoint(hi, surrogate(b, i + 3))
          out(o) = (0xF0 | cp >> 18).toByte; out(o + 1) = (0x80 | cp >> 12 & 0x3F).toByte
          out(o + 2) = (0x80 | cp >> 6 & 0x3F).toByte; out(o + 3) = (0x80 | cp & 0x3F).toByte
          o += 4; i += 6
        } else { out(o) = '?'; o += 1; i += 3 }
      } else { out(o) = b(i); o += 1; i += 1 }
    }
    java.util.Arrays.copyOf(out, o)
  }

  /** Does a 3-byte surrogate form (ED A0..BF xx) start at `b(i)`? */
  @inline private def isSurrogate(b: Array[Byte], i: Int, until: Int): Boolean =
    i + 2 < until && b(i) == 0xED.toByte && (b(i + 1) & 0xFF) >= 0xA0

  @inline private def surrogate(b: Array[Byte], i: Int): Char =
    (0xD000 | (b(i + 1) & 0x3F) << 6 | b(i + 2) & 0x3F).toChar
}
