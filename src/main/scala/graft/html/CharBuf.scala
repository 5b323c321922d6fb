package graft.html

/** A growable `char[]` whose text is `buf[0, len)`; it doubles when
  * full. `RawBlocks` keeps all block text of a document in one, and
  * `Assemble` builds the output text in another. */
class CharBuf(capacity: Int) {
  var buf = new Array[Char](capacity)
  var len = 0

  /** Make room for `k` more chars. */
  final def ensure(k: Int): Unit =
    if (len + k > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(len + k, 2 * buf.length))

  final def put(c: Char): Unit = {
    ensure(1); buf(len) = c; len += 1
  }
  final def put(s: String): Unit = {
    ensure(s.length); s.getChars(0, s.length, buf, len); len += s.length
  }
  final def put(src: Array[Char], from: Int, until: Int): Unit = {
    ensure(until - from); System.arraycopy(src, from, buf, len, until - from); len += until - from
  }
}
