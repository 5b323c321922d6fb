package graft.html

import java.nio.charset.StandardCharsets

/** A growable `byte[]` whose content is `buf[0, len)`; it doubles when
  * full. `RawBlocks` keeps all block text of a document in one, and
  * `Assemble` builds the output text in another; both hold WTF-8
  * (see `Utf8`). */
class ByteBuf(capacity: Int) {
  var buf = new Array[Byte](capacity)
  var len = 0

  /** Make room for `k` more bytes. */
  final def ensure(k: Int): Unit =
    if (len + k > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(len + k, 2 * buf.length))

  final def put(c: Byte): Unit = {
    ensure(1); buf(len) = c; len += 1
  }
  /** `s` as `String.getBytes(UTF_8)` writes it. */
  final def put(s: String): Unit = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    put(b, 0, b.length)
  }
  final def put(src: Array[Byte], from: Int, until: Int): Unit = {
    ensure(until - from); System.arraycopy(src, from, buf, len, until - from); len += until - from
  }
}
