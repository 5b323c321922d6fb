package graft.extract

import java.nio.charset.StandardCharsets

import graft.html.{ByteBuf, HtmlText, Utf8}
import graft.html.FusedSegmenter.RawBlocks

/** Span offsets into the assembled extracted text.
  * kind ∈ content | heading | list. */
final case class Span(start: Int, end: Int, kind: String)

/** Page-ordered document assembly — THE byte-identity contract.
  *
  * Reproduces the reference's exact assembly format
  * (reference: main_window.py:382 `"--- صفحة {idx} ---\n{text}"` per
  * page; :385 `"\n\n".join(...).strip()`): every part with a kept
  * block gets the Arabic page header with its 1-based ordinal, parts
  * are joined with a blank line, and the final string is
  * Unicode-trimmed (Python str.strip semantics — SURVEY.md §2.8 F8).
  *
  * Within a part, blocks are joined with a single "\n" (the reference's
  * psm-6 output is line-oriented within a page).
  *
  * Input is the one segmentation representation (`RawBlocks`, blocks
  * in document order with non-decreasing part ids) plus keep flags;
  * block text is copied as byte ranges buffer→buffer with no per-block
  * String, and span offsets add up the blocks' Java char lengths. Shared
  * by the extractor AND the page generator's ground truth so the
  * format has a single source of truth; the *selection* of blocks is
  * what the pipeline must independently get right.
  */
object Assemble {

  private val HeaderHead = "--- صفحة "
  private val HeaderTail = " ---"
  private val HeaderHeadBytes = HeaderHead.getBytes(StandardCharsets.UTF_8)
  private val HeaderTailBytes = HeaderTail.getBytes(StandardCharsets.UTF_8)

  def header(idx: Int): String = HeaderHead + idx + HeaderTail

  /** `header(idx)` appended to `out` as UTF-8; returns its length in
    * Java chars. */
  private def putHeader(out: ByteBuf, idx: Int): Int = {
    val digits = Integer.toString(idx)
    out.put(HeaderHeadBytes, 0, HeaderHeadBytes.length)
    var k = 0
    while (k < digits.length) { out.put(digits.charAt(k).toByte); k += 1 }
    out.put(HeaderTailBytes, 0, HeaderTailBytes.length)
    HeaderHead.length + digits.length + HeaderTail.length
  }

  /** One assembled document: its text is `buf[from, until)` (WTF-8,
    * see `Utf8`; `surrogates` when it may hold a surrogate), and span
    * `k` (of `n`) is `[starts(k), ends(k))` in that text with kind id
    * `kindIds(k)` (0=content 1=heading 2=list); offsets are Java chars. */
  final class Assembled(val buf: Array[Byte], val from: Int, val until: Int,
      val surrogates: Boolean, val n: Int, val starts: Array[Int], val ends: Array[Int],
      val kindIds: Array[Int]) {
    def text: String = Utf8.decode(buf, from, until, surrogates)
    def spans: List[Span] =
      List.tabulate(n)(k => Span(starts(k), ends(k), RawBlocks.KindNames(kindIds(k))))
  }

  /** The blank document (no text, no spans). */
  val Empty = new Assembled(Array.emptyByteArray, 0, 0, false, 0,
    Array.emptyIntArray, Array.emptyIntArray, Array.emptyIntArray)

  /** Assemble the kept blocks into the final text plus spans
    * addressing each block inside that text: `assemble` as a `String`
    * and its `Span`s. */
  def fromRaw(rb: RawBlocks, keep: Array[Boolean]): (String, Seq[Span]) = {
    val a = assemble(rb, keep, null)
    (a.text, a.spans)
  }

  /** The one assembler loop. Dual-engine assembly ("كلاهما" = both):
    * per part, engine A's kept blocks then engine B's, where B's first
    * block follows A's last with NO separator — the reference
    * concatenates the two engines' page text directly (`text_block +=
    * tess.strip(); text_block += easy.strip()`, main_window.py:363-374)
    * — while blocks WITHIN one engine's output stay "\n"-joined. A part
    * appears iff either engine kept a block in it. `keepB == null`
    * assembles engine A alone (`fromRaw`). One pass per part: the
    * header opens at the part's first kept block. The final Unicode
    * trim is a range of the buffer, with the spans shifted and clipped
    * to it. */
  def assemble(rb: RawBlocks, keepA: Array[Boolean], keepB: Array[Boolean]): Assembled = {
    val out = new ByteBuf(rb.len + 64)
    var chars = 0 // Java chars in out
    var n = 0
    val maxSpans = if (keepB == null) rb.n else 2 * rb.n
    val starts = new Array[Int](maxSpans)
    val ends = new Array[Int](maxSpans)
    val kindIds = new Array[Int](maxSpans)
    var from = 0
    while (from < rb.n) {
      val part = rb.parts(from)
      var until = from + 1
      while (until < rb.n && rb.parts(until) == part) until += 1
      var open = false // this part's header is written
      var engine = 0
      while (engine < 2) {
        val keep = if (engine == 0) keepA else keepB
        var firstBlock = true
        var i = from
        while (keep != null && i < until) {
          if (keep(i)) {
            if (!open) {
              if (out.len > 0) { out.put('\n'.toByte); out.put('\n'.toByte); chars += 2 }
              chars += putHeader(out, part) + 1
              out.put('\n'.toByte)
              open = true
            } else if (!firstBlock) { out.put('\n'.toByte); chars += 1 }
            firstBlock = false
            starts(n) = chars
            out.put(rb.buf, rb.starts(i), rb.ends(i))
            chars += rb.chars(i)
            ends(n) = chars; kindIds(n) = rb.kindIds(i)
            n += 1
          }
          i += 1
        }
        engine += 1
      }
      from = until
    }
    // Unicode trim (Python str.strip, SURVEY.md §2.8 F8) as byte and
    // char ranges; every whitespace char is one Java char. The leading
    // trim is 0 whenever a header is present.
    val buf = out.buf
    var a = 0; var b = out.len
    var ca = 0; var cb = chars
    while (a < b && HtmlText.isWs(buf, a)) {
      a += (if (buf(a) >= 0) 1 else Utf8.length(Utf8.at(buf, a))); ca += 1
    }
    var trimming = true
    while (trimming && b > a) {
      var lead = b - 1 // step back over continuation bytes to the last char's lead
      while ((buf(lead) & 0xC0) == 0x80) lead -= 1
      if (HtmlText.isWs(buf, lead)) { b = lead; cb -= 1 } else trimming = false
    }
    var kept = 0
    var k = 0
    while (k < n) {
      if (ends(k) > ca && starts(k) < cb) {
        starts(kept) = math.max(starts(k), ca) - ca
        ends(kept) = math.min(ends(k), cb) - ca
        kindIds(kept) = kindIds(k)
        kept += 1
      }
      k += 1
    }
    new Assembled(buf, a, b, rb.surrogates, kept, starts, ends, kindIds)
  }
}
