package graft.extract

import graft.html.{CharBuf, HtmlText}
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
  * block text is copied buffer→buffer with no per-block String. Shared
  * by the extractor AND the page generator's ground truth so the
  * format has a single source of truth; the *selection* of blocks is
  * what the pipeline must independently get right.
  */
object Assemble {

  def header(idx: Int): String = s"--- صفحة $idx ---"

  /** One assembled document: its text is `buf[from, until)`, and span
    * `k` (of `n`) is `[starts(k), ends(k))` in that text with kind id
    * `kindIds(k)` (0=content 1=heading 2=list); offsets are Java chars. */
  final class Assembled(val buf: Array[Char], val from: Int, val until: Int,
      val n: Int, val starts: Array[Int], val ends: Array[Int], val kindIds: Array[Int]) {
    def text: String = new String(buf, from, until - from)
    def spans: List[Span] =
      List.tabulate(n)(k => Span(starts(k), ends(k), RawBlocks.KindNames(kindIds(k))))
  }

  /** The blank document (no text, no spans). */
  val Empty = new Assembled(Array.emptyCharArray, 0, 0, 0,
    Array.emptyIntArray, Array.emptyIntArray, Array.emptyIntArray)

  /** Assemble the kept blocks into the final text plus spans
    * addressing each block inside that text. */
  def fromRaw(rb: RawBlocks, keep: Array[Boolean]): (String, Seq[Span]) =
    fromRawDual(rb, keep, null)

  /** `assemble` as a `String` and its `Span`s. */
  def fromRawDual(rb: RawBlocks, keepA: Array[Boolean],
                  keepB: Array[Boolean]): (String, Seq[Span]) = {
    val a = assemble(rb, keepA, keepB)
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
    val out = new CharBuf(rb.len + 64)
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
              if (out.len > 0) out.put("\n\n")
              out.put(header(part)); out.put("\n")
              open = true
            } else if (!firstBlock) out.put("\n")
            firstBlock = false
            starts(n) = out.len
            out.put(rb.buf, rb.starts(i), rb.ends(i))
            ends(n) = out.len; kindIds(n) = rb.kindIds(i)
            n += 1
          }
          i += 1
        }
        engine += 1
      }
      from = until
    }
    // Unicode trim (Python str.strip, SURVEY.md §2.8 F8); the leading
    // trim is 0 whenever a header is present
    val buf = out.buf
    var a = 0; var b = out.len
    while (a < b && HtmlText.isWs(buf(a))) a += 1
    while (b > a && HtmlText.isWs(buf(b - 1))) b -= 1
    var kept = 0
    var k = 0
    while (k < n) {
      if (ends(k) > a && starts(k) < b) {
        starts(kept) = math.max(starts(k), a) - a
        ends(kept) = math.min(ends(k), b) - a
        kindIds(kept) = kindIds(k)
        kept += 1
      }
      k += 1
    }
    new Assembled(buf, a, b, kept, starts, ends, kindIds)
  }
}
