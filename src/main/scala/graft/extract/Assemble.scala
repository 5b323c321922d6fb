package graft.extract

import graft.html.HtmlText
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

  /** Assemble the kept blocks into the final text plus spans
    * addressing each block inside that text. */
  def fromRaw(rb: RawBlocks, keep: Array[Boolean]): (String, Seq[Span]) =
    fromRawDual(rb, keep, null)

  /** Dual-engine assembly ("كلاهما" = both): per part, engine A's kept
    * blocks then engine B's, where B's first block follows A's last
    * with NO separator — the reference concatenates the two engines'
    * page text directly (`text_block += tess.strip(); text_block +=
    * easy.strip()`, main_window.py:363-374) — while blocks WITHIN one
    * engine's output stay "\n"-joined. A part appears iff either
    * engine kept a block in it. `keepB == null` assembles engine A
    * alone (`fromRaw`). One pass per part: the header opens at the
    * part's first kept block. */
  def fromRawDual(rb: RawBlocks, keepA: Array[Boolean],
                  keepB: Array[Boolean]): (String, Seq[Span]) = {
    val sb = new java.lang.StringBuilder(512)
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
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
              if (sb.length > 0) sb.append("\n\n")
              sb.append(header(part)).append('\n')
              open = true
            } else if (!firstBlock) sb.append('\n')
            firstBlock = false
            val start = sb.length
            sb.append(rb.buf, rb.starts(i), rb.ends(i))
            spans += ((start, sb.length, rb.kindName(i)))
          }
          i += 1
        }
        engine += 1
      }
      from = until
    }
    finish(sb.toString, spans)
  }

  /** Final Unicode trim, with the spans shifted and clipped to it. */
  private def finish(
      raw: String,
      spans: scala.collection.mutable.ArrayBuffer[(Int, Int, String)]): (String, Seq[Span]) = {
    val trimmed = HtmlText.unicodeTrim(raw)
    var shift = 0 // leading-trim offset (0 whenever a header is present)
    while (shift < raw.length && HtmlText.isWs(raw.charAt(shift))) shift += 1
    val adjusted = spans.toSeq.collect {
      case (s, e, k) if e - shift > 0 && s - shift < trimmed.length =>
        Span(math.max(0, s - shift), math.min(trimmed.length, e - shift), k)
    }
    (trimmed, adjusted)
  }
}
