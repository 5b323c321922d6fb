package graft.extract

import java.nio.charset.StandardCharsets

import graft.html.{Boilerplate, FusedSegmenter, HtmlText, Utf8}
import graft.html.FusedSegmenter.RawBlocks
import graft.pdf.PdfSpans

/** Result of extracting one document. `error == null` on success;
  * on failure text/spans are null/empty and `error` carries the
  * reference's error-row message format (`ocr_parallel_ui.py:33-34`:
  * errors become rows `(path, "حدث خطأ: {exc}")`, never exceptions). */
final case class ExtractResult(text: String, spans: Seq[Span], error: String)

/** Extraction engine selection — the reference's engine combo
  * ("Tesseract" / "EasyOCR" / "كلاهما", main_window.py:450). Engines
  * share one interface and differ in classifier strategy
  * (Boilerplate.Params); Both concatenates per part with the
  * reference's exact no-separator format (main_window.py:363-374).
  * PDF and plain-text payloads have no classifier stage, so they are
  * engine-invariant (a single parse — documented divergence from the
  * reference, where two real OCR engines would each re-read the page). */
sealed abstract class Engine(val name: String)
object Engine {
  case object Default extends Engine("default") // "Tesseract" analogue
  case object Alt extends Engine("alt")         // "EasyOCR" analogue
  case object Both extends Engine("both")       // "كلاهما"
  /** Strict: an unknown engine string is an error, not a silent
    * fallback to Default — the reference UI's engine combo can only
    * hold the three valid values (main_window.py:450), so a typo'd
    * engine arg must fail at analysis, never change semantics. */
  def parse(s: String): Engine = s match {
    case "default" => Default
    case "alt"     => Alt
    case "both"    => Both
    case other => throw new IllegalArgumentException(
      s"unknown graft engine '$other' (expected default|alt|both)")
  }
}

/** The recognize stage — preprocess → region-extract → recognize →
  * export for a single document payload, the Spark-side analogue of the
  * reference's per-page OCR loop (main_window.py:347-385).
  *
  * Payload dispatch mirrors the reference's extension routing
  * (main_window.py:331-340: .pdf → poppler, .tiff → multi-frame,
  * else single image) but keys on magic bytes since our payloads are
  * opaque binary: `%PDF` → PDF span parse; markup → HTML extraction;
  * plain UTF-8 text → paragraph blocks; undecodable bytes → error row.
  * That dispatch lives in `recognize` alone, which every consumer
  * (`extract`, the `graft_explode_blocks` block view) goes through.
  */
object Extractor {

  val ErrorPrefix = "حدث خطأ: " // exact reference format, ocr_parallel_ui.py:34

  /** A payload's segmented blocks and keep decision(s): `keep` is the
    * engine's (Default's for Both), `keepAlt` is Both's Alt decision
    * for HTML and null otherwise — PDF and plain-text blocks are
    * always kept, so Both gives the single-engine text for them. */
  final class Recognized(val blocks: RawBlocks, val keep: Array[Boolean],
                         val keepAlt: Array[Boolean])

  private val ParagraphBreak = java.util.regex.Pattern.compile("\n[ \t\r]*\n")

  /** The one payload step. `%PDF` → one content block per page with
    * any non-empty line (lines normalized and "\n"-joined, part = page
    * number); markup (a '<' and a '>' byte) → `segment` of the payload
    * bytes, which validates them as UTF-8, classified with the engine's
    * `Params`; other valid UTF-8 → one content block per non-empty
    * blank-line-separated paragraph, all in part 1. PDF and paragraph
    * blocks carry `countWords` words and no link words. Throws
    * `Utf8.Invalid` or `PdfSpans.PdfParseException` on a malformed
    * payload. */
  def recognize(payload: Array[Byte], engine: Engine): Recognized = {
    if (isPdf(payload)) return keepAll(pdfBlocks(payload))
    if (looksHtml(payload)) {
      val rb = FusedSegmenter.segment(payload)
      val keep = Boilerplate.classifyRaw(rb,
        if (engine == Engine.Alt) Boilerplate.Alt else Boilerplate.Default)
      new Recognized(rb, keep,
        if (engine == Engine.Both) Boilerplate.classifyRaw(rb, Boilerplate.Alt) else null)
    } else {
      val s = decodeUtf8(payload).getOrElse(throw Utf8.Invalid)
      val rb = new RawBlocks
      ParagraphBreak.split(s, -1).foreach { para =>
        val txt = HtmlText.normalize(para)
        if (txt.nonEmpty) rb.addText(1, 0, txt, HtmlText.countWords(txt))
      }
      keepAll(rb)
    }
  }

  private def pdfBlocks(bytes: Array[Byte]): RawBlocks = {
    val rb = new RawBlocks
    PdfSpans.parsePages(bytes).zipWithIndex.foreach { case (lines, i) =>
      if (lines.exists(_.nonEmpty)) {
        val txt = lines.map(HtmlText.normalize).mkString("\n")
        rb.addText(i + 1, 0, txt, HtmlText.countWords(txt))
      }
    }
    rb
  }

  private def keepAll(rb: RawBlocks): Recognized =
    new Recognized(rb, Array.fill(rb.n)(true), null)

  def extract(payload: Array[Byte], lang: String): ExtractResult =
    extract(payload, lang, Engine.Default)

  def extract(payload: Array[Byte], lang: String, engine: Engine): ExtractResult =
    extractAssembled(payload, engine) match {
      case Right(a) => ExtractResult(a.text, a.spans, null)
      case Left(error) => ExtractResult(null, Nil, error)
    }

  /** One payload through `recognize` and `Assemble.assemble`: `Right`
    * the assembled document (`Assemble.Empty` for a null or empty
    * payload — the blank input contract, FIXTURES.md §3), `Left` the
    * error-row message of a payload that fails. The one error-row
    * mapping; `extract` and `graft_extract` both read it. */
  def extractAssembled(payload: Array[Byte], engine: Engine): Either[String, Assemble.Assembled] = {
    if (payload == null || payload.isEmpty) return Right(Assemble.Empty)
    try {
      val r = recognize(payload, engine)
      Right(Assemble.assemble(r.blocks, r.keep, r.keepAlt))
    } catch {
      case Utf8.Invalid => Left(ErrorPrefix + Utf8.Invalid.getMessage)
      case e: PdfSpans.PdfParseException => Left(ErrorPrefix + "pdf: " + e.getMessage)
      // never fail the task (error-as-row policy); deterministic message
      case e: Exception => Left(ErrorPrefix + e.getClass.getSimpleName)
    }
  }

  /** The PDF path alone (no error-row policy: a malformed PDF throws). */
  def extractPdf(bytes: Array[Byte]): ExtractResult = {
    val r = keepAll(pdfBlocks(bytes))
    val (text, spans) = Assemble.fromRaw(r.blocks, r.keep)
    ExtractResult(text, spans, null)
  }

  @inline private def isPdf(b: Array[Byte]): Boolean =
    b.length >= 4 && b(0) == '%' && b(1) == 'P' && b(2) == 'D' && b(3) == 'F'

  /** Markup-dispatch predicate: both '<' and '>' must appear, else the
    * payload routes to the plain-text path. Both are ASCII, so a byte
    * search gives what a search of the decoded text gives. */
  @inline private def looksHtml(b: Array[Byte]): Boolean =
    hasByte(b, '<') && hasByte(b, '>')

  private def hasByte(b: Array[Byte], x: Byte): Boolean = {
    var i = 0
    while (i < b.length && b(i) != x) i += 1
    i < b.length
  }

  /** Strict UTF-8 decode — malformed bytes are a detectable error, not
    * mojibake (byte-identity discipline, SURVEY.md §7.7). The plain-text
    * path's decode; HTML payloads are validated by the segmenter's own
    * scan. Both decide validity with `Utf8.at`, which rejects what the
    * JDK's strict (REPORT) decoder rejects; a valid payload is then
    * decoded once by `new String`. */
  def decodeUtf8(b: Array[Byte]): Option[String] = {
    var i = 0
    try {
      while (i < b.length) i += (if (b(i) >= 0) 1 else Utf8.length(Utf8.at(b, i)))
    } catch { case Utf8.Invalid => return None }
    Some(new String(b, StandardCharsets.UTF_8))
  }
}
