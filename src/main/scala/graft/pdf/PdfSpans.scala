package graft.pdf

import java.util.zip.Inflater
import scala.collection.mutable.ArrayBuffer

/** From-scratch layout-aware PDF text-span parser — documented subset.
  *
  * Handles the %PDF payload path the reference covers with poppler
  * rasterization + OCR (reference: main_window.py:331-336,
  * `convert_from_path(dpi=100)` → per-page Tesseract). We skip the
  * raster round-trip entirely: content streams are located by scanning
  * for `stream`/`endstream` segments, FlateDecode'd via
  * `java.util.zip.Inflater`, and the text operators are interpreted
  * directly.
  *
  * Supported operator subset (SURVEY.md §7.7): BT/ET, Tj, TJ, ' and ",
  * Td/TD/T* (line breaks), Tf/Tm and other positioning ops are skipped.
  * String escapes: \( \) \\ \n \r \t \b \f, octal \ddd, and
  * line-continuation backslash. Anything outside the subset → a thrown
  * PdfParseException which the caller converts to an error-as-row
  * (policy from ocr_parallel_ui.py:33-34; fallback discipline from
  * ocr_logic.py:84-88).
  *
  * One content stream = one page (1-indexed, mirroring the reference's
  * page loop main_window.py:347); lines within a page join with "\n".
  */
object PdfSpans {

  final class PdfParseException(msg: String) extends Exception(msg)

  /** Cap on the inflated bytes of all flate streams of one document
    * together (they are all held at once): a small flate bomb, or many
    * streams each just under the cap, becomes an error row instead of
    * taking the executor heap. */
  final val MaxInflatedBytes = 64 << 20

  /** Parse PDF bytes → ordered pages, each a Seq of text lines. */
  def parsePages(bytes: Array[Byte]): Seq[Seq[String]] = {
    if (bytes.length < 5 || !startsWith(bytes, "%PDF"))
      throw new PdfParseException("not a pdf payload")
    val streams = findStreams(bytes)
    if (streams.isEmpty) throw new PdfParseException("no content streams")
    streams.map(s => parseContent(s))
  }

  private def startsWith(b: Array[Byte], s: String): Boolean = {
    if (b.length < s.length) return false
    var i = 0
    while (i < s.length) { if ((b(i) & 0xff) != s.charAt(i)) return false; i += 1 }
    true
  }

  /** Locate stream...endstream segments; FlateDecode when the preceding
    * object dictionary names the filter, else raw bytes. */
  private def findStreams(bytes: Array[Byte]): Seq[Array[Byte]] = {
    val out = ArrayBuffer.empty[Array[Byte]]
    var inflated = 0 // bytes inflated so far, against MaxInflatedBytes
    val n = bytes.length
    var i = 0
    while (i < n) {
      val s = indexOf(bytes, "stream", i)
      if (s < 0) i = n
      else if (s >= 3 && bytes(s - 3) == 'e' && bytes(s - 2) == 'n' && bytes(s - 1) == 'd') {
        i = s + "stream".length // this was an `endstream` keyword, not an opener
      } else {
        // dictionary scan window: back to the nearest "<<" before `stream`
        val dictStart = lastIndexOf(bytes, "<<", s)
        val flate = dictStart >= 0 && {
          val p = indexOf(bytes, "FlateDecode", dictStart)
          p >= 0 && p < s
        }
        var ds = s + "stream".length
        // EOL after `stream` keyword: CRLF or LF (PDF 32000-1 §7.3.8.1)
        if (ds < n && bytes(ds) == '\r') ds += 1
        if (ds < n && bytes(ds) == '\n') ds += 1
        // honor /Length when the dict declares it (authoritative —
        // compressed data may legally contain EOL bytes or even the
        // ASCII text "endstream"); fall back to a keyword scan.
        val declared = if (dictStart >= 0) parseLength(bytes, dictStart, s) else -1
        val de =
          if (declared >= 0 && ds + declared <= n &&
              indexOf(bytes, "endstream", ds + declared) >= 0) ds + declared
          else {
            val e = indexOf(bytes, "endstream", ds)
            if (e < 0) throw new PdfParseException("unterminated stream")
            var d = e
            if (d > ds && bytes(d - 1) == '\n') d -= 1
            if (d > ds && bytes(d - 1) == '\r') d -= 1
            d
          }
        val raw = java.util.Arrays.copyOfRange(bytes, ds, de)
        val data = if (flate) inflate(raw, MaxInflatedBytes - inflated) else raw
        if (flate) inflated += data.length
        out += data
        val after = indexOf(bytes, "endstream", de)
        i = (if (after >= 0) after else de) + "endstream".length
      }
    }
    out.toSeq
  }

  /** Parse `/Length N` (direct integer only) inside [from, until). */
  private def parseLength(bytes: Array[Byte], from: Int, until: Int): Int = {
    val p = indexOf(bytes, "/Length", from)
    if (p < 0 || p >= until) return -1
    var i = p + "/Length".length
    while (i < until && (bytes(i) == ' ' || bytes(i) == '\n' || bytes(i) == '\r')) i += 1
    var v = 0
    var any = false
    while (i < until && bytes(i) >= '0' && bytes(i) <= '9') {
      v = v * 10 + (bytes(i) - '0'); i += 1; any = true
    }
    // indirect reference (`N 0 R`) → not supported, fall back to scan
    var j = i
    while (j < until && bytes(j) == ' ') j += 1
    val indirect = j < until && bytes(j) >= '0' && bytes(j) <= '9'
    if (any && !indirect) v else -1
  }

  /** Inflate `raw`; more than `budget` bytes fails the document. */
  private def inflate(raw: Array[Byte], budget: Int): Array[Byte] = {
    val inf = new Inflater()
    try {
      inf.setInput(raw)
      val buf = new java.io.ByteArrayOutputStream(raw.length * 4)
      val chunk = new Array[Byte](8192)
      while (!inf.finished()) {
        val k = inf.inflate(chunk)
        // a preset dictionary (zlib FDICT) is never supplied in a PDF:
        // inflate would return 0 forever without needing input
        if (inf.needsDictionary())
          throw new PdfParseException("flate stream needs a preset dictionary")
        if (k == 0 && inf.needsInput())
          throw new PdfParseException("truncated flate stream")
        if (buf.size > budget - k)
          throw new PdfParseException(s"flate stream inflates past $MaxInflatedBytes bytes")
        buf.write(chunk, 0, k)
      }
      buf.toByteArray
    } catch {
      case e: java.util.zip.DataFormatException =>
        throw new PdfParseException(s"flate error: ${e.getMessage}")
    } finally inf.end()
  }

  /** Interpret the text-operator subset of one content stream. */
  private def parseContent(content: Array[Byte]): Seq[String] = {
    val lines = ArrayBuffer.empty[String]
    val cur = new java.lang.StringBuilder(128)
    var curHasShow = false

    def newline(): Unit = {
      if (curHasShow) { lines += cur.toString; cur.setLength(0); curHasShow = false }
    }
    def endLine(): Unit = newline()

    val n = content.length
    var i = 0
    // operand stack of recently-seen strings (for Tj/TJ/'/")
    var lastString: String = null
    var lastArray: ArrayBuffer[String] = null
    var inArray = false
    val arrBuf = ArrayBuffer.empty[String]

    while (i < n) {
      val c = (content(i) & 0xff).toChar
      if (c == '%') { // comment to EOL
        while (i < n && content(i) != '\n') i += 1
      } else if (c == '(') {
        val (s, next) = parseString(content, i)
        if (inArray) arrBuf += s else lastString = s
        i = next
      } else if (c == '[') { inArray = true; arrBuf.clear(); i += 1 }
      else if (c == ']') { inArray = false; lastArray = arrBuf.clone(); i += 1 }
      else if (c == '<' && i + 1 < n && (content(i + 1) & 0xff).toChar != '<') {
        // hex string
        val e = indexOfByte(content, '>', i + 1)
        if (e < 0) throw new PdfParseException("unterminated hex string")
        val hex = new String(content, i + 1, e - i - 1, java.nio.charset.StandardCharsets.US_ASCII)
          .filterNot(ch => ch == ' ' || ch == '\n' || ch == '\r' || ch == '\t')
        val sb = new java.lang.StringBuilder(hex.length / 2)
        var k = 0
        while (k + 1 < hex.length) {
          sb.append(Integer.parseInt(hex.substring(k, k + 2), 16).toChar); k += 2
        }
        if (k < hex.length) // odd digit: implicit trailing 0
          sb.append(Integer.parseInt(hex.substring(k) + "0", 16).toChar)
        if (inArray) arrBuf += sb.toString else lastString = sb.toString
        i = e + 1
      } else if (isOpChar(c)) {
        val os = i
        while (i < n && isOpChar((content(i) & 0xff).toChar)) i += 1
        val op = new String(content, os, i - os, java.nio.charset.StandardCharsets.US_ASCII)
        op match {
          case "Tj" =>
            if (lastString != null) { cur.append(lastString); curHasShow = true }
            lastString = null
          case "TJ" =>
            if (lastArray != null) {
              lastArray.foreach(cur.append) // kerning numbers already dropped
              curHasShow = true
            }
            lastArray = null
          case "'" =>
            endLine()
            if (lastString != null) { cur.append(lastString); curHasShow = true }
            lastString = null
          case "\"" =>
            endLine()
            if (lastString != null) { cur.append(lastString); curHasShow = true }
            lastString = null
          case "Td" | "TD" | "T*" => endLine()
          case "ET"               => endLine()
          case _                  => () // Tf/Tm/BT/graphics ops: positioning noise, skipped
        }
      } else i += 1 // digits, +-., whitespace, << >> dict chars
    }
    endLine()
    lines.toSeq
  }

  private def isOpChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || c == '*' || c == '\'' || c == '"'

  /** PDF literal string with escapes and balanced nested parens.
    * Documented subset convention: string bytes are UTF-8 (our
    * generator writes UTF-8 text strings); decoding is lossy-with-
    * replacement for determinism on foreign PDFs. */
  private def parseString(content: Array[Byte], start: Int): (String, Int) = {
    val buf = new java.io.ByteArrayOutputStream(64)
    var i = start + 1
    var depth = 1
    val n = content.length
    while (i < n && depth > 0) {
      val c = (content(i) & 0xff).toChar
      if (c == '\\' && i + 1 < n) {
        val e = (content(i + 1) & 0xff).toChar
        e match {
          case 'n' => buf.write('\n'); i += 2
          case 'r' => buf.write('\r'); i += 2
          case 't' => buf.write('\t'); i += 2
          case 'b' => buf.write('\b'); i += 2
          case 'f' => buf.write('\f'); i += 2
          case '(' => buf.write('('); i += 2
          case ')' => buf.write(')'); i += 2
          case '\\' => buf.write('\\'); i += 2
          case '\n' => i += 2 // line continuation
          case '\r' =>
            i += 2; if (i < n && content(i) == '\n') i += 1
          case d if d >= '0' && d <= '7' =>
            var v = 0; var k = 0; i += 1
            while (k < 3 && i < n && content(i) >= '0' && content(i) <= '7') {
              v = v * 8 + (content(i) - '0'); i += 1; k += 1
            }
            buf.write(v & 0xff)
          case other => buf.write(other.toByte.toInt); i += 2
        }
      } else if (c == '(') { depth += 1; buf.write(c); i += 1 }
      else if (c == ')') {
        depth -= 1
        if (depth > 0) buf.write(c)
        i += 1
      } else { buf.write(content(i).toInt); i += 1 }
    }
    if (depth != 0) throw new PdfParseException("unterminated string")
    (new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8), i)
  }

  private def indexOf(b: Array[Byte], s: String, from: Int): Int = {
    val n = b.length; val m = s.length
    var i = math.max(0, from)
    while (i + m <= n) {
      var k = 0
      while (k < m && (b(i + k) & 0xff) == s.charAt(k)) k += 1
      if (k == m) return i
      i += 1
    }
    -1
  }

  private def lastIndexOf(b: Array[Byte], s: String, before: Int): Int = {
    var i = math.min(before, b.length) - s.length
    while (i >= 0) {
      var k = 0
      while (k < s.length && (b(i + k) & 0xff) == s.charAt(k)) k += 1
      if (k == s.length) return i
      i -= 1
    }
    -1
  }

  private def indexOfByte(b: Array[Byte], c: Char, from: Int): Int = {
    var i = from
    while (i < b.length) { if ((b(i) & 0xff) == c) return i; i += 1 }
    -1
  }
}
