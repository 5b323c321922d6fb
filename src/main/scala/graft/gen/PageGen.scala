package graft.gen

import java.util.zip.Deflater

import graft.extract.Assemble
import graft.html.FusedSegmenter.RawBlocks

/** Drop-in reimplementation of java.util.Random's SPECIFIED algorithm
  * (the 48-bit LCG with documented scramble, next(bits), nextInt-bound
  * rejection loop, nextBoolean and nextBytes) without the AtomicLong
  * CAS — generation is single-threaded per row, and the JDK's
  * compareAndSet loop on every draw was measurable across the ~150
  * draws each synthesized page makes (r6). Bit-identical sequences by
  * construction (the JDK javadoc specifies the exact algorithm), so
  * every fixture, golden digest and checksum is unchanged —
  * CoreExtractionSpec/GoldenFixtureSpec attest it. */
final class Random(seed0: Long) {
  private[this] var seed = (seed0 ^ 0x5DEECE66DL) & ((1L << 48) - 1)

  @inline private def next(bits: Int): Int = {
    seed = (seed * 0x5DEECE66DL + 0xBL) & ((1L << 48) - 1)
    (seed >>> (48 - bits)).toInt
  }

  def nextInt(): Int = next(32)

  def nextInt(bound: Int): Int = {
    require(bound > 0)
    val m = bound - 1
    var r = next(31)
    if ((bound & m) == 0) ((bound * r.toLong) >> 31).toInt
    else {
      var u = r
      r = u % bound
      while (u - r + m < 0) { u = next(31); r = u % bound }
      r
    }
  }

  def nextBoolean(): Boolean = next(1) != 0

  def nextBytes(bytes: Array[Byte]): Unit = {
    var i = 0
    val len = bytes.length
    while (i < len) {
      var rnd = nextInt()
      var n = math.min(len - i, 4)
      while (n > 0) {
        bytes(i) = rnd.toByte
        rnd >>= 8
        i += 1
        n -= 1
      }
    }
  }
}

/** One input row — exactly the `input_hint` shape from BASELINE.json:
  * (url:string, warc_ts:timestamp, html:binary, text:string, lang:string).
  * `text` is the planted ground truth the pipeline must recover by
  * parsing `html` — it is never read by the extractor. */
final case class PageRow(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Deterministic seeded Common-Crawl-style page synthesizer.
  *
  * Every row is a pure function of (Seed, id) — java.util.Random's LCG
  * is specified, so fixtures are bit-identical across JVMs and runs
  * (SURVEY.md §7.7: no wall clock, no platform floats). Host choice is
  * deliberately skewed (≈30% of rows on one host) to exercise the
  * salting path (FIXTURES.md §1).
  *
  * Payload mix (FIXTURES.md §1): ~89.5% HTML, ~8% `%PDF` payloads with
  * FlateDecode text streams, ~2% malformed rows (invalid UTF-8 /
  * truncated PDF — error-path, ocr_parallel_ui.py:33-34), ~0.5%
  * whitespace-only pages (the reference's blank-fixture invariant,
  * tests/test_preprocess.py:20-34).
  */
object PageGen {

  val Seed = 42L
  val Epoch = java.time.Instant.parse("2025-06-13T00:00:00Z")

  private val EN = Array(
    "data", "engine", "query", "spark", "table", "column", "page",
    "crawl", "web", "index", "shard", "batch", "stream", "vector",
    "token", "block", "layout", "system", "model", "light", "stone",
    "river", "garden", "window", "castle", "market", "silver", "copper",
    "meadow", "harbor", "signal", "craft", "bridge", "forest", "valley",
    "anchor", "beacon", "cipher", "domain", "ember", "filter", "grain",
    "hollow", "inlet", "jigsaw", "kernel", "ladder", "mosaic", "nectar",
    "orchard", "prairie", "quartz", "ribbon", "saddle", "timber",
    "umber", "velvet", "willow", "zephyr", "atlas")

  private val AR = Array(
    "كتاب", "مدينة", "نهر", "جبل", "بحر", "سماء", "شمس", "قمر",
    "نجم", "ريح", "مطر", "شجرة", "زهرة", "طريق", "بيت", "باب",
    "نافذة", "حديقة", "سوق", "جسر", "قلعة", "ميناء", "صحراء",
    "واحة", "غابة", "وادي", "تل", "ساحل", "جزيرة", "سحاب")

  private val CATS = Array("news", "blog", "docs", "wiki", "shop", "forum")

  sealed trait Kind
  case object Html extends Kind
  case object Pdf extends Kind
  case object BadUtf8 extends Kind
  case object BadPdf extends Kind
  case object Blank extends Kind

  def rngFor(id: Long): Random = new Random(Seed ^ (id * 0x9E3779B97F4A7C15L))

  def kindOf(id: Long): Kind = {
    val d = new Random(Seed * 31 ^ (id * 0xBF58476D1CE4E5B9L)).nextInt(1000)
    if (d < 895) Html
    else if (d < 975) Pdf
    else if (d < 990) BadUtf8
    else if (d < 995) BadPdf
    else Blank
  }

  def langOf(id: Long): String =
    new Random(Seed * 17 ^ id).nextInt(10) match {
      case 0 | 1 => "ar"
      case 2     => "mixed"
      case _     => "en"
    }

  /** Skewed host id: ~30% host0, ~10% host1, rest uniform over 48. */
  def hostOf(id: Long): Int = {
    val r = new Random(Seed * 13 ^ (id * 0x94D049BB133111EBL))
    val d = r.nextInt(100)
    if (d < 30) 0 else if (d < 40) 1 else 2 + r.nextInt(48)
  }

  def urlOf(id: Long): String = {
    val r = new Random(Seed * 7 ^ id)
    s"https://host${hostOf(id)}.example/${CATS(r.nextInt(CATS.length))}/doc-$id"
  }

  def tsOf(id: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(Epoch.plusSeconds((id * 37) % (86400L * 30)))

  def row(id: Long): PageRow = {
    val r = rngFor(id)
    val lang = langOf(id)
    val (html, text) = kindOf(id) match {
      case Html    => htmlDoc(r, lang)
      case Pdf     => pdfDoc(r, lang)
      case BadUtf8 => (badUtf8(r), "")
      case BadPdf  => (badPdf(r), "")
      case Blank   =>
        ("<html><head><title>x</title></head><body>\n <p>   </p>\n <div> \t </div>\n</body></html>"
          .getBytes("UTF-8"), "")
    }
    PageRow(urlOf(id), tsOf(id), html, text, lang)
  }

  // ----- vocabulary helpers -------------------------------------------------

  private def vocab(lang: String, r: Random): Array[String] = lang match {
    case "ar"    => AR
    case "mixed" => if (r.nextBoolean()) EN else AR
    case _       => EN
  }

  private def word(r: Random, lang: String): String = {
    val v = vocab(lang, r)
    v(r.nextInt(v.length))
  }

  /** A run of words, returned as (encodedHtml, decodedGroundTruth).
    * Injects entities and whitespace noise into the encoded form; the
    * decoded form is what normalization must yield. */
  private def wordRun(r: Random, lang: String, n: Int): (String, String) = {
    val enc = new StringBuilder
    val dec = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) {
        // whitespace noise: normalizes to a single space
        val ws = r.nextInt(10) match {
          case 0 => "\n  "
          case 1 => "  "
          case 2 => " \t"
          case _ => " "
        }
        enc.append(ws); dec.append(' ')
      }
      val w = word(r, lang)
      r.nextInt(20) match {
        case 0 => // ellipsis entity
          enc.append(w).append("&hellip;"); dec.append(w).append('…')
        case 1 => // curly-quoted word
          enc.append("&ldquo;").append(w).append("&rdquo;")
          dec.append('“').append(w).append('”')
        case 2 => // ampersand-joined pair (one decoded token) + a
          // compensating word so the decoded word count never drops
          // below the planted minimum
          val w2 = word(r, lang); val w3 = word(r, lang)
          enc.append(w).append("&amp;").append(w2).append(' ').append(w3)
          dec.append(w).append('&').append(w2).append(' ').append(w3)
        case 3 => // numeric entity em-dash suffix
          enc.append(w).append("&#8212;"); dec.append(w).append('—')
        case _ => enc.append(w); dec.append(w)
      }
      i += 1
    }
    (enc.toString, dec.toString)
  }

  // ----- HTML document ------------------------------------------------------

  /** Synthesize one HTML page + its ground-truth extraction.
    * Recipe per FIXTURES.md §1: link-dense header/nav/footer boilerplate,
    * script/style/comment noise, short teaser divs (the Otsu low
    * cluster), link-farm divs, and 1..3 `<article>` parts of headings,
    * paragraphs and list items (the planted main content). */
  def htmlDoc(r: Random, lang: String): (Array[Byte], String) = {
    val sb = new StringBuilder(4096)
    sb.append("<!doctype html>\n<html>\n<head>\n")
    sb.append(s"<title>Site ${word(r, "en")} ${word(r, "en")}</title>\n")
    sb.append("<meta charset=\"utf-8\">\n")
    sb.append("<style>\n body { font: 14px sans-serif; color:#222 }\n .nav a { padding: 2px }\n</style>\n")
    sb.append("<script>\n var n = 1; if (n < 2 && n > 0) { n++; }\n document.x = \"<p>not text</p>\";\n</script>\n")
    sb.append("</head>\n<body>\n")
    sb.append("<!-- boilerplate chrome -->\n")

    // header/nav boilerplate (hard-dropped: structural container)
    sb.append("<header>\n<nav class=\"nav\">\n")
    val navLinks = 4 + r.nextInt(5)
    for (_ <- 0 until navLinks)
      sb.append(s"""<a href="/${word(r, "en")}">${word(r, "en")} ${word(r, "en")}</a>\n""")
    sb.append("</nav>\n</header>\n")

    // teaser divs: short, link-free → Otsu low cluster, dropped
    val teasers = r.nextInt(4)
    for (_ <- 0 until teasers) {
      val (enc, _) = wordRun(r, lang, 4 + r.nextInt(6))
      sb.append(s"""<div class="teaser">$enc</div>\n""")
    }

    // link-farm div: dropped by link density, not by container
    if (r.nextInt(3) > 0) {
      sb.append("<div class=\"related\">\n")
      for (_ <- 0 until 5 + r.nextInt(6))
        sb.append(s"""<a href="/r/${r.nextInt(999)}">${word(r, "en")} ${word(r, "en")}</a> \n""")
      sb.append("</div>\n")
    }

    // articles = parts (multi-part with p≈15%)
    val nParts = if (r.nextInt(100) < 15) 2 + r.nextInt(2) else 1
    // ground truth: every planted block, kept (kindId 0=content 1=heading 2=list)
    val gt = new RawBlocks
    for (p <- 1 to nParts) {
      sb.append("<article class=\"page\">\n")

      val (hEnc, hDec) = wordRun(r, lang, 2 + r.nextInt(4))
      sb.append(s"<h1>$hEnc</h1>\n")
      gt.addText(p, 1, hDec, 0)

      val nParas = 2 + r.nextInt(4)
      for (_ <- 0 until nParas) {
        val (enc, dec) = wordRun(r, lang, 25 + r.nextInt(56))
        sb.append(s"<p>\n  $enc\n</p>\n")
        gt.addText(p, 0, dec, 0)
      }

      if (r.nextInt(2) == 0) { // list section
        sb.append("<ul>\n")
        for (_ <- 0 until 2 + r.nextInt(3)) {
          val (enc, dec) = wordRun(r, lang, 25 + r.nextInt(13))
          sb.append(s"<li>$enc</li>\n")
          gt.addText(p, 2, dec, 0)
        }
        sb.append("</ul>\n")
      }

      if (r.nextInt(3) == 0) { // secondary section with h2
        val (h2Enc, h2Dec) = wordRun(r, lang, 2 + r.nextInt(3))
        sb.append(s"<h2>$h2Enc</h2>\n")
        gt.addText(p, 1, h2Dec, 0)
        val (enc, dec) = wordRun(r, lang, 25 + r.nextInt(40))
        sb.append(s"<p>$enc</p>\n")
        gt.addText(p, 0, dec, 0)
      }

      sb.append("</article>\n")
    }

    // footer boilerplate
    sb.append("<footer>\n<p>&copy; 2025 ")
    for (_ <- 0 until 2 + r.nextInt(3))
      sb.append(s"""<a href="/f">${word(r, "en")}</a> """)
    sb.append("</p>\n</footer>\n</body>\n</html>\n")

    val (text, _) = Assemble.fromRaw(gt, Array.fill(gt.n)(true))
    (sb.toString.getBytes("UTF-8"), text)
  }

  // ----- PDF document -------------------------------------------------------

  /** Minimal but structurally honest PDF: catalog, pages tree, one
    * FlateDecode (or raw) content stream per page with Tj/TJ/Td text
    * operators, real xref offsets. */
  def pdfDoc(r: Random, lang: String): (Array[Byte], String) = {
    val nPages = 1 + r.nextInt(2)
    val pages: Seq[Seq[String]] = (1 to nPages).map { _ =>
      (0 until 3 + r.nextInt(5)).map { _ =>
        val (_, dec) = wordRun(r, lang, 3 + r.nextInt(6))
        dec
      }
    }
    val bytes = pdfBytes(pages, r)
    val gt = new RawBlocks
    pages.zipWithIndex.foreach { case (lines, i) => gt.addText(i + 1, 0, lines.mkString("\n"), 0) }
    val (text, _) = Assemble.fromRaw(gt, Array.fill(gt.n)(true))
    (bytes, text)
  }

  private def escapePdfString(s: String): String =
    s.flatMap {
      case '('  => "\\("
      case ')'  => "\\)"
      case '\\' => "\\\\"
      case c    => c.toString
    }

  /** Content stream text ops for one page; occasionally uses TJ arrays
    * and escaped parens to exercise the parser subset. */
  private def contentStream(lines: Seq[String], r: Random): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("BT\n/F1 12 Tf\n72 720 Td\n")
    lines.zipWithIndex.foreach { case (line, i) =>
      if (i > 0) sb.append("0 -14 Td\n")
      if (r.nextInt(3) == 0 && line.length > 4) {
        val cut = 1 + r.nextInt(line.length - 2)
        val (a, b) = line.splitAt(cut)
        sb.append(s"[(${escapePdfString(a)}) ${-20 - r.nextInt(100)} (${escapePdfString(b)})] TJ\n")
      } else {
        sb.append(s"(${escapePdfString(line)}) Tj\n")
      }
    }
    sb.append("ET\n")
    sb.toString.getBytes("UTF-8")
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION)
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream(data.length)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  def pdfBytes(pages: Seq[Seq[String]], r: Random): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(4096)
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    def wObj(body: => Unit): Unit = { offsets += out.size(); body }

    w("%PDF-1.4\n%")
    out.write(Array[Byte](0xE2.toByte, 0xE3.toByte, 0xCF.toByte, 0xD3.toByte))
    w("\n")

    val n = pages.length
    // object ids: 1 catalog, 2 pages, 3..(2+n) page objs, (3+n)..(2+2n) contents
    wObj { w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n") }
    val kids = (0 until n).map(i => s"${3 + i} 0 R").mkString(" ")
    wObj { w(s"2 0 obj\n<< /Type /Pages /Kids [$kids] /Count $n >>\nendobj\n") }
    for (i <- 0 until n) wObj {
      w(s"${3 + i} 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Contents ${3 + n + i} 0 R /Resources << /Font << /F1 ${3 + 2 * n} 0 R >> >> >>\nendobj\n")
    }
    for (i <- 0 until n) wObj {
      val raw = contentStream(pages(i), r)
      val useFlate = r.nextInt(4) > 0 // 75% compressed
      val data = if (useFlate) deflate(raw) else raw
      val filter = if (useFlate) " /Filter /FlateDecode" else ""
      w(s"${3 + n + i} 0 obj\n<< /Length ${data.length}$filter >>\nstream\n")
      out.write(data)
      w("\nendstream\nendobj\n")
    }
    wObj {
      w(s"${3 + 2 * n} 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\nendobj\n")
    }

    val xrefAt = out.size()
    val total = offsets.length + 1
    w(s"xref\n0 $total\n0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size $total /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n")
    out.toByteArray
  }

  // ----- malformed payloads -------------------------------------------------

  /** Bytes that can never decode as UTF-8 (0xFF is illegal everywhere). */
  def badUtf8(r: Random): Array[Byte] = {
    val n = 16 + r.nextInt(64)
    val b = new Array[Byte](n)
    r.nextBytes(b)
    b(0) = 'G'; b(1) = 0xFF.toByte; b(2) = 0xC0.toByte; b(3) = 0xC0.toByte
    b
  }

  /** A `%PDF` header followed by an unterminated stream → deterministic
    * parse error (mirrors ocr_logic.py:84-88 fallback discipline). */
  def badPdf(r: Random): Array[Byte] = {
    val junk = new Array[Byte](64 + r.nextInt(128))
    r.nextBytes(junk)
    val head = "%PDF-1.4\n1 0 obj\n<< /Length 9999 /Filter /FlateDecode >>\nstream\n"
      .getBytes("ISO-8859-1")
    head ++ junk // no `endstream`
  }
}
