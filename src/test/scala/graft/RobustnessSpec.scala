package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.extract.Extractor
import graft.gen.PageGen
import graft.pdf.PdfSpans

/** Degradation & property tests (SURVEY.md §5.2 items 3-4): malformed
  * input NEVER throws out of the extractor — error-as-row always
  * (policy from ocr_parallel_ui.py:33-34). */
class RobustnessSpec extends AnyFunSuite {

  test("property: extract never throws on arbitrary byte payloads") {
    val genBytes = Gen.oneOf(
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
      Gen.listOf(Gen.choose(32.toByte, 126.toByte)).map(_.toArray),
      // adversarial prefixes
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
        .map(t => "%PDF-1.4\n".getBytes("UTF-8") ++ t.toArray),
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
        .map(t => "<html><body>".getBytes("UTF-8") ++ t.toArray))
    (0 until 800).foreach { i =>
      val b = genBytes.pureApply(Gen.Parameters.default, Seed(1234L + i))
      val r = Extractor.extract(b, "en") // must not throw
      assert((r.text != null) != (r.error != null) || (r.text == "" && r.error == null),
        s"seed=$i: exactly one of text/error (or blank success): $r")
      r.spans.foreach(s => assert(s.start >= 0 && s.end <= (if (r.text == null) 0 else r.text.length)))
    }
  }

  test("pdf: truncation at every cut point parses or errors, never crashes") {
    val (bytes, full) = PageGen.pdfDoc(PageGen.rngFor(12345L), "en")
    assert(Extractor.extract(bytes, "en").text == full)
    var cuts = 0
    (1 until bytes.length by 7).foreach { cut =>
      val r = Extractor.extract(java.util.Arrays.copyOfRange(bytes, 0, cut), "en")
      assert(r.error == null || r.error.startsWith(Extractor.ErrorPrefix))
      cuts += 1
    }
    assert(cuts > 50)
  }

  test("pdf: escapes, TJ kerning arrays, hex strings, multi-page") {
    val content =
      """BT /F1 12 Tf 72 720 Td
        |(paren \(inside\) and \\ backslash) Tj
        |0 -14 Td
        |[(ker) -120 (ned)] TJ
        |0 -14 Td
        |<48656C6C6F> Tj
        |ET""".stripMargin.getBytes("UTF-8")
    val pdf = ("%PDF-1.4\n1 0 obj\n<< /Length " + content.length +
      " >>\nstream\n").getBytes("UTF-8") ++ content ++
      "\nendstream\nendobj\ntrailer\n%%EOF\n".getBytes("UTF-8")
    val pages = PdfSpans.parsePages(pdf)
    assert(pages == Seq(Seq("paren (inside) and \\ backslash", "kerned", "Hello")))
  }

  test("extraction is a pure function: repeated calls bit-identical") {
    (0L until 50L).foreach { id =>
      val row = PageGen.row(id)
      val a = Extractor.extract(row.html, row.lang)
      val b = Extractor.extract(row.html.clone(), row.lang)
      assert(a == b, s"id=$id nondeterministic extraction")
    }
  }

  test("PdfGen roundtrip: adversarial strings through the real extractor") {
    import graft.pdf.PdfGen
    val cases = Seq(
      "plain words here",
      "parens (nested (deep)) and \\ backslash",
      "the word stream and endstream inside the text",
      "a /Length 99 impostor token",
      "unicode: 文字 عربية é ß",
      "multi\nline\ttext  with   runs",
      "")
    cases.foreach { body =>
      val pdf = PdfGen.makePdf(Seq(
        PdfGen.Page(Seq(PdfGen.Line("L1"), PdfGen.Line(body)), flate = false),
        PdfGen.Page(Seq(PdfGen.Line("P2"), PdfGen.Line("hex ok", PdfGen.HexStr)),
          flate = true)))
      val r = Extractor.extract(pdf, "en")
      assert(r.error == null, s"body='$body': ${r.error}")
      val normBody = graft.html.HtmlText.normalize(body)
      val expected =
        "--- صفحة 1 ---\nL1\n" + normBody + "\n\n--- صفحة 2 ---\nP2\nhex ok"
      assert(r.text == expected, s"body='$body': got '${r.text}'")
      assert(r.spans.length == 2 && r.spans.forall(_.kind == "content"))
    }
    // streamless pdf → the reference-format error row (x10 plants this)
    val bad = Extractor.extract(
      "%PDF-1.4\nan empty pdf body here\n%%EOF\n".getBytes("UTF-8"), "en")
    assert(bad.error == "حدث خطأ: pdf: no content streams")
  }

  test("pdf: a flate stream with a preset dictionary is an error row, not a hang") {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler}
    import org.scalatest.concurrent.TimeLimits.failAfter
    import org.scalatest.time.SpanSugar._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val content = "BT /F1 12 Tf 72 720 Td (needs a dictionary) Tj ET".getBytes("UTF-8")
    val d = new java.util.zip.Deflater()
    d.setDictionary("BT ET Tj Td Tf".getBytes("UTF-8"))
    d.setInput(content); d.finish()
    val buf = new Array[Byte](1024)
    val body = java.util.Arrays.copyOf(buf, d.deflate(buf))
    d.end()
    val pdf = ("%PDF-1.4\n1 0 obj\n<< /Length " + body.length +
      " /Filter /FlateDecode >>\nstream\n").getBytes("UTF-8") ++ body ++
      "\nendstream\nendobj\ntrailer\n%%EOF\n".getBytes("UTF-8")
    // extract on a daemon thread: a spinning inflate loop ignores
    // interrupts, so the timeout interrupts the wait instead
    implicit val signaler: Signaler = ThreadSignaler
    val run = Future(Extractor.extract(pdf, "en"))(ExecutionContext.global)
    val r = failAfter(10.seconds)(Await.result(run, Duration.Inf))
    assert(r.text == null, r)
    assert(r.error == Extractor.ErrorPrefix + "pdf: flate stream needs a preset dictionary")
  }

  test("property: PdfGen roundtrip holds for arbitrary body strings") {
    import graft.pdf.PdfGen
    // printable ASCII (heavy on PDF syntax chars) and mixed unicode
    val genBody = Gen.oneOf(
      Gen.listOf(Gen.frequency(
        6 -> Gen.choose(32.toChar, 126.toChar),
        2 -> Gen.oneOf('(', ')', '\\', '<', '>', '[', ']', '%'),
        1 -> Gen.oneOf('\n', '\t', '\r', ' '))).map(_.mkString),
      Gen.listOf(Gen.oneOf("word", "صفحة", "stream", "Tj", "文", "é", " ", "\n"))
        .map(_.mkString))
    (0 until 200).foreach { i =>
      val body = genBody.pureApply(Gen.Parameters.default, Seed(777L + i))
      val pdf = PdfGen.makePdf(Seq(
        PdfGen.Page(Seq(PdfGen.Line("L1"), PdfGen.Line(body)), flate = i % 2 == 1),
        PdfGen.Page(Seq(PdfGen.Line("P2")), flate = i % 3 == 0)))
      val r = Extractor.extract(pdf, "en")
      assert(r.error == null, s"seed=$i body='${body.take(60)}': ${r.error}")
      val expected = "--- صفحة 1 ---\nL1\n" +
        graft.html.HtmlText.normalize(body) + "\n\n--- صفحة 2 ---\nP2"
      assert(r.text == expected, s"seed=$i body='${body.take(60)}'")
    }
  }

  test("ExplodeBlocks mirrors extractPlain for plain-text payloads") {
    val spark = GraftSession.local(4, "graft-robust")
    GraftSession.register(spark)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val plain = "first paragraph of words\n\nsecond  paragraph\n \nthird"
    val rows = Seq(plain).toDF("s")
      .select(expr("graft_explode_blocks(encode(s, 'UTF-8'))"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3), r.getBoolean(6)))
    val oracle = Extractor.extract(plain.getBytes("UTF-8"), "en")
    // same paragraph blocks, all kept, part 1 (plain-text contract)
    val oracleBlocks = oracle.spans.map(s => oracle.text.substring(s.start, s.end))
    assert(rows.map(_._4).toSeq == oracleBlocks, s"blocks: ${rows.toSeq}")
    assert(rows.forall(r => r._1 == 1 && r._3 == "content" && r._5))
    assert(rows.map(_._2).toSeq == rows.indices.toSeq)
  }

  test("PDF and plain payloads: engine-invariant, block view matches the spans") {
    import graft.extract.Engine
    import graft.expr.ExplodeBlocks
    import graft.html.HtmlText.countWords
    import graft.pdf.PdfGen
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.BinaryType
    val explode = ExplodeBlocks(BoundReference(0, BinaryType, nullable = true))
    // page 1 has a line that normalizes to empty: its header still shows
    val pdf = PdfGen.makePdf(Seq(
      PdfGen.Page(Seq(PdfGen.Line(" \t ")), flate = false),
      PdfGen.Page(Seq(PdfGen.Line("alpha  beta"), PdfGen.Line("gamma")), flate = true)))
    val plain = "one two\n\n three \n\t\nfour five six".getBytes("UTF-8")
    Seq(pdf, plain).foreach { payload =>
      val d = Extractor.extract(payload, "en", Engine.Default)
      assert(d.error == null && d.text.nonEmpty)
      Seq(Engine.Alt, Engine.Both).foreach(e =>
        assert(Extractor.extract(payload, "en", e) == d, s"engine $e"))
      val rows = explode.eval(InternalRow(payload)).iterator.toSeq
      assert(rows.map(_.getInt(1)) == rows.indices)
      assert(rows.forall(r => r.getUTF8String(2).toString == "content" &&
        r.getInt(4) == countWords(r.getUTF8String(3).toString) &&
        r.getInt(5) == 0 && r.getBoolean(6)))
      val nonEmpty = rows.map(_.getUTF8String(3).toString).filter(_.nonEmpty)
      assert(nonEmpty == d.spans.map(s => d.text.substring(s.start, s.end)).filter(_.nonEmpty))
    }
    val d = Extractor.extract(pdf, "en")
    assert(d.text == "--- صفحة 1 ---\n\n\n--- صفحة 2 ---\nalpha beta\ngamma", d.text)
    assert(explode.eval(InternalRow(pdf)).iterator.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(Extractor.extract(plain, "en").text == "--- صفحة 1 ---\none two\nthree\nfour five six")
    // malformed payloads: zero block rows
    Seq(PageGen.badPdf(PageGen.rngFor(3)), Array[Byte]('x', 0xFF.toByte)).foreach { b =>
      assert(explode.eval(InternalRow(b)).iterator.isEmpty)
    }
  }

  test("unicode trim handles NBSP like Python str.strip") {
    import graft.html.HtmlText.unicodeTrim
    assert(unicodeTrim(" \u00A0x\u00A0 \t\n") == "x")
    assert(unicodeTrim(" a ") == "a")
    assert(unicodeTrim("") == "")
    assert(unicodeTrim(" ") == "")
  }

  /** Extract on a daemon thread under a fixed time limit (a loop that
    * ignores interrupts cannot hold the test); the result and seconds. */
  private def extractWithin(seconds: Int)(payload: Array[Byte]): (graft.extract.ExtractResult, Double) = {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler}
    import org.scalatest.concurrent.TimeLimits.failAfter
    import org.scalatest.time.SpanSugar._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val signaler: Signaler = ThreadSignaler
    val t0 = System.nanoTime()
    val run = Future(Extractor.extract(payload, "en"))(ExecutionContext.global)
    val r = failAfter(seconds.seconds)(Await.result(run, Duration.Inf))
    (r, (System.nanoTime() - t0) / 1e9)
  }

  test("pdf: a flate bomb is an error row, not an exhausted heap") {
    val zeros = new Array[Byte](1 << 20)
    val d = new java.util.zip.Deflater()
    val body = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    (0 until 256).foreach { _ => // 256 MiB of zeros
      d.setInput(zeros)
      while (!d.needsInput()) body.write(buf, 0, d.deflate(buf))
    }
    d.finish()
    while (!d.finished()) body.write(buf, 0, d.deflate(buf))
    d.end()
    val pdf = ("%PDF-1.4\n1 0 obj\n<< /Length " + body.size +
      " /Filter /FlateDecode >>\nstream\n").getBytes("UTF-8") ++ body.toByteArray ++
      "\nendstream\nendobj\ntrailer\n%%EOF\n".getBytes("UTF-8")
    val (r, _) = extractWithin(60)(pdf)
    assert(r.text == null, r)
    assert(r.error == Extractor.ErrorPrefix +
      s"pdf: flate stream inflates past ${PdfSpans.MaxInflatedBytes} bytes")
  }

  test("pdf: flate streams share one inflate budget per document") {
    // two streams of 40 MiB of zeros: each under the cap, together past it
    val d = new java.util.zip.Deflater()
    d.setInput(new Array[Byte](40 << 20))
    d.finish()
    val body = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    while (!d.finished()) body.write(buf, 0, d.deflate(buf))
    d.end()
    val stream = ("<< /Length " + body.size + " /Filter /FlateDecode >>\nstream\n")
      .getBytes("UTF-8") ++ body.toByteArray ++ "\nendstream\nendobj\n".getBytes("UTF-8")
    val pdf = "%PDF-1.4\n1 0 obj\n".getBytes("UTF-8") ++ stream ++
      "2 0 obj\n".getBytes("UTF-8") ++ stream ++ "trailer\n%%EOF\n".getBytes("UTF-8")
    val (r, _) = extractWithin(60)(pdf)
    assert(r.text == null, r)
    assert(r.error == Extractor.ErrorPrefix +
      s"pdf: flate stream inflates past ${PdfSpans.MaxInflatedBytes} bytes")
  }

  test("html: a 64 MiB page and a page nested 100k tags deep extract in bounded time") {
    val para = "<p>lorem ipsum &amp; dolor sit amet, consectetur adipiscing elit " +
      "sed do eiusmod tempor incididunt ut labore et dolore magna aliqua</p>\n"
    val page = new java.io.ByteArrayOutputStream(64 << 20)
    page.write("<html><body><article>".getBytes("UTF-8"))
    val p = para.getBytes("UTF-8")
    while (page.size + p.length <= (64 << 20) - 64) page.write(p)
    page.write("</article></body></html>".getBytes("UTF-8"))
    val (big, bigS) = extractWithin(120)(page.toByteArray)
    assert(big.error == null && big.text.startsWith("--- صفحة 1 ---\nlorem ipsum & dolor"))
    info(f"64 MiB page: ${bigS}%.2f s, ${big.text.length} chars, ${big.spans.length} spans")

    val words = (1 to 30).map(i => s"deep$i").mkString(" ")
    val nested = ("<div>" * 100000 + words + "</div>" * 100000).getBytes("UTF-8")
    val (deep, deepS) = extractWithin(60)(nested)
    assert(deep.text == "--- صفحة 1 ---\n" + words, deep)
    info(f"100k-deep page: ${deepS}%.2f s")
  }

  test("isWs fast path: Java whitespace plus NBSP on every char") {
    (0 until 65536).foreach { i =>
      val c = i.toChar
      assert(graft.html.HtmlText.isWs(c) == (Character.isWhitespace(c) || c == '\u00A0'), f"U+$i%04X")
    }
  }

  test("graft_extract row: surrogates and spans as the String path gives them") {
    import graft.expr.ExtractMainText
    import graft.extract.{Engine, Span}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{BinaryType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val words = (1 to 30).map(i => s"word$i").mkString(" ")
    /** The row of `payload` under `engine` holds the String path's text
      * as `UTF8String.fromString` writes it, and the same spans. */
    def sameRow(payload: Array[Byte], engine: Engine): Unit = {
      val r = Extractor.extract(payload, "en", engine)
      assert(r.error == null, r)
      val expr = ExtractMainText(BoundReference(0, BinaryType, nullable = true),
        BoundReference(1, StringType, nullable = true), engine)
      val row = expr.eval(InternalRow(payload, UTF8String.fromString("en"))).asInstanceOf[InternalRow]
      assert(row.getUTF8String(0).getBytes.toSeq == UTF8String.fromString(r.text).getBytes.toSeq,
        s"$engine: ${r.text}")
      val spans = row.getArray(1)
      val rowSpans = (0 until spans.numElements()).map { k =>
        val s = spans.getStruct(k, 3)
        Span(s.getInt(0), s.getInt(1), s.getUTF8String(2).toString)
      }
      assert(rowSpans == r.spans, s"$engine")
      assert(row.isNullAt(2))
    }
    val html = s"<html><body><h1>title</h1><p>$words &#xD800; &#x1F600; &#xD800;&#x1F600; " +
      s"x&#xDC00;y &#55296;</p><ul><li>$words</li></ul><p>$words &#xD800;</p></body></html>"
    val payload = html.getBytes("UTF-8")
    val r = Extractor.extract(payload, "en")
    assert(r.error == null && r.text.contains("\uD800 \uD83D\uDE00 \uD800\uD83D\uDE00") &&
      r.text.endsWith("\uD800"), r)
    assert(r.spans.map(_.kind).toSet == Set("heading", "content", "list"))
    sameRow(payload, Engine.Default)
    // two entities that form one emoji, a lone high surrogate before a
    // literal emoji, and a block that starts with a low surrogate and
    // ends with a high one: Both joins the two engines' copies of it
    // into one emoji at the junction
    val pair = s"<p>$words &#xD83D;&#xDE00; a&#xD83D;<b>&#xDE00;</b>b</p>".getBytes("UTF-8")
    val lone = s"<p>$words &#xD83D;\uD83D\uDE00 &#xD83D;&#x1F600;</p>".getBytes("UTF-8")
    val junction = s"<p>&#xDE00;$words&#xD83D;</p>".getBytes("UTF-8")
    assert(Extractor.extract(pair, "en").text.contains("\uD83D\uDE00 a\uD83D\uDE00b"))
    assert(Extractor.extract(junction, "en", Engine.Both).text.contains("\uD83D\uDE00"))
    Seq(payload, pair, lone, junction).foreach { p =>
      Seq(Engine.Default, Engine.Alt, Engine.Both).foreach(e => sameRow(p, e))
    }
  }
}
