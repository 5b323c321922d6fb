package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.{Engine, Extractor}

/** Dual-engine ("كلاهما") extraction semantics — reference:
  * main_window.py:363-374 (per page `text_block += tess.strip()` then
  * `+= easy.strip()` with NO separator between engines) and :450
  * (engine combo). Our engines share the token stream and differ in
  * classifier strategy (Boilerplate.Params). */
class DualEngineSpec extends AnyFunSuite {

  private val body12 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  private val body20 = body12 + " nu xi omicron pi rho sigma tau upsilon"

  private def page(text: String): String =
    s"<html><body><h1>Head Line</h1><p>$text</p></body></html>"

  private def extractHtml(html: String, engine: Engine) =
    Extractor.extract(html.getBytes("UTF-8"), "en", engine)

  test("default vs alt engines: alt keeps shorter content blocks") {
    val d = extractHtml(page(body12), Engine.Default)
    val a = extractHtml(page(body12), Engine.Alt)
    assert(d.text == "") // 12 words < default floor 15
    assert(a.text == s"--- صفحة 1 ---\nHead Line\n$body12") // ≥ alt floor 8
    assert(a.spans.map(_.kind) == Seq("heading", "content"))
  }

  test("both: engine outputs concatenated with NO separator (reference format)") {
    val b = extractHtml(page(body20), Engine.Both)
    // default keeps heading+body, alt keeps heading+body; alt's first
    // block follows default's last directly (no separator), blocks
    // within one engine joined "\n"
    assert(b.text == s"--- صفحة 1 ---\nHead Line\n${body20}Head Line\n$body20")
    assert(b.spans.map(_.kind) == Seq("heading", "content", "heading", "content"))
    // spans address the exact block slices of the assembled text
    b.spans.foreach(s => assert(s.start >= 0 && s.end <= b.text.length && s.start < s.end))
    val slices = b.spans.map(s => b.text.substring(s.start, s.end))
    assert(slices == Seq("Head Line", body20, "Head Line", body20))
  }

  test("both: alt-only part still gets its صفحة header; parts joined \\n\\n") {
    val html = s"<html><body><article><p>$body20</p></article>" +
      s"<article><p>$body12</p></article></body></html>"
    val b = extractHtml(html, Engine.Both)
    // part 1: both engines keep (no-sep concat); part 2: alt only
    assert(b.text ==
      s"--- صفحة 1 ---\n$body20$body20\n\n--- صفحة 2 ---\n$body12")
  }

  test("engine choice folds at plan time through graft_extract 3rd arg") {
    val spark = GraftSession.local(2, "graft-dual-test")
    import spark.implicits._
    val df = Seq((1L, page(body12))).toDF("id", "html")
    val out = df.selectExpr("graft_extract(encode(html, 'UTF-8'), 'en', 'alt') AS r")
      .select("r.text").as[String].collect()
    assert(out.head == s"--- صفحة 1 ---\nHead Line\n$body12")
    val both = df.selectExpr("graft_extract(encode(html, 'UTF-8'), 'en', 'both') AS r")
      .select("r.text").as[String].collect()
    assert(both.head == s"--- صفحة 1 ---\nHead Line\n$body12") // default empty ⇒ alt alone
  }

  test("golden freeze: dual-engine tiny-fixture digest is stable") {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (0L until 200L).foreach { id =>
      val row = graft.gen.PageGen.row(id)
      val got = Extractor.extract(row.html, row.lang, Engine.Both)
      md.update(row.url.getBytes("UTF-8"))
      md.update(0.toByte)
      md.update((if (got.text == null) " NULL" else got.text).getBytes("UTF-8"))
      md.update(0.toByte)
      md.update((if (got.error == null) "" else got.error).getBytes("UTF-8"))
      md.update(1.toByte)
    }
    val hex = md.digest().map(b => f"$b%02x").mkString
    val expected = sys.props.getOrElse("graft.golden.dual", GoldenHashes.DualExtractDigest)
    if (expected == "PRINT") info(s"dual digest=$hex")
    assert(hex == expected, s"dual-engine golden digest drifted: $hex")
  }

  test("default-engine goldens unaffected by the engine seam") {
    // 2-arg extract must route through Engine.Default exactly
    val viaDefault = Extractor.extract(page(body20).getBytes("UTF-8"), "en")
    val viaEnum = Extractor.extract(page(body20).getBytes("UTF-8"), "en", Engine.Default)
    assert(viaDefault == viaEnum)
  }
}
