package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.warc.Warc

/** WARC source semantics: spec-layout writer/parser roundtrip (plain +
  * per-record gzip members), header-trap payloads, hand-built fixture
  * independence, and the error-as-row Spark read path. */
class WarcSpec extends AnyFunSuite with TempDirs {

  lazy val spark = GraftSession.local(8, "graft-warc-test")

  private val Ts = "2024-01-01T00:00:00Z"

  test("writer → parser roundtrip: plain and gzip, payload bytes exact") {
    val html1 = "<html><body><p>hello world</p></body></html>".getBytes("UTF-8")
    // multi-byte payload: Content-Length must count BYTES, not chars
    val html2 = "<html><body><p>نص عربي</p></body></html>".getBytes("UTF-8")
    // header-trap payload: contains a fake record header — the
    // Content-Length walk must NOT resynchronize on it
    val html3 = ("<html><body><pre>WARC/1.0\r\nWARC-Type: response\r\n\r\n" +
      "not a record</pre></body></html>").getBytes("UTF-8")
    val recs = Seq(
      Warc.record(1L, "http://a.example/x", Ts, "en", html1),
      Warc.record(2L, "http://b.example/y", Ts, "ar", html2),
      Warc.record(3L, "http://c.example/z", Ts, "en", html3))
    val plain = Warc.warcinfo("f.warc", Ts) ++ recs.flatten
    val rows = Warc.parse(plain)
    assert(rows.length == 3, "warcinfo must be skipped, responses kept")
    assert(rows.map(_.url) ==
      Seq("http://a.example/x", "http://b.example/y", "http://c.example/z"))
    assert(rows.forall(_.warc_ts == java.sql.Timestamp.from(
      java.time.Instant.parse(Ts))))
    assert(rows.map(_.lang) == Seq("en", "ar", "en"))
    assert(rows(0).html.sameElements(html1))
    assert(rows(1).html.sameElements(html2))
    assert(rows(2).html.sameElements(html3))
    // Common Crawl layout: one gzip member per record, concatenated
    val gz = (Warc.gzipMember(Warc.warcinfo("f.warc.gz", Ts)) ++
      recs.flatMap(Warc.gzipMember)).toArray
    val gzRows = Warc.parse(gz)
    assert(gzRows.map(_.url) == rows.map(_.url))
    assert(gzRows(2).html.sameElements(html3))
  }

  test("hand-built fixture (independent of the writer) parses; case-insensitive headers") {
    val html = "<html><body>fixture</body></html>".getBytes("UTF-8")
    val http = ("HTTP/1.1 200 OK\r\ncontent-type: text/html\r\n" +
      "CONTENT-LANGUAGE: fr\r\nServer: fixture/1.0\r\n\r\n").getBytes("US-ASCII") ++ html
    val rec = (s"WARC/1.0\r\nwarc-type: response\r\n" +
      s"WARC-Target-URI: http://fixture.example/p\r\nwarc-date: $Ts\r\n" +
      s"X-Custom: noise\r\ncontent-length: ${http.length}\r\n\r\n")
      .getBytes("US-ASCII") ++ http ++ "\r\n\r\n".getBytes("US-ASCII")
    val rows = Warc.parse(rec)
    assert(rows.length == 1)
    assert(rows.head.url == "http://fixture.example/p" && rows.head.lang == "fr")
    assert(rows.head.html.sameElements(html))
  }

  test("stageShards via file: URI — all shards + _SUCCESS, no tmp litter, roundtrip") {
    import spark.implicits._
    val stage = new java.io.File(
      tempDir("graft-warc-stage"), "shards")
    val df = (0L until 40L)
      .map(i => (i, s"<html><body>doc $i</body></html>".getBytes("UTF-8"), "en"))
      .toDF("doc_id", "html", "lang")
    Warc.stageShards(df, stage.toURI.toString, nShards = 8,
      urlPrefix = "http://h/", isoTs = Ts)
    assert(new java.io.File(stage, "_SUCCESS").exists())
    val names = stage.listFiles().map(_.getName)
    assert(names.count(_.endsWith(".warc.gz")) == 8,
      s"want 8 shards, saw ${names.mkString(",")}")
    assert(!names.exists(_.contains(".tmp-")), "tmp files must not survive")
    val back = Warc.read(spark, stage.getPath + "/*.warc.gz").collect()
    assert(back.length == 40 && back.forall(_.getAs[String]("error") == null))
    assert(back.map(_.getAs[String]("url")).toSet ==
      (0L until 40L).map(i => s"http://h/$i").toSet)
  }

  test("salvage: records before a truncated tail survive + one error row") {
    val dir = tempDir("graft-warc-salvage")
    val f = new java.io.File(dir, "tail.warc.gz")
    val out = new java.io.FileOutputStream(f)
    out.write(Warc.gzipMember(Warc.warcinfo(f.getName, Ts)))
    (0 until 3).foreach { i =>
      out.write(Warc.gzipMember(Warc.record(i.toLong, s"http://s/$i", Ts, "en",
        s"<html><body>ok $i</body></html>".getBytes("UTF-8"))))
    }
    val tail = Warc.record(9L, "http://s/9", Ts, "en",
      "<html><body>cut mid-body</body></html>".getBytes("UTF-8"))
    out.write(Warc.gzipMember(java.util.Arrays.copyOf(tail, tail.length - 25)))
    out.close()
    val rows = Warc.read(spark, f.getPath).collect()
    val (errs, oks) = rows.partition(r => r.getAs[String]("error") != null)
    assert(oks.length == 3, "good records before the bad tail must survive")
    assert(oks.map(_.getAs[String]("url")).sorted.toSeq ==
      (0 until 3).map(i => s"http://s/$i"))
    assert(errs.length == 1 && errs.head.getAs[String]("error").contains("warc"))
    assert(errs.head.getAs[String]("url").endsWith("tail.warc.gz"))
  }

  test("salvage fuzz: any truncation point yields a prefix of good records + ≤1 error row") {
    val dir = tempDir("graft-warc-fuzz")
    val recs = (0 until 6).map { i =>
      Warc.gzipMember(Warc.record(i.toLong, s"http://f/$i", Ts, "en",
        s"<html><body>fuzz $i</body></html>".getBytes("UTF-8")))
    }
    val full = (Warc.gzipMember(Warc.warcinfo("f.warc.gz", Ts)) ++ recs.flatten).toArray
    // deterministic truncation sweep across the whole compressed stream
    (1 until full.length by 97).foreach { cut =>
      val f = new java.io.File(dir, s"cut-$cut.warc.gz")
      val out = new java.io.FileOutputStream(f)
      out.write(full, 0, cut); out.close()
      val rows = Warc.read(spark, f.getPath).collect()
      val (errs, oks) = rows.partition(r => r.getAs[String]("error") != null)
      assert(errs.length <= 1, s"cut=$cut: at most one error row")
      val urls = oks.map(_.getAs[String]("url")).sorted.toSeq
      assert(urls == (0 until urls.length).map(i => s"http://f/$i"),
        s"cut=$cut: good records must be a prefix, got $urls")
      f.delete()
    }
  }

  test("spark read path: valid shards parse, a malformed file is one error row") {
    val dir = tempDir("graft-warc")
    val good = new java.io.File(dir, "good.warc.gz")
    val out = new java.io.FileOutputStream(good)
    out.write(Warc.gzipMember(Warc.warcinfo("good.warc.gz", Ts)))
    (0 until 5).foreach { i =>
      out.write(Warc.gzipMember(Warc.record(i.toLong, s"http://h/$i", Ts, "en",
        s"<html><body>doc $i</body></html>".getBytes("UTF-8"))))
    }
    out.close()
    val badBytes = Warc.record(9L, "http://h/9", Ts, "en",
      "<html><body>truncated</body></html>".getBytes("UTF-8"))
    val bad = new java.io.File(dir, "bad.warc")
    val bo = new java.io.FileOutputStream(bad)
    bo.write(badBytes, 0, badBytes.length - 30) // cut mid-body
    bo.close()
    val df = Warc.read(spark, dir.getPath + "/*")
    val rows = df.collect()
    val (errs, oks) = rows.partition(r => r.getAs[String]("error") != null)
    assert(oks.length == 5 && errs.length == 1)
    assert(oks.map(_.getAs[String]("url")).sorted.toSeq ==
      (0 until 5).map(i => s"http://h/$i"))
    assert(errs.head.getAs[String]("url").endsWith("bad.warc"))
    assert(errs.head.getAs[String]("error").contains("warc"))
    // WARC → recognize glue: extraction fields populated for records,
    // the container error row passes through untouched
    val ext = graft.pipeline.ExtractPipeline.fromWarc(spark, dir.getPath + "/*")
      .collect()
    assert(ext.length == 6)
    val (eErr, eOk) = ext.partition(r => r.getAs[String]("error") != null)
    assert(eOk.length == 5 && eOk.forall(_.getAs[String]("text") != null))
    assert(eErr.length == 1 && eErr.head.getAs[String]("error").contains("warc"))
    assert(eErr.head.getAs[String]("text") == null)
  }

  test("x12 stages its shards in the session's files dir and leaves no /tmp/graft-warc-* entry") {
    // the fixed dir x12 staged into before its shards moved
    def tmpEntries: Set[String] = Option(new java.io.File("/tmp").list())
      .fold(Set.empty[String])(_.filter(_.startsWith("graft-warc-")).toSet)
    val before = tmpEntries
    val rows = SparkEntry.queries("x12_warc_roundtrip")(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    assert((tmpEntries -- before).isEmpty, tmpEntries -- before)
    val staged = new java.io.File(org.apache.spark.SparkFiles.getRootDirectory()).listFiles()
      .filter(_.getName.startsWith("graft-warc-"))
    assert(staged.nonEmpty && staged.forall(d => new java.io.File(d, "_SUCCESS").exists()),
      staged.toSeq)
  }
}
