package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.ExtractPipeline
import graft.streaming.StreamingExtract

/** Structured-Streaming slice: incremental extraction equals the batch
  * result byte-for-byte; windowed/stateful ops behave. */
class StreamingSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.local(8, "graft-streaming-test")

  private def tmp(tag: String): String =
    tempDir(s"stream-$tag").toString

  test("streaming extraction == batch extraction (incremental arrival)") {
    import spark.implicits._
    val src = tmp("src"); val out = tmp("out"); val ckpt = tmp("ckpt")
    // first file lands before the query starts
    ExtractPipeline.pages(spark, 300).toDF()
      .write.mode("append").parquet(src)
    val q = StreamingExtract.run(spark, src, out, ckpt)
    q.processAllAvailable()
    // late-arriving second file (ids 300..499), picked up incrementally
    spark.range(300L, 500L, 1L, 4)
      .mapPartitions(_.map(id => graft.gen.PageGen.row(id.longValue()))).toDF()
      .write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.read.parquet(out)
      .select("url", "text", "error").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val batch = ExtractPipeline.extracted(ExtractPipeline.pages(spark, 500).toDF())
      .select("url", "text", "error").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(streamed.length == 500)
    assert(streamed.sameElements(batch))
  }

  test("micro-batches append-commit to IceTable; latest snapshot = full table") {
    import spark.implicits._
    val src = tmp("icesrc"); val root = tmp("iceroot"); val ckpt = tmp("iceckpt")
    ExtractPipeline.pages(spark, 300).toDF().write.mode("append").parquet(src)
    val q = StreamingExtract.runIceTable(spark, src, root, ckpt, buckets = 4)
    q.processAllAvailable()
    spark.range(300L, 500L, 1L, 4)
      .mapPartitions(_.map(id => graft.gen.PageGen.row(id.longValue()))).toDF()
      .write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    val table = new graft.tables.IceTable(root, spark)
    assert(table.snapshots.size >= 2, s"snapshots: ${table.snapshots}")
    // latest snapshot reads the FULL accumulated table (append semantics)
    val streamed = table.read()
      .select("url", "text", "error").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val batch = ExtractPipeline.extracted(ExtractPipeline.pages(spark, 500).toDF())
      .select("url", "text", "error").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(streamed.length == 500)
    assert(streamed.sameElements(batch))
    // earlier snapshots time-travel to the smaller increments
    val first = table.read(Some(table.snapshots.head)).count()
    assert(first < 500 && first > 0)
    // every streamed commit records per-file warc_ts stats in the
    // manifest, and a time-sliced readRange equals the full-scan filter
    // while opening fewer files (crawl-slice reads stay O(slice))
    val snap = table.readSnapshot(table.currentSnapshotId.get)
    assert(snap.files.nonEmpty && snap.files.forall(f =>
      f.statsMin.isDefined && f.statsMax.isDefined))
    val loMicros = snap.files.map(_.statsMin.get).min
    val hiMicros = snap.files.map(_.statsMax.get).max
    assert(loMicros < hiMicros, "time stats must span the crawl window")
    val mid = (loMicros + hiMicros) / 2
    val slice = table.readRange("warc_ts", loMicros, mid)
    val want = table.read().filter(
        org.apache.spark.sql.functions.unix_micros(
          org.apache.spark.sql.functions.col("warc_ts")).between(loMicros, mid))
      .select("url").collect().map(_.getString(0)).sorted
    val got = slice.select("url").collect().map(_.getString(0)).sorted
    assert(got.nonEmpty && got.sameElements(want))
    val openable = snap.files.count(f => f.statsMax.get >= loMicros && f.statsMin.get <= mid)
    assert(openable < snap.files.length,
      "the half-window slice must prune at least one file")

    // compaction rewrites the accumulated small files into one commit
    val filesBefore = table.read().inputFiles.length
    val compacted = table.compact("compact-0")
    assert(table.read(Some(compacted)).count() == 500)
    assert(table.read(Some(compacted)).inputFiles.length < filesBefore,
      s"compaction must reduce file count (before=$filesBefore)")
    // expiring pre-compaction snapshots drops their unreferenced dirs
    // while the compacted table stays fully readable
    table.expireSnapshots(keep = 1)
    assert(table.read().count() == 500)
  }

  test("watermarked windowed aggregation over streamed events") {
    val src = tmp("ev")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.mode("append").parquet(src)
    val events = spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
      .parquet(src)
    val q = StreamingExtract.windowedEventCounts(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("winagg")
      .start()
    q.processAllAvailable(); q.stop()
    // append mode emits only watermark-closed windows; validate against
    // the batch computation on the closed subset
    val got = spark.sql("SELECT event_type, sum(n) AS n FROM winagg GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.values.sum > 0, "some windows must have closed")
    val batchAll = spark.read.parquet(src)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { case (k, v) => assert(v <= batchAll(k)) }
  }

  test("windowedEventCounts streaming == independent batch agg, row for row") {
    val src = tmp("weq")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.mode("append").parquet(src)
    val events = spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
      .parquet(src)
    // complete mode emits EVERY window (watermark moot), so the whole
    // streaming aggregation is comparable; the DECIMAL(18,4) sum inside
    // windowedEventCounts is exact, so equality is bit-for-bit — no
    // float-summation-order tolerance needed
    val q = StreamingExtract.windowedEventCounts(events)
      .writeStream.outputMode("complete")
      .format("memory").queryName("winfull")
      .start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.sql(
        "SELECT CAST(window.start AS STRING) AS ws, event_type, n, sum_value FROM winfull")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    // the batch twin, built independently (q10 shape at 5-min grain)
    val batch = spark.read.parquet(src)
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("window.start").cast("string").as("ws"),
        col("event_type"), col("n"), col("sum_value"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
  }

  test("streaming near-dup (minhash-LSH) == batch minhashPairs pair set") {
    import spark.implicits._
    GraftSession.register(spark)
    val src = tmp("neardup")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // batch 1: the original corpus arrives first
    docs.write.mode("append").parquet(src)
    val stream = spark.readStream.schema("doc_id BIGINT, text STRING").parquet(src)
    val q = StreamingExtract.nearDupStream(
        StreamingExtract.minhashSigs(stream, "doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("neardupstream")
      .start()
    q.processAllAvailable()
    // batch 2: near-dups of every 5th doc arrive LATER — cross-batch
    // pairs must come out of the bucket state, not a within-batch join
    val late = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zz qq xx")).as("text"))
    late.write.mode("append").parquet(src)
    q.processAllAvailable(); q.stop()
    // consumer-side cross-band dedupe == the batch dropDuplicates
    val streamed = spark.sql(
        "SELECT DISTINCT id_a, id_b, est_jaccard FROM neardupstream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.ops.Dedup.minhashPairs(
        docs.unionAll(late), "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed.nonEmpty, "planted near-dups must surface")
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
  }

  test("streaming exact dedup == batch exactGroups (first-wins keeper)") {
    import spark.implicits._
    val src = tmp("dedup")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // batch 1: the original corpus (unique texts)
    docs.select(col("doc_id"),
        sha2(col("text"), 256).as("text_sha")).as[StreamingExtract.HashedDoc]
      .toDF().write.mode("append").parquet(src)
    val stream = spark.readStream
      .schema("doc_id BIGINT, text_sha STRING")
      .parquet(src).as[StreamingExtract.HashedDoc]
    val q = StreamingExtract.dedupStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedupstream")
      .start()
    q.processAllAvailable()
    // batch 2: every 7th doc re-arrives with a new id but identical text
    docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        sha2(col("text"), 256).as("text_sha")).as[StreamingExtract.HashedDoc]
      .toDF().write.mode("append").parquet(src)
    q.processAllAvailable(); q.stop()

    val rows = spark.sql("SELECT text_sha, doc_id, keep, dup_of FROM dedupstream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2), r.getLong(3)))
    val n = docs.count()
    assert(rows.length == n + docs.filter(col("doc_id") % 7 === 0).count())
    // exactly one keeper per distinct hash, and it is the first arrival
    val bySha = rows.groupBy(_._1)
    assert(bySha.forall { case (_, rs) => rs.count(_._3) == 1 })
    // every late duplicate points at the original (min-id == first
    // arrival here, matching the batch keep_id)
    val batchKeep = graft.ops.Dedup.exactGroups(
        docs.select("doc_id", "text").unionAll(
          docs.filter(col("doc_id") % 7 === 0)
            .select((col("doc_id") + 100000).as("doc_id"), col("text"))),
        "doc_id", "text")
      .collect().map(r => r.getAs[Long]("keep_id")).toSet
    val streamDupOf = rows.filter(!_._3).map(_._4).toSet
    assert(streamDupOf == batchKeep,
      s"stream keepers $streamDupOf != batch keep_ids $batchKeep")
  }

  test("streaming incremental ingest == batch incrementalIngest classes") {
    import spark.implicits._
    val src = tmp("ingest")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // the d11 plants: corpus re-arrivals (+500000), twice-arriving new
    // texts (+600000 fresh / +700000 batch-dup)
    val batchDf =
      docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 500000).as("doc_id"), col("text"))
      .unionAll(docs.filter(col("doc_id") % 3 === 1)
        .select((col("doc_id") + 600000).as("doc_id"),
          concat(col("text"), lit(" fresh tail")).as("text")))
      .unionAll(docs.filter(col("doc_id") % 3 === 1)
        .select((col("doc_id") + 700000).as("doc_id"),
          concat(col("text"), lit(" fresh tail")).as("text")))
    val expected = graft.ops.Dedup.incrementalIngest(docs, batchDf, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status"))
      .sortBy(_._1)
    // stream the same batch in TWO id-ordered triggers (so streaming
    // first-arrival-wins coincides with the batch min-id rule): the
    // +700000 re-arrivals land strictly after their +600000 twins
    val bsha = batchDf.select(col("doc_id"), sha2(col("text"), 256).as("text_sha"))
    bsha.filter(col("doc_id") < 650000).write.mode("append").parquet(src)
    val stream = spark.readStream
      .schema("doc_id BIGINT, text_sha STRING")
      .parquet(src).as[StreamingExtract.HashedDoc]
    val corpusShas = docs.select(sha2(col("text"), 256).as("text_sha"))
    val q = StreamingExtract.ingestStream(stream, corpusShas)
      .writeStream.outputMode("append")
      .format("memory").queryName("ingeststream")
      .start()
    q.processAllAvailable()
    bsha.filter(col("doc_id") >= 650000).write.mode("append").parquet(src)
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT doc_id, status FROM ingeststream").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    assert(got.sameElements(expected),
      s"stream classes diverge from batch (got ${got.length}, want ${expected.length})")
    // all three classes exercised
    assert(got.map(_._2).toSet == Set("corpus_dup", "batch_dup", "fresh"))
  }

  test("stateful sessionization via flatMapGroupsWithState") {
    import spark.implicits._
    val src = tmp("sess")
    Seq(
      (1L, 0L, "a"), (1L, 30000L, "b"), (1L, 1000000L, "c"),
      (2L, 0L, "x")
    ).map { case (u, t, k) =>
      StreamingExtract.Event(u, new java.sql.Timestamp(t), k)
    }.toDS().write.mode("append").parquet(src)
    val stream = spark.readStream
      .schema("user_id BIGINT, ts TIMESTAMP, event_type STRING")
      .parquet(src).as[StreamingExtract.Event]
    val q = StreamingExtract.sessionize(stream, gapMs = 60000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions")
      .start()
    q.processAllAvailable()
    // a second batch with a gap-crossing event closes user 1's new session
    Seq(StreamingExtract.Event(1L, new java.sql.Timestamp(5000000L), "d"))
      .toDS().write.mode("append").parquet(src)
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("SELECT * FROM sessions ORDER BY user_id, start_ms").collect()
    // user 1: session [0,30000] n=2 closed by the 1000000 event; session
    // [1000000,1000000] n=1 closed by the 5000000 event
    assert(rows.length == 2, rows.mkString(";"))
    assert(rows(0).getLong(0) == 1L && rows(0).getLong(1) == 0L &&
      rows(0).getLong(2) == 30000L && rows(0).getInt(3) == 2)
    assert(rows(1).getLong(0) == 1L && rows(1).getLong(1) == 1000000L && rows(1).getInt(3) == 1)
  }
}
