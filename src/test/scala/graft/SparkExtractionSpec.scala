package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.Extractor
import graft.gen.PageGen
import graft.pipeline.ExtractPipeline

/** Byte-identity of the PARALLEL Spark pipeline against the
  * single-threaded oracle (north rule: "byte-identical extracted text
  * per url" — the whole game, SURVEY.md §7.7). */
class SparkExtractionSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.local(8, "graft-test")

  val N = 2000L

  test("parallel extraction == single-threaded oracle, byte for byte") {
    val got = ExtractPipeline.extracted(ExtractPipeline.pages(spark, N).toDF())
      .select("url", "text", "error")
      .collect()
      .map(r => (r.getString(0), (r.getString(1), r.getString(2))))
      .toMap
    assert(got.size == N)
    (0L until N).foreach { id =>
      val row = PageGen.row(id)
      val oracle = Extractor.extract(row.html, row.lang)
      val (gt, ge) = got(row.url)
      assert(ge == oracle.error, s"id=$id error mismatch")
      assert(gt == oracle.text, s"id=$id text mismatch")
      if (oracle.error == null)
        assert(gt == row.text, s"id=$id planted ground truth mismatch")
    }
  }

  test("output schema is the FIXTURES.md §2 contract") {
    val df = ExtractPipeline.extracted(ExtractPipeline.pages(spark, 10).toDF())
    assert(df.schema.fieldNames.toSeq == Seq("url", "text", "spans", "lang", "error"))
    val spanType = df.schema("spans").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(spanType.fieldNames.toSeq == Seq("start", "end", "kind"))
  }

  test("bucketing: deterministic, salt nonzero only for hot hosts") {
    val pages = ExtractPipeline.pages(spark, 1000).toDF()
    val hot = ExtractPipeline.hotHosts(pages, 1000, 0.05)
    assert(hot.contains("host0.example"), s"hot=$hot") // ~30% skew planted
    val b = ExtractPipeline.withBucket(pages, 32, hot, 8)
      .select("url", "bucket", "salt").collect()
    assert(b.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 32))
    val (hotRows, coldRows) = b.partition(_.getString(0).startsWith("https://host0.example/"))
    assert(coldRows.forall(r => r.getInt(2) == 0 || hot.exists(h => r.getString(0).contains(h))))
    assert(hotRows.map(_.getInt(2)).distinct.length > 1, "hot host must spread over salts")
  }

  test("hot-host detection sees hosts absent from the first partition") {
    // ids 0-699 (partitions 0-5) are cold hosts; the hot host's rows
    // live ONLY in the tail partitions — a limit(n)-based sample (the
    // round-1 shape) reads just the first split and misses it; the
    // seeded Bernoulli sample must not
    val df = spark.range(0, 1000, 1, 8).select(
      when(col("id") < 700,
        concat(lit("https://cold"), col("id"), lit(".example.com/p")))
        .otherwise(concat(lit("https://hot.example.com/p"), col("id"))).as("url"))
    val hot = ExtractPipeline.hotHosts(df, 200, 0.2, totalHint = 1000)
    assert(hot == Seq("hot.example.com"), s"detected: $hot")
  }

  test("ExplodeBlocks + relational reassembly == in-expression assembly") {
    GraftSession.register(spark)
    val reassembled = SparkEntry.queries("x5_block_assembly")(spark, "")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val direct = ExtractPipeline.extracted(ExtractPipeline.pages(spark, 500).toDF())
      .filter(col("error").isNull && length(col("text")) > 0)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    // ExplodeBlocks covers HTML and PDF payloads (PDF: one content
    // block per page, every page kept) — assert equality for both
    val coveredUrls = (0L until 500L)
      .filter { id =>
        val k = graft.gen.PageGen.kindOf(id)
        k == graft.gen.PageGen.Html || k == graft.gen.PageGen.Pdf
      }
      .map(id => graft.gen.PageGen.urlOf(id))
    coveredUrls.foreach { u =>
      assert(reassembled.get(u) == direct.get(u), s"url=$u")
    }
  }

  test("IceTable read prunes partitions on the bucket filter") {
    val root = tempDir("icetable-prune").toString
    graft.pipeline.ExtractJob.run(spark, root, 500L, buckets = 16, groups = 2)
    val table = new graft.tables.IceTable(root, spark)
    val plan = table.read().filter(col("bucket") === 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(bucket"),
      s"bucket filter must prune partitions:\n$plan")
    val full = table.read().count()
    val one = table.read().filter(col("bucket") === 3).count()
    assert(one > 0 && one < full)
  }

  test("extraction expression is usable from plain SQL too") {
    GraftSession.register(spark)
    ExtractPipeline.pages(spark, 5).toDF().createOrReplaceTempView("pages_sql")
    val out = spark.sql(
      "SELECT url, graft_extract(html, lang).text AS text FROM pages_sql").collect()
    assert(out.length == 5)
  }
}
