package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.gen.PageGen
import graft.pipeline.ExtractPipeline

/** extract_scan: a staged Parquet pages table (PageGen's default mix)
  * → `ExtractPipeline.extracted` → digest over every output column, at
  * local[nproc]. A one-task leg over the same table (the whole scan
  * coalesced into a single task, i.e. one core) gives `scaling_eff`. */
object ExtractScan {
  val Docs = 20000L
  val WarmSeconds = 6.0

  /** First PageGen id of this seed's table; ids are contiguous. */
  def firstId(seed: Long): Long = 1000000L * (1L + Math.floorMod(seed, 100000L))

  val OutCols: Seq[String] = Seq("url", "text", "spans", "lang", "error")

  /** 1 for a row whose extraction disagrees with the planted ground
    * truth, else 0. Text must equal the planted text for HTML, PDF and
    * blank payloads; the malformed payload kinds must come back as error
    * rows. Expects columns url, text, error and planted. */
  def mismatch: Column = {
    val plantedError = udf((url: String) =>
      PageGen.kindOf(url.substring(url.lastIndexOf("doc-") + 4).toLong) match {
        case PageGen.BadUtf8 | PageGen.BadPdf => true
        case _ => false
      })
    when(plantedError(col("url")), col("error").isNull || col("text").isNotNull)
      .otherwise(col("error").isNotNull || !col("text").eqNullSafe(col("planted")))
      .cast("long")
  }
}

final class ExtractScan(ctx: Ctx) extends Workload {
  import ExtractScan._
  private val spark = ctx.spark
  private val base = firstId(ctx.seed)
  private var table: String = _
  private var expected: Digest = _
  private var lastFull: Seq[Double] = Nil

  def stage(round: Int): Unit = {
    import spark.implicits._
    val dir = ctx.dir(s"scan-pages-$round")
    // two files per core: every core gets the same share of the scan
    spark.range(base, base + Docs, 1L, ctx.cores * 2)
      .mapPartitions(_.map(id => PageGen.row(id.longValue())))
      .write.parquet(dir)
    if (table != null) ctx.deleteTree(table)
    table = dir
  }

  private def pages: DataFrame = spark.read.parquet(table)

  private def pass(input: DataFrame): Digest =
    Digest.of(ExtractPipeline.extracted(input).select(OutCols.map(col): _*))

  /** The first pass doubles as the ground-truth check: one query yields
    * the output digest and the count of rows that miss the planted text. */
  def warmup(): Unit = {
    val ex = ExtractPipeline.extracted(
      pages.withColumnRenamed("text", "planted"), passthrough = Seq("planted"))
    val aggs = Digest.aggs(OutCols.map(col)) :+ sum(mismatch)
    val r = ex.agg(aggs.head, aggs.tail: _*).collect()(0)
    expected = Digest.of(r)
    ctx.check("extract_scan digest row count")(if (expected.rows == Docs) 0L else 1L)
    ctx.check("extract_scan ground truth", Docs)(r.getLong(3))
    // further passes until the JIT has had a few seconds of this plan
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < WarmSeconds)
      ctx.check("extract_scan warm-up pass digest")(if (pass(pages) == expected) 0L else 1L)
  }

  def measure(seconds: Double): Measured = {
    val full, one = ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    def timedPass(leg: String, input: => DataFrame): Op = {
      val (d, op) = Stats.timedOp(ctx.tracer.span(s"pipeline.ExtractPipeline.extracted.$leg")(pass(input)))
      ctx.check(s"extract_scan $leg pass digest")(if (d == expected) 0L else 1L)
      op
    }
    // two full-width passes per single-core pass, until time is up
    while ((System.nanoTime() - t0) / 1e9 < seconds || one.isEmpty) {
      full += timedPass("nproc", pages)
      if ((System.nanoTime() - t0) / 1e9 < seconds || full.length < 2)
        full += timedPass("nproc", pages)
      one += timedPass("one", pages.coalesce(1))
    }
    lastFull = full.map(_.seconds).toSeq
    val docsPerS = Docs / Stats.median(lastFull)
    val oneDocsPerS = Docs / Stats.median(one.map(_.seconds).toSeq)
    ctx.report("extract_docs_per_s") = (docsPerS, "docs/s")
    ctx.report("one_core_docs_per_s") = (oneDocsPerS, "docs/s")
    ctx.report("scaling_eff") = (docsPerS / (ctx.cores * oneDocsPerS), "ratio")
    ctx.report("scan_partitions") = (pages.rdd.getNumPartitions.toDouble, "count")
    ctx.reportTiming("extract_pass_ms", lastFull, 1e3, "ms")
    Measured(full.toSeq, docsPerS)
  }

  def layers(): Unit = {
    val scan = (0 until 3).map(_ => Stats.timed(ctx.tracer.span("pipeline.scan.html") {
      Digest.of(pages.select("html"))
    })._2)
    ctx.layer("pipeline.scan_s") = Stats.median(scan)
    ctx.layer("pipeline.scan_extract_s") = Stats.median(lastFull)
    OpsPhases.run(ctx)
  }
}
