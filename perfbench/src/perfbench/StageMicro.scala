package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.expr.ExtractMainText
import graft.extract.{Assemble, Extractor}
import graft.gen.PageGen
import graft.html.{Boilerplate, FusedSegmenter}

/** Every per-layer metric name a traced run reports. Layers a workload
  * does not exercise report 0 for it. */
object Layers {
  val micro: Seq[String] = Seq(
    "extract.decode_us_per_doc", "html.segment_us_per_doc",
    "html.classify_us_per_doc", "extract.assemble_us_per_doc",
    "expr.row_encode_us_per_doc", "pdf.extract_us_per_doc",
    "extract.full_us_per_doc.html", "extract.full_us_per_doc.pdf",
    "extract.full_us_per_doc.error", "extract.alloc_bytes_per_doc",
    "html.kept_block_ratio", "extract.stage_sum_over_full")
  val spark: Seq[String] = Seq(
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.gc_share", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "spark.peak_exec_mem_bytes")
  val scan: Seq[String] = Seq("pipeline.scan_s", "pipeline.scan_extract_s")
  val commit: Seq[String] = Seq(
    "pipeline.gen_s", "pipeline.hot_hosts_s", "tables.commit_s",
    "tables.lineage_s", "pipeline.staging_s", "tables.files_written",
    "tables.bytes_written")
  val append: Seq[String] = Seq(
    "pipeline.batch_extract_ms", "tables.append_commit_ms",
    "tables.jobs_per_append", "tables.files_per_append",
    "tables.range_files_kept_ratio", "tables.manifest_bytes",
    "tables.range_read_ms", "tables.incremental_read_ms")
  val ops: Seq[String] = OpsPhases.queries.flatMap(q =>
    Seq(s"ops.$q.s", s"ops.$q.jobs", s"ops.$q.shuffle_bytes"))
  val all: Seq[String] =
    Seq("trace_overhead") ++ micro ++ spark ++ scan ++ commit ++ append ++ ops
}

/** Single-thread per-document stage timings on a fixed sample of the
  * extract_scan rows for this seed, split by payload kind: each public
  * stage call and the full `Extractor.extract` call timed per document,
  * repeated, and summarised by the median over repetitions with the
  * interquartile range as the spread. */
object StageMicro {
  val SampleDocs = 2000
  val Reps = 5

  private final class Rep {
    var decode, segment, classify, assemble, pdf, eval = 0L
    var fullHtml, fullPdf, fullErr, fullOther, alloc = 0L
  }

  def run(ctx: Ctx): Unit = {
    val tr = ctx.tracer
    val base = ExtractScan.firstId(ctx.seed)
    val ids = (base until base + SampleDocs).toArray
    val rows = ids.map(PageGen.row)
    val kinds = ids.map(PageGen.kindOf)
    val langs = rows.map(r => UTF8String.fromString(r.lang))
    val expr = ExtractMainText(BoundReference(0, BinaryType, nullable = true),
      BoundReference(1, StringType, nullable = true))
    val nHtml = kinds.count(_ == PageGen.Html)
    val nPdf = kinds.count(_ == PageGen.Pdf)
    val nErr = kinds.count(k => k == PageGen.BadUtf8 || k == PageGen.BadPdf)
    var blocks, kept = 0L

    val htmlIdx = kinds.indices.filter(i => kinds(i) == PageGen.Html).toArray
    val pdfIdx = kinds.indices.filter(i => kinds(i) == PageGen.Pdf).toArray

    // one pass per measured call, each over the whole sample, so every
    // pass meets the documents with the same cache state
    def stages(r: Rep, record: Boolean): Unit = htmlIdx.foreach { i =>
      val t0 = System.nanoTime()
      val s = Extractor.decodeUtf8(rows(i).html).get
      val t1 = System.nanoTime()
      val rb = FusedSegmenter.segmentRaw(s)
      val t2 = System.nanoTime()
      val keep = Boilerplate.classifyRaw(rb, Boilerplate.Default)
      val t3 = System.nanoTime()
      Assemble.fromRaw(rb, keep)
      val t4 = System.nanoTime()
      r.decode += t1 - t0; r.segment += t2 - t1
      r.classify += t3 - t2; r.assemble += t4 - t3
      if (record) {
        tr.record("extract.Extractor.decodeUtf8", t0, t1)
        tr.record("html.FusedSegmenter.segmentRaw", t1, t2)
        tr.record("html.Boilerplate.classifyRaw", t2, t3)
        tr.record("extract.Assemble.fromRaw", t3, t4)
        blocks += rb.n; kept += keep.count(identity)
      }
    }
    def pdfs(r: Rep, record: Boolean): Unit = pdfIdx.foreach { i =>
      val t0 = System.nanoTime()
      Extractor.extractPdf(rows(i).html)
      val t1 = System.nanoTime()
      r.pdf += t1 - t0
      if (record) tr.record("extract.Extractor.extractPdf", t0, t1)
    }
    def full(r: Rep, record: Boolean): Unit = rows.indices.foreach { i =>
      val a0 = Host.threadAllocatedBytes
      val t0 = System.nanoTime()
      Extractor.extract(rows(i).html, rows(i).lang)
      val t1 = System.nanoTime()
      r.alloc += Host.threadAllocatedBytes - a0
      kinds(i) match {
        case PageGen.Html => r.fullHtml += t1 - t0
        case PageGen.Pdf => r.fullPdf += t1 - t0
        case PageGen.BadUtf8 | PageGen.BadPdf => r.fullErr += t1 - t0
        case _ => r.fullOther += t1 - t0
      }
      if (record) tr.record("extract.Extractor.extract", t0, t1)
    }
    def eval(r: Rep, record: Boolean): Unit = rows.indices.foreach { i =>
      val t0 = System.nanoTime()
      expr.eval(InternalRow(rows(i).html, langs(i)))
      val t1 = System.nanoTime()
      r.eval += t1 - t0
      if (record) tr.record("expr.ExtractMainText.eval", t0, t1)
    }
    val passes = Seq[(Rep, Boolean) => Unit](stages, pdfs, full, eval)

    // odd repetitions run the passes in reverse order
    def once(k: Int, record: Boolean): Rep = {
      val r = new Rep
      (if (k % 2 == 0) passes else passes.reverse).foreach(_(r, record))
      r.eval -= r.fullHtml + r.fullPdf + r.fullErr + r.fullOther
      r
    }

    once(0, record = false) // JIT warm-up
    val reps = tr.span("extract.stage_micro") {
      (0 until Reps).map(k => once(k, record = k == 0))
    }
    def us(f: Rep => Long, n: Int): Seq[Double] =
      reps.map(r => if (n == 0) 0.0 else f(r) / 1e3 / n)
    def iqr(xs: Seq[Double]): Double = Stats.quantile(xs, 0.75) - Stats.quantile(xs, 0.25)

    val stageSeries = Seq[Rep => Long](_.decode, _.segment, _.classify, _.assemble)
      .map(f => us(f, nHtml))
    val fullHtml = us(_.fullHtml, nHtml)
    val stageSum = stageSeries.map(Stats.median).sum
    val fullMed = Stats.median(fullHtml)
    ctx.layer ++= Seq(
      "extract.decode_us_per_doc" -> Stats.median(stageSeries(0)),
      "html.segment_us_per_doc" -> Stats.median(stageSeries(1)),
      "html.classify_us_per_doc" -> Stats.median(stageSeries(2)),
      "extract.assemble_us_per_doc" -> Stats.median(stageSeries(3)),
      "expr.row_encode_us_per_doc" -> Stats.median(us(_.eval, rows.length)),
      "pdf.extract_us_per_doc" -> Stats.median(us(_.pdf, nPdf)),
      "extract.full_us_per_doc.html" -> fullMed,
      "extract.full_us_per_doc.pdf" -> Stats.median(us(_.fullPdf, nPdf)),
      "extract.full_us_per_doc.error" -> Stats.median(us(_.fullErr, nErr)),
      "extract.alloc_bytes_per_doc" -> Stats.median(reps.map(_.alloc.toDouble / rows.length)),
      "html.kept_block_ratio" -> (if (blocks > 0) kept.toDouble / blocks else 0.0),
      "extract.stage_sum_over_full" -> (if (fullMed > 0) stageSum / fullMed else 0.0))
    // the stage sum and the full call measure the same work: flag a run
    // where they differ by more than their combined spread
    val spread = stageSeries.map(iqr).sum + iqr(fullHtml)
    val disagree = math.abs(stageSum - fullMed) > spread
    ctx.report("stage_sum_us_per_doc") = (stageSum, "us")
    ctx.report("stage_sum_spread_us") = (spread, "us")
    ctx.report("stage_sum_disagrees") = (if (disagree) 1.0 else 0.0, "flag")
    if (disagree)
      System.err.println(f"perfbench: FLAG stage sum $stageSum%.2f us/doc vs full $fullMed%.2f us/doc " +
        f"differs by more than their spread $spread%.2f us/doc")
  }
}
