package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.gen.PageGen
import graft.pipeline.ExtractPipeline
import graft.tables.IceTable

/** The append direction of the tables layer, measured in commit_job's
  * traced run: micro-batches of pre-staged raw pages with contiguous
  * ids, each extracted and `IceTable.commitAppend`ed with
  * `statsCol = warc_ts` (the batch body of `StreamingExtract.runIceTable`
  * without the trigger), then read back with `readRange` over the
  * batch's warc_ts slice and with `readIncremental` over its snapshot,
  * both of which must return exactly the batch's rows. */
object AppendPhases {
  val BatchDocs = 500
  val FilesPerBatch = 4
  val Buckets = 8
  val WarmBatches = 2
  val Batches = 5

  /** `PageGen.tsOf` wraps every 2592000 / 37 ids; a batch straddling the
    * wrap has no single [lo, hi] slice, so each seed's id range starts
    * just after a wrap and stays inside one window. */
  def firstId(seed: Long): Long = {
    val window = 1L + Math.floorMod(seed, 1000L)
    (window * 2592000L + 36L) / 37L + 1L
  }

  private def tsMicros(id: Long): Long = PageGen.tsOf(id).getTime * 1000L

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val base = firstId(ctx.seed)
    val end = base + Batches.toLong * BatchDocs
    require(tsMicros(end - 1) > tsMicros(base), "append id range straddles the warc_ts wrap")
    val staged = ctx.dir("append-pages")
    val root = ctx.dir("append-table")
    val table = new IceTable(root, spark)
    import spark.implicits._
    spark.range(base, end, 1L, Batches * FilesPerBatch)
      .mapPartitions(_.map(id => PageGen.row(id.longValue())))
      .withColumn("batch", ((regexp_extract(col("url"), "doc-([0-9]+)$", 1).cast("long") - base) /
        BatchDocs).cast("int"))
      .write.partitionBy("batch").parquet(staged)

    def batch(i: Int): DataFrame = spark.read.parquet(s"$staged/batch=$i")
    def extracted(i: Int): DataFrame =
      ExtractPipeline.extracted(batch(i), passthrough = Seq("warc_ts"))
        .withColumn("bucket", pmod(xxhash64(col("url")), lit(Buckets)).cast("int"))
    def slice(i: Int): (Long, Long) =
      (tsMicros(base + i.toLong * BatchDocs), tsMicros(base + (i + 1L) * BatchDocs - 1))

    val extractMs, appendMs, jobs, files, readMs, kept, incMs = ArrayBuffer.empty[Double]
    (0 until Batches).foreach { i =>
      val measured = i >= WarmBatches
      val out = extracted(i).persist()
      val (_, exS) = Stats.timed(tr.span("pipeline.ExtractPipeline.extracted")(Digest.of(out)))
      val prev = table.currentSnapshotId
      val filesBefore = prev.map(table.readSnapshot(_).files.length).getOrElse(0)
      val jobs0 = ctx.sparkTotals.jobs
      val (_, apS) = Stats.timed(tr.span("tables.IceTable.commitAppend") {
        table.commitAppend(out, s"stream-$i", statsCol = Some("warc_ts"))
      })
      val jobsN = ctx.sparkTotals.jobs - jobs0
      out.unpersist()
      val cur = table.currentSnapshotId.get
      val all = table.readSnapshot(cur).files.length
      val (lo, hi) = slice(i)
      val range = table.readRange("warc_ts", lo, hi)
      val (rd, rdS) = Stats.timed(tr.span("tables.IceTable.readRange")(Digest.of(range)))
      ctx.check(s"append batch $i readRange rows")(if (rd.rows == BatchDocs) 0L else 1L)
      val (inc, incS) = Stats.timed(tr.span("tables.IceTable.readIncremental") {
        Digest.of(prev.fold(table.read())(p => table.readIncremental(p, cur)))
      })
      ctx.check(s"append batch $i incremental digest")(if (inc == rd) 0L else 1L)
      if (measured) {
        extractMs += exS * 1e3; appendMs += apS * 1e3; jobs += jobsN.toDouble
        files += (all - filesBefore).toDouble; readMs += rdS * 1e3
        kept += range.inputFiles.length.toDouble / all; incMs += incS * 1e3
      }
    }
    // the whole table against the planted ground truth of every batch
    val n = Batches.toLong * BatchDocs
    ctx.check("append table ground truth", n) {
      val planted = spark.read.parquet(staged).select(col("url"), col("text").as("planted"))
      table.read().select("url", "text", "error").join(planted, Seq("url"), "full_outer")
        .agg(sum(ExtractScan.mismatch)).collect()(0).getLong(0)
    }
    val manifest = new java.io.File(root, s"metadata/snap-${table.currentSnapshotId.get}.json")
    ctx.report("append_stored_bytes_per_doc") = (ctx.bytesUnder(root).toDouble / n, "B/doc")
    ctx.layer ++= Seq(
      "pipeline.batch_extract_ms" -> Stats.median(extractMs.toSeq),
      "tables.append_commit_ms" -> Stats.median(appendMs.toSeq),
      "tables.jobs_per_append" -> Stats.median(jobs.toSeq),
      "tables.files_per_append" -> Stats.median(files.toSeq),
      "tables.range_files_kept_ratio" -> Stats.median(kept.toSeq),
      "tables.manifest_bytes" -> manifest.length.toDouble,
      "tables.range_read_ms" -> Stats.median(readMs.toSeq),
      "tables.incremental_read_ms" -> Stats.median(incMs.toSeq))
    ctx.deleteTree(root)
    ctx.deleteTree(staged)
  }
}
