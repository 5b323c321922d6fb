package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.gen.PageGen
import graft.pipeline.{ExtractJob, ExtractPipeline}
import graft.tables.IceTable

/** commit_job: `ExtractJob.run(buckets = 32, groups = 4)` into a fresh
  * table root per job. `ExtractJob.run` always generates ids [0, n), so
  * the seed picks n. Each job is checked through its result and
  * lineage; the warm-up job's and the last job's tables are also read
  * back and their digest compared with a direct extraction of the same
  * ids. */
object CommitJob {
  val BaseDocs = 16000L
  val MinJobs = 4
  val Buckets = 32
  val Groups = 4
}

final class CommitJob(ctx: Ctx) extends Workload {
  import CommitJob._
  private val spark = ctx.spark
  private val docs = BaseDocs + 8L * Math.floorMod(ctx.seed, 125L)
  private var plantedErrors = 0L
  private var expected: Digest = _
  private var jobs = 0
  private var lastJob: Seq[Double] = Nil

  def stage(round: Int): Unit = {
    // the job generates its own input; set-up is the ground-truth census
    plantedErrors = (0L until docs).count { id =>
      val k = PageGen.kindOf(id)
      k == PageGen.BadUtf8 || k == PageGen.BadPdf
    }.toLong
  }

  private def runJob(): (String, Op) = {
    val root = ctx.dir(s"commit-t$jobs")
    val id = s"c$jobs"
    jobs += 1
    val (r, op) = Stats.timedOp(ctx.tracer.span("pipeline.ExtractJob.run") {
      ExtractJob.run(spark, root, docs, buckets = Buckets, groups = Groups, commitId = id)
    })
    ctx.check("commit_job lineage rows")(if (r.docs == docs) 0L else 1L)
    ctx.check("commit_job planted error rows")(if (r.errorRows == plantedErrors) 0L else 1L)
    (root, op)
  }

  private def readBack(root: String): Unit =
    ctx.check("commit_job committed-table digest") {
      val d = Digest.of(new IceTable(root, spark).read().select(ExtractScan.OutCols.map(col): _*))
      if (d == expected) 0L else 1L
    }

  /** Two jobs: the JIT is still settling after the first. */
  def warmup(): Unit = {
    val (root, _) = runJob()
    expected = Digest.of(ExtractPipeline.extracted(ExtractPipeline.pages(spark, docs).toDF())
      .select(ExtractScan.OutCols.map(col): _*))
    readBack(root)
    ctx.deleteTree(root)
    ctx.deleteTree(runJob()._1)
  }

  def measure(seconds: Double): Measured = {
    val times = ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    var last: String = null
    // at least MinJobs: job times still fall from job to job, so a run
    // that fits one job fewer would take its median earlier on that slope
    while ((System.nanoTime() - t0) / 1e9 < seconds || times.length < MinJobs) {
      val (root, op) = runJob()
      times += op
      if (last != null) ctx.deleteTree(last)
      last = root
    }
    readBack(last)
    val bytes = ctx.bytesUnder(last)
    ctx.deleteTree(last)
    lastJob = times.map(_.seconds).toSeq
    val docsPerS = docs / Stats.median(lastJob)
    ctx.report("commit_docs_per_s") = (docsPerS, "docs/s")
    ctx.report("stored_bytes_per_doc") = (bytes.toDouble / docs, "B/doc")
    ctx.reportTiming("commit_job_ms", lastJob, 1e3, "ms")
    Measured(times.toSeq, docsPerS)
  }

  /** Commit phases, each timed alone with the same sizes as the job. */
  def layers(): Unit = {
    val tr = ctx.tracer
    val (_, genS) = Stats.timed(tr.span("pipeline.ExtractPipeline.pages") {
      Digest.of(ExtractPipeline.pages(spark, docs).toDF())
    })
    val (hot, hotS) = Stats.timed(tr.span("pipeline.ExtractPipeline.hotHosts") {
      ExtractPipeline.hotHosts(ExtractPipeline.pageUrls(spark, docs),
        math.min(docs, 2000L), 0.05, totalHint = docs)
    })
    val staged = ExtractPipeline.withBucket(
      ExtractPipeline.extracted(ExtractPipeline.pages(spark, docs).toDF()), Buckets, hot, 8)
      .drop("salt").persist(StorageLevel.MEMORY_AND_DISK_SER)
    staged.count()
    val root = ctx.dir("commit-phases")
    val table = new IceTable(root, spark)
    val (snap, commitS) = Stats.timed(tr.span("tables.IceTable.commit") {
      table.commit(staged, "phases", Groups)
    })
    staged.unpersist()
    val (_, lineageS) = Stats.timed(tr.span("tables.IceTable.lineage") {
      table.lineage(Some(snap)).agg(sum("rows"), sum("error_rows")).collect()
    })
    val files = table.readSnapshot(snap).files
    ctx.deleteTree(root)
    ctx.layer ++= Seq(
      "pipeline.gen_s" -> genS,
      "pipeline.hot_hosts_s" -> hotS,
      "tables.commit_s" -> commitS,
      "tables.lineage_s" -> lineageS,
      // derived: what the job spends outside the separately timed phases
      "pipeline.staging_s" -> (Stats.median(lastJob) - commitS - hotS - genS),
      "tables.files_written" -> files.length.toDouble,
      "tables.bytes_written" -> files.map(_.bytes).sum.toDouble)
    AppendPhases.run(ctx)
  }
}
