package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.GraftSession
import graft.tables.IceTable

/** The flagship end-to-end job: synthesize/scan pages →
  * preprocess/region-extract/recognize (graft_extract) → bucket → one
  * exchange by bucket → IceTable commit with per-bucket lineage
  * (SURVEY.md §3.1 Spark shape).
  *
  * At cluster scale the same plan holds: `pages` becomes an Iceberg
  * scan instead of a generator, everything else is unchanged — no
  * driver-side loops, at most `buckets` lineage rows collected,
  * extraction is row-local (the bucket exchange is the job's only
  * shuffle).
  */
object ExtractJob {

  final case class Result(snapshotId: Long, docs: Long, errorRows: Long)

  /** Job-group id for a commit — the cooperative-cancel handle
    * (reference: OCRWorker._cancelled checked per page,
    * main_window.py:312,348-350; our granularity is the Spark job,
    * with `interruptOnCancel` reaching into running tasks). */
  def jobGroup(commitId: String): String = s"graft-commit-$commitId"

  /** Cooperatively cancel a running commit. Completed resume groups
    * keep their checkpoint markers; a re-run with the same commitId
    * finishes only the remaining groups (IceTableSpec / CancelSpec). */
  def cancel(spark: SparkSession, commitId: String): Unit =
    spark.sparkContext.cancelJobGroup(jobGroup(commitId))

  def run(
      spark: SparkSession,
      root: String,
      nDocs: Long,
      buckets: Int = 32,
      groups: Int = 8,
      commitId: String = "c0",
      abortAfterGroup: Int = -1): Result = {
    GraftSession.register(spark)
    val pages = ExtractPipeline.pages(spark, nDocs).toDF()
    // ONE exchange, before the persist: the staged rows are already
    // hash-distributed by bucket, so every group write is a filtered
    // scan of the cache with no exchange of its own (distribution
    // "none" below) and still writes one file per bucket. No salt: the
    // key is the unique url, so a hot host cannot skew a bucket.
    // IceTable reads its input twice (lineage aggregate, then the group
    // writes), so extraction is persisted to run once. Serialized
    // storage, measured at 480k docs / 4 groups / 32 cores (medians):
    // serialized 12.6 s, deserialized 16.5 s, no persist (recompute
    // per group) 25.0 s — deserialized rows blow the young gen,
    // recompute pays 4× generation+extract.
    val staged = ExtractPipeline.extracted(pages)
      .withColumn("bucket", ExtractPipeline.bucketOf(buckets))
      .repartition(col("bucket"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val table = new IceTable(root, spark)
    val metrics = new JobMetrics(spark, s"extract-$commitId")
    metrics.logEvent(root, s"job_start docs=$nDocs buckets=$buckets groups=$groups")
    // all commit jobs run under a cancellable group (ST2): cancel(…)
    // interrupts in-flight tasks; finished groups' markers survive, so
    // the same commitId resumes from the checkpoint
    spark.sparkContext.setJobGroup(jobGroup(commitId),
      s"graft commit $commitId", interruptOnCancel = true)
    val snap =
      try table.commit(staged, commitId, groups, abortAfterGroup, distribution = "none")
      catch {
        case e: Throwable =>
          metrics.logEvent(root, s"job_failed error=${e.getClass.getSimpleName}")
          metrics.close()
          throw e
      } finally {
        spark.sparkContext.clearJobGroup()
        staged.unpersist()
      }
    val lin = table.lineage(Some(snap))
      .agg(sum("rows"), sum("error_rows"), sum("oversize_docs")).collect()(0)
    metrics.rowsProcessed.add(lin.getLong(0))
    metrics.errorRows.add(lin.getLong(1))
    metrics.oversizeDocs.add(lin.getLong(2))
    metrics.logEvent(root, s"commit_complete snapshot=$snap")
    metrics.close()
    Result(snap, lin.getLong(0), lin.getLong(1))
  }
}
