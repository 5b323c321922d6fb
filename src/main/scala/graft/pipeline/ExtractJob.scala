package graft.pipeline

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.tables.IceTable

/** The flagship end-to-end job: synthesize/scan pages →
  * preprocess/region-extract/recognize (graft_extract) → bucket →
  * IceTable commit (one exchange by bucket, per-bucket lineage kept in
  * the manifest; SURVEY.md §3.1 Spark shape).
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
    // IceTable.commit exchanges by bucket once and persists. No salt:
    // the key is the unique url, so a hot host cannot skew a bucket.
    val bucketed = ExtractPipeline.extracted(pages)
      .withColumn("bucket", ExtractPipeline.bucketOf(buckets))
    val table = new IceTable(root, spark)
    // the table logs the commit's own events (staged counts, groups,
    // completion or failure) from its lineage
    table.logEvent(commitId, s"job_start docs=$nDocs buckets=$buckets groups=$groups")
    // all commit jobs run under a cancellable group (ST2): cancel(…)
    // interrupts in-flight tasks; finished groups' markers survive, so
    // the same commitId resumes from the checkpoint
    spark.sparkContext.setJobGroup(jobGroup(commitId),
      s"graft commit $commitId", interruptOnCancel = true)
    val snap =
      try table.commit(bucketed, commitId, groups, abortAfterGroup)
      finally spark.sparkContext.clearJobGroup()
    // the counts come from the committed manifest: no Spark job
    val lineage = table.readSnapshot(snap).lineage
    def total(c: String): Long = IceTable.lineageSum(lineage, c)
    Result(snap, total("rows"), total("error_rows"))
  }
}
