package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.tables.IceTable

/** The flagship end-to-end job: synthesize/scan pages →
  * preprocess/region-extract/recognize (graft_extract) → bucket+salt →
  * IceTable commit with per-bucket lineage (SURVEY.md §3.1 Spark shape).
  *
  * At cluster scale the same plan holds: `pages` becomes an Iceberg
  * scan instead of a generator, everything else is unchanged — no
  * driver-side loops, no collect, extraction is row-local (zero
  * shuffles before the bucketed write exchange).
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
      salts: Int = 8,
      commitId: String = "c0",
      abortAfterGroup: Int = -1): Result = {
    GraftSession.register(spark)
    val pages = ExtractPipeline.pages(spark, nDocs).toDF()
    // hot-host detection over the URL-only projection (r6, guide §2.3):
    // same sampled rows (same ids, partitioning, seed), none of the
    // per-row HTML/PDF synthesis cost — the old pass generated the
    // full corpus just to sample 2000 urls
    val hot = ExtractPipeline.hotHosts(
      ExtractPipeline.pageUrls(spark, nDocs), math.min(nDocs, 2000L), 0.05,
      totalHint = nDocs)
    // no pre-commit exchange (r6): IceTable.writeGroups hash-
    // distributes each group's slice by (grp, bucket) at the write —
    // the Iceberg write.distribution-mode=hash analogue — so a
    // repartition here would shuffle the corpus twice for one layout.
    // Salting still spreads a hot host across generation tasks' salted
    // splits for any bucket-keyed exchange a caller adds; extraction
    // itself is row-local and order-free (SURVEY.md §7.4).
    val out = ExtractPipeline.withBucket(
      ExtractPipeline.extracted(pages), buckets, hot, salts)
      .drop("salt")
    // With >1 resume group, each group is its own Spark job over the
    // shared upstream — persist the extracted rows so extraction runs
    // once, not `groups` times. On a real cluster with a bucketed source
    // table the group filter prunes the SCAN instead and no persist is
    // needed; groups=1 is the pure single-pass path (Spark task retry
    // already covers executor loss within a job). Serialized storage,
    // measured at 480k docs / 4 groups / 32 cores (medians): serialized
    // 12.6 s, deserialized 16.5 s, no persist (recompute per group)
    // 25.0 s — deserialized rows blow the young gen, recompute pays 4×
    // generation+extract.
    val staged =
      if (groups > 1) out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      else out
    val table = new IceTable(root, spark)
    val metrics = new JobMetrics(spark, s"extract-$commitId")
    metrics.logEvent(root, s"job_start docs=$nDocs buckets=$buckets groups=$groups hot_hosts=${hot.size}")
    // all commit jobs run under a cancellable group (ST2): cancel(…)
    // interrupts in-flight tasks; finished groups' markers survive, so
    // the same commitId resumes from the checkpoint
    spark.sparkContext.setJobGroup(jobGroup(commitId),
      s"graft commit $commitId", interruptOnCancel = true)
    val snap =
      try table.commit(staged, commitId, groups, abortAfterGroup)
      catch {
        case e: Throwable =>
          metrics.logEvent(root, s"job_failed error=${e.getClass.getSimpleName}")
          metrics.close()
          throw e
      } finally {
        spark.sparkContext.clearJobGroup()
        if (groups > 1) staged.unpersist()
      }
    val lin = table.lineage(Some(snap))
      .agg(sum("rows").as("rows"), sum("error_rows").as("errs")).collect()(0)
    metrics.rowsProcessed.add(lin.getLong(0))
    metrics.errorRows.add(lin.getLong(1))
    metrics.logEvent(root, s"commit_complete snapshot=$snap")
    metrics.close()
    Result(snap, lin.getLong(0), lin.getLong(1))
  }
}
