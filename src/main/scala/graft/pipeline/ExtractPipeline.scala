package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.{PageGen, PageRow}

/** preprocess → region-extract → recognize → export as declarative
  * Dataset stages (SURVEY.md §7.3). The per-page loop of the reference
  * (main_window.py:347-385) is per-row expression evaluation inside
  * whole-stage codegen; engine parallelism (ThreadPoolExecutor,
  * ocr_parallel_ui.py:24) is Spark task parallelism.
  */
object ExtractPipeline {

  /** Synthesize the Common-Crawl-style input table (FIXTURES.md §1).
    * Generation is distributed: each task materializes only its id
    * range — at 10^12 rows this is a parallel scan, not a driver loop. */
  def pages(spark: SparkSession, n: Long): Dataset[PageRow] = {
    import spark.implicits._
    ids(spark, n).mapPartitions(_.map(id => PageGen.row(id.longValue())))
  }

  /** URL-only projection of the synthesized pages table (guide §2.3:
    * project before expensive work): hot-host detection reads nothing
    * but `url`, and generating the full row for a sampling pass pays
    * the whole HTML/PDF synthesis (deflate included) per row. Same
    * ids, same partition layout and order as `pages(n)`, so a seeded
    * Bernoulli sample selects the identical rows. */
  def pageUrls(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    ids(spark, n).mapPartitions(_.map(id => PageGen.urlOf(id.longValue()))).toDF("url")
  }

  /** The id range, and its partitioning, that `pages` and `pageUrls` share. */
  private def ids(spark: SparkSession, n: Long): Dataset[java.lang.Long] =
    spark.range(0L, n, 1L, math.min(n, spark.sparkContext.defaultParallelism.toLong * 4L).toInt)

  /** The recognize stage: one single-pass expression evaluation per
    * row → (url, [passthrough…], text, spans, lang, error). No
    * shuffle — extraction is row-local (1 row = 1 document), so this
    * scales linearly with executors at any data size. `passthrough`
    * names input columns to carry alongside (e.g. warc_ts for the
    * streaming table's time stats) — ONE projection definition for
    * every caller instead of per-caller re-inlines. */
  def extracted(pages: DataFrame, passthrough: Seq[String] = Nil): DataFrame =
    pages
      .withColumn("r", call_function("graft_extract", col("html"), col("lang")))
      .select(
        Seq(col("url")) ++ passthrough.map(col) ++ Seq(
          col("r.text").as("text"),
          col("r.spans").as("spans"),
          col("lang"),
          col("r.error").as("error")): _*)

  /** Ingest WARC shards (the Common-Crawl container, graft.warc.Warc)
    * straight into the recognize stage: one binaryFile task per shard,
    * response records extracted row-locally, container-level failures
    * (a malformed file) pass through as error rows with extraction
    * fields null — the same error-as-row discipline as extraction
    * itself. lang rides the HTTP Content-Language header. */
  def fromWarc(spark: org.apache.spark.sql.SparkSession, pathGlob: String): DataFrame = {
    graft.GraftSession.register(spark)
    val rows = graft.warc.Warc.read(spark, pathGlob)
    rows
      .withColumn("r", when(col("error").isNull,
        call_function("graft_extract", col("html"), col("lang"))))
      .select(col("url"), col("warc_ts"),
        col("r.text").as("text"), col("r.spans").as("spans"), col("lang"),
        coalesce(col("error"), col("r.error")).as("error"))
  }

  /** bucket = pmod(xxhash64(url), B) — the export stage's layout key;
    * deterministic, so re-runs and resumes address the same bucket set.
    * URLs are unique, so a hot host cannot skew a bucket. */
  def bucketOf(buckets: Int): Column =
    pmod(xxhash64(col("url")), lit(buckets)).cast("int")

  /** `bucketOf` plus a salt column (north rule: "hash-bucketed by url
    * with salting for skewed hosts"): nonzero only for rows whose host
    * is in the hot set, spreading a skewed host across `salts`
    * sub-splits of a host-keyed exchange. Extraction is row-local, so
    * salting can never change results (SURVEY.md §7.4).
    */
  def withBucket(df: DataFrame, buckets: Int, hotHosts: Seq[String], salts: Int): DataFrame = {
    val host = regexp_extract(col("url"), "^https?://([^/]+)/", 1)
    df.withColumn("bucket", bucketOf(buckets))
      .withColumn(
        "salt",
        when(host.isin(hotHosts: _*), pmod(xxhash64(col("url"), lit(1)), lit(salts)).cast("int"))
          .otherwise(lit(0)))
  }

  /** Cheap hot-host pre-pass on a seeded random sample: hosts holding
    * more than `threshold` of sampled rows are salted (SURVEY.md §7.4
    * — broadcastable small set, computed once per job).
    *
    * `sample(fraction)` — NOT `limit(n)`: limit takes the FIRST n rows,
    * which at cluster scale is one partition of one file, silently
    * degrading detection to "hosts hot in the first split". A seeded
    * Bernoulli sample sees every partition. `sampleN` is the target
    * sample size used to derive the fraction from a countable upper
    * bound supplied by the caller (or a cheap count). */
  def hotHosts(pages: DataFrame, sampleN: Long, threshold: Double,
               totalHint: Long = -1L): Seq[String] = {
    val host = regexp_extract(col("url"), "^https?://([^/]+)/", 1)
    val totalRows = if (totalHint > 0) totalHint else pages.count()
    val fraction = math.min(1.0, sampleN.toDouble / math.max(1L, totalRows).toDouble)
    val sampled = pages.sample(withReplacement = false, fraction, seed = 42L)
      .select(host.as("host"))
    // ONE job (r6): the sample size is the sum of the per-host counts,
    // so the old separate `sampled.count()` action re-ran the sampling
    // pass (over full generated rows, a whole synthesis pass) for a
    // number the groupBy already knows. Identical hot set.
    val counts = sampled.groupBy("host").count().collect()
    val total = math.max(1L, counts.map(_.getLong(1)).sum)
    counts.filter(_.getLong(1) > threshold * total)
      .map(_.getString(0)).toSeq.sorted
  }
}
