package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.ExtractPipeline

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` carries one entry per implemented operator from
  * SURVEY.md §2 plus the training-data-pipeline operator set;
  * SQL-expressible entries have a DuckDB oracle in `oracleSql`
  * (column names aligned on both sides — the driver sorts columns by
  * name before hashing). Extraction entries are non-SQL-expressible
  * and are covered by golden-fixture scalatests instead.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0: the full extraction pipeline over a synthesized
    * Common-Crawl-style table (the relational testdata has no binary
    * payload column, so the flagship input is generated — FIXTURES.md §1). */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.register(spark)
    ExtractPipeline.extracted(ExtractPipeline.pages(spark, 500).toDF())
      .filter(col("error").isNull && length(col("text")) > 0)
  }

  /** Every query registers the graft functions in the session it is
    * given (a no-op after the first), so a bare session works. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map { case (k, f) =>
      k -> ((s: SparkSession, d: String) => f(GraftSession.register(s), d))
    }

  def oracleSql: Map[String, String] =
    Queries.oracles
}
