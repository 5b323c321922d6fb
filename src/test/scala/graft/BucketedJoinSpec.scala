package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Co-located joins via bucketing (SURVEY.md §7.4; builder brief:
  * "bucketing for co-located joins") — two tables bucketed on the same
  * key join WITHOUT a shuffle exchange on either side. */
class BucketedJoinSpec extends AnyFunSuite {

  // suites share one session per JVM — configure at runtime, not via
  // builder configs (which are ignored on getOrCreate of an existing
  // session)
  lazy val spark: SparkSession = GraftSession.local(8, "graft-bucketed-test")

  test("bucketBy tables join with zero shuffle exchanges") {
    val sf = "/root/testdata/sf0.001"
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
    val wh = TempDirs.untilExit("graft-warehouse").toString
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    spark.read.parquet(s"$sf/lineitem.parquet")
      .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_b")
      .saveAsTable("li_b")
    spark.read.parquet(s"$sf/orders.parquet")
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/o_b")
      .saveAsTable("o_b")
    val joined = spark.table("li_b")
      .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    joined.collect() // materialize final AQE plan
    val plan = joined.queryExecution.executedPlan.toString
    // the JOIN itself must need no exchange: buckets are co-located.
    // (the groupBy after it may exchange — count exchanges before the join)
    // AQE appends an "== Initial Plan ==" copy; inspect the final plan only
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val joinIdx = finalPlan.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, s"expected a sort-merge join:\n${finalPlan.take(600)}")
    val afterJoin = finalPlan.substring(joinIdx)
    assert(!afterJoin.contains("Exchange hashpartitioning"),
      s"join inputs must not shuffle (bucket co-location):\n$afterJoin")
    assert(afterJoin.contains("Bucketed: true"), "scans must be bucket-aware")
    // correctness unchanged vs unbucketed
    val expected = spark.read.parquet(s"$sf/lineitem.parquet")
      .join(spark.read.parquet(s"$sf/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }
}
