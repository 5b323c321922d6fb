package graft

/** Single-query drive for fast oracle iteration: runs ONE SparkEntry
  * query and dumps its result parquet + oracle SQL, so a new query can
  * be DuckDB-compared in seconds instead of a full graft.Verify pass.
  *
  *   sbt -batch "Test/runMain graft.QueryProbe t22_dsir_select \
  *     /root/testdata/sf0.01 /tmp/probe_out"
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val (name, sfDir, outDir) = (args(0), args(1), args(2))
    val spark = GraftSession.local(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors()), "graft-query-probe")
    SparkEntry.queries(name)(spark, sfDir)
      .write.mode("overwrite").parquet(s"$outDir/$name")
    SparkEntry.oracleSql.get(name).foreach { sql =>
      val w = new java.io.PrintWriter(s"$outDir/$name.sql")
      w.print(sql); w.close()
    }
    println(s"PROBE_OK $name")
    spark.stop()
  }
}
