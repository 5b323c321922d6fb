package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  *   graft.Verify <sf-dir> <out-dir> [query …]
  *
  * With query names it runs only those, and oracle_sql.json holds only
  * their oracles, so one query can be DuckDB-compared in seconds instead
  * of a full pass; an unknown name fails by name before Spark starts:
  *
  *   sbt -batch "runMain graft.Verify testdata/sf0.01 probe_out t22_dsir_select"
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Seq(sfDir, outDir, names @ _*) = args.toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    def chosen[V](m: Map[String, V]): Map[String, V] =
      if (names.isEmpty) m else m.filter { case (k, _) => names.contains(k) }
    val spark = GraftSession.local(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors()), "graft-verify")
    new java.io.File(outDir).mkdirs()
    chosen(SparkEntry.queries).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(chosen(SparkEntry.oracleSql).asJava))
    spark.stop()
  }
}
