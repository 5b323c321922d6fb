package graft

import org.apache.spark.sql.functions._

import graft.pipeline.ExtractPipeline

/** Child-JVM worker for the N-vs-4N scaling measurement (ScalePair).
  *
  * One leg = one EXECUTOR stand-in: its own JVM, own heap, own GC,
  * `local[cores]` threads — the honest sandbox analogue of a cluster
  * executor (a single shared-heap JVM at local[32] under-reports
  * scaling because all "executors" contend for one young gen — see
  * BASELINE.md round-1 measurement notes). `cores` is this JVM's
  * `availableProcessors`, which the parent sets with
  * `-XX:ActiveProcessorCount`.
  *
  * Protocol (file-based, parent = ScalePair):
  *   args = fileListFile readyFile startFile resultFile
  *   1. build session, read assigned parquet files, run two warmup passes
  *   2. touch readyFile; busy-wait for startFile (parent flips it when
  *      every leg is warm → all legs measure the same wall window)
  *   3. run `ScalePair.Reps` timed extraction passes; median
  *   4. write "docs seconds checksum" to resultFile
  * The checksum (sum of xxhash64(url, text) as decimal) makes the
  * byte-identity claim checkable ACROSS parallelism levels: the 4-leg
  * partial sums must add up to the 1-leg total exactly.
  */
object ScaleLeg {
  def main(args: Array[String]): Unit = {
    val Array(fileListFile, readyFile, startFile, resultFile) = args
    val files = scala.io.Source.fromFile(fileListFile, "UTF-8").getLines().toSeq
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors(), "graft-scale-leg")

    def pass(): (Long, java.math.BigDecimal) = {
      val row = ExtractPipeline.extracted(spark.read.parquet(files: _*))
        .agg(
          count(lit(1)).as("docs"),
          sum(xxhash64(col("url"), coalesce(col("text"), lit("∅")))
            .cast("decimal(38,0)")).as("checksum"))
        .collect()(0)
      (row.getLong(0), row.getDecimal(1))
    }

    pass(); pass() // warmup ×2: JIT tiers + codegen + page cache
    val ready = new java.io.File(readyFile)
    ready.createNewFile()
    val start = new java.io.File(startFile)
    while (!start.exists()) Thread.sleep(5)

    val timings = (1 to ScalePair.Reps).map { _ =>
      val t0 = System.nanoTime()
      val (docs, sum) = pass()
      ((System.nanoTime() - t0) / 1e9, docs, sum)
    }
    println(s"[scale-leg] reps: ${timings.map(t => f"${t._1}%.2f").mkString(" ")}")
    val median = timings.sortBy(_._1).apply(timings.length / 2)
    val out = new java.io.PrintWriter(resultFile, "UTF-8")
    out.println(s"${median._2} ${median._1} ${median._3}")
    out.close()
    spark.stop()
  }
}
