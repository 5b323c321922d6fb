package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Barrier

object BarrierSpec {

  /** Runs `body` with a fresh checkpoint dir on the context, so every
    * barrier in it writes a reliable checkpoint. The dir is cleared
    * afterwards (`setCheckpointDir(null)` unsets it in local mode): all
    * suites share one JVM and the later ones must keep running the
    * local path. */
  def withCheckpointDir[T](spark: SparkSession)(body: => T): T = {
    val dir = TempDirs.untilExit("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try body
    finally spark.sparkContext.setCheckpointDir(null)
  }
}

/** The failure story of `Barrier`: a lost local barrier fails by name,
  * a reliable one survives, an observed metric that never arrives ends
  * in a named error within the bound; and no other main code
  * materializes or observes. */
class BarrierSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(8, "graft-barrier-test")

  private def input: DataFrame =
    spark.range(0L, 1000L, 1L, 4).select(col("id"), (col("id") * 3).as("v"))
  private val want = (0L until 1000L).map(_ * 3).sum

  /** Materializes `input` through a barrier, then unpersists every RDD
    * the barrier persisted — the blocks a lost executor takes along.
    * Returns the barrier and how many RDDs were dropped. */
  private def barrierWithBlocksDropped(): (DataFrame, Int) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = Barrier(input)
    val blocks = (sc.getPersistentRDDs -- before).values
    blocks.foreach(_.unpersist(blocking = true))
    (out, blocks.size)
  }

  test("a local barrier whose blocks are gone fails by name, never a wrong answer") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val (out, dropped) = barrierWithBlocksDropped()
    assert(dropped > 0, "a local barrier keeps its rows as persisted blocks")
    val err = intercept[SparkException](out.agg(sum("v")).collect())
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => s"${e.getClass.getName}: ${e.getMessage}").mkString("\n")
    assert(chain.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"), chain)
  }

  test("the same read through a reliable barrier returns the right answer") {
    val got = BarrierSpec.withCheckpointDir(spark) {
      barrierWithBlocksDropped()._1.agg(sum("v")).head().getLong(0)
    }
    assert(got == want)
    assert(spark.sparkContext.getCheckpointDir.isEmpty, "the dir must be cleared")
  }

  test("an observed metric no action fires ends in a named error within the bound") {
    val (_, read) = Barrier.observe(input, "never run", max("v"))
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException](read())
    val waited = (System.nanoTime() - t0) / 1e9
    assert(err.getMessage.contains("barrier 'never run'") &&
      err.getMessage.contains("max(v)"), err.getMessage)
    assert(waited >= Barrier.MetricTimeout.toSeconds - 1 &&
      waited < Barrier.MetricTimeout.toSeconds * 2, s"waited $waited s")
  }

  test("only Barrier materializes or observes in src/main (source scan)") {
    val banned = Seq(".localCheckpoint(", ".checkpoint(", "Observation(")
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, "run from the repository root")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val offenders = for {
      f <- files(root) if f.getName.endsWith(".scala") && !f.getPath.endsWith("graft/ops/Barrier.scala")
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toList.zipWithIndex finally src.close()
      b <- banned if line.contains(b)
    } yield s"${f.getPath}:${i + 1} $b"
    assert(offenders.isEmpty,
      s"materialize and observe through graft.ops.Barrier:\n${offenders.mkString("\n")}")
  }
}
