package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, ScalePair}

/** What one workload's timed phase produced: its repeated end-to-end
  * operations, and documents completed per second of one operation
  * (median over the operations). */
final case class Measured(ops: Seq[Op], docsPerS: Double)

/** One benchmark workload. `Main` calls `stage` several times (only
  * the last staged input is used), then `warmup` once, then `measure`
  * (twice in a traced run: tracing off, then on), then `layers` in a
  * traced run only. */
trait Workload {
  def stage(round: Int): Unit
  def warmup(): Unit
  def measure(seconds: Double): Measured
  def layers(): Unit
}

/** State shared by a run: session, seed, work directory, tracer,
  * correctness tally and the metrics the run reports. */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int,
                val work: Path, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  var listener: Option[TotalsListener] = None

  /** The workload's own end-to-end figures, printed with their units. */
  val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics of a traced run. */
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def dir(name: String): String = work.resolve(name).toString

  /** Count one checked item (or `n` of them) and whether it was right. */
  def check(what: String, n: Long = 1L)(bad: => Long): Unit = {
    attempted += n
    val wrong =
      try bad
      catch {
        case e: Throwable =>
          System.err.println(s"perfbench: $what threw: $e")
          n
      }
    if (wrong != 0L) {
      failed += wrong
      System.err.println(s"perfbench: CHECK FAILED: $what ($wrong of $n wrong)")
    }
  }

  def reportTiming(name: String, secs: Seq[Double], scale: Double, unit: String): Unit = {
    report(s"${name}_p50") = (Stats.median(secs) * scale, unit)
    Stats.tail(secs).foreach { case (p, v) => report(s"${name}_tail_p$p") = (v * scale, unit) }
    report(s"${name}_samples") = (secs.length.toDouble, "count")
  }

  def sparkTotals: SparkTotals = listener match {
    case Some(l) =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      l.totals
    case None => SparkTotals(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  }

  /** Directory size in bytes (data plus metadata of a table root). */
  def bytesUnder(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
  }
}

object Main {

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(key)
    if (i < 0 || i + 1 >= args.length) throw new IllegalArgumentException(s"missing $key")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val work = Paths.get(arg(args, "--work")).toAbsolutePath
    val cores = arg(args, "--cores").toInt
    val source = arg(args, "--source")
    val spansOut = Paths.get(arg(args, "--spans"))
    Files.createDirectories(work)

    val (spark, sessionS) = Stats.timed(GraftSession.local(cores, "perfbench"))
    val ctx = new Ctx(spark, seed, cores, work, new Tracer(s"$workload-$seed"))
    val w: Workload = workload match {
      case "extract_scan"  => new ExtractScan(ctx)
      case "commit_job"    => new CommitJob(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up is staged three times; its median (plus the one session
    // start) is setup_s, so work moved into set-up shows
    val stageS = (0 until 3).map(r => Stats.timed(w.stage(r))._2)
    val (_, warmS) = Stats.timed(w.warmup())

    val e2e = mutable.LinkedHashMap.empty[String, Double]
    var ops = Seq.empty[Op]
    val (stealPct, selfByLayer) =
      if (!trace) {
        val (m, steal) = ScalePair.withSteal(w.measure(seconds))
        e2e("docs_per_s") = m.docsPerS
        ops = m.ops
        (steal, Map.empty[String, Double])
      } else {
        val (untraced, steal0) = ScalePair.withSteal(w.measure(seconds / 2))
        val l = new TotalsListener
        spark.sparkContext.addSparkListener(l)
        ctx.listener = Some(l)
        ctx.tracer.enabled = true
        val before = ctx.sparkTotals
        l.resetPeak()
        val (traced, steal1) = ScalePair.withSteal(w.measure(seconds / 2))
        val d = ctx.sparkTotals - before
        ops = untraced.ops ++ traced.ops
        val n = math.max(1, traced.ops.length).toDouble
        ctx.layer ++= Seq(
          "trace_overhead" ->
            Stats.median(traced.ops.map(_.seconds)) / Stats.median(untraced.ops.map(_.seconds)),
          "spark.executor_run_s" -> d.runMs / 1e3 / n,
          "spark.executor_cpu_s" -> d.cpuNs / 1e9 / n,
          "spark.gc_s" -> d.gcMs / 1e3 / n,
          "spark.gc_share" -> (if (d.runMs > 0) d.gcMs.toDouble / d.runMs else 0.0),
          "spark.jobs" -> d.jobs / n,
          "spark.stages" -> d.stages / n,
          "spark.tasks" -> d.tasks / n,
          "spark.shuffle_write_bytes" -> d.shuffleWrite / n,
          "spark.shuffle_read_bytes" -> d.shuffleRead / n,
          "spark.spill_bytes" -> d.spill / n,
          "spark.peak_exec_mem_bytes" -> d.peakExecMem.toDouble)
        w.layers()
        StageMicro.run(ctx)
        ((steal0 + steal1) / 2, ctx.tracer.selfSecondsByLayer)
      }

    val setupS = sessionS + Stats.median(stageS)
    if (!trace) {
      e2e("setup_s") = setupS
      e2e("peak_rss_mb") = Host.peakRssMb
    } else {
      Layers.all.foreach(n => if (!ctx.layer.contains(n)) ctx.layer(n) = 0.0)
      ctx.tracer.write(spansOut)
    }
    ctx.report("failed_share") =
      (if (ctx.attempted > 0) ctx.failed.toDouble / ctx.attempted else 1.0, "ratio")

    val record = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "source" -> source, "nproc" -> cores,
      "mem_total_mb" -> Host.memTotalMb, "jvm_max_heap_mb" -> Host.maxHeapMb,
      "steal_pct" -> stealPct, "session_s" -> sessionS, "stage_s" -> stageS,
      "warmup_s" -> warmS, "op_s" -> ops.map(_.seconds), "op_steal_pct" -> ops.map(_.stealPct),
      "peak_rss_mb" -> Host.peakRssMb,
      "report" -> ctx.report.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "self_s_by_layer" -> selfByLayer)
    println("PERFBENCH_RECORD " + Json.render(record))
    val result = Map(
      "correct" -> (ctx.failed == 0L && ctx.attempted > 0L),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> (if (trace) ctx.layer.toMap else e2e.toMap))
    println("PERFBENCH_RESULT " + Json.render(result))
    spark.stop()
  }
}
