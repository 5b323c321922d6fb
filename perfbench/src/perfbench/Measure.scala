package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Order-insensitive digest of a whole DataFrame: the row count plus the
  * sum of `xxhash64` over every output column. Summing the two 32-bit
  * halves separately keeps the sums clear of long overflow (ANSI mode
  * would raise). Every timed action consumes its output through this, so
  * no column can be pruned out of the measured plan. */
final case class Digest(rows: Long, lo: Long, hi: Long) {
  override def toString: String = f"$rows:$hi%x:$lo%x"
}

object Digest {
  /** The digest's aggregate columns over `cols` (in their order). */
  def aggs(cols: Seq[Column]): Seq[Column] = {
    val h = xxhash64(cols: _*)
    Seq(count(lit(1)), coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)))
  }

  def of(row: org.apache.spark.sql.Row): Digest =
    Digest(row.getLong(0), row.getLong(1), row.getLong(2))

  def of(df: DataFrame): Digest = {
    val cs = aggs(df.columns.toIndexedSeq.map(c => df.col(s"`$c`")))
    of(df.agg(cs.head, cs.tail: _*).collect()(0))
  }
}

/** Sample summaries: median, quartiles, and the highest standard
  * percentile that still has at least ten samples beyond it. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val i = pos.toInt
    if (i + 1 >= s.length) s.last else s(i) + (pos - i) * (s(i + 1) - s(i))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** (percentile, value) or None when fewer than 20 samples exist. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75, 50).find(p => xs.length * (100 - p) / 100.0 >= 10.0)
      .map(p => (p, quantile(xs, p / 100.0)))

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Time one operation and the host's CPU steal while it ran. */
  def timedOp[A](f: => A): (A, Op) = {
    val ((r, s), steal) = graft.ScalePair.withSteal(timed(f))
    (r, Op(s, steal))
  }
}

/** One timed operation: wall seconds, and the share (%) of all CPU time
  * the host stole meanwhile (-1 where /proc/stat is unreadable). The
  * steal is recorded, not filtered on: a run on a busy host shows as
  * such in its record. */
final case class Op(seconds: Double, stealPct: Double)

/** Totals of the Spark boundary, summed from listener events. A
  * difference keeps the later `peakExecMem`: a peak does not subtract. */
final case class SparkTotals(
    jobs: Long, stages: Long, tasks: Long,
    runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, peakExecMem: Long) {
  def -(o: SparkTotals): SparkTotals = SparkTotals(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, runMs - o.runMs,
    cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, spill - o.spill, peakExecMem)
}

/** Sums per-task metrics of every job the session runs. Registered only
  * in traced runs. `peakExecMem` is the largest single-task peak seen
  * since the last `resetPeak`. */
final class TotalsListener extends SparkListener {
  private val jobs, stages, tasks, runMs, cpuNs, gcMs = new AtomicLong
  private val shW, shR, spill, peak = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peak.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
    }
  }

  def resetPeak(): Unit = peak.set(0L)

  def totals: SparkTotals = SparkTotals(jobs.get, stages.get, tasks.get,
    runMs.get, cpuNs.get, gcMs.get, shW.get, shR.get, spill.get, peak.get)
}

/** In-memory spans around the benchmark's calls into each layer's public
  * functions: name, start, end, parent and run id. Disabled tracers
  * record nothing. Spans are written out once, when the run ends. */
final class Tracer(val runId: String) {
  /** Off during untraced measurement; spans are recorded only while on. */
  var enabled = false

  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val idx = spans.length
      spans += Span(name, System.nanoTime(), -1L, open.headOption.getOrElse(-1))
      open = idx :: open
      try f
      finally {
        open = open.tail
        spans(idx) = spans(idx).copy(end = System.nanoTime())
      }
    }

  /** Record a span measured elsewhere (single-thread stage timings). */
  def record(name: String, start: Long, end: Long): Unit =
    if (enabled) spans += Span(name, start, end, open.headOption.getOrElse(-1))

  /** Self time per layer (the name's first component), in seconds:
    * each span's duration minus the time its child spans cover. */
  def selfSecondsByLayer: Map[String, Double] = {
    val childNs = new Array[Long](spans.length)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.indices.groupBy(i => spans(i).name.takeWhile(_ != '.'))
      .map { case (layer, is) => layer -> is.map(i => spans(i).end - spans(i).start - childNs(i)).sum / 1e9 }
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.zipWithIndex.foreach { case (s, i) =>
      sb.append(Json.render(Map("run" -> runId, "id" -> i, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent))).append('\n')
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(name: String, start: Long, end: Long, parent: Int)
}

/** Host shape and process facts stamped on every record. */
object Host {
  private def procLine(file: String, key: String): Option[String] = {
    val p = java.nio.file.Paths.get(file)
    if (!java.nio.file.Files.exists(p)) None
    else {
      val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
      try src.getLines().find(_.startsWith(key)).map(_.stripPrefix(key).trim)
      finally src.close()
    }
  }

  private def kb(file: String, key: String): Double =
    procLine(file, key).map(_.split("\\s+")(0).toDouble).getOrElse(-1.0)

  def memTotalMb: Double = kb("/proc/meminfo", "MemTotal:") / 1024.0

  /** High-water resident set of this JVM. */
  def peakRssMb: Double = kb("/proc/self/status", "VmHWM:") / 1024.0

  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0

  /** Bytes this thread has allocated so far (HotSpot extension). */
  def threadAllocatedBytes: Long =
    java.lang.management.ManagementFactory.getThreadMXBean match {
      case b: com.sun.management.ThreadMXBean => b.getCurrentThreadAllocatedBytes
      case _ => -1L
    }
}

/** Minimal JSON rendering for the benchmark's own records. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1)
        .map { case (k, x) => render(k) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case Some(x) => render(x)
    case None => "null"
    case other => render(other.toString)
  }
}
