package graft

/** N-vs-4N scaling measurement with HONEST executor emulation.
  *
  * BASELINE.json demands ≥0.8 throughput scaling efficiency from N to
  * 4N EXECUTORS. This sandbox has no cluster, so round 1 measured
  * local[8] vs local[32] inside ONE JVM — which under-reports real
  * executor scaling: all 32 "executor" threads share a single G1 young
  * gen, and the allocation-heavy extraction loop turns that into a GC
  * convoy (~9 s of young-GC pauses over a ~30 s run; a zero-allocation
  * burn scales at 0.93 on the same host — BASELINE.md round 1).
  *
  * This harness emulates executors the way a cluster actually runs
  * them: N = one executor JVM with its own heap; 4N = FOUR such JVMs,
  * each with its own heap and GC, processing disjoint file slices of
  * the same staged input concurrently. The leg shape (cores and heap
  * per JVM, CPU pinning) comes from the host, see [[shape]].
  * Efficiency = T_N / (4 × T_4N), with T_4N = the slowest leg (all legs
  * start on a shared barrier after warmup). Byte-identity across
  * parallelism levels is asserted by exact checksum: the four legs'
  * partial xxhash64 sums must add to the single leg's total.
  *
  * Standalone: `sbt "runMain graft.ScalePair <stagedParquetDir>"`.
  * Bench calls `run(...)` and folds the numbers into its JSON line.
  */
object ScalePair {

  /** Host steal telemetry from /proc/stat's aggregate cpu line:
    * (stealTicks, totalTicks). This host shows multi-minute steal
    * bursts that poisoned the round-2 driver bench capture ~40× low
    * (VERDICT r2 "What's wrong" #2); recording the steal delta around
    * every measured phase makes a poisoned capture machine-detectable
    * in the BENCH json itself. Returns (-1,-1) where /proc/stat is
    * unavailable. */
  def stealTicks(): (Long, Long) = {
    try {
      val src = scala.io.Source.fromFile("/proc/stat", "UTF-8")
      try {
        val line = src.getLines().find(_.startsWith("cpu ")).get
        // fields: user nice system idle iowait irq softirq steal
        // [guest guest_nice] — guest time is already folded into
        // user/nice, so summing beyond the first 8 double-counts it
        // and deflates the steal percentage
        val f = line.trim.split("\\s+").drop(1).map(_.toLong).take(8)
        val steal = if (f.length > 7) f(7) else 0L
        (steal, f.sum)
      } finally src.close()
    } catch { case _: Exception => (-1L, -1L) }
  }

  /** Steal percentage over a window: run `f`, return (result, steal%
    * of total cpu ticks in the window; -1 if unreadable). */
  def withSteal[A](f: => A): (A, Double) = {
    val (s0, t0) = stealTicks()
    val r = f
    val (s1, t1) = stealTicks()
    val pct =
      if (s0 < 0 || s1 < 0 || t1 <= t0) -1.0
      else 100.0 * (s1 - s0).toDouble / (t1 - t0).toDouble
    (r, pct)
  }

  /** A pair that cannot be measured on this host or whose leg failed. */
  final class ScaleError(msg: String) extends IllegalStateException(msg)

  /** Executor stand-ins on the 4N side: the 4 that "4N" names. */
  final val Legs = 4
  /** Timed passes per leg (after two warmups); the leg reports the median. */
  final val Reps = 3
  /** Heap per leg where memory allows (a 32-CPU, 8-core-executor shape). */
  final val MaxHeapMb = 6144L
  /** Upper bound on each leg of a phase, from fork to exit. */
  private final val LegTimeoutSec = 1800L

  /** The pair's shape: `legs` JVMs of `coresPerLeg` CPUs and `heapMb`
    * of heap each, leg i pinned to `cpuRanges(i)` (a `taskset` list). */
  final case class Shape(allowedCpus: Int, memMb: Long, legs: Int,
                         coresPerLeg: Int, heapMb: Long, cpuRanges: Seq[String]) {
    def json: String =
      s""""allowed_cpus":$allowedCpus,"mem_mb":$memMb,"legs":$legs,"cores_per_executor":$coresPerLeg,"heap_mb":$heapMb"""
  }

  /** The shape rule: the allowed CPUs split into `Legs` disjoint runs
    * in mask order, and a heap of `MaxHeapMb` capped so that all legs
    * together take at most half of physical memory. */
  def shape(allowed: Seq[Int], memBytes: Long): Shape = {
    if (allowed.size < Legs) throw new ScaleError(
      s"scale pair needs at least $Legs allowed CPUs (one per leg), this process may use ${allowed.size}")
    val cores = allowed.size / Legs
    val heapMb = math.min(MaxHeapMb, memBytes / 2 / Legs / (1L << 20))
    Shape(allowed.size, memBytes >> 20, Legs, cores, heapMb,
      allowed.grouped(cores).take(Legs).map(cpuList).toSeq)
  }

  /** `shape` of this process: its CPU mask and the physical memory. */
  def hostShape(): Shape = {
    val mask = scala.util.Using(scala.io.Source.fromFile("/proc/self/status", "UTF-8"))(
      _.getLines().collectFirst { case l if l.startsWith("Cpus_allowed_list:") =>
        parseCpuList(l.stripPrefix("Cpus_allowed_list:")) }).toOption.flatten
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    shape(mask.getOrElse(0 until Runtime.getRuntime.availableProcessors()),
      os.getTotalMemorySize)
  }

  /** A kernel CPU list ("0-3,8,10-11") → CPU ids in order. */
  def parseCpuList(s: String): Seq[Int] =
    s.trim.split(",").toSeq.filter(_.nonEmpty).flatMap { part =>
      val ends = part.split("-").map(_.trim.toInt)
      ends.head to ends.last
    }

  /** CPU ids → a kernel CPU list of "a-b" runs ("0-0" for one CPU). */
  private def cpuList(cpus: Seq[Int]): String =
    cpus.foldLeft(List.empty[(Int, Int)]) {
      case ((a, b) :: runs, c) if c == b + 1 => (a, c) :: runs
      case (runs, c) => (c, c) :: runs
    }.reverse.map { case (a, b) => s"$a-$b" }.mkString(",")

  final case class Leg(docs: Long, seconds: Double, checksum: java.math.BigDecimal)

  /** @param efficiency   weak-scaling: one executor's time on its slice
    *   alone vs the SAME slice when 4 executors run concurrently —
    *   t_alone/t_concurrent == thr(4N)/(4·thr(N)) since per-executor
    *   work is identical in both legs. This is the executor-scaling
    *   number a real cluster reports for an embarrassingly parallel
    *   job (no shuffle crosses executors in the extract stage).
    * @param strongEfficiency same-total-input shape: one executor over
    *   ALL docs vs 4 over quarters — additionally penalized by
    *   fixed-per-job overhead amortization (the single leg amortizes
    *   planning/scheduling 4× better), so it UNDERSTATES executor
    *   scaling; reported for completeness. ADVISORY ONLY: `valid`
    *   deliberately does not gate on it — the full leg pushes 4× the
    *   data through the same fixed heap, so GC superlinearity alone
    *   produces strong > 1 on a clean host (observed in 9/36 clean
    *   history pairs, up to 1.68), and a steal burst hitting only the
    *   full leg skews it the same direction. Bench therefore computes
    *   the strong headline over the (0, 1.05] subset and labels it
    *   advisory in the JSON rather than discarding weakly-valid runs.
    * @param checksumMatch the 4 legs' xxhash64 partial sums add up to
    *   the full-input leg's sum exactly (byte-identity across
    *   parallelism levels).
    * @param stealPct host steal (% of cpu ticks) over the whole pair
    *   window — a high value marks the RUN as untrustworthy, not the
    *   engine (see stealTicks); per-leg windows in stealAlonePct /
    *   steal4nPct / stealFullPct.
    * @param shape the host-derived leg shape the pair ran with (None
    *   for a Result not measured by `run`). */
  final case class Result(
      nDocsPerSec: Double, n4DocsPerSec: Double, efficiency: Double,
      strongEfficiency: Double, checksumMatch: Boolean,
      tAlone: Double, t4N: Double, tFull: Double, stealPct: Double = -1.0,
      stealAlonePct: Double = -1.0, steal4nPct: Double = -1.0,
      stealFullPct: Double = -1.0, shape: Option[Shape] = None) {
    /** A physically meaningful weak-scaling measurement: >1.05 means
      * the alone leg was steal-hit (the measurement is invalid, not
      * that scaling is superlinear); ≤0 is a degenerate capture; and a
      * run whose legs did not byte-identically reproduce the input
      * (checksum mismatch) measured the wrong computation entirely.
      *
      * Internal-consistency gate (r6 — VERDICT r5 "what's wrong" #1:
      * a pair with t_4N 12.25 s vs t_full 6.88 s passed as valid AND
      * clean and dragged every median it touched): t_4N ≤ 1.1·t_full.
      * Four concurrent quarter-legs taking longer than ONE leg over
      * the FULL input is impossible as genuine contention — it marks
      * host-level interference the steal counters did not see. (The
      * t_4N-vs-t_alone direction is already bounded by the efficiency
      * ≤ 1.05 cap — eff = t_alone/t_4N.) Uses times every history row
      * already records. */
    def valid: Boolean =
      efficiency > 0.0 && efficiency <= 1.05 && checksumMatch &&
        t4N <= tFull * 1.1
  }

  @volatile private var spinSink: Long = 0L // defeats loop elision

  /** Burn every core for `ms` — the probe load for [[awaitCalm]].
    * Measured r5: this host's steal is LOAD-DEPENDENT — an idle probe
    * window reads 0.000% while a simultaneous 32-core burst reads
    * 2-10% (six consecutive standalone pairs pre-flighted at ~0% idle
    * steal all landed on 2.3-9.1% 4N-window steal). An idle probe is
    * therefore structurally blind to exactly the weather that poisons
    * the 4N leg; probing under full-width load measures the quantity
    * the measurement will experience. */
  private def busySpin(ms: Long): Unit = {
    val deadline = System.nanoTime() + ms * 1000000L
    val ts = (1 to Runtime.getRuntime.availableProcessors()).map { _ =>
      val t = new Thread(() => {
        var x = 0L
        while (System.nanoTime() < deadline) x += 1
        spinSink = x
      })
      t.start(); t
    }
    ts.foreach(_.join())
  }

  /** Steal% at or below which the host counts as calm. */
  final val CalmStealPct = 0.3

  /** Pre-flight steal gate (VERDICT r4 #7): probe host steal under full
    * load for 2 s and, while it is above `CalmStealPct`, back off 15 s
    * and probe again, for at most 120 s. Returns the last probe's
    * steal%, so the caller can record whether it gave up waiting.
    * This raises the fraction of pairs that land in clean windows —
    * it never edits the record (poisoned pairs that slip through are
    * still appended and self-identify via their steal markers). */
  def awaitCalm(): Double = {
    val t0 = System.nanoTime()
    var last = withSteal(busySpin(2000))._2
    while (last > CalmStealPct && (System.nanoTime() - t0) / 1e6 < 120000) {
      Thread.sleep(15000)
      last = withSteal(busySpin(2000))._2
    }
    last // -1 when /proc/stat is unreadable: nothing to wait on
  }

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Fork one ScaleLeg JVM over `files`; returns the running process.
    * Every leg gets the same per-executor heap + GC flags AND a
    * `coresPerLeg`-CPU view of the machine (`taskset` pinning to its
    * own CPU run + `-XX:ActiveProcessorCount`), exactly like a cluster
    * executor in a cpu-limited container — without this each JVM sizes
    * its GC/JIT/common pools for all host CPUs and four legs thrash
    * each other (measured on 32 CPUs: leg medians 3–14.5 s for
    * identical slices). */
  private def fork(files: Seq[String], tag: String, dir: java.io.File,
                   shape: Shape, cpuRange: String): Process = {
    val fileList = new java.io.File(dir, s"$tag.files")
    val w = new java.io.PrintWriter(fileList, "UTF-8")
    files.foreach(w.println); w.close()
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java").getPath
    val pin =
      if (new java.io.File("/usr/bin/taskset").exists()) Seq("/usr/bin/taskset", "-c", cpuRange)
      else Nil
    // -Xms=-Xmx + AlwaysPreTouch: commit and zero the whole heap at
    // startup (Spark sets executor Xms=Xmx for the same reason) —
    // otherwise the first measured reps pay heap-growth page faults
    // (observed: leg rep sequences like 44s→9s→3s without this)
    val cmd = pin ++ Seq(javaBin) ++ addOpens ++ Seq(
      s"-Xmx${shape.heapMb}m", s"-Xms${shape.heapMb}m", "-XX:+AlwaysPreTouch",
      "-XX:MaxGCPauseMillis=1000", "-XX:G1HeapRegionSize=16m",
      s"-XX:ActiveProcessorCount=${shape.coresPerLeg}",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", System.getProperty("java.class.path"),
      "graft.ScaleLeg", fileList.getPath, s"$dir/$tag.ready",
      s"$dir/$tag.start", s"$dir/$tag.result")
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(new java.io.File(dir, s"$tag.log"))
    pb.start()
  }

  /** Wait until leg `p` has touched `ready`. Fails by name as soon as
    * the process has exited without it, or at `deadlineNs`. */
  private[graft] def awaitReady(p: Process, ready: java.io.File, deadlineNs: Long): Unit =
    while (!ready.exists()) {
      if (!p.isAlive)
        throw new ScaleError(s"scale leg exited rc=${p.exitValue()} before ready: ${ready.getName}")
      if (System.nanoTime() > deadlineNs)
        throw new ScaleError(s"scale leg not ready within $LegTimeoutSec s: ${ready.getName}")
      Thread.sleep(20)
    }

  /** Run one leg per slice concurrently, leg i pinned to the shape's
    * i-th CPU run: fork all, wait until all are warm, release them on
    * one barrier, collect their results. A leg that fails or outlives
    * the timeout fails the call; no leg process outlives it. */
  private def runLegs(slices: Seq[Seq[String]], tag: String, work: java.io.File,
                      shape: Shape): Seq[Leg] = {
    val deadline = System.nanoTime() + LegTimeoutSec * 1000000000L
    val tags = slices.indices.map(i => s"$tag$i")
    val procs = slices.indices.map(i => fork(slices(i), tags(i), work, shape, shape.cpuRanges(i)))
    try {
      procs.zip(tags).foreach { case (p, t) => awaitReady(p, new java.io.File(work, s"$t.ready"), deadline) }
      tags.foreach(t => new java.io.File(work, s"$t.start").createNewFile()) // barrier release
      procs.zip(tags).map { case (p, t) =>
        val left = math.max(0L, deadline - System.nanoTime())
        if (!p.waitFor(left, java.util.concurrent.TimeUnit.NANOSECONDS))
          throw new ScaleError(s"scale leg timed out after $LegTimeoutSec s: $t")
        if (p.exitValue() != 0) throw new ScaleError(s"scale leg failed rc=${p.exitValue()}: $t")
        val Array(docs, secs, sum) =
          java.nio.file.Files.readString(new java.io.File(work, s"$t.result").toPath).trim.split(" ")
        Leg(docs.toLong, secs.toDouble, new java.math.BigDecimal(sum))
      }
    } finally procs.foreach(_.destroyForcibly())
  }

  /** Run the pair over an already-staged parquet directory. */
  def run(stageDir: String): Result = {
    val shape = hostShape()
    val (r, steal) = withSteal(runInner(stageDir, shape))
    r.copy(stealPct = steal, shape = Some(shape))
  }

  private def runInner(stageDir: String, shape: Shape): Result = {
    val files = new java.io.File(stageDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.toSeq
    require(files.size >= Legs, s"need ≥$Legs staged files, found ${files.size}")
    val work = java.nio.file.Files.createTempDirectory("graft-scale").toFile
    val slices = files.zipWithIndex.groupBy(_._2 % Legs).toSeq.sortBy(_._1)
      .map(_._2.map(_._1))

    // per-phase steal windows: a burst that hits only the 4N window
    // (observed: efficiency 0.48 with the pair-average steal at 0.4%)
    // is identifiable from the record without replaying the run.
    // N side (weak scaling): ONE executor-JVM over slice 0, alone;
    // 4N side: one executor-JVM per slice, each on its own CPU run;
    // full-input leg: strong-shape baseline + global checksum
    val ((alone, stealAlone), (legsR, steal4n), (full, stealFull)) =
      try (withSteal(runLegs(Seq(slices.head), "alone", work, shape).head),
        withSteal(runLegs(slices, "m", work, shape)),
        withSteal(runLegs(Seq(files), "full", work, shape).head))
      finally {
        // each leg's per-rep times go to stderr before the work dir goes
        work.listFiles().filter(_.getName.endsWith(".log")).sortBy(_.getName).foreach { log =>
          new String(java.nio.file.Files.readAllBytes(log.toPath), "UTF-8").linesIterator
            .filter(_.startsWith("[scale-leg] reps:"))
            .foreach(l => System.err.println(s"${log.getName.stripSuffix(".log")} $l"))
        }
        org.apache.commons.io.FileUtils.deleteQuietly(work)
      }

    val t4 = legsR.map(_.seconds).max // wall = slowest executor
    val docs = full.docs
    val sum4 = legsR.map(_.checksum).reduce(_.add(_))
    Result(
      nDocsPerSec = alone.docs / alone.seconds,
      n4DocsPerSec = docs / t4,
      efficiency = alone.seconds / t4, // same slice 0: alone vs concurrent
      strongEfficiency = (docs / t4) / (Legs * (docs / full.seconds)),
      checksumMatch = sum4.compareTo(full.checksum) == 0 &&
        legsR.map(_.docs).sum == docs,
      tAlone = alone.seconds, t4N = t4, tFull = full.seconds,
      stealAlonePct = stealAlone, steal4nPct = steal4n, stealFullPct = stealFull)
  }

  /** One cumulative-record JSONL line per pair run — shared by Bench's
    * in-capture appends and the standalone `main` below (which prints
    * it too), so a standalone run reaches the committed history
    * instead of evaporating on stdout. Carries the host shape the pair
    * ran with; the two per-leg doc rates ride along for the turbo-skew
    * diagnosis BASELINE.md describes (the honest summary is the pair
    * of rates, not the ratio alone). */
  def historyLine(r: Result, benchDocs: Long): String = {
    val shape = r.shape.fold("")(_.json + ",")
    f"""{"ts_ms":${System.currentTimeMillis()},$shape"bench_docs":$benchDocs,"efficiency":${r.efficiency}%.4f,"strong_efficiency":${r.strongEfficiency}%.4f,"n_docs_per_sec":${r.nDocsPerSec}%.1f,"n4_docs_per_sec":${r.n4DocsPerSec}%.1f,"t_alone":${r.tAlone}%.3f,"t_4n":${r.t4N}%.3f,"t_full":${r.tFull}%.3f,"checksum_match":${r.checksumMatch},"steal_pct":${r.stealPct}%.3f,"steal_alone_pct":${r.stealAlonePct}%.3f,"steal_4n_pct":${r.steal4nPct}%.3f,"steal_full_pct":${r.stealFullPct}%.3f,"valid":${r.valid}}"""
  }

  /** Append lines to the cumulative record (best-effort — a read-only
    * checkout must not fail the measurement that produced the data). */
  def appendHistory(lines: Seq[String],
                    path: String = sys.env.getOrElse("SPARK_GRAFT_HISTORY",
                      "scaling_history.jsonl")): Unit =
    try {
      val w = new java.io.FileWriter(path, true)
      try lines.foreach(l => w.write(l + System.lineSeparator()))
      finally w.close()
    } catch { case e: Exception =>
      System.err.println(s"[scalepair] history append failed: ${e.getMessage}")
    }

  def main(args: Array[String]): Unit = {
    val stage = args.headOption.getOrElse("/tmp/graft-bench-pages-480000")
    // same loaded-probe pre-flight Bench uses before its pairs
    val pre = awaitCalm()
    System.err.println(f"[scalepair] pre-flight loaded-steal $pre%.3f%%")
    val r = run(stage)
    // the staged dir is named .../graft-bench-pages-<nDocs> by Bench
    val nDocs = "([0-9]+)$".r.findFirstIn(stage).map(_.toLong).getOrElse(480000L)
    val line = historyLine(r, benchDocs = nDocs)
    appendHistory(Seq(line))
    println(line)
  }
}
