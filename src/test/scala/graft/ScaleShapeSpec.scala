package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scaling pair's host-derived shape and its leg runner's
  * ready-wait: the pair must size itself from the CPUs and memory it
  * may use, and a leg that dies before it is warm must fail the pair
  * by name instead of hanging it. */
class ScaleShapeSpec extends AnyFunSuite {
  private val GB = 1000L * 1000 * 1000

  test("4 allowed CPUs and 16 GB: four 1-core legs within half the memory") {
    val s = ScalePair.shape(0 to 3, 16 * GB)
    assert(s.legs == 4 && s.coresPerLeg == 1)
    assert(s.cpuRanges == Seq("0-0", "1-1", "2-2", "3-3"))
    assert(s.legs * s.heapMb * (1L << 20) <= 8 * GB)
  }

  test("32 CPUs and 128 GB keep the 8-core / 6 GiB executor shape") {
    val s = ScalePair.shape(0 to 31, 128 * GB)
    assert(s.coresPerLeg == 8 && s.heapMb == 6144)
    assert(s.cpuRanges == Seq("0-7", "8-15", "16-23", "24-31"))
  }

  test("CPU runs are drawn from the allowed mask, not from CPU 0") {
    assert(ScalePair.shape(4 to 7, 16 * GB).cpuRanges == Seq("4-4", "5-5", "6-6", "7-7"))
    val mask = ScalePair.parseCpuList("0-1,8-9,12,14-15\n")
    assert(mask == Seq(0, 1, 8, 9, 12, 14, 15))
    assert(ScalePair.shape(mask, 16 * GB).cpuRanges == Seq("0-0", "1-1", "8-8", "9-9"))
    assert(ScalePair.shape((0 to 1) ++ (8 to 13), 16 * GB).cpuRanges ==
      Seq("0-1", "8-9", "10-11", "12-13"))
  }

  test("fewer than 4 allowed CPUs is a named error") {
    val e = intercept[ScalePair.ScaleError](ScalePair.shape(0 to 1, 16 * GB))
    assert(e.getMessage.contains("needs at least 4 allowed CPUs"), e.getMessage)
  }

  test("the ready-wait fails by name once the leg process has exited") {
    val p = new ProcessBuilder("/bin/true").start()
    p.waitFor()
    val never = new java.io.File(System.getProperty("java.io.tmpdir"), s"no-such-leg-${System.nanoTime()}.ready")
    val t0 = System.nanoTime()
    val e = intercept[ScalePair.ScaleError](
      ScalePair.awaitReady(p, never, System.nanoTime() + 600L * 1000000000L))
    assert(e.getMessage.contains("exited rc=0 before ready"), e.getMessage)
    assert((System.nanoTime() - t0) / 1e9 < 5.0)
  }
}
