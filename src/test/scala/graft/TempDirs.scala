package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.scalatest.{Outcome, TestSuite}

/** Temp directories for a suite. Each one is deleted with everything in
  * it when the test that made it ends (`File.deleteOnExit` removes only
  * an empty directory). */
trait TempDirs extends TestSuite {
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[File]()

  protected def tempDir(prefix: String): File = {
    val d = Files.createTempDirectory(prefix).toFile
    made.add(d)
    d
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally while (!made.isEmpty) FileUtils.deleteQuietly(made.poll())
}

object TempDirs {
  private val atExit = new java.util.concurrent.ConcurrentLinkedQueue[File]()
  Runtime.getRuntime.addShutdownHook(
    new Thread(() => atExit.forEach(d => FileUtils.deleteQuietly(d))))

  /** A temp directory that the shared session keeps using after the
    * test that made it (a checkpoint dir, a catalog table's path):
    * deleted with everything in it at JVM exit. */
  def untilExit(prefix: String): File = {
    val d = Files.createTempDirectory(prefix).toFile
    atExit.add(d)
    d
  }
}
