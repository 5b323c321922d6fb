package graft.tables

import java.io.{File, RandomAccessFile}
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** `file://` in a graft session is [[LocalFs]]: the modes it sets
  * through `java.nio` are the ones Hadoop's `chmod` gives, and the
  * checksum layer still writes and verifies `.crc` sidecars. */
class LocalFsSpec extends AnyFunSuite with TempDirs {

  lazy val spark = graft.GraftSession.local(2, "graft-localfs-test")
  private def conf = spark.sparkContext.hadoopConfiguration
  private def sessionFs: FileSystem = new Path("file:///").getFileSystem(conf)

  private def oct(s: String): Int = Integer.parseInt(s, 8)
  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & oct("777")

  test("the session's file:// resolves to LocalFs") {
    assert(FileSystem.getFileSystemClass("file", conf) == classOf[LocalFs])
    assert(sessionFs.getClass == classOf[LocalFs], sessionFs.getClass.getName)
  }

  test("posix maps the nine permission bits one by one; the sticky bit is not one of them") {
    (0 until 512).foreach { m =>
      val p = new FsPermission(m.toShort)
      assert(PosixFilePermissions.toString(LocalFs.posix(p)) == p.toString, f"mode $m%o")
    }
    assert(LocalFs.posix(new FsPermission(oct("1755").toShort)) ==
      LocalFs.posix(new FsPermission(oct("755").toShort)))
  }

  test("create and mkdirs give the modes a plain RawLocalFileSystem gives, umask applied") {
    val dir = tempDir("localfs-modes")
    val raw = new RawLocalFileSystem()
    raw.initialize(new java.net.URI("file:///"), conf)
    def make(fs: FileSystem, tag: String): (File, File, File) = {
      val f = new Path(dir.toURI.toString, s"$tag.bin")
      fs.create(f, false).close()
      fs.mkdirs(new Path(dir.toURI.toString, s"$tag/a/b"))
      (new File(dir, s"$tag.bin"), new File(dir, tag), new File(dir, s"$tag/a/b"))
    }
    val (file, top, nested) = make(sessionFs, "graft")
    val (rawFile, rawTop, rawNested) = make(raw, "plain")
    val umask = FsPermission.getUMask(conf).toShort
    assert(mode(file) == mode(rawFile) && mode(file) == (oct("666") & ~umask), f"${mode(file)}%o")
    assert(Seq(top, nested).map(mode) == Seq(rawTop, rawNested).map(mode))
    assert(mode(nested) == (oct("777") & ~umask), f"${mode(nested)}%o")
    raw.close()
  }

  test("the .crc sidecar is written, and a flipped byte fails the read") {
    val dir = tempDir("localfs-crc")
    val p = new Path(dir.toURI.toString, "data.bin")
    val fs = sessionFs
    val out = fs.create(p, false)
    out.write(Array.tabulate[Byte](4096)(_.toByte)); out.close()
    assert(new File(dir, ".data.bin.crc").isFile)
    val in = fs.open(p)
    try assert(in.readAllBytes().length == 4096) finally in.close()
    val f = new RandomAccessFile(new File(dir, "data.bin"), "rw")
    try { f.seek(100); val b = f.read(); f.seek(100); f.write(b ^ 0xff) } finally f.close()
    intercept[ChecksumException] {
      val bad = fs.open(p)
      try bad.readAllBytes() finally bad.close()
    }
  }
}
