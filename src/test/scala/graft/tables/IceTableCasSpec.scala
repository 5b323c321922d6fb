package graft.tables

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** Deterministic test of the snapshot-publish CAS primitive.
  *
  * POSIX rename(2) silently OVERWRITES an existing destination, so a
  * Hadoop local-FS `rename` cannot detect that a racing committer
  * already published the same `snap-<n>.json` — the loser's manifest
  * would replace the winner's and BOTH commits would report success
  * while one snapshot is lost. `publishNew` therefore uses an atomic
  * hard link (fail-if-exists) on `file://`; this spec pins that
  * contract: second publish to the same destination must return false
  * and leave the first content intact.
  */
class IceTableCasSpec extends AnyFunSuite with TempDirs {

  lazy val spark = graft.GraftSession.local(2, "graft-cas-test")

  test("publishNew: first wins, second fails, winner's content intact") {
    val root = tempDir("icetable-cas").toString
    val table = new IceTable(root, spark)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(root))
    def writeTmp(name: String, content: String): Path = {
      val p = new Path(root, name)
      val o = fs.create(p, true); o.write(content.getBytes("UTF-8")); o.close()
      p
    }
    val dst = new Path(root, "snap-0.json")
    val t1 = writeTmp(".t1.tmp", "winner")
    val t2 = writeTmp(".t2.tmp", "loser")
    assert(table.publishNew(t1, dst), "first publish must succeed")
    assert(!table.publishNew(t2, dst), "second publish must FAIL, not overwrite")
    val in = fs.open(dst)
    val got = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    assert(got == "winner", s"winner's manifest must survive, got '$got'")
    // both tmp files are cleaned up either way
    assert(!fs.exists(t1) && !fs.exists(t2))
  }

  test("flip CASes against the OBSERVED parent, not a re-read") {
    // the append-race regression: committer B merged its file list
    // against parent -1 (empty table); A lands snap-0 before B flips.
    // A flip that re-read the current snapshot would take snap-1 and
    // silently drop A's files from the chain — B must instead fail
    // with ConcurrentCommitException and retry from the new parent.
    import org.apache.spark.sql.functions._
    val root = tempDir("icetable-cas-parent").toString
    val table = new IceTable(root, spark)
    val df = spark.range(0, 10).select(col("id"),
      pmod(col("id"), lit(2)).cast("int").as("bucket"),
      lit(null).cast("string").as("error"), lit("t").as("text"))
    assert(table.commitAppend(df, "a") == 0L) // A wins snap-0
    intercept[IceTable.ConcurrentCommitException] {
      // B's manifest was built against the EMPTY table (parent -1)
      table.flipSnapshot("b", Nil, 0L, Seq("id"), parent = -1L)
    }
    // the chain is intact: snap-0 still carries A's commit
    assert(table.snapshots == Seq(0L))
    assert(table.readSnapshot(0L).commitId == "a")
    assert(table.read().count() == 10)
  }
}
