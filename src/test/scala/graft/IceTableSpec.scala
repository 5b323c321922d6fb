package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.pipeline.ExtractJob
import graft.tables.IceTable

/** Snapshot/commit/lineage/resume semantics (SURVEY.md §7.2, north
  * rule: resumable from checkpoint, per-partition lineage+metrics). */
class IceTableSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.local(8, "graft-ice-test")

  private def tmpRoot(tag: String): String = tempDir(s"icetable-$tag").getAbsolutePath

  val N = 600L

  test("commit → read back: full row set, snapshot metadata, lineage") {
    val root = tmpRoot("basic")
    val res = ExtractJob.run(spark, root, N, buckets = 16, groups = 4, commitId = "c0")
    assert(res.snapshotId == 0L && res.docs == N)
    val table = new IceTable(root, spark)
    val df = table.read()
    assert(df.count() == N)
    assert(df.columns.toSet == Set("url", "text", "spans", "lang", "error", "bucket"))
    val lin = table.lineage().collect()
    assert(lin.map(_.getAs[Long]("rows")).sum == N)
    assert(lin.length <= 16 && lin.length > 0) // one row per logical bucket
    val snap = table.readSnapshot(0L)
    assert(snap.files.nonEmpty && snap.rows == N)
    // lineage lives in the manifest, in today's column order and types
    assert(IceTable.lineageSum(snap.lineage, "rows") == N)
    assert(!new java.io.File(root, "metadata/lineage").exists())
    assert(table.lineage().schema.map(f => f.name -> f.dataType.simpleString) == Seq(
      "bucket" -> "int", "rows" -> "bigint", "error_rows" -> "bigint", "empty_rows" -> "bigint",
      "oversize_docs" -> "bigint", "text_chars" -> "bigint", "elapsed_ms" -> "bigint",
      "grp" -> "int"))
    // lineage guard metrics present (P6/O4 analogues)
    assert(lin.head.schema.fieldNames.contains("empty_rows"))
    assert(lin.head.schema.fieldNames.contains("oversize_docs"))
    // event-log audit rows (S9/ST4 analogues): start + completion
    val events = table.eventLog
    assert(events.exists(_.contains("job_start")), events.mkString("\n"))
    assert(events.exists(_.contains("commit_complete snapshot=0")), events.mkString("\n"))
    assert(events.forall(_.matches("^\\d{4}-\\d{2}-\\d{2}T.*")), "ISO-timestamped lines")
    // the completion line's live counters equal the committed lineage
    val done = events.find(_.contains("commit_complete")).get
    def counter(k: String): Long = s" $k=(\\d+)".r.findFirstMatchIn(done).get.group(1).toLong
    def linSum(c: String): Long = lin.map(_.getAs[Long](c)).sum
    assert(counter("rows") == linSum("rows"), done)
    assert(counter("errors") == linSum("error_rows"), done)
    assert(counter("oversize") == linSum("oversize_docs"), done)
  }

  /** The `k=v` counts of the one event line containing `event`. */
  private def eventCounts(lines: Seq[String], event: String): Map[String, Long] = {
    val hits = lines.filter(_.contains(s"] $event "))
    assert(hits.length == 1, s"one '$event' line in:\n${lines.mkString("\n")}")
    "(\\w+)=(\\d+)".r.findAllMatchIn(hits.head).map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  /** `rows`/`errors`/`oversize` of a snapshot's manifest lineage. */
  private def manifestCounts(table: IceTable, snap: Long): Map[String, Long] = {
    val lin = table.readSnapshot(snap).lineage
    Map("rows" -> "rows", "errors" -> "error_rows", "oversize" -> "oversize_docs")
      .map { case (k, c) => k -> IceTable.lineageSum(lin, c) }
  }

  test("event log: a fresh commit's staged and completion counts equal the manifest's lineage") {
    val root = tmpRoot("events-fresh")
    val r = ExtractJob.run(spark, root, N, buckets = 16, groups = 4, commitId = "c0")
    val table = new IceTable(root, spark)
    val events = table.eventLog
    val want = manifestCounts(table, r.snapshotId)
    val staged = eventCounts(events, "staged")
    assert(want.forall { case (k, v) => staged(k) == v }, s"$staged vs $want")
    val lineage = table.readSnapshot(r.snapshotId).lineage
    assert(staged("empty") == IceTable.lineageSum(lineage, "empty_rows"))
    val done = eventCounts(events, "commit_complete")
    assert(done("snapshot") == r.snapshotId && want.forall { case (k, v) => done(k) == v },
      s"$done vs $want")
    // the listing, marker reads and flip after the last group write
    assert(done.contains("ms"), s"$done")
    // job_start, staged, one line per group, completion: in append order
    assert(events.map(_.split(" ")(2)) ==
      Seq("job_start", "staged", "group", "group", "group", "group", "commit_complete"),
      events.mkString("\n"))
    assert(events.forall(_.contains(" [c0] ")), events.mkString("\n"))
  }

  test("event log: a resumed commit logs its finished groups as resumed and the manifest's counts") {
    val root = tmpRoot("events-resume")
    intercept[IllegalStateException] {
      ExtractJob.run(spark, root, N, buckets = 16, groups = 4,
        commitId = "c0", abortAfterGroup = 1)
    }
    val table = new IceTable(root, spark)
    val failed = table.eventLog
    assert(failed.last.endsWith("commit_failed error=IllegalStateException"), failed.mkString("\n"))
    val r = ExtractJob.run(spark, root, N, buckets = 16, groups = 4, commitId = "c0")
    val rerun = table.eventLog.drop(failed.length)
    val groupLines = rerun.filter(_.contains("] group "))
    assert(groupLines.filter(_.endsWith(" resumed")).map(_.split(" ")(3)).sorted == Seq("0", "1"),
      rerun.mkString("\n"))
    assert(groupLines.filter(_.contains(" ms=")).map(_.split(" ")(3)).sorted == Seq("2", "3"),
      rerun.mkString("\n"))
    val done = eventCounts(rerun, "commit_complete")
    val want = manifestCounts(table, r.snapshotId)
    assert(want.forall { case (k, v) => done(k) == v }, s"$done vs $want")
    assert(want("rows") == N)
  }

  /** Lineage/layout guard: every lineage row equals the five aggregates
    * recomputed on the driver over the committed data, and each
    * non-empty bucket has one lineage row and exactly one data file.
    * Returns the table's (error_rows, empty_rows, oversize_docs). */
  private def assertLineageGuard(table: IceTable, snap: Long): (Long, Long, Long) = {
    val pageMark = java.util.regex.Pattern.quote("--- صفحة ")
    val data = table.read(Some(snap)).select("bucket", "text", "error").collect()
    val want: Map[Int, Seq[Long]] = data.groupBy(_.getInt(0)).map { case (b, rs) =>
      val texts = rs.map(r => Option(r.getString(1)).getOrElse(""))
      b -> Seq(
        rs.length.toLong,
        rs.count(!_.isNullAt(2)).toLong,
        rs.count(r => r.isNullAt(2) && Option(r.getString(1)).forall(_.isEmpty)).toLong,
        texts.count(_.split(pageMark, -1).length - 1 > 20).toLong,
        texts.map(t => t.codePointCount(0, t.length).toLong).sum)
    }
    val cols = Seq("rows", "error_rows", "empty_rows", "oversize_docs", "text_chars")
    val lin = table.lineage(Some(snap)).collect()
    val got = lin.map(r => r.getAs[Int]("bucket") -> cols.map(r.getAs[Long])).toMap
    assert(lin.length == got.size, "one lineage row per bucket")
    assert(got == want)
    val filesPerBucket = table.readSnapshot(snap).files
      .groupBy(f => "/bucket=(\\d+)/".r.findFirstMatchIn(f.path).get.group(1).toInt)
      .map { case (b, fs) => b -> fs.length }
    assert(filesPerBucket == want.map { case (b, _) => b -> 1 },
      s"one data file per non-empty bucket: $filesPerBucket")
    def total(i: Int): Long = want.values.map(_(i)).sum
    (total(1), total(2), total(3))
  }

  test("lineage guard: fresh and resumed commits match their data, one file per bucket") {
    val fresh = tmpRoot("guard-fresh")
    val r = ExtractJob.run(spark, fresh, N, buckets = 16, groups = 4, commitId = "c0")
    assertLineageGuard(new IceTable(fresh, spark), r.snapshotId)
    val resumed = tmpRoot("guard-resume")
    intercept[IllegalStateException] {
      ExtractJob.run(spark, resumed, N, buckets = 16, groups = 4,
        commitId = "c0", abortAfterGroup = 1)
    }
    val r2 = ExtractJob.run(spark, resumed, N, buckets = 16, groups = 4, commitId = "c0")
    assertLineageGuard(new IceTable(resumed, spark), r2.snapshotId)
  }

  test("resumed commit with a changed input keeps the finished groups' marker lineage") {
    import org.apache.spark.sql.functions._
    val table = new IceTable(tmpRoot("resume-changed"), spark)
    def input(n: Long) = spark.range(0, n).select(col("id"),
      pmod(col("id"), lit(4)).cast("int").as("bucket"),
      concat(lit("row "), col("id")).as("text"), lit(null).cast("string").as("error"))
    // A writes group 0 (buckets 0 and 2: its 50 even ids), then crashes
    intercept[IllegalStateException] {
      table.commit(input(100), "rc", groups = 2, abortAfterGroup = 0)
    }
    // B has 70 rows in each group; the resume skips group 0, so the
    // table holds A's 50 rows there and B's 70 odd ids in group 1
    val snap = table.commit(input(140), "rc", groups = 2)
    assertLineageGuard(table, snap)
    assert(table.readSnapshot(snap).rows == 120L)
  }

  test("groups < 1 is refused before anything is written") {
    import org.apache.spark.sql.functions._
    val table = new IceTable(tmpRoot("groups"), spark)
    val df = spark.range(0, 10).select(col("id"),
      pmod(col("id"), lit(2)).cast("int").as("bucket"),
      lit("t").as("text"), lit(null).cast("string").as("error"))
    val e = intercept[IllegalArgumentException] { table.commit(df, "neg", groups = -1) }
    assert(e.getMessage.contains("groups must be >= 1"), e.getMessage)
    assert(table.currentSnapshotId.isEmpty)
  }

  test("a commit id that cannot be a directory name is refused before anything is written") {
    import org.apache.spark.sql.functions._
    val root = tmpRoot("badid")
    val table = new IceTable(root, spark)
    val df = spark.range(0, 10).select(col("id"),
      pmod(col("id"), lit(2)).cast("int").as("bucket"),
      lit("t").as("text"), lit(null).cast("string").as("error"))
    // non-ASCII fails every write task; `[`/`{`/`*` are globbed on
    // read; `/` nests the data directory
    Seq("ع", "a[1]", "a*", "a/b").foreach { id =>
      val e = intercept[IllegalArgumentException] { table.commit(df, id, groups = 2) }
      assert(e.getMessage.contains(s"commit id '$id' cannot be a directory name"), e.getMessage)
    }
    val data = new java.io.File(root, "data")
    assert(Option(data.list()).getOrElse(Array.empty[String]).forall(!_.startsWith("commit-")))
    assert(table.currentSnapshotId.isEmpty)
  }

  test("a format-1 manifest (lineage stored as a path) fails by name") {
    val root = tmpRoot("v1")
    val meta = new java.io.File(root, "metadata")
    meta.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(meta, "snap-0.json").toPath,
      s"""{"format_version":1,"snapshot_id":0,"parent_id":-1,"commit_id":"c0",
         |"rows":0,"lineage":"$root/metadata/lineage/c0","files":[]}""".stripMargin)
    val e = intercept[IllegalStateException] { new IceTable(root, spark).read() }
    assert(e.getMessage.contains("format_version 1 is unreadable"), e.getMessage)
  }

  test("a format-2 manifest without a schema fails by name") {
    val root = tmpRoot("noschema")
    val meta = new java.io.File(root, "metadata")
    meta.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(meta, "snap-0.json").toPath,
      """{"format_version":2,"snapshot_id":0,"parent_id":-1,"commit_id":"c0",
        |"rows":0,"lineage":[],"files":[]}""".stripMargin)
    val e = intercept[IllegalStateException] { new IceTable(root, spark).read() }
    assert(e.getMessage.contains("no schema"), e.getMessage)
  }

  test("lineage guard: error, empty and oversize rows are counted per bucket") {
    val root = tmpRoot("guard-hand")
    val table = new IceTable(root, spark)
    def page(i: Int): String = s"--- صفحة $i ---\nbody $i"
    // PageGen never emits more than 20 parts, so the oversize count
    // needs a hand-built 21-part text
    val df = spark.createDataFrame(Seq[(String, Int, String, String)](
      ("u0", 0, null, "InvalidUtf8"),
      ("u1", 1, "", null),
      ("u2", 2, (1 to 21).map(page).mkString("\n\n"), null),
      ("u3", 2, page(1), null),
      ("u4", 3, "", null),
      ("u5", 3, null, "TruncatedPdf"))).toDF("url", "bucket", "text", "error")
    val snap = table.commit(df, "hand", groups = 2)
    assert(assertLineageGuard(table, snap) == ((2L, 2L, 1L)))
  }

  test("commit evaluates its input once: the lineage pass fills the group writes' cache") {
    import org.apache.spark.sql.functions._
    val table = new IceTable(tmpRoot("once"), spark)
    val evals = spark.sparkContext.longAccumulator("commit-input-evals")
    val text = udf { (id: Long) => evals.add(1L); s"row $id" }
    val df = spark.range(0, 2000, 1, 8).select(col("id"),
      pmod(col("id"), lit(16)).cast("int").as("bucket"),
      text(col("id")).as("text"), lit(null).cast("string").as("error"))
    val snap = table.commit(df, "once", groups = 4)
    assert(table.read(Some(snap)).count() == 2000L)
    assert(evals.value == 2000L, s"${evals.value} text evaluations for 2000 rows")
  }

  test("bucket predicate prunes data files at the scan (the 100×-scale read path)") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val root = tmpRoot("prune")
    ExtractJob.run(spark, root, N, buckets = 16, groups = 4, commitId = "c0")
    val table = new IceTable(root, spark)
    val allFiles = table.read().select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    assert(allFiles.size >= 8, s"need a multi-bucket layout, got ${allFiles.size} files")
    val pruned = table.read().filter(col("bucket") === 3)
    // the predicate must reach the scan as a PARTITION filter (metadata
    // pruning), not a post-scan row filter over every file
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      plan.take(1200))
    // and the files ACTUALLY read are exactly the bucket=3 leafs
    val readFiles = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    assert(readFiles.nonEmpty && readFiles.forall(_.contains("/bucket=3/")),
      readFiles.take(5).toString)
    assert(readFiles == allFiles.filter(_.contains("/bucket=3/")))
    assert(readFiles.size < allFiles.size, "pruning must drop non-matching buckets")
  }

  test("crash after k groups → rerun completes only remaining groups; table identical") {
    val rootA = tmpRoot("resume")
    val rootB = tmpRoot("clean")
    // simulated loss after group 1 of 4
    intercept[IllegalStateException] {
      ExtractJob.run(spark, rootA, N, buckets = 16, groups = 4,
        commitId = "c0", abortAfterGroup = 1)
    }
    val table = new IceTable(rootA, spark)
    assert(table.completedGroups("c0") == Set(0, 1))
    assert(table.currentSnapshotId.isEmpty, "no snapshot may be visible pre-finalize")
    // resume with the same commitId
    val res = ExtractJob.run(spark, rootA, N, buckets = 16, groups = 4, commitId = "c0")
    assert(res.docs == N)
    // byte-identical to a never-crashed run
    val clean = ExtractJob.run(spark, rootB, N, buckets = 16, groups = 4, commitId = "c0")
    assert(clean.docs == N)
    val a = table.read().select("url", "text", "error").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val b = new IceTable(rootB, spark).read().select("url", "text", "error").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("second commit becomes a new snapshot; time travel reads the old one") {
    val root = tmpRoot("timetravel")
    ExtractJob.run(spark, root, 200L, buckets = 8, groups = 2, commitId = "c0")
    val table = new IceTable(root, spark)
    ExtractJob.run(spark, root, 400L, buckets = 8, groups = 2, commitId = "c1")
    assert(table.snapshots == Seq(0L, 1L))
    assert(table.read(Some(0L)).count() == 200L)
    assert(table.read(Some(1L)).count() == 400L)
    assert(table.read().count() == 400L)
    // expire: old snapshot + its unreferenced data go away, latest intact
    assert(table.expireSnapshots(keep = 1) == Seq(0L))
    assert(table.snapshots == Seq(1L))
    assert(table.read().count() == 400L)
    intercept[Exception] { table.readSnapshot(0L) }
  }

  test("manifest file list: a fresh commit's files are the .parquet files under its data dir") {
    val root = tmpRoot("manifest-files")
    val r = ExtractJob.run(spark, root, N, buckets = 16, groups = 4, commitId = "c0")
    val listed = new IceTable(root, spark).readSnapshot(r.snapshotId).files
      .map(f => new org.apache.hadoop.fs.Path(f.path).toUri.getPath -> f.bytes)
    val dir = java.nio.file.Paths.get(root, "data", "commit-c0")
    val walk = java.nio.file.Files.walk(dir)
    val onDisk = try walk.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => p.toString -> java.nio.file.Files.size(p)).toSeq.sorted
      finally walk.close()
    assert(onDisk.length >= 4 && listed.sorted == onDisk, s"$listed\nvs\n$onDisk")
  }

  test("expireSnapshots drops the event lines of expired commits, not of uncommitted ones") {
    import org.apache.spark.sql.functions._
    val root = tmpRoot("expire-events")
    val table = new IceTable(root, spark)
    val df = spark.range(0, 40).select(col("id"),
      pmod(col("id"), lit(4)).cast("int").as("bucket"),
      lit(null).cast("string").as("error"), lit("t").as("text"))
    Seq("a0", "a1", "a2").foreach(table.commitAppend(df, _))
    table.logEvent("a3", "job_start docs=40 buckets=4 groups=1")
    assert(table.expireSnapshots(keep = 1) == Seq(0L, 1L))
    val log = table.eventLog
    assert(log.map(_.split(" ").slice(1, 3).mkString(" ")) ==
      Seq("[a2] staged", "[a2] group", "[a2] commit_complete", "[a3] job_start"),
      log.mkString("\n"))
    assert(table.read().count() == 120)
  }

  test("text sink writes UTF-8 lines and refuses an all-blank save") {
    import org.apache.spark.sql.functions._
    val out = tmpRoot("textsink") + "/txt"
    val extracted = graft.pipeline.ExtractPipeline.extracted(
      graft.pipeline.ExtractPipeline.pages(spark, 100).toDF())
    val n = graft.pipeline.TextSink.save(extracted, out)
    assert(n > 80 && spark.read.text(out).count() == n)
    val line = spark.read.text(out).orderBy("value").collect()(0).getString(0)
    assert(line.contains("\t--- صفحة 1 ---\\n"), line.take(120))
    intercept[graft.pipeline.TextSink.EmptyOutputException] {
      graft.pipeline.TextSink.save(
        extracted.filter(lit(false)), tmpRoot("textsink2") + "/txt")
    }
  }

  test("manifest codec: quote, backslash, control and Arabic characters round-trip") {
    import org.apache.spark.sql.functions._
    // the commit id lands in the data path, which cannot hold a
    // backslash (a glob escape on Spark's read path) or non-ASCII (the
    // JVM's file-name encoding follows the locale), so those two ride
    // in a column name, which the manifest records in its schema and
    // the read validates
    val id = "q\"c\u0001"
    val name = "n\"b\\s\u0001ع"
    val table = new IceTable(tmpRoot("codec\"\u0001"), spark)
    val df = spark.range(0, 20).select(col("id").as(name),
      pmod(col("id"), lit(2)).cast("int").as("bucket"),
      lit("نص").as("text"), lit(null).cast("string").as("error"))
    val snap = table.readSnapshot(table.commitAppend(df, id))
    assert(snap.commitId == id && snap.rows == 20L)
    assert(snap.schemaFields == Seq(name, "bucket", "text", "error"))
    assert(snap.files.nonEmpty && snap.files.forall(_.path.contains("codec\"\u0001")),
      snap.files.map(_.path))
    assert(snap.files.forall(_.path.contains(s"/commit-$id/")), snap.files.map(_.path))
    val back = table.read().select(col(s"`$name`"), col("text")).collect()
    assert(back.map(_.getLong(0)).sorted.toSeq == (0L until 20L))
    assert(back.forall(_.getString(1) == "نص"))
  }

  test("commitAppend replay of the same commitId is idempotent") {
    import org.apache.spark.sql.functions._
    val root = tmpRoot("append-replay")
    val table = new IceTable(root, spark)
    val df = spark.range(0, 50).select(col("id"),
      pmod(col("id"), lit(4)).cast("int").as("bucket"),
      lit(null).cast("string").as("error"), lit("t").as("text"))
    table.commitAppend(df, "b0")
    val s2 = table.commitAppend(df, "b1")
    val before = table.readSnapshot(s2)
    // foreachBatch replay after a crash-after-flip: same batch id again
    val s3 = table.commitAppend(df, "b1")
    val after = table.readSnapshot(s3)
    assert(after.files.map(_.path) == before.files.map(_.path), "no duplicated files")
    assert(after.rows == before.rows, "no double-counted rows")
    assert(table.read(Some(s3)).count() == 100)
  }

  test("append chain with evolved schema reads as union with nulls") {
    import org.apache.spark.sql.functions._
    val root = tmpRoot("append-evolve")
    val table = new IceTable(root, spark)
    val df1 = spark.range(0, 40).select(col("id"),
      pmod(col("id"), lit(4)).cast("int").as("bucket"),
      lit(null).cast("string").as("error"), lit("t").as("text"))
    table.commitAppend(df1, "e0")
    // the second append ADDS a column: the chained read must be the
    // union schema with nulls where the older commit predates it
    // (Iceberg schema evolution), not a generic unionByName failure
    val s = table.commitAppend(df1.withColumn("lang", lit("en")), "e1")
    val out = table.read(Some(s))
    assert(out.count() == 80)
    assert(out.columns.contains("lang"))
    assert(out.filter(col("lang").isNull).count() == 40)
    assert(out.filter(col("lang") === "en").count() == 40)
  }

  test("manifest file stats: range read prunes micro-batch commits from metadata") {
    import org.apache.spark.sql.functions._
    val root = tmpRoot("stats")
    val table = new IceTable(root, spark)
    def batch(lo: Long): org.apache.spark.sql.DataFrame =
      spark.range(lo, lo + 1000).select(col("id").as("seq"),
        pmod(col("id"), lit(4)).cast("int").as("bucket"),
        lit(null).cast("string").as("error"), lit("t").as("text"))
    // batch 0 predates stats (legacy manifest entries — must never be
    // pruned); batches 1-3 record per-file seq min/max
    table.commitAppend(batch(0), "b0")
    (1 to 3).foreach(i => table.commitAppend(batch(i * 1000L), s"b$i",
      statsCol = Some("seq")))
    val snap = table.readSnapshot(table.currentSnapshotId.get)
    val (legacy, withStats) = snap.files.partition(_.path.contains("/commit-b0/"))
    assert(legacy.nonEmpty && legacy.forall(_.statsMin.isEmpty))
    assert(withStats.nonEmpty && withStats.forall(f =>
      f.statsMin.isDefined && f.statsMax.isDefined && f.statsMin.get <= f.statsMax.get))
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.length
      }.sum
    // a slice inside batch 2: exactly the files whose recorded
    // [min,max] overlap the slice plus the stats-less legacy files may
    // be opened — batches 1/3 prune away entirely, and WITHIN batch 2
    // the per-file stats prune the non-overlapping range partitions too
    val sliced = table.readRange("seq", 2100, 2199)
    val expectOpen = legacy.length + withStats.count(f =>
      f.statsMax.get >= 2100 && f.statsMin.get <= 2199)
    assert(scannedFiles(sliced) == expectOpen,
      s"scanned ${scannedFiles(sliced)}, expected $expectOpen of ${snap.files.length}")
    assert(withStats.count(f => f.statsMax.get >= 2100 && f.statsMin.get <= 2199) <
      withStats.count(_.path.contains("/commit-b2/")),
      "per-file stats must prune finer than whole commits")
    assert(scannedFiles(sliced) < snap.files.length)
    // and the rows equal the unpruned filter exactly
    val want = table.read().filter(col("seq").between(2100, 2199))
      .select("seq").collect().map(_.getLong(0)).sorted
    val got = sliced.select("seq").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(want) && got.length == 100)
    // a slice matching nothing reads no files at all
    assert(table.readRange("seq", 100000, 200000).isEmpty)
  }

  test("incremental read yields each append delta exactly once; rollback is append-only") {
    import org.apache.spark.sql.functions._
    val root = tmpRoot("incr")
    val table = new IceTable(root, spark)
    def batch(lo: Long, n: Long): org.apache.spark.sql.DataFrame =
      spark.range(lo, lo + n).select(col("id").as("seq"),
        pmod(col("id"), lit(4)).cast("int").as("bucket"),
        lit(null).cast("string").as("error"), lit("t").as("text"))
    val s0 = table.commitAppend(batch(0, 100), "i0")
    val s1 = table.commitAppend(batch(100, 50), "i1")
    val s2 = table.commitAppend(batch(150, 30), "i2")
    // each delta surfaces exactly its own batch's rows
    val d1 = table.readIncremental(s0, s1).select("seq").collect()
      .map(_.getLong(0)).sorted
    assert(d1.sameElements(100L until 150L), s"delta1 ${d1.length} rows")
    val d2 = table.readIncremental(s1, s2).select("seq").collect()
      .map(_.getLong(0)).sorted
    assert(d2.sameElements(150L until 180L))
    // chained deltas + the base reconstruct the full table, no overlap
    assert(table.readIncremental(s0, s2).count() == 80)
    assert(table.readIncremental(s2, s2).isEmpty)
    // rollback: a NEW snapshot re-reads s1's state; history append-only
    val s3 = table.rollback(s1)
    assert(s3 > s2)
    assert(table.read().count() == 150)
    assert(table.read(Some(s2)).count() == 180, "abandoned snapshot stays travelable")
    assert(table.lineage().collect().map(_.getAs[Long]("rows")).sum > 0)
  }

  test("two racing committers: never a lost snapshot; loser's data expirable") {
    import org.apache.spark.sql.functions._
    val root = tmpRoot("race")
    val df = spark.range(0, 30).select(col("id"),
      pmod(col("id"), lit(2)).cast("int").as("bucket"),
      lit(null).cast("string").as("error"), lit("t").as("text"))
    // Two committers start on a barrier. Legal outcomes: (a) they
    // overlap → one wins snap-0, the other throws
    // ConcurrentCommitException (the usual case — the data-write phase
    // dominates, so the parent reads overlap); (b) one finishes
    // entirely before the other flips → both land, snapshots 0 and 1.
    // What must NEVER happen is the POSIX-rename trap: both "succeed"
    // while one manifest was silently overwritten. The deterministic
    // CAS-primitive test lives in IceTableCasSpec.
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Long]]()
    val threads = Seq("racer-a", "racer-b").map { id =>
      new Thread(() => {
        val t = new IceTable(root, spark) // each committer its own handle
        barrier.await()
        try results.put(id, Right(t.commit(df, id, groups = 1)))
        catch { case e: Throwable => results.put(id, Left(e)) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(180000))
    val outcome = Seq("racer-a", "racer-b").map(id => id -> results.get(id)).toMap
    val winners = outcome.collect { case (id, Right(snap)) => id -> snap }
    val losers = outcome.collect { case (id, Left(e)) => id -> e }
    val table = new IceTable(root, spark)
    // every snapshot that reports success must exist with ITS OWN
    // commit — a silently overwritten manifest fails here
    winners.foreach { case (id, snap) =>
      assert(table.readSnapshot(snap).commitId == id,
        s"committer $id reported snap $snap but the manifest belongs to " +
          table.readSnapshot(snap).commitId)
    }
    assert(winners.nonEmpty, s"at least one commit must land: $outcome")
    assert(table.read().count() == 30)
    if (losers.nonEmpty) {
      val (loserId, e) = losers.head
      assert(e.isInstanceOf[IceTable.ConcurrentCommitException], s"loser: $e")
      // the loser's data dir is referenced by NO snapshot → expirable
      assert(table.snapshots.map(table.readSnapshot).forall(
        s => !s.files.exists(_.path.contains(s"commit-$loserId/"))))
      // and a plain RETRY lands: group markers skip the data rewrite
      val retried = table.commit(df, loserId, groups = 1)
      assert(retried == table.snapshots.max && table.read().count() == 30)
    }
  }

  test("snapshot schema: recorded per commit, validated on read, evolvable") {
    import org.apache.spark.sql.functions._
    val root = tmpRoot("schema")
    val table = new IceTable(root, spark)
    val df1 = spark.range(0, 100).select(col("id"),
      pmod(col("id"), lit(4)).cast("int").as("bucket"),
      lit(null).cast("string").as("error"), lit("t").as("text"))
    val s1 = table.commit(df1, "schema-1", groups = 2)
    // a later commit ADDS a column — snapshots keep their own schema
    // (per-commit data dirs), so time travel returns the old shape
    val s2 = table.commit(df1.withColumn("lang", lit("en")), "schema-2", groups = 2)
    assert(table.schemaOf(s1).toSet == Set("id", "bucket", "error", "text"))
    assert(table.schemaOf(s2).contains("lang"))
    assert(!table.read(Some(s1)).columns.contains("lang"))
    assert(table.read(Some(s2)).columns.contains("lang"))
    assert(table.read(Some(s2)).count() == 100)
  }
}
