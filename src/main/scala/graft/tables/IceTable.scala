package graft.tables

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** Iceberg-style table: partitioned parquet + a JSON snapshot/manifest
  * log with atomic commits, per-partition lineage + metrics rows, and
  * bucket-group checkpoint markers for resumability.
  *
  * Mirrors the reference's snapshot discipline (backup_manager.py:23-77:
  * timestamped validated snapshots, list, restore) at table granularity
  * (SURVEY.md §7.2). No Iceberg runtime jar exists in this environment,
  * so the metadata layer is implemented from scratch over the Hadoop
  * FileSystem API (works on local FS and HDFS/S3A alike).
  *
  * Layout:
  * {{{
  *   root/data/commit-<id>/grp=G/bucket=B/part-*.parquet
  *   root/metadata/snap-<n>.json           — file list + lineage rows + metrics
  *   root/metadata/progress/<id>/group-G.done — resume checkpoint marker
  *                                            carrying group G's lineage rows
  *   root/metadata/events/ev-<ms>-<seq>-<jvm>.log — one event-log line
  * }}}
  *
  * Commit protocol: data files land under a commit-unique directory
  * (never mutated), and the snapshot JSON is written to a temp name and
  * published as `snap-<n>.json` last — a crash at any point leaves the
  * previous snapshot intact and readable ("crash before pointer flip =
  * invisible"). The latest snapshot is the max n listed under
  * `snap-*.json`.
  */
final class IceTable(val root: String, spark: SparkSession) {

  private val conf = spark.sparkContext.hadoopConfiguration
  private def fs: FileSystem = new Path(root).getFileSystem(conf)

  private def metaDir = new Path(root, "metadata")
  private def snapPath(n: Long) = new Path(metaDir, s"snap-$n.json")
  private def eventsDir = new Path(metaDir, "events")

  import IceTable.{DataFileEntry, EventSeq, JvmId, Json, LineageCols, Snapshot, lineageSum}

  // ---- event log -------------------------------------------------------

  /** Append one line `ISO-timestamp [commitId] event` to the table's
    * event log (the reference's event_log.py format). Each line is its
    * own immutable file, since file append is not portable; the name
    * (epoch ms, this JVM's event sequence, a per-JVM id) sorts in
    * append order and never collides with another committer's. */
  def logEvent(commitId: String, event: String): Unit = {
    val now = java.time.Instant.now()
    val out = fs.create(new Path(eventsDir,
      f"ev-${now.toEpochMilli}%013d-${EventSeq.getAndIncrement()}%010d-$JvmId.log"), false)
    try out.write(s"$now [$commitId] $event\n".getBytes("UTF-8")) finally out.close()
  }

  /** Every event line of the table, in append order. */
  def eventLog: Seq[String] = events.map(_._2)

  /** Each event file with its line, in append order. */
  private def events: Seq[(Path, String)] =
    if (!fs.exists(eventsDir)) Nil
    else fs.listStatus(eventsDir).toSeq.map(_.getPath).sortBy(_.getName).map { p =>
      val in = fs.open(p)
      try p -> new String(in.readAllBytes(), "UTF-8").trim finally in.close()
    }

  // ---- snapshot log ---------------------------------------------------

  /** Latest snapshot id, from the `snap-*.json` listing (crash-safe). */
  def currentSnapshotId: Option[Long] = snapshots.lastOption

  def snapshots: Seq[Long] = {
    if (!fs.exists(metaDir)) return Nil
    fs.listStatus(metaDir).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("snap-") && s.endsWith(".json") =>
        s.stripPrefix("snap-").stripSuffix(".json").toLong
      }.sorted
  }

  def readSnapshot(n: Long): Snapshot = parseSnapshot(readJson(snapPath(n)))

  /** Read the table at a snapshot (time travel) or latest. Each
    * snapshot records the schema it was committed with (schema
    * evolution story: data dirs are per-commit, so historic snapshots
    * keep their own schema; the read validates the files still carry
    * every recorded field — drift fails loudly instead of silently
    * returning nulls). */
  def read(asOf: Option[Long] = None): DataFrame = {
    val snap = readSnapshot(resolve(asOf))
    assemble(snap, snap.files)
  }

  /** Range read over the table's designated stats column: data files
    * are pruned from MANIFEST statistics alone (no footer opens, no
    * scan — Iceberg's data-file skipping), then the row-level filter
    * runs on the survivors. Stats pruning is a strict superset of the
    * matching rows, and files without recorded stats are never pruned,
    * so the result equals `read().filter(col BETWEEN lo AND hi)`
    * exactly — including across manifests written before stats
    * existed. The win at scale: a time-sliced read of a long streaming
    * append chain opens only the micro-batch commits whose [min,max]
    * overlap the slice. */
  def readRange(statsCol: String, lo: Long, hi: Long,
                asOf: Option[Long] = None): DataFrame = {
    require(lo <= hi, s"readRange: lo $lo > hi $hi")
    val snap = readSnapshot(resolve(asOf))
    val keep = snap.files.filter { f =>
      (f.statsMin, f.statsMax) match {
        case (Some(mn), Some(mx)) => mx >= lo && mn <= hi
        case _ => true // no stats recorded — must scan
      }
    }
    if (keep.isEmpty) {
      // schema-correct empty result: the contract is exact equality
      // with read().filter(...), so downstream column references must
      // still resolve. limit(0) folds to an empty LocalRelation at
      // planning — no data file is read.
      if (snap.files.isEmpty) return spark.emptyDataFrame
      val all = assemble(snap, snap.files)
      return all.filter(statLong(all, statsCol).between(lo, hi)).limit(0)
    }
    val df = assemble(snap, keep)
    df.filter(statLong(df, statsCol).between(lo, hi))
  }

  /** Incremental read: only the data files ADDED between two snapshots
    * (exclusive `fromSnapshot`, inclusive `toSnapshot`) — the Iceberg
    * incremental-consumption pattern, letting a downstream pipeline
    * process each append delta exactly once instead of rescanning the
    * accumulated table. Works from manifests alone (set difference of
    * file lists); an overwrite commit's files appear in full, since
    * they are all new. */
  def readIncremental(fromSnapshot: Long, toSnapshot: Long): DataFrame = {
    require(fromSnapshot <= toSnapshot,
      s"readIncremental: from $fromSnapshot > to $toSnapshot")
    val to = readSnapshot(toSnapshot)
    val seen = readSnapshot(fromSnapshot).files.map(_.path).toSet
    val delta = to.files.filterNot(f => seen.contains(f.path))
    // empty delta must still carry the table schema (downstream
    // pipelines select columns from it); limit(0) reads no data
    if (delta.isEmpty && to.files.nonEmpty)
      return assemble(to, to.files).limit(0)
    assemble(to, delta)
  }

  /** Roll the table back to an earlier snapshot's state by committing
    * a NEW snapshot that re-references the old file list (Iceberg
    * rollback): history stays append-only — nothing is deleted, the
    * abandoned snapshots remain time-travelable until expired. */
  def rollback(toSnapshot: Long): Long = {
    val target = readSnapshot(toSnapshot)
    val parent = resolve(None)
    require(toSnapshot <= parent, s"rollback target $toSnapshot is not in the past")
    // re-reference the target's lineage too: lineage(asOf=new) must
    // describe the data the new snapshot actually reads
    flipSnapshot(s"rollback-to-$toSnapshot", target.files, target.rows,
      target.schemaFields, parent, target.lineage)
  }

  private def assemble(snap: Snapshot, files: Seq[DataFileEntry]): DataFrame = {
    val id = snap.id
    if (files.isEmpty) return spark.emptyDataFrame
    // explicit manifest file list (Iceberg-style: plans from metadata,
    // no directory listing on the read path); basePath recovers the
    // grp/bucket partition columns for partition pruning. Append
    // snapshots carry files from several commit dirs — one read per
    // dir (each with its own basePath), unioned.
    val byCommit = files
      .groupBy(f => commitDirOf(f.path).getOrElse(snap.commitId)).toSeq.sortBy(_._1)
    // allowMissingColumns: an append chain whose commits carry
    // different column sets reads as the union schema with nulls for
    // the fields a commit predates — the Iceberg schema-evolution
    // semantic (old data files simply lack new columns). The recorded-
    // schema validation below still fails loudly if the union is
    // missing a field the snapshot recorded.
    val df = byCommit.map { case (c, fsOfC) =>
      spark.read
        .option("basePath", s"$root/data/commit-$c")
        .parquet(fsOfC.map(_.path): _*)
    }.reduce(_.unionByName(_, allowMissingColumns = true)).drop("grp")
    val missing = snap.schemaFields.filterNot(df.columns.toSet)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"snapshot $id schema drift: recorded fields missing from data: ${missing.mkString(",")}")
    df
  }

  /** Field names recorded with a snapshot. */
  def schemaOf(snapshotId: Long): Seq[String] =
    readSnapshot(snapshotId).schemaFields

  /** Per-bucket lineage + metrics rows of a snapshot, built from its
    * manifest (a local relation: collecting it runs no Spark job). */
  def lineage(asOf: Option[Long] = None): DataFrame =
    spark.createDataFrame(readSnapshot(resolve(asOf)).lineage.map {
      case Seq(bucket, rows, err, empty, oversize, chars, ms, grp) =>
        (bucket.toInt, rows, err, empty, oversize, chars, ms, grp.toInt)
    }).toDF(LineageCols: _*)

  /** `asOf`, else the latest snapshot; fails if the table has none. */
  private def resolve(asOf: Option[Long]): Long =
    asOf.orElse(currentSnapshotId)
      .getOrElse(throw new IllegalStateException(s"no snapshot in $root"))

  // ---- commit ----------------------------------------------------------

  /** Atomic overwrite-commit of `df` (already carrying a `bucket`
    * column), processed in `groups` resumable bucket-groups.
    *
    * The input is exchanged by bucket once and persisted. Lineage is
    * aggregated once over it (the action that fills the cache). Each
    * group is then one Spark job writing `data/commit-<id>/grp=G/`
    * partitioned by bucket — a filtered scan of the cache, one file per
    * bucket — followed by a `.done` marker that carries the group's
    * lineage rows. A re-run with the same `commitId` skips finished
    * groups — "resumable from checkpoint after any executor loss"
    * (north rule). The snapshot flips only after every group landed,
    * and its manifest carries every group's lineage rows.
    * `abortAfterGroup` = g ≥ 0 is a test hook: groups 0..g land, then
    * the commit throws as a simulated crash before the flip.
    */
  def commit(df: DataFrame, commitId: String, groups: Int = 8,
             abortAfterGroup: Int = -1): Long = {
    requireBucket(df)
    // ONE exchange, before the persist: every task holds whole buckets,
    // so each group write is a filtered scan of the cache with no
    // exchange of its own and still writes one right-sized file per
    // bucket (without it the dynamic writer opened one file per
    // task × bucket — a tiny-file explosion; `buckets` sizes the files,
    // corpus/buckets ≈ target file size). The input is read twice
    // (lineage aggregate, then the group writes), so it is persisted
    // to run once. Serialized storage, measured at 480k docs / 4
    // groups / 32 cores (medians): serialized 12.6 s, deserialized
    // 16.5 s, no persist (recompute per group) 25.0 s — deserialized
    // rows blow the young gen, recompute pays 4× generation+extract.
    val staged = df.repartition(col("bucket")).persist(StorageLevel.MEMORY_AND_DISK_SER)
    try commitGroups(staged, commitId, groups, abortAfterGroup) { (files, lineage, since) =>
      // an overwrite manifest is parent-independent, so the freshest
      // parent read is correct; a racing flip still collides on the
      // snapshot id and raises ConcurrentCommitException
      flipSnapshot(commitId, files, lineageSum(lineage, "rows"),
        df.columns.toSeq, currentSnapshotId.getOrElse(-1L), lineage, since)
    } finally staged.unpersist()
  }

  /** APPEND-commit: like `commit`, but the new snapshot's manifest is
    * the parent snapshot's file list PLUS this commit's files — the
    * Iceberg append semantic, enabling incremental/streaming ingestion
    * where every micro-batch becomes a snapshot and the latest
    * snapshot always reads the full accumulated table. Idempotent on
    * replay of the same commitId (finished group markers skip the
    * write; a commitId's files are filtered from the parent list
    * before re-adding, so they are never double-counted). The
    * snapshot's `lineage` stays per-commit (the DELTA's lineage). The
    * delta is written as one group; `statsCol` names the column whose
    * per-file min/max the manifest records for `readRange`. */
  def commitAppend(df: DataFrame, commitId: String,
                   statsCol: Option[String] = None): Long = {
    val parentId = currentSnapshotId
    val parent = parentId.map(readSnapshot)
    // replay safety: if the parent snapshot already carries this
    // commitId's files (crash AFTER the flip, foreachBatch replays the
    // batch), its row count already includes the delta — don't re-add
    val parentHadThis =
      parent.exists(_.files.exists(_.path.contains(s"/commit-$commitId/")))
    val parentFiles = parent.map(_.files).getOrElse(Nil)
      .filterNot(_.path.contains(s"/commit-$commitId/"))
    // the caller's layout, no exchange: micro-batch appends are small,
    // their caller-shaped layout usually carries contiguous statsCol
    // ranges per task, and re-hashing would collapse each bucket to one
    // file whose [min,max] spans the whole batch — destroying the
    // per-file stats pruning readRange depends on. Small-file growth is
    // the compact() job's concern (Iceberg's same split of duties).
    requireBucket(df)
    commitGroups(df, commitId, 1, -1) { (files, lineage, since) =>
      val mergedRows = parent.map(_.rows).getOrElse(0L) +
        (if (parentHadThis) 0L else lineageSum(lineage, "rows"))
      // CAS against the parent this manifest was BUILT from: a racing
      // commit that landed after our parent read must make THIS flip
      // fail (the merged file list would silently drop its files if we
      // re-read the current snapshot here) — caller retries, re-reading
      // the new parent. Parent files keep the stats they already carry;
      // only THIS commit's fresh files are scanned for theirs.
      flipSnapshot(commitId, (parentFiles ++ withStats(files, statsCol)).sortBy(_.path),
        mergedRows, df.columns.toSeq, parentId.getOrElse(-1L), lineage, since)
    }
  }

  private def requireBucket(df: DataFrame): Unit =
    require(df.columns.contains("bucket"), "df must carry a bucket column")

  /** The one commit path under `commit` and `commitAppend`: the group
    * writes, then `flip` with their data files, their lineage and the
    * `System.nanoTime` at which the last group write ended. A failure
    * logs `commit_failed` and rethrows. The commit id names the data
    * directory, which the read path globs, so an empty id, a path or
    * glob character, or non-ASCII (the JVM's file-name encoding follows
    * the locale) is refused up front, before anything is written or
    * logged. */
  private def commitGroups(df: DataFrame, commitId: String, groups: Int, abortAfterGroup: Int)
                          (flip: (Seq[DataFileEntry], Seq[Seq[Long]], Long) => Long): Long = {
    require(commitId.nonEmpty && commitId.forall(c => c < 128 && "/\\[]{}*?".indexOf(c) < 0),
      s"commit id '$commitId' cannot be a directory name: use non-empty ASCII without / \\ [ ] { } * ?")
    require(groups >= 1, s"groups must be >= 1, got $groups")
    try flip.tupled(writeGroups(df, commitId, groups, abortAfterGroup))
    catch {
      case e: Throwable =>
        // the commit's own error surfaces even if the log write fails
        try logEvent(commitId, s"commit_failed error=${e.getClass.getSimpleName}")
        catch { case l: Throwable => e.addSuppressed(l) }
        throw e
    }
  }

  /** Lineage aggregate, then the group writes, of `df` in its own
    * layout, as overlapped jobs from a pool of up to 3 threads. Returns
    * the data files, every group's lineage rows, read from the markers
    * (a group finished by an earlier run keeps the lineage of the data
    * it wrote), and the `System.nanoTime` at which the writes ended.
    * With `abortAfterGroup` = g ≥ 0 only groups 0..g run, then it
    * throws (the simulated crash of the test hook).
    * Logs the aggregate's counts (`staged`) before any write, then one
    * `group` line per group (`resumed` if its marker was there). */
  private def writeGroups(df: DataFrame, commitId: String, groups: Int,
                          abortAfterGroup: Int): (Seq[DataFileEntry], Seq[Seq[Long]], Long) = {
    val dataDir = new Path(root, s"data/commit-$commitId")
    val progressDir = new Path(metaDir, s"progress/$commitId")
    def marker(g: Int) = new Path(progressDir, s"group-$g.done")
    fs.mkdirs(progressDir)

    val grouped = df.withColumn("grp", pmod(col("bucket"), lit(groups)))
    // lineage: one row per logical bucket (SURVEY.md §7.7), aggregated
    // ONCE up front — at most `buckets` rows, collected to the driver.
    // commit's persisted input fills its cache with this action before
    // the concurrent group jobs race for it; an append's input is
    // column-pruned here and pays one cheap pass instead of one per group.
    val t0 = System.nanoTime()
    val lineage = grouped.groupBy(col("bucket"), col("grp"))
      .agg(
        count(lit(1)).as("rows"),
        sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("error_rows"),
        // P6 analogue: blank extractions counted at the sink
        // (main_window.py:784-786 refuses empty saves; we record)
        sum(when(col("error").isNull && length(coalesce(col("text"), lit(""))) === 0, 1L)
          .otherwise(0L)).as("empty_rows"),
        // O4 analogue: >20-part documents warn-counted, not dropped
        // (main_window.py:342-344)
        sum(when(size(split(coalesce(col("text"), lit("")), "--- صفحة ", -1)) - 1 > 20, 1L)
          .otherwise(0L)).as("oversize_docs"),
        sum(length(coalesce(col("text"), lit("")))).as("text_chars"))
      .collect().toSeq
      // in LineageCols order; each group write fills in its elapsed_ms
      .map(r => r.getInt(0).toLong +: (2 to 6).map(r.getLong) :+ 0L :+ r.getInt(1).toLong)
    def total(c: String) = lineageSum(lineage, c)
    logEvent(commitId, s"staged rows=${total("rows")} errors=${total("error_rows")} " +
      s"empty=${total("empty_rows")} oversize=${total("oversize_docs")} " +
      s"ms=${(System.nanoTime() - t0) / 1000000}")

    def doGroup(g: Int): Unit =
      if (fs.exists(marker(g))) logEvent(commitId, s"group $g resumed")
      else {
        val t0 = System.nanoTime()
        // grp/bucket as real partition dirs: a consistent two-level
        // layout for partition discovery AND bucket-level pruning.
        // Dynamic overwrite clears ONLY this group's partitions — a
        // group job that died mid-write is cleanly replaced on resume,
        // never duplicated.
        grouped.filter(col("grp") === g).write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("grp", "bucket").parquet(dataDir.toString)
        val elapsedMs = (System.nanoTime() - t0) / 1000000
        val mine = lineage.filter(_.last == g)
          .map(_.updated(LineageCols.indexOf("elapsed_ms"), elapsedMs))
        // one file certifies data + lineage: written under a temp name
        // and renamed, so it is complete or absent, and a group that
        // died before the rename re-runs
        val tmp = new Path(progressDir, s".group-$g.done.tmp")
        val out = fs.create(tmp, true)
        out.write(Json.writeValueAsBytes(mine.map(_.toArray).toArray)); out.close()
        if (!fs.rename(tmp, marker(g)))
          throw new java.io.IOException(s"could not publish ${marker(g)}")
        logEvent(commitId, s"group $g rows=${lineageSum(mine, "rows")} ms=$elapsedMs")
      }

    // OVERLAPPED group jobs (r6, guide §2.6): group writes are
    // independent (disjoint grp= partition dirs, one marker each,
    // per-job staging dirs), and running them from a small pool lets
    // the next group's tasks back-fill executors freed by the current
    // group's write tail. Resume and cancel semantics hold: markers
    // land only after a group's data landed, unfinished groups are
    // cleanly re-written by the dynamic overwrite on re-run, and the
    // pool threads inherit the caller's cancellable job group
    // (thread-locals are inheritable at thread creation).
    val todo =
      if (abortAfterGroup >= 0) 0 to math.min(abortAfterGroup, groups - 1) else 0 until groups
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(todo.size, 3))
    // propagate the first failure in group order, unwrapped
    try todo.map(g => pool.submit[Unit](() => doGroup(g))).foreach { f =>
      try f.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    } finally pool.shutdownNow()
    if (abortAfterGroup >= 0)
      throw new IllegalStateException(s"simulated crash after group ${todo.last}")

    val written = System.nanoTime()
    (listParquet(dataDir),
      (0 until groups).flatMap(g => rowsOf(readJson(marker(g)))).sortBy(_.head), written)
  }

  /** Atomic snapshot flip: write the manifest to a committer-unique
    * temp name, then publish it to `snap-<n>.json` with create-if-absent
    * semantics — a crash at any point leaves the previous snapshot
    * intact and readable.
    *
    * Concurrency: two committers that both observed parent `n-1` race
    * for the same `snap-<n>.json`; exactly one publish succeeds and the
    * loser gets [[IceTable.ConcurrentCommitException]]. The loser's
    * data dir is unreferenced by any snapshot (safe to delete), and a
    * retry of the same commit is cheap: finished-group markers skip
    * the data rewrite and carry its lineage, so only the manifest flip
    * re-runs against the new parent.
    *
    * `commit_complete`'s `ms` runs from `since` (a commit passes the end
    * of its last group write, so it covers the file listing, the marker
    * reads, an append's stats and the flip) to the published manifest. */
  private[tables] def flipSnapshot(commitId: String, files: Seq[DataFileEntry],
                                   rows: Long, schemaFields: Seq[String],
                                   parent: Long,
                                   lineage: Seq[Seq[Long]] = Nil,
                                   since: Long = System.nanoTime()): Long = {
    val next = parent + 1
    val json = renderSnapshot(Snapshot(next, parent, commitId, files, rows, lineage,
      schemaFields))
    fs.mkdirs(metaDir)
    val tmp = new Path(metaDir, s".snap-$next.json.$commitId.tmp")
    val o = fs.create(tmp, true); o.write(json); o.close()
    if (!publishNew(tmp, snapPath(next)))
      throw new IceTable.ConcurrentCommitException(next, commitId)
    logEvent(commitId, s"commit_complete snapshot=$next rows=${lineageSum(lineage, "rows")} " +
      s"errors=${lineageSum(lineage, "error_rows")} oversize=${lineageSum(lineage, "oversize_docs")} " +
      s"ms=${(System.nanoTime() - since) / 1000000}")
    next
  }

  /** Publish `tmp` as `dst` atomically, failing (false) if `dst`
    * already exists. On `file://` this must be a hard link: POSIX
    * rename(2) silently OVERWRITES an existing destination, so the
    * local-FS rename cannot detect a concurrent commit. The rename
    * path is restricted to schemes whose rename is known to FAIL on an
    * existing destination (HDFS and its drop-ins): on s3a/abfs/gcs a
    * rename would silently clobber a racing committer's snapshot and
    * defeat the CAS entirely, so any other scheme fails loudly — those
    * stores need a catalog for the pointer swap, which is exactly why
    * Iceberg puts it in a catalog, not the FS. */
  private[tables] def publishNew(tmp: Path, dst: Path): Boolean = {
    val scheme = fs.getUri.getScheme
    if ("file".equals(scheme)) {
      val t = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri)
      val d = java.nio.file.Paths.get(fs.makeQualified(dst).toUri)
      try {
        java.nio.file.Files.createLink(d, t)
        fs.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          fs.delete(tmp, false)
          false
      }
    } else if (RenameCasSchemes.contains(scheme)) {
      fs.rename(tmp, dst)
    } else {
      throw new UnsupportedOperationException(
        s"IceTable snapshot CAS is not safe on scheme '$scheme': rename " +
          "does not fail on an existing destination there, so a racing " +
          "commit would be silently overwritten. Use file://, an " +
          "HDFS-compatible store, or front the table with a catalog.")
    }
  }

  /** Schemes whose FileSystem.rename has fail-if-exists semantics
    * (the HDFS contract), making a bare rename a usable CAS. */
  private val RenameCasSchemes = Set("hdfs", "viewfs", "webhdfs", "swebhdfs")

  /** Compact the current snapshot: rewrite every live file into one
    * fresh overwrite-commit (Iceberg rewrite_data_files analogue) —
    * counters the small-file accumulation of per-micro-batch streaming
    * appends with the commit's one exchange, in one group: one file per
    * bucket. Old commit dirs become unreferenced once pre-compaction
    * snapshots expire. */
  def compact(commitId: String): Long =
    commit(read(), commitId, 1)

  /** Commit-directory name referenced by a data file path. */
  private def commitDirOf(path: String): Option[String] =
    """data/commit-([^/]+)/""".r.findFirstMatchIn(path).map(_.group(1))

  /** Expire snapshots older than `keep` latest ones: delete their
    * manifests and any data-commit directories no surviving snapshot
    * references (backup retention discipline — the reference prunes by
    * listing+selection, backup_manager.py:63-77; Iceberg calls this
    * expire_snapshots). References are tracked per FILE, not per
    * snapshot commitId — append snapshots carry files from many commit
    * dirs, all of which must survive. The current snapshot is never
    * expired. The event lines of a dropped snapshot's commit go too,
    * unless a kept snapshot has the same commit id; lines of a commit
    * with no snapshot (in flight, or failed) stay. */
  def expireSnapshots(keep: Int): Seq[Long] = {
    require(keep >= 1)
    val all = snapshots
    if (all.length <= keep) return Nil
    val (drop, keepIds) = all.splitAt(all.length - keep)
    val keptSnaps = keepIds.map(readSnapshot)
    val referenced = (keptSnaps.map(_.commitId) ++
      keptSnaps.flatMap(_.files.flatMap(f => commitDirOf(f.path)))).toSet
    val droppedCommits = drop.map { id =>
      val snap = readSnapshot(id)
      fs.delete(snapPath(id), false)
      val dirs = (snap.files.flatMap(f => commitDirOf(f.path)) :+ snap.commitId).distinct
      dirs.filterNot(referenced.contains).foreach { c =>
        fs.delete(new Path(root, s"data/commit-$c"), true)
        fs.delete(new Path(metaDir, s"progress/$c"), true)
      }
      snap.commitId
    }.toSet -- keptSnaps.map(_.commitId)
    // a line is `instant [commitId] event`
    events.foreach { case (p, line) =>
      val tagged = line.drop(line.indexOf(' ') + 1)
      if (droppedCommits.exists(c => tagged.startsWith(s"[$c] "))) fs.delete(p, false)
    }
    drop
  }

  /** Completed resume groups for a commit (test/ops introspection). */
  def completedGroups(commitId: String): Set[Int] = {
    val p = new Path(metaDir, s"progress/$commitId")
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("group-") && s.endsWith(".done") =>
        s.stripPrefix("group-").stripSuffix(".done").toInt
      }.toSet
  }

  /** The long image of a stats column: timestamps map through
    * unix_micros (Spark refuses a direct timestamp→long cast),
    * integer types cast. Shared by stats collection and readRange so
    * the recorded numbers and the filter always speak the same unit. */
  private def statLong(df: DataFrame, c: String): org.apache.spark.sql.Column =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(c))
      case _ => col(c).cast("long")
    }

  /** Attach per-file min/max of `statsCol` to fresh commit entries —
    * the write-side statistics collection Iceberg performs inline.
    * Files where the column is entirely null keep no stats (and are
    * therefore never pruned — correct, since they hold no matching
    * rows but pruning must stay a superset). */
  private def withStats(files: Seq[DataFileEntry],
                        statsCol: Option[String]): Seq[DataFileEntry] = {
    val c = statsCol.getOrElse(return files)
    if (files.isEmpty) return files
    // input_file_name() is a file URI (file:///...); manifest paths
    // come from Hadoop Path.toString (file:/...) — compare scheme-free
    def norm(p: String): String = p.replaceFirst("^[a-zA-Z0-9.+-]+:/+", "/")
    val fresh = spark.read.parquet(files.map(_.path): _*)
    val stats = fresh
      .select(input_file_name().as("__f"), statLong(fresh, c).as("__v"))
      .groupBy("__f").agg(min("__v").as("lo"), max("__v").as("hi"))
      .collect()
      .flatMap { r =>
        if (r.isNullAt(1) || r.isNullAt(2)) None
        else Some(norm(r.getString(0)) -> (r.getLong(1), r.getLong(2)))
      }.toMap
    files.map { f =>
      stats.get(norm(f.path))
        .map { case (lo, hi) => f.copy(statsMin = Some(lo), statsMax = Some(hi)) }
        .getOrElse(f)
    }
  }

  /** The `.parquet` files under `dir`, by a `listStatus` walk. Not
    * `listFiles`: its `LocatedFileStatus` loads each file's permission,
    * which on the local FS without the native hadoop library is an
    * `ls -ld` process per file. */
  private def listParquet(dir: Path): Seq[DataFileEntry] = {
    def walk(d: Path): Seq[DataFileEntry] = fs.listStatus(d).toSeq.flatMap { s =>
      if (s.isDirectory) walk(s.getPath)
      else if (s.getPath.getName.endsWith(".parquet")) Seq(DataFileEntry(s.getPath.toString, s.getLen))
      else Nil
    }
    if (fs.exists(dir)) walk(dir).sortBy(_.path) else Nil
  }

  // ---- JSON metadata (driver-side; Jackson tree API) -------------------

  private def readJson(p: Path): JsonNode = {
    val in = fs.open(p)
    try Json.readTree(in) finally in.close()
  }

  /** Lineage rows, stored as positional arrays of longs in
    * `LineageCols` order. */
  private def rowsOf(n: JsonNode): Seq[Seq[Long]] =
    n.asScala.map(_.asScala.map(_.asLong).toSeq).toSeq

  private def renderSnapshot(s: Snapshot): Array[Byte] = {
    val o = Json.createObjectNode().put("format_version", 2)
      .put("snapshot_id", s.id).put("parent_id", s.parentId)
      .put("commit_id", s.commitId).put("rows", s.rows)
    o.set[JsonNode]("lineage", Json.valueToTree[JsonNode](s.lineage.map(_.toArray).toArray))
    s.schemaFields.foldLeft(o.putArray("schema"))(_.add(_))
    val files = o.putArray("files")
    s.files.foreach { f =>
      val e = files.addObject().put("path", f.path).put("bytes", f.bytes)
      for (lo <- f.statsMin; hi <- f.statsMax) e.put("min", lo).put("max", hi)
    }
    Json.writeValueAsBytes(o)
  }

  private def parseSnapshot(j: JsonNode): Snapshot = {
    // unknown keys are ignored (forward-tolerant); format_version gates
    // reads of manifests this reader does not understand
    val version = j.path("format_version").asLong(0L)
    if (version != 2L)
      throw new IllegalStateException(s"snapshot format_version $version is unreadable: " +
        "this reader supports only 2 (format 1 and older store lineage as a path)")
    def field(k: String): JsonNode =
      Option(j.get(k)).getOrElse(throw new IllegalStateException(s"bad snapshot json: no $k"))
    val files = j.path("files").asScala.map(f => DataFileEntry(
      f.get("path").asText, f.get("bytes").asLong,
      Option(f.get("min")).map(_.asLong), Option(f.get("max")).map(_.asLong))).toSeq
    Snapshot(field("snapshot_id").asLong, field("parent_id").asLong,
      field("commit_id").asText, files, field("rows").asLong, rowsOf(field("lineage")),
      field("schema").asScala.map(_.asText).toSeq)
  }
}

object IceTable {
  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A racing committer published this snapshot id first. The failed
    * commit's data dirs are unreferenced (expirable); retrying the
    * commit is cheap — finished-group markers skip the data rewrite. */
  final class ConcurrentCommitException(val snapshotId: Long, val commitId: String)
      extends IllegalStateException(
        s"concurrent commit detected: snap-$snapshotId already published (commit $commitId lost the race)")

  /** One data file in a manifest. `statsMin`/`statsMax` optionally
    * carry the file's min/max of the table's designated long-typed
    * stats column (Iceberg data-file statistics): readRange prunes
    * files from METADATA alone — no footer opens, no scan — and old
    * manifests without stats stay readable (the file is simply never
    * pruned). */
  final case class DataFileEntry(path: String, bytes: Long,
                                 statsMin: Option[Long] = None,
                                 statsMax: Option[Long] = None)
  /** Lineage columns, in the one positional order that `.done`
    * markers and manifests store each lineage row in. */
  val LineageCols: Seq[String] = Seq("bucket", "rows", "error_rows", "empty_rows",
    "oversize_docs", "text_chars", "elapsed_ms", "grp")

  /** Sum of one lineage column over all rows. */
  def lineageSum(lineage: Seq[Seq[Long]], c: String): Long =
    lineage.map(_(LineageCols.indexOf(c))).sum

  /** `lineage` holds one row per bucket, in `LineageCols` order. */
  final case class Snapshot(
      id: Long,
      parentId: Long,
      commitId: String,
      files: Seq[DataFileEntry],
      rows: Long,
      lineage: Seq[Seq[Long]],
      schemaFields: Seq[String])

  /** The event-log file name's sequence and JVM id: unique across
    * tables and threads in one JVM and across committer JVMs. */
  private val EventSeq = new java.util.concurrent.atomic.AtomicLong()
  private val JvmId = java.util.UUID.randomUUID().toString.take(8)
}
