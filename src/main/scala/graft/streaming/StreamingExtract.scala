package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.GraftSession
import graft.expr.MinHashSig
import graft.pipeline.ExtractPipeline

/** Structured-Streaming slice (SURVEY.md §2.9).
  *
  * The reference is batch; its incremental behaviors map here:
  * per-page progress (ST1) → micro-batch progress events; hourly
  * auto-backup (ST3) → checkpointed incremental commits
  * (`Trigger.ProcessingTime` + `checkpointLocation`); as-completed
  * result draining (ST5) → unordered micro-batch completion.
  *
  * Extraction is stateless per row, so the streaming pipeline is:
  * append-only pages source → graft_extract → foreachBatch sink —
  * no state store needed (SURVEY.md §2.9 note).
  */
object StreamingExtract {

  /** Streaming extraction over an append-only pages directory.
    * Each micro-batch appends to `outDir` (parquet) — the foreachBatch
    * commit discipline that an IceTable-per-batch commit would use. */
  def run(spark: SparkSession, pagesDir: String, outDir: String,
          checkpointDir: String): StreamingQuery = {
    GraftSession.register(spark)
    val pages = spark.readStream
      .schema("url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING")
      .parquet(pagesDir)
    ExtractPipeline.extracted(pages)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("append").parquet(outDir)
        ()
      }
      .start()
  }

  /** Streaming extraction where EVERY micro-batch becomes an IceTable
    * append snapshot (ST3: the reference's hourly auto-backup becomes a
    * snapshot per trigger — the snapshot log IS the backup history, and
    * the latest snapshot always reads the full accumulated table).
    * foreachBatch replay of a batchId is idempotent at the data layer:
    * commitAppend skips finished group markers and never double-counts
    * a commit's files. Each commit records per-file warc_ts min/max in
    * the manifest, so a time-sliced `readRange` over the accumulated
    * append chain opens only the overlapping micro-batch files —
    * crawl-slice reads stay O(slice), not O(history). */
  def runIceTable(spark: SparkSession, pagesDir: String, tableRoot: String,
                  checkpointDir: String, buckets: Int = 8): StreamingQuery = {
    GraftSession.register(spark)
    val table = new graft.tables.IceTable(tableRoot, spark)
    val pages = spark.readStream
      .schema("url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING")
      .parquet(pagesDir)
    // carry warc_ts through extraction: it keys the manifest time stats
    ExtractPipeline.extracted(pages, passthrough = Seq("warc_ts"))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val out = batch.withColumn("bucket", ExtractPipeline.bucketOf(buckets))
        if (!out.isEmpty) {
          // bounded retry on the snapshot CAS: another writer (e.g. a
          // compact() on the same table) landing between this batch's
          // parent read and its flip raises ConcurrentCommitException;
          // a retry re-reads the new parent and is cheap (finished
          // group markers skip the data rewrite). Exhausted retries
          // fail the query loudly — never a silent drop.
          var attempts = 0
          var done = false
          while (!done) {
            attempts += 1
            try {
              table.commitAppend(out, s"stream-$batchId",
                statsCol = Some("warc_ts"))
              done = true
            }
            catch {
              case e: graft.tables.IceTable.ConcurrentCommitException
                  if attempts < 3 =>
                System.err.println(s"[stream] batch $batchId lost a commit race, retrying: ${e.getMessage}")
            }
          }
        }
      }
      .start()
  }

  /** Watermarked event-time windowed aggregation over the events table
    * (ST3/ST4 analogue: periodic per-window status rows). */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))

  // --- stateful streaming exact-dedup (flatMapGroupsWithState) ----------

  final case class HashedDoc(doc_id: Long, text_sha: String)
  final case class SeenState(first_id: Long, n: Long)
  final case class DedupEvent(text_sha: String, doc_id: Long, keep: Boolean, dup_of: Long)

  /** Streaming exact dedup across micro-batches — the streaming twin of
    * `Dedup.exactGroups`: documents grouped by content hash, the FIRST
    * arrival of each hash is kept, later arrivals emit audit rows
    * pointing at the keeper. State per distinct hash is one
    * (first_id, count) pair — the same cardinality the batch groupBy's
    * shuffle holds, so the state store scales exactly like the batch
    * op. Within a micro-batch arrivals are ordered by doc_id so the
    * keeper choice is deterministic; across batches it is arrival
    * order (streaming first-wins semantics: an already-published
    * keeper is never retracted). */
  def dedupStream(docs: Dataset[HashedDoc]): Dataset[DedupEvent] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.text_sha)
      .flatMapGroupsWithState[SeenState, DedupEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sha: String, it: Iterator[HashedDoc], state: GroupState[SeenState]) =>
          val sorted = it.toSeq.sortBy(_.doc_id)
          val out = scala.collection.mutable.ArrayBuffer.empty[DedupEvent]
          var st = state.getOption
          sorted.foreach { d =>
            st match {
              case None =>
                out += DedupEvent(sha, d.doc_id, keep = true, dup_of = d.doc_id)
                st = Some(SeenState(d.doc_id, 1L))
              case Some(s) =>
                out += DedupEvent(sha, d.doc_id, keep = false, dup_of = s.first_id)
                st = Some(SeenState(s.first_id, s.n + 1))
            }
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  // --- streaming incremental ingestion (corpus + in-stream dedup) -------

  // public: Catalyst codegen instantiates encoder accessors reflectively
  final case class IngestDoc(doc_id: Long, text_sha: String, in_corpus: Boolean)
  final case class IngestEvent(text_sha: String, doc_id: Long, status: String)

  /** Streaming twin of `Dedup.incrementalIngest`: a continuous feed of
    * new documents classified against a STATIC corpus snapshot plus
    * in-stream first-wins state —
    *   `corpus_dup` (hash already in the corpus), `batch_dup` (an
    *   earlier stream arrival had the hash), `fresh` (first anywhere).
    *
    * Shape: one stream-static LEFT join against the corpus's distinct
    * sha set (stateless — the static side is a compact 32-byte-key
    * table, re-read per micro-batch, broadcast when small), then the
    * same per-hash `flatMapGroupsWithState` as [[dedupStream]]; state
    * is one (first_id, count) pair per distinct NON-corpus hash —
    * corpus hits never touch the store, so resident state scales with
    * the novel slice of the stream, not the corpus. Keeper semantics
    * across micro-batches are streaming first-arrival-wins (within a
    * batch, min doc_id — deterministic), matching `dedupStream`; the
    * batch operator's min-id rule coincides when arrivals are id-
    * ordered, which the spec exercises. */
  def ingestStream(batch: Dataset[HashedDoc], corpusShas: DataFrame): Dataset[IngestEvent] = {
    import batch.sparkSession.implicits._
    val corpus = corpusShas.select(col("text_sha")).distinct()
      .withColumn("in_corpus", lit(true))
    val marked = batch.toDF()
      .join(corpus, Seq("text_sha"), "left_outer")
      .select(col("doc_id"), col("text_sha"),
        coalesce(col("in_corpus"), lit(false)).as("in_corpus"))
      .as[IngestDoc]
    marked.groupByKey(_.text_sha)
      .flatMapGroupsWithState[SeenState, IngestEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sha: String, it: Iterator[IngestDoc], state: GroupState[SeenState]) =>
          val sorted = it.toSeq.sortBy(_.doc_id)
          val out = scala.collection.mutable.ArrayBuffer.empty[IngestEvent]
          var st = state.getOption
          sorted.foreach { d =>
            if (d.in_corpus) out += IngestEvent(sha, d.doc_id, "corpus_dup")
            else st match {
              case None =>
                out += IngestEvent(sha, d.doc_id, "fresh")
                st = Some(SeenState(d.doc_id, 1L))
              case Some(s) =>
                out += IngestEvent(sha, d.doc_id, "batch_dup")
                st = Some(SeenState(s.first_id, s.n + 1))
            }
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  // --- stateful streaming NEAR-dup (MinHash-LSH) ------------------------

  final case class SigDoc(doc_id: Long, sig: Array[Long])
  // public: Catalyst codegen instantiates encoder accessors reflectively
  final case class BandedDoc(bucket: String, doc_id: Long, sig: Array[Long])
  final case class BucketState(docs: List[SigDoc], dropped: Long)
  final case class NearDupEvent(id_a: Long, id_b: Long, est_jaccard: Double)

  /** Signatures one LSH bucket's state keeps (`nearDupStream`). */
  val MaxBucketDocs = 10000

  /** MinHash signatures for a (id, text) frame, streaming-safe
    * (row-local expression) — the all-sentinel (<3-word) filter
    * mirrors `Dedup.minhashPairs`. Caller must have run
    * `GraftSession.register`. */
  def minhashSigs(docs: DataFrame, idCol: String, textCol: String): Dataset[SigDoc] = {
    import docs.sparkSession.implicits._
    docs.select(col(idCol).cast("long").as("doc_id"),
        call_function("graft_minhash", col(textCol)).as("sig"))
      .filter(MinHashSig.hasShingles(col("sig")))
      .as[SigDoc]
  }

  /** Streaming twin of `Dedup.minhashPairs`: docs fan out to their
    * LSH band buckets (bucket key = band index + raw signature slice —
    * key equality ⇔ the batch op's band-hash equality), each bucket's
    * state holds the signatures seen there, and every arrival compares
    * against them, emitting a pair event when est-Jaccard reaches
    * `MinHashSig.Threshold` (the banding is `MinHashSig`'s too).
    * Downstream consumers dedupe events across bands (`SELECT
    * DISTINCT`), exactly like the batch `dropDuplicates`.
    *
    * State per bucket is its arrival history — the true cost of
    * streaming near-dup (the batch self-join sees whole buckets at
    * once; a stream must remember them). `MaxBucketDocs` bounds a
    * pathological hot bucket: beyond it new arrivals still match
    * against the retained prefix but are not added, and the drop is
    * counted in state rather than silent (the no-silent-caps rule).
    * Within a micro-batch arrivals process in doc_id order, so
    * emission is deterministic at any partitioning. */
  def nearDupStream(docs: Dataset[SigDoc]): Dataset[NearDupEvent] = {
    import docs.sparkSession.implicits._
    import MinHashSig.{Bands, K, Rows, Threshold}
    val banded = docs.flatMap { d =>
      (0 until Bands).iterator.map { b =>
        BandedDoc(b + ":" + d.sig.slice(b * Rows, b * Rows + Rows).mkString(","),
          d.doc_id, d.sig)
      }
    }
    banded.groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketState, NearDupEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[BandedDoc], state: GroupState[BucketState]) =>
          val arrivals = it.toSeq.sortBy(_.doc_id)
          var st = state.getOption.getOrElse(BucketState(Nil, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[NearDupEvent]
          arrivals.foreach { d =>
            st.docs.foreach { p =>
              if (p.doc_id != d.doc_id) {
                var m = 0
                var i = 0
                while (i < K) { if (p.sig(i) == d.sig(i)) m += 1; i += 1 }
                val est = m.toDouble / K
                if (est >= Threshold)
                  out += NearDupEvent(math.min(p.doc_id, d.doc_id),
                    math.max(p.doc_id, d.doc_id), est)
              }
            }
            st =
              if (st.docs.size < MaxBucketDocs)
                st.copy(docs = SigDoc(d.doc_id, d.sig) :: st.docs)
              else st.copy(dropped = st.dropped + 1)
          }
          state.update(st)
          out.iterator
      }
  }

  // --- stateful sessionization (flatMapGroupsWithState) -----------------

  final case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long, n_events: Int)

  /** Gap-based sessionization: a user's events more than `gapMs` apart
    * start a new session (KeyValueGroupedDataset.flatMapGroupsWithState
    * — the custom-state primitive the reference's cancel/progress flags
    * would need if they were event-driven, SURVEY.md §2.9). */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_type))
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          var cur = state.getOption
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.last <= gapMs =>
                cur = Some(SessionState(s.start, t, s.n + 1))
              case Some(s) =>
                out += SessionOut(user, s.start, s.last, s.n)
                cur = Some(SessionState(t, t, 1))
              case None =>
                cur = Some(SessionState(t, t, 1))
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }
}
