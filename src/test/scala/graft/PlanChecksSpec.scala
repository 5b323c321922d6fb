package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape checks — the scale contract (builder brief:
  * "is the filter pushed down? is this join broadcast-able, and did I
  * broadcast it? is there a shuffle that becomes the bottleneck?"). */
class PlanChecksSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = GraftSession.local(8, "graft-plan-test")
  val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q2: predicate and projection pushed to the parquet scan") {
    val p = plan("q2_filter_pushdown")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThanOrEqual(p_size,25"), p)
    assert(p.contains("EqualTo(p_type,PROMO)"), p)
    assert(p.contains("ReadSchema") &&
      !p.contains("p_retailprice") && !p.contains("p_brand"),
      "scan must read only the projected columns")
  }

  test("q3: small dimensions are broadcast, not shuffled") {
    val p = plan("q3_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "dims must not sort-merge")
  }

  test("extraction over a table scan prunes unused columns") {
    val stage = tempDir("plancheck").toString + "/pages"
    graft.pipeline.ExtractPipeline.pages(spark, 50).toDF()
      .write.mode("overwrite").parquet(stage)
    val p = graft.pipeline.ExtractPipeline.extracted(spark.read.parquet(stage))
      .queryExecution.executedPlan.toString
    // ground-truth text and warc_ts must NOT be read from the scan
    assert(p.contains("ReadSchema"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("html") && readSchema.contains("url"))
    assert(!readSchema.contains("warc_ts") && !readSchema.contains("text,"),
      s"unused columns must be pruned: $readSchema")
  }

  test("no accidental cartesian products in candidate-join ops") {
    // (d6 is deliberately absent: its barriers truncate lineage,
    // so its executedPlan no longer contains the candidate join — d3
    // pins the shared minhashPairs plan)
    Seq("d2_ngram_jaccard", "d3_minhash_lsh", "d4_simhash", "t4_fingerprint",
      "d5_embed_neardup", "d8_substring_dup", "t10_rare_tokens",
      "d10_para_dedup").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join")
    }
  }

  test("t10 joins occurrences against the FILTERED rare sliver, broadcast") {
    val p = plan("t10_rare_tokens")
    // the join-back's build side must be the df<=2-filtered DF table,
    // broadcast — never a full-vocabulary shuffle keyed by raw token
    // (VERDICT r4 #3: hot stopword keys funnel through one reducer)
    assert(p.contains("BroadcastHashJoin"), p.take(900))
    assert("\\(df#\\d+L? <= 2\\)".r.findFirstIn(p).isDefined,
      s"rare filter must sit below the join-back:\n${p.take(900)}")
    // tok-keyed exchanges may carry only partial-agg rows (the DF
    // build), never the occurrence stream: the occurrence side's only
    // shuffles are keyed by (doc_id, tok) or doc_id
    assert(!p.contains("SortMergeJoin"),
      s"occurrences must stream against a broadcast, not sort-merge:\n${p.take(900)}")
  }

  test("t17 splits the df join-back: heavy hitters broadcast, tail bounded") {
    val p = plan("t17_token_lm")
    // head (df > 64: the Zipf heavy hitters, tiny distinct set) must
    // reach the occurrence stream as a BROADCAST build; only the tail
    // (per-key multiplicity <= 64, no hot reducer possible) may shuffle
    assert(p.contains("BroadcastHashJoin"), p.take(900))
    assert("\\(df#\\d+L? > 64\\)".r.findFirstIn(p).isDefined,
      s"head filter (df > 64) must sit below the broadcast build:\n${p.take(900)}")
    assert("\\(df#\\d+L? <= 64\\)".r.findFirstIn(p).isDefined,
      s"tail filter (df <= 64) must bound the shuffled side:\n${p.take(900)}")
  }

  test("t19's window runs over the binned aggregate, never the corpus") {
    val p = plan("t19_length_quantiles")
    assert(p.contains("Window"), p.take(600))
    // the corpus must be reduced to (source, bin) counts BEFORE any
    // wide op: the only row-stream shuffle is keyed by the bin pair
    // (≤ #bins rows per host reach the window, not #docs)
    assert("hashpartitioning\\(source#\\d+, bin#\\d+".r.findFirstIn(p).isDefined,
      s"window input must be the (source,bin) pre-aggregate:\n${p.take(900)}")
  }

  test("b1: query terms broadcast-prune occurrences; no sort-merge reaches the corpus") {
    val p = plan("b1_bm25")
    assert(p.contains("BroadcastHashJoin"), p.take(900))
    assert(!p.contains("CartesianProduct"), p.take(900))
    // r6 (VERDICT r5 #6): the doclen side must be left-semi PRUNED to
    // query-term-bearing docs before the scoring join — dl is
    // corpus-sized while the candidate set is a sliver
    assert(p.contains("LeftSemi"),
      s"dl must be semi-pruned below the scoring join:\n${p.take(900)}")
  }

  test("t20's merge-candidate window runs over the pair aggregate, never the corpus") {
    val p = plan("t20_bpe_pairs")
    assert(p.contains("Window"), p.take(600))
    // pairs must reduce to (pair, cnt) — bounded by |alphabet|^2 —
    // before the rank window; partial_count proves map-side combine
    assert(p.contains("partial_count"),
      s"pair counts must combine map-side:\n${p.take(900)}")
    assert("hashpartitioning\\(pair#\\d+".r.findFirstIn(p).isDefined,
      s"the only row-stream shuffle is keyed by pair:\n${p.take(900)}")
  }

  test("t21's corpus window is bucket-partitioned; offsets broadcast back") {
    val p = plan("t21_pack_shards")
    // the global-prefix-sum scale trap is an UN-partitioned window
    // (SinglePartition Exchange of the whole corpus); the two-level
    // scheme's corpus window must be keyed by the id-range bucket…
    assert("hashpartitioning\\(bucket#\\d+".r.findFirstIn(p).isDefined,
      s"the corpus prefix window must be PARTITIONED by bucket:\n${p.take(900)}")
    // …with bucket totals map-side combined (one row per bucket ever
    // reaches the lone single-partition window) and broadcast back
    assert(p.contains("partial_sum"),
      s"bucket totals must combine map-side:\n${p.take(900)}")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket offsets must broadcast back, not shuffle the corpus:\n${p.take(900)}")
  }

  test("t22: the 256-row DSIR weight table broadcasts; corpus shuffles only by doc_id") {
    val p = plan("t22_dsir_select")
    assert(p.contains("BroadcastHashJoin"),
      s"the bucket-weight table must broadcast:\n${p.take(900)}")
    assert(!p.contains("SortMergeJoin"),
      "no token- or bucket-keyed sort-merge may reach the corpus stream")
    assert("hashpartitioning\\(doc_id#\\d+".r.findFirstIn(p).isDefined,
      s"the only corpus-wide shuffle is the per-doc sum:\n${p.take(900)}")
  }

  test("d7 broadcasts the bounded eval-set side, never sort-merges the corpus") {
    val p = plan("d7_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), "the corpus must stream against a broadcast")
  }

  test("d7b over-broadcast band: bloom probe below the exact join, no broadcast build") {
    val p = plan("d7b_decon_bloom")
    assert(p.contains("graft_bloom_contains"),
      s"corpus stream must be bloom-pre-filtered map-side:\n${p.take(800)}")
    assert(!p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("d11: corpus sha stream is bloom-of-batch pre-filtered before the semi-join") {
    val p = plan("d11_incremental_ingest")
    assert(p.contains("graft_bloom_contains"),
      s"the 100 TB corpus side must not shuffle blindly each increment:\n${p.take(800)}")
  }

  test("scrub ops (t6/t7/u1/t8/x13) are row-local: no join/window, only the sort exchange") {
    // x13 rides along: outlink explode is a Generate over the scan,
    // never a join
    // t14 rides along: the Gopher doc-quality gate is pure
    // split/filter/transform over the scan
    // x14 rides along: graft_meta is one Generate (explode(array(..))
    // forces a single struct evaluation) over the scan
    Seq("t6_redact", "t7_nfc", "u1_url_canon", "t8_split", "x13_outlinks",
        "t14_gopher_docs", "x14_meta").foreach { q =>
      val p = plan(q)
      val exchanges = "Exchange".r.findAllIn(p).size
      assert(exchanges <= 1, s"$q must shuffle at most once (final sort):\n${p.take(900)}")
      assert(!p.contains("Join") && !p.contains("Window"),
        s"$q must be a row-local projection over the scan")
    }
  }

  test("t15/t16: the corpus streams against BROADCAST small sides, never sort-merges") {
    // t15's blocklist and t16's per-lang weight table are the
    // canonical tiny-dimension sides — at 10^12 docs a sort-merge
    // here would shuffle the whole corpus
    Seq("t15_url_blocklist", "t16_lang_sample").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n${p.take(900)}")
      assert(!p.contains("SortMergeJoin"),
        s"$q corpus side must not sort-merge:\n${p.take(900)}")
    }
  }

  test("u2: url-dedup agg combines map-side; join-back never nested-loops") {
    val p = plan("u2_url_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(900))
    // the canon_url shuffle must carry partial (min, count) rows, not
    // raw docs — map-side combine is what bounds the agg traffic at
    // corpus scale
    assert(p.contains("partial_min") && p.contains("partial_count"),
      s"canon_url agg must combine map-side below its exchange:\n${p.take(900)}")
  }

  test("r1: robots rules are a BROADCAST build off Range — the URL corpus never sort-merges") {
    val p = plan("r1_robots")
    assert(p.contains("BroadcastHashJoin"), p.take(900))
    assert(!p.contains("SortMergeJoin"),
      s"the fetched-URL corpus must stream map-side past ≤3 rules/host:\n${p.take(900)}")
  }

  test("d12 streams the corpus against BROADCAST eval bands — no self-join") {
    val p = plan("d12_fuzzy_decon")
    assert(p.contains("BroadcastHashJoin"), p.take(900))
    assert(!p.contains("SortMergeJoin"),
      s"corpus bands must not sort-merge:\n${p.take(900)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(900))
  }

  test("s1 brute-force top-k is a deliberate broadcast nested loop (small query side)") {
    val p = plan("s1_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"),
      "query side must be broadcast for the corpus scan")
  }

  test("ANN ranking is a partial bounded-heap aggregate, not a global window") {
    // t9's per-host cap rides the same discipline: a hot host must do
    // map-side partial top-Ks, never a per-host row_number sort
    // b1's per-query retrieval ranking likewise: posting lists merge
    // through map-side partial top-Ks, never a per-query window sort
    Seq("s1_cosine_topk", "s2_ann_lsh", "s3_ann_ivf", "t9_host_cap",
        "b1_bm25", "s4_cluster_sample").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q must not rank via a global window (shuffles every scored row):\n${p.take(600)}")
      assert(p.contains("graft_topk") || p.contains("ObjectHashAggregate") ||
        p.contains("SortAggregate"), s"$q must aggregate with the bounded top-k")
    }
  }

  test("as-of join is ONE hash shuffle regardless of side sizes") {
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val fact = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val dim = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("dim_ts"), col("value"))
    val joined = graft.ops.AsOfJoin.latestBefore(
      fact, dim, "user_id", "ts", "dim_ts", Seq("value"))
    val p = joined.queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"as-of join must shuffle exactly once (saw $hashExchanges):\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("IVF centroid assignment is shuffle-free (literal-array argmin)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = graft.ops.IvfIndex.train(emb, k = 4, iters = 1)
    val p = graft.ops.IvfIndex.assign(emb, cents)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"assign must be a row-local projection over the scan:\n${p.take(1200)}")
    assert(!p.contains("Join"), "assign must not join")
  }

  test("x10/x11 roundtrips are shuffle-free up to the final sort") {
    // scan → expression (make_pdf/extract or explode_blocks): the only
    // exchange is the deterministic ORDER BY the driver compare needs
    Seq("x10_pdf_roundtrip", "x11_blocks_roundtrip").foreach { q =>
      val p = plan(q)
      val exchanges = "Exchange".r.findAllIn(p).size
      assert(exchanges <= 1, s"$q must shuffle at most once (sort):\n${p.take(900)}")
      assert(!p.contains("Join"), s"$q must not join")
    }
    assert(plan("x11_blocks_roundtrip").contains("Generate"),
      "x11 must run the generator, not a rewrite")
  }

  test("bucketed as-of join windows partition by (key, bucket), never key alone") {
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val fact = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val dim = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"), col("ts").as("dim_ts")).agg(max("value").as("value"))
    val p = graft.ops.AsOfJoin.latestBeforeBucketed(
        fact, dim, "user_id", "ts", "dim_ts", Seq("value"), 86400L,
        graft.ops.AsOfJoin.tsSeconds)
      .queryExecution.executedPlan.toString
    // the row-volume fill window must carry the bucket in its
    // partition spec; the only key-only windows are the carry/lag over
    // the aggregated per-bucket frame (bucket-count-bounded)
    val windowSpecs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowSpecs.nonEmpty, p.take(600))
    val fillSpecs = windowSpecs.filter(_.contains("__dim#"))
    assert(fillSpecs.nonEmpty, s"fill window not found:\n${windowSpecs.mkString("\n")}")
    fillSpecs.foreach { w =>
      assert(w.contains("__b"), s"fill window must partition by (key, __b): $w")
    }
  }

  test("whole-stage codegen covers the relational battery") {
    // codegen stages print as "*(n)"; AQE shows them only in the final
    // executed plan, so run the query first
    Seq("q1_agg", "q5_window", "q10_events_hourly").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert("""\*\(\d+\)""".r.findFirstIn(p).isDefined,
        s"$q fell out of codegen:\n${p.take(800)}")
    }
  }
}
