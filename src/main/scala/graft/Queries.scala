package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.ExtractPipeline

/** Operator battery — one entry per implemented operator class from
  * SURVEY.md §2 (+ training-data ops in `ops/`). Conventions for the
  * driver's DuckDB compare:
  *   - every computed column aliased identically in Spark and SQL;
  *   - deterministic ORDER BY on a unique key in both;
  *   - money aggregates: exact DECIMAL(18,2) sum, then cast to DOUBLE
  *     on both sides so floating summation order can never differ.
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The x6 template over a documents row: nav + `Title <doc_id>`
    * heading + `<p>text</p>` body + link-dense footer. x6, x8, x9, x11,
    * x12 and x13 all build their HTML here. */
  private def x6Html: Column = concat(
    lit("<html><head><title>t</title></head><body>" +
      "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav><h1>Title "),
    col("doc_id"),
    lit("</h1><p>"), col("text"),
    lit("</p><footer>Copyright <a href=\"#\">here</a> <a href=\"#\">there</a></footer>" +
      "</body></html>"))

  // ----- extraction queries (non-SQL-expressible → golden scalatests) -----

  private val extraction: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1-S5/P1/F5: full scan→dispatch→extract pipeline (SURVEY §3.1).
    // The raw spans array is projected to size(spans): the driver's
    // pandas-side sort can't hash array cells (CORRECTNESS_r01 x1 err);
    // spans themselves are fully checked flattened in x2.
    "x1_extract_pages" -> ((s, _) => {
      ExtractPipeline.extracted(ExtractPipeline.pages(s, 2000).toDF())
        .select(col("url"), col("text"), size(col("spans")).as("n_spans"),
          col("lang"), col("error"))
        .orderBy("url")
    }),
    // spans view (region-extract stage output)
    "x2_extract_spans" -> ((s, _) => {
      ExtractPipeline.extracted(ExtractPipeline.pages(s, 1000).toDF())
        .filter(col("error").isNull)
        .select(col("url"), posexplode(col("spans")).as(Seq("span_idx", "span")))
        .select(col("url"), col("span_idx"), col("span.start").as("start"),
          col("span.end").as("end"), col("span.kind").as("kind"))
        .orderBy("url", "span_idx")
    }),
    // error-as-row policy (ocr_parallel_ui.py:33-34)
    "x3_extract_errors" -> ((s, _) => {
      ExtractPipeline.extracted(ExtractPipeline.pages(s, 2000).toDF())
        .filter(col("error").isNotNull)
        .select(col("url"), col("error"))
        .orderBy("url")
    }),
    // A1 as a relational primitive: ExplodeBlocks generator (UDTF
    // analogue) → page-ordered groupBy reassembly (array_sort +
    // array_join — SURVEY §2.4 A1); equality with graft_extract's
    // in-expression assembly is asserted in SparkExtractionSpec
    "x5_block_assembly" -> ((s, _) => {
      val pages = ExtractPipeline.pages(s, 500).toDF()
      val blocks = pages
        .select(col("url"), expr("graft_explode_blocks(html)")) // generator: yields block columns
        .filter(col("kept"))
      val parts = blocks.groupBy(col("url"), col("part"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("block_idx"), col("text")))),
          x => x.getField("text")), "\n").as("part_text"))
        .withColumn("page", format_string("--- صفحة %d ---\n%s", col("part"), col("part_text")))
      parts.groupBy(col("url"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("part"), col("page")))),
          x => x.getField("page")), "\n\n").as("text"))
        .orderBy("url")
    }),
    // DRIVER-ATTESTED end-to-end extraction: wrap each documents-table
    // text in a deterministic HTML template (nav + heading + body +
    // link-dense footer) and run the REAL pipeline (tokenize → segment
    // → classify → assemble). Because the template is simple, the
    // expected output is SQL-expressible: nav/footer are boilerplate
    // (dropped), the heading survives iff the body block is kept, and
    // the body is kept iff its word count reaches the minContentWords
    // floor (single-bin histogram ⇒ Otsu declines ⇒ threshold 15).
    // This turns the extraction core from golden-attested into
    // DuckDB-oracle-attested.
    "x6_extract_roundtrip" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          call_function("graft_extract", encode(x6Html, "UTF-8"), col("lang")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"),
          size(col("r.spans")).as("n_spans"), col("r.error").as("error"))
        .orderBy("doc_id")
    }),
    // multi-part assembly (two <article> pages → two صفحة headers) plus
    // the error-as-row policy: every 10th doc gets an invalid-UTF-8
    // payload (0xFF prefix) and must surface as an error row with the
    // reference's exact message format — all DuckDB-oracled.
    "x7_extract_parts" -> ((s, dir) => {
      val html = concat(
        lit("<html><body><article><p>"), col("text"),
        lit("</p></article><article><h2>Part two</h2><p>"), col("text"),
        lit("</p></article></body></html>"))
      val payload = when(col("doc_id") % 10 === 0,
          concat(lit(Array[Byte](-1)), encode(html, "UTF-8")))
        .otherwise(encode(html, "UTF-8"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          call_function("graft_extract", payload, col("lang")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"),
          size(col("r.spans")).as("n_spans"), col("r.error").as("error"))
        .orderBy("doc_id")
    }),
    // span OFFSETS end-to-end: same template as x6, spans exploded —
    // the oracle recomputes every (start, end, kind) from first
    // principles (header length + heading length + block layout), so
    // the span-offset contract is driver-attested, not just
    // golden-attested (x2 covers generated pages rows-only)
    "x9_spans_roundtrip" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          call_function("graft_extract", encode(x6Html, "UTF-8"), col("lang")).as("r"))
        .select(col("doc_id"), posexplode(col("r.spans")).as(Seq("span_idx", "span")))
        .select(col("doc_id"), col("span_idx"),
          col("span.start").as("start"), col("span.end").as("end"),
          col("span.kind").as("kind"))
        .orderBy("doc_id", "span_idx")
    }),
    // dual-engine extraction ("كلاهما"): default + alt classifier over
    // the same token stream, per-part concat with the reference's
    // no-separator format (main_window.py:363-374). The alt engine's
    // lower content floor (8 vs 15 words) makes 10-14-word docs
    // alt-only — both branches of the dual path are driver-attested.
    "x8_dual_engine" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          call_function("graft_extract", encode(x6Html, "UTF-8"), col("lang"),
            lit("both")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"),
          size(col("r.spans")).as("n_spans"), col("r.error").as("error"))
        .orderBy("doc_id")
    }),
    // DRIVER-ATTESTED block-level view: the ExplodeBlocks generator
    // (UDTF analogue) over the x6 template — every block's part/index/
    // kind/text/feature-counts/keep-decision is predicted in SQL, so
    // the region-extract stage's INTERNALS (not just the assembled
    // output) are hash-compared: nav and footer carry their link-word
    // counts and kept=false, the heading survives iff the body block
    // reaches the 15-word content floor
    "x11_blocks_roundtrip" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("payload", encode(x6Html, "UTF-8"))
        .select(col("doc_id"), expr("graft_explode_blocks(payload)"))
        .orderBy("doc_id", "block_idx")
    }),
    // DRIVER-ATTESTED PDF path (VERDICT r2 #1 — the last self-attested
    // pipeline branch): build a deterministic two-page PDF from each
    // documents-table row (page 1 raw /Length stream with escape-worthy
    // literal strings, page 2 FlateDecode + a hex string) and run the
    // REAL %PDF dispatch → PdfSpans parse → assembly. Every 10th doc
    // gets a streamless PDF instead, planting the PdfParseException
    // error-as-row branch. The oracle predicts text, span count, and
    // the exact error message from the same input columns.
    "x10_pdf_roundtrip" -> ((s, dir) => {
      // the PDF body is pre-normalized IN-QUERY (whitespace runs → one
      // space, trimmed) with the oracle applying the same regex, so
      // the roundtrip prediction no longer leans on the probed "testdata
      // text is already normalized" property — extraction's own per-line
      // normalization is identity on the pre-normalized body either way
      // EXPLICIT whitespace class, identical to the oracle's: Java \s
      // includes U+000B where RE2's \s does not, so neither side may
      // say \s (CLAUDE.md r4 coupling note)
      val pdf = call_function("graft_make_pdf",
        concat(lit("Doc "), col("doc_id"), lit(" (x) \\ ok")),
        trim(regexp_replace(col("text"), "[ \\t\\n\\f\\r\\u000B\\u00A0]+", " ")),
        concat(lit("Page two of "), col("doc_id")))
      val payload = when(col("doc_id") % 10 === 0,
          lit("%PDF-1.4\nan empty pdf body here\n%%EOF\n".getBytes("UTF-8")))
        .otherwise(pdf)
      t(s, dir, "documents")
        .select(col("doc_id"),
          call_function("graft_extract", payload, col("lang")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"),
          size(col("r.spans")).as("n_spans"), col("r.error").as("error"))
        .orderBy("doc_id")
    }),
    // outlink extraction (the web-graph edge primitive): hrefs of the
    // x6 template's four anchors, in document order with duplicates —
    // the oracle predicts every (doc, idx, href) row
    "x13_outlinks" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(call_function("graft_outlinks", x6Html)).as(Seq("link_idx", "href")))
        .orderBy("doc_id", "link_idx")
    }),
    // head-metadata extraction: title / meta-description /
    // rel=canonical / robots-noindex, row-local (graft_meta). The
    // template varies every field by doc_id arithmetic (noindex every
    // 4th doc) and deliberately exercises the parser's rules:
    // attribute order reversed on the meta tag, extra whitespace in
    // the title (collapsed), quoted values. explode(array(...)) forces
    // ONE evaluation of the struct per row — a plain 4-field select
    // would re-run the parse per field after projection collapse.
    "x14_meta" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><title> Doc "), col("doc_id"),
        lit("  of h"), pmod(col("doc_id"), lit(60)),
        lit(" </title><meta content=\"Summary "), col("doc_id"),
        lit("\" name=\"description\">"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          lit("<meta name=\"robots\" content=\"NOINDEX, nofollow\">"))
          .otherwise(lit("")),
        lit("<link rel=\"canonical\" href=\"https://h"),
        pmod(col("doc_id"), lit(60)), lit(".example/p"), col("doc_id"),
        lit("\"></head><body><p>"), col("text"), lit("</p></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(array(call_function("graft_meta", html))).as("m"))
        .select(col("doc_id"), col("m.title").as("title"),
          col("m.description").as("description"),
          col("m.canonical").as("canonical"), col("m.noindex").as("noindex"))
        .orderBy("doc_id")
    }),
    // WARC ingestion roundtrip: the documents corpus is staged as real
    // Common-Crawl-layout .warc.gz shards (per-record gzip members,
    // warcinfo header record, HTTP response envelopes) by an
    // EXECUTOR-side sink (foreachPartition — no driver collect), read
    // back through the Warc binaryFile source, and extracted with the
    // x6 template — so the oracle is x6's, reached through the real
    // container format. lang rides the HTTP Content-Language header.
    "x12_warc_roundtrip" -> ((s, dir) => {
      // stage dir keyed by the INPUT's content fingerprint (path +
      // size + mtime), not the path alone: a regenerated fixture at
      // the same path gets fresh shards instead of silently reusing
      // stale ones. It lives in the session's own files dir
      // (SparkFiles root), which stopping the session deletes, so the
      // shards are reused within a session and never outlive it. Shard
      // contents are deterministic functions of the input, so
      // concurrent stagers converge on identical bytes; each file is
      // still written tmp-then-rename for atomicity.
      val docsFile = new java.io.File(dir, "documents.parquet")
      val key = java.lang.Long.toHexString(graft.expr.Hash64.mix(
        dir.hashCode.toLong ^ (docsFile.length() * 1000003L) ^
          docsFile.lastModified()))
      val stage = new java.io.File(org.apache.spark.SparkFiles.getRootDirectory(), s"graft-warc-$key")
      if (!new java.io.File(stage, "_SUCCESS").exists()) {
        // Hadoop-FS staging (file: URI on local[N], shared FS on a
        // cluster): attempt-unique tmp, rename-or-fail, _SUCCESS only
        // after all shards verified — Warc.stageShards
        graft.warc.Warc.stageShards(
          t(s, dir, "documents")
            .select(col("doc_id"), encode(x6Html, "UTF-8").as("html"), col("lang")),
          stage.toURI.toString, nShards = 8,
          urlPrefix = "http://example.com/doc/", isoTs = "2024-01-01T00:00:00Z")
      }
      graft.warc.Warc.read(s, stage.getPath + "/*.warc.gz")
        .filter(col("error").isNull)
        .select(regexp_extract(col("url"), "/doc/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          call_function("graft_extract", col("html"), col("lang")).as("r"))
        .select(col("doc_id"), col("r.text").as("text"),
          size(col("r.spans")).as("n_spans"), col("r.error").as("error"))
        .orderBy("doc_id")
    }),
    // north rule: bucket+salt layout columns
    "x4_extract_bucketed" -> ((s, _) => {
      val pages = ExtractPipeline.pages(s, 2000).toDF()
      // URL-only hot-host sampling (r6, guide §2.3) — identical hot set
      // (same ids, partitioning and sample seed), none of the full-row
      // synthesis cost
      val hot = ExtractPipeline.hotHosts(
        ExtractPipeline.pageUrls(s, 2000), 1000, 0.05, totalHint = 2000)
      ExtractPipeline.withBucket(ExtractPipeline.extracted(pages), 32, hot, 8)
        .select(col("url"), col("bucket"), col("salt"))
        .orderBy("url")
    }))

  // ----- relational operators over /root/testdata (DuckDB-oracled) -----

  private val relational: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1-analogue relational aggregation (TPC-H Q1 shape)
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          sum((col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    // P2/P5/P6: predicate + projection, pushed to the parquet scan
    "q2_filter_pushdown" -> ((s, dir) => {
      t(s, dir, "part")
        .filter(col("p_size") >= 25 && col("p_type") === "PROMO")
        .select(col("p_partkey"), col("p_name"), col("p_size"))
        .orderBy("p_partkey")
    }),
    // J-class: broadcast equi-join chain over small dims
    "q3_join_broadcast" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = broadcast(t(s, dir, "customer"))
      val n = broadcast(t(s, dir, "nation"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy("n_name")
    }),
    // O-class: global sort + limit (top-k)
    "q4_sort_limit" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .limit(100)
    }),
    // window functions (SURVEY §2.5: page-ordinal analogue)
    "q5_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("l_suppkey"), col("rn"), col("l_orderkey"), col("l_linenumber"))
        .orderBy("l_suppkey", "rn")
    }),
    // distinct
    "q6_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus")).distinct()
        .orderBy("l_returnflag", "l_linestatus")
    }),
    // set operations: INTERSECT (distinct) + EXCEPT in one nation view
    "q7_setops" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey"))
      c.intersect(su).orderBy("nationkey")
    }),
    "q7b_except" -> ((s, dir) => {
      import s.implicits._
      val types = t(s, dir, "events").select(col("event_type"))
      val drop = Seq("click", "view").toDF("event_type")
      types.except(drop).orderBy("event_type")
    }),
    // left-semi join (EXISTS)
    "q8_semijoin" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),
    // grouping sets / rollup
    "q9_rollup" -> ((s, dir) => {
      val c = broadcast(t(s, dir, "customer"))
      val n = broadcast(t(s, dir, "nation"))
      val o = t(s, dir, "orders")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .rollup(col("n_name"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(asc_nulls_first("n_name"), asc_nulls_first("o_orderpriority"))
    }),
    // time-bucketed aggregation over the events table (ST-class analogue)
    "q10_events_hourly" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
        .orderBy("hour", "event_type")
    }),
    // P8/F7/F8: regexp strip + trim + format on documents
    "q11_string_funcs" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          // explicit ws class == Java \s expansion, mirrored verbatim in
          // the oracle (never \s in a dual-engine regex — CLAUDE.md)
          length(trim(regexp_replace(col("text"),
            "(?m)^[ \\t\\n\\f\\r\\u000B]*(>>>|\\.\\.\\.)[ \\t\\n\\f\\r\\u000B]?", "")))
            .as("clean_len"),
          format_string("doc-%05d/%s", col("doc_id"), col("lang")).as("tag"))
        .orderBy("doc_id")
    }),
    // anti-join (NOT EXISTS): customers without recent orders
    "q13_antijoin" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-06-01").cast("timestamp"))
      c.join(recent, c("c_custkey") === recent("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),
    // outer join with null-side aggregation: suppliers per nation incl. 0
    "q14_outerjoin_agg" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val su = t(s, dir, "supplier")
      n.join(su, n("n_nationkey") === su("s_nationkey"), "left_outer")
        .groupBy(col("n_name"))
        .agg(sum(when(col("s_suppkey").isNotNull, 1L).otherwise(0L)).as("n_suppliers"))
        .orderBy("n_name")
    }),
    // CUBE grouping sets
    "q15_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }),
    // F14: JSON extraction from the events props column
    "q16_json" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_val"))
        .orderBy("event_id")
    }),
    // F13: timestamp formatting (backup snapshot name format)
    "q17_tsfmt" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyyMMdd_HHmmss").as("snap_name"))
        .orderBy("o_orderkey")
    }),
    // correlated-style aggregate compare: orders above their customer's
    // average price (decimal-exact: price*n > sum, no division)
    "q18_above_avg" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val stats = o.groupBy(col("o_custkey").as("custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("sum_price"),
          count(lit(1)).as("n"))
      o.join(stats, o("o_custkey") === stats("custkey"))
        .filter(col("o_totalprice").cast("decimal(18,2)") * col("n") > col("sum_price"))
        .select(col("o_orderkey"))
        .orderBy("o_orderkey")
    }),
    // array functions over the embedding column (no arithmetic: exact)
    "q19_array_funcs" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          size(col("embedding")).as("dim"),
          array_max(col("embedding")).as("vmax"),
          array_min(col("embedding")).as("vmin"),
          element_at(col("embedding"), 1).as("first_val"))
        .orderBy("vec_id")
    }),
    // as-of join (composed union+window, one shuffle — AsOfJoin.scala):
    // each purchase gets the user's latest prior-or-equal signup value
    "q20_asof" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val fact = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val dim = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts").as("dim_ts"))
        .agg(max(col("value")).as("value")) // dedupe same-instant dims
      graft.ops.AsOfJoin.latestBefore(fact, dim, "user_id", "ts", "dim_ts", Seq("value"))
        .select(col("event_id"), col("user_id"), col("dim_value"))
        .orderBy("event_id")
    }),
    // as-of join, second shape: DENSE dim side (clicks — many state
    // changes per user between facts) and a multi-column dim payload,
    // exercising the multi-fill path of AsOfJoin (verdict r1 #10: the
    // operator rested on a single data shape)
    "q20b_asof_dense" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val fact = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val dim = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts").as("dim_ts"))
        .agg(max(col("value")).as("value"), count(lit(1)).as("n_at_ts"))
      graft.ops.AsOfJoin.latestBefore(fact, dim, "user_id", "ts", "dim_ts",
          Seq("value", "n_at_ts"))
        .select(col("event_id"), col("user_id"),
          col("dim_value"), col("dim_n_at_ts"))
        .orderBy("event_id")
    }),
    // as-of join, skew-resistant shape: latestBeforeBucketed splits the
    // fill window by (key, day-bucket) with carry seeds — semantically
    // identical to latestBefore, so it shares q20's ASOF oracle; a
    // driver hash-match here attests the whole seed/carry machinery
    "q20c_asof_bucketed" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val fact = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val dim = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts").as("dim_ts"))
        .agg(max(col("value")).as("value"))
      graft.ops.AsOfJoin.latestBeforeBucketed(fact, dim, "user_id", "ts", "dim_ts",
          Seq("value"), bucketWidth = 86400L, tsToLong = graft.ops.AsOfJoin.tsSeconds)
        .select(col("event_id"), col("user_id"), col("dim_value"))
        .orderBy("event_id")
    }),
    // batch sessionization: gap>30min starts a new session (window
    // running-sum of boundary flags — the streaming sessionize's
    // batch twin, fully SQL-expressible for the oracle)
    "q21_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val ev = t(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts").cast("timestamp")), 1).over(w))
        .withColumn("boundary",
          when(col("prev_us").isNull ||
            unix_micros(col("ts").cast("timestamp")) - col("prev_us") > 1800000000L, 1L).otherwise(0L))
      ev.groupBy(col("user_id"))
        .agg(sum(col("boundary")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),
    // exact median (interpolating percentile) per group
    "q22_median" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(round(expr("median(value)"), 6).as("med_value"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    }),
    // P1: conditional dispatch expression (when/otherwise)
    "q12_case_dispatch" -> ((s, dir) => {
      t(s, dir, "events")
        .select(
          col("event_id"),
          when(col("event_type") === "click", lit("ui"))
            .when(col("event_type") === "purchase", lit("commerce"))
            .otherwise(lit("other")).as("channel"),
          when(col("value") > 100.0, col("value") * 0.9).otherwise(col("value")).as("adj_value"))
        .orderBy("event_id")
    }))

  def all: Map[String, (SparkSession, String) => DataFrame] =
    extraction ++ relational ++ graft.ops.OpsQueries.all

  /** DuckDB-dialect oracles. Keys absent here (extraction + non-SQL
    * ops) get the driver's weaker rows-only check and are covered by
    * scalatest goldens instead. */
  def oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        | COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter_pushdown" ->
      """SELECT p_partkey, p_name, p_size FROM part
        |WHERE p_size >= 25 AND p_type = 'PROMO'
        |ORDER BY p_partkey""".stripMargin,
    "q3_join_broadcast" ->
      """SELECT n_name, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q4_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin,
    "q5_window" ->
      """SELECT l_suppkey, rn, l_orderkey, l_linenumber FROM (
        | SELECT l_suppkey, l_orderkey, l_linenumber,
        |  ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
        | FROM lineitem) WHERE rn <= 3
        |ORDER BY l_suppkey, rn""".stripMargin,
    "q6_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q7_setops" ->
      """SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |INTERSECT SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "q7b_except" ->
      """SELECT event_type FROM events
        |EXCEPT SELECT * FROM (VALUES ('click'), ('view')) v(event_type)
        |ORDER BY event_type""".stripMargin,
    "q8_semijoin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q9_rollup" ->
      """SELECT n_name, o_orderpriority, COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, o_orderpriority)
        |ORDER BY n_name NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q10_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q11_string_funcs" ->
      """SELECT doc_id,
        | LENGTH(TRIM(REGEXP_REPLACE(text, '(?m)^[ \t\n\f\r\x{0B}]*(>>>|\.\.\.)[ \t\n\f\r\x{0B}]?', '', 'g'))) AS clean_len,
        | printf('doc-%05d/%s', doc_id, lang) AS tag
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q13_antijoin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-06-01')
        |ORDER BY c_custkey""".stripMargin,
    "q14_outerjoin_agg" ->
      """SELECT n_name,
        | CAST(SUM(CASE WHEN s_suppkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers
        |FROM nation LEFT OUTER JOIN supplier ON n_nationkey = s_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q15_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q16_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,
    "q17_tsfmt" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y%m%d_%H%M%S') AS snap_name
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q18_above_avg" ->
      """SELECT o_orderkey FROM orders o
        |JOIN (SELECT o_custkey AS custkey,
        |        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sum_price,
        |        COUNT(*) AS n
        |      FROM orders GROUP BY 1) s ON o.o_custkey = s.custkey
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) * n > sum_price
        |ORDER BY o_orderkey""".stripMargin,
    "q19_array_funcs" ->
      """SELECT vec_id, len(embedding) AS dim,
        | list_max(embedding) AS vmax, list_min(embedding) AS vmin,
        | embedding[1] AS first_val
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q20_asof" ->
      """WITH fact AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |dim AS (
        |  SELECT user_id, ts AS dim_ts, MAX(value) AS value
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
        |SELECT f.event_id, f.user_id, d.value AS dim_value
        |FROM fact f ASOF LEFT JOIN dim d
        |  ON f.user_id = d.user_id AND f.ts >= d.dim_ts
        |ORDER BY f.event_id""".stripMargin,
    "q20b_asof_dense" ->
      """WITH fact AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |dim AS (
        |  SELECT user_id, ts AS dim_ts, MAX(value) AS value, COUNT(*) AS n_at_ts
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT f.event_id, f.user_id, d.value AS dim_value, d.n_at_ts AS dim_n_at_ts
        |FROM fact f ASOF LEFT JOIN dim d
        |  ON f.user_id = d.user_id AND f.ts >= d.dim_ts
        |ORDER BY f.event_id""".stripMargin,
    "q20c_asof_bucketed" ->
      """WITH fact AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |dim AS (
        |  SELECT user_id, ts AS dim_ts, MAX(value) AS value
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
        |SELECT f.event_id, f.user_id, d.value AS dim_value
        |FROM fact f ASOF LEFT JOIN dim d
        |  ON f.user_id = d.user_id AND f.ts >= d.dim_ts
        |ORDER BY f.event_id""".stripMargin,
    "q21_sessionize" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events)
        |SELECT user_id,
        |  CAST(SUM(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q22_median" ->
      """SELECT event_type, ROUND(MEDIAN(value), 6) AS med_value, COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q12_case_dispatch" ->
      """SELECT event_id,
        | CASE WHEN event_type = 'click' THEN 'ui'
        |      WHEN event_type = 'purchase' THEN 'commerce'
        |      ELSE 'other' END AS channel,
        | CASE WHEN value > 100.0 THEN value * 0.9 ELSE value END AS adj_value
        |FROM events ORDER BY event_id""".stripMargin,
    // end-to-end extraction roundtrip: the expected pipeline output
    // derived independently from the documents table (see the x6 query
    // comment for why this is exactly the engine's contract)
    "x6_extract_roundtrip" ->
      """SELECT d.doc_id,
        | CASE WHEN len(string_split(trim(d.text), ' ')) >= 15
        |   THEN '--- صفحة 1 ---' || chr(10) || 'Title ' || d.doc_id || chr(10) || d.text
        |   ELSE '' END AS text,
        | CASE WHEN len(string_split(trim(d.text), ' ')) >= 15 THEN 2 ELSE 0 END AS n_spans,
        | CAST(NULL AS VARCHAR) AS error
        |FROM documents d ORDER BY d.doc_id""".stripMargin,
    "x13_outlinks" ->
      """SELECT d.doc_id, l.link_idx, l.href
        |FROM documents d,
        |     (VALUES (0, '/'), (1, '/a'), (2, '#'), (3, '#')) AS l(link_idx, href)
        |ORDER BY doc_id, link_idx""".stripMargin,
    // x14: every field predicted from the template's doc_id arithmetic
    // (title ws collapsed by graft_meta's rule) — change the template
    // and this together
    "x14_meta" ->
      """SELECT doc_id,
        | 'Doc ' || doc_id || ' of h' || (doc_id % 60) AS title,
        | 'Summary ' || doc_id AS description,
        | 'https://h' || (doc_id % 60) || '.example/p' || doc_id AS canonical,
        | (doc_id % 4 = 0) AS noindex
        |FROM documents ORDER BY doc_id""".stripMargin,
    // x12 must land on x6's exact prediction — same template, same
    // extraction, reached through the WARC container roundtrip
    "x12_warc_roundtrip" ->
      """SELECT d.doc_id,
        | CASE WHEN len(string_split(trim(d.text), ' ')) >= 15
        |   THEN '--- صفحة 1 ---' || chr(10) || 'Title ' || d.doc_id || chr(10) || d.text
        |   ELSE '' END AS text,
        | CASE WHEN len(string_split(trim(d.text), ' ')) >= 15 THEN 2 ELSE 0 END AS n_spans,
        | CAST(NULL AS VARCHAR) AS error
        |FROM documents d ORDER BY d.doc_id""".stripMargin,
    "x7_extract_parts" ->
      """SELECT d.doc_id,
        | CASE WHEN d.doc_id % 10 = 0 THEN NULL
        |      WHEN len(string_split(trim(d.text), ' ')) >= 15
        |      THEN '--- صفحة 1 ---' || chr(10) || d.text || chr(10) || chr(10) ||
        |           '--- صفحة 2 ---' || chr(10) || 'Part two' || chr(10) || d.text
        |      ELSE '' END AS text,
        | CASE WHEN d.doc_id % 10 = 0 THEN 0
        |      WHEN len(string_split(trim(d.text), ' ')) >= 15 THEN 3 ELSE 0 END AS n_spans,
        | CASE WHEN d.doc_id % 10 = 0 THEN 'حدث خطأ: invalid utf-8 payload'
        |      ELSE NULL END AS error
        |FROM documents d ORDER BY d.doc_id""".stripMargin,
    // span offsets recomputed from first principles: header+\n, then
    // heading chars, then \n, then the body block
    "x9_spans_roundtrip" ->
      """WITH base AS (
        | SELECT d.doc_id, d.text AS t,
        |   len('--- صفحة 1 ---') + 1 AS h,
        |   len('Title ' || d.doc_id) AS hl
        | FROM documents d
        | WHERE len(string_split(trim(d.text), ' ')) >= 15)
        |SELECT doc_id, 0 AS span_idx, h AS start, h + hl AS "end",
        |       'heading' AS kind FROM base
        |UNION ALL
        |SELECT doc_id, 1 AS span_idx, h + hl + 1 AS start,
        |       h + hl + 1 + len(t) AS "end", 'content' AS kind FROM base
        |ORDER BY doc_id, span_idx""".stripMargin,
    // PDF roundtrip: page 1 = "Doc N (x) \ ok" + the document text
    // (one content block per page: lines join with \n inside the
    // block), page 2 = "Page two of N" + the fixed hex-decoded line;
    // parts join with the صفحة header format. The body is normalized
    // IN-QUERY on both sides (the same ws-run collapse + trim the
    // Spark query applies before graft_make_pdf), so the roundtrip
    // holds even if testdata whitespace changes. Streamless every-10th
    // rows surface the reference-format parse error.
    "x10_pdf_roundtrip" ->
      """WITH d AS (
        | SELECT doc_id,
        |        trim(regexp_replace(text, '[ \t\n\f\r\x{0B}\x{A0}]+', ' ', 'g')) AS text
        | FROM documents)
        |SELECT d.doc_id,
        | CASE WHEN d.doc_id % 10 = 0 THEN NULL
        |   ELSE '--- صفحة 1 ---' || chr(10) || 'Doc ' || d.doc_id || ' (x) \ ok'
        |     || chr(10) || d.text || chr(10) || chr(10)
        |     || '--- صفحة 2 ---' || chr(10) || 'Page two of ' || d.doc_id
        |     || chr(10) || 'hex ok'
        | END AS text,
        | CASE WHEN d.doc_id % 10 = 0 THEN 0 ELSE 2 END AS n_spans,
        | CASE WHEN d.doc_id % 10 = 0 THEN 'حدث خطأ: pdf: no content streams'
        |      ELSE NULL END AS error
        |FROM d ORDER BY d.doc_id""".stripMargin,
    // block view: 4 blocks per doc in segmentation order — nav (2 link
    // words, boiler→dropped), heading (kept iff body kept), body
    // (kept iff ≥15 words), footer (2 of 3 words in links, dropped)
    "x11_blocks_roundtrip" ->
      """WITH d AS (
        | SELECT doc_id, text, len(string_split(trim(text), ' ')) AS nw FROM documents)
        |SELECT doc_id, part, block_idx, kind, btext AS text, words, link_words, kept
        |FROM (
        | SELECT doc_id, 1 AS part, 0 AS block_idx, 'content' AS kind,
        |        'Home About' AS btext, 2 AS words, 2 AS link_words, FALSE AS kept FROM d
        | UNION ALL
        | SELECT doc_id, 1, 1, 'heading', 'Title ' || doc_id, 2, 0, nw >= 15 FROM d
        | UNION ALL
        | SELECT doc_id, 1, 2, 'content', text, nw, 0, nw >= 15 FROM d
        | UNION ALL
        | SELECT doc_id, 1, 3, 'content', 'Copyright here there', 3, 2, FALSE FROM d)
        |ORDER BY doc_id, block_idx""".stripMargin,
    // dual-engine: ≥15 words → both engines keep (heading+body twice,
    // engine outputs concatenated with NO separator); 8-14 words →
    // alt engine only; <8 → empty
    "x8_dual_engine" ->
      """SELECT d.doc_id,
        | CASE WHEN len(string_split(trim(d.text), ' ')) >= 15
        |   THEN '--- صفحة 1 ---' || chr(10) || 'Title ' || d.doc_id || chr(10) || d.text
        |        || 'Title ' || d.doc_id || chr(10) || d.text
        |      WHEN len(string_split(trim(d.text), ' ')) >= 8
        |   THEN '--- صفحة 1 ---' || chr(10) || 'Title ' || d.doc_id || chr(10) || d.text
        |   ELSE '' END AS text,
        | CASE WHEN len(string_split(trim(d.text), ' ')) >= 15 THEN 4
        |      WHEN len(string_split(trim(d.text), ' ')) >= 8 THEN 2
        |      ELSE 0 END AS n_spans,
        | CAST(NULL AS VARCHAR) AS error
        |FROM documents d ORDER BY d.doc_id""".stripMargin
  ) ++ graft.ops.OpsQueries.oracles
}
