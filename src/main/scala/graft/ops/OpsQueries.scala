package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.MinHashSig
import graft.pipeline.ExtractPipeline

/** Training-data pipeline operators as driver-checkable queries.
  *
  * Dup-free driver data means near-dup structure is PLANTED in-query:
  * a deterministic modified copy of the documents table is unioned in
  * (same expression on the Spark and DuckDB sides), so dedup queries
  * have non-trivial answers the oracle can verify.
  */
object OpsQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** documents ∪ exact copies (doc_id+100000, every 7th doc). */
  private def docsWithExactDups(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select("doc_id", "text")
    d.unionAll(d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  /** documents ∪ near copies (noise words appended, every 5th doc). */
  private def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select("doc_id", "text")
    d.unionAll(d.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zz qq xx")).as("text")))
  }

  /** t15's deterministic blocklist — ONE definition feeds both the
    * engine's broadcast table and the oracle's IN list (coupling by
    * construction, like d7b's shared oracle string). */
  private[ops] val blockedHostList: Seq[String] =
    Seq.tabulate(8)(i => s"site${i * 12 + 1}.example.com")

  /** t22's planted target-domain marker tail (3× eight marker words) —
    * ONE definition feeds the engine's corpus/target mutation and the
    * oracle's string literals (coupling by construction; contains no
    * quotes so it interpolates into SQL verbatim). */
  private[ops] val dsirMarkerTail: String =
    " dsq0 dsq1 dsq2 dsq3 dsq4 dsq5 dsq6 dsq7" * 3

  /** embeddings ∪ exact copies (vec_id+100000, every 9th vector). */
  private def embWithDups(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
    e.unionAll(e.filter(col("vec_id") % 9 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
  }

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup: hash-groupBy, keep min id (oracle-checked)
    "d1_dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(docsWithExactDups(s, dir), "doc_id", "text")
        .select(col("keep_id"), col("dup_cnt"))
        .orderBy("keep_id")
    }),
    // exact n-gram Jaccard over inverted shingle index with a df-cap
    // on stop shingles (dfCap=50 mirrors t4's winnowing discipline and
    // is mirrored shingle-for-shingle in the DuckDB oracle)
    "d2_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(docsWithNearDups(s, dir), "doc_id", "text", 0.6, dfCap = 50)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id_a", "id_b")
    }),
    // MinHash+LSH banding (estimated jaccard)
    "d3_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashPairs(docsWithNearDups(s, dir), "doc_id", "text")
        .orderBy("id_a", "id_b")
    }),
    // duplicate clusters: the step after pair generation — connected
    // components over the d3 pair list (min-label propagation), canon
    // doc = least id in the cluster; oracle recomputes the closure
    // over the same bit-exact pair list with a recursive CTE
    "d6_dup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashPairs(docsWithNearDups(s, dir), "doc_id", "text")
      val cc = Dedup.connectedComponents(pairs)
      val sizes = cc.groupBy("component").agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, "component")
        .select(col("id").as("doc_id"), col("component").as("canon_id"),
          col("cluster_size"))
        .orderBy("doc_id")
    }),
    // benchmark decontamination (Dedup.decontaminate: guarded
    // broadcast of the bounded eval-shingle side, corpus streams
    // through one equi-join). Contamination is planted (eval docs
    // re-appear padded under doc_id+200000).
    "d7_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val evalSet = docs.filter(col("doc_id") % 13 === 0)
      val corpus = docs.filter(col("doc_id") % 13 =!= 0)
        .unionAll(evalSet.select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" padded contamination tail")).as("text")))
      Dedup.decontaminate(corpus, evalSet, "doc_id", "text", minOverlap = 8)
        .orderBy("doc_id")
    }),
    // the same decontamination forced onto the over-broadcast band:
    // maxEvalShingles=0 trips the guard, so the corpus shingle stream
    // is Bloom-pre-filtered map-side (graft_bloom_contains over the
    // serialized eval-set filter) before the exact merge join — the
    // 100 TB shape for a membership side that fits as bits but not as
    // a hash relation. Bloom FPs die in the join, so the answer (and
    // the oracle) is IDENTICAL to d7's.
    "d7b_decon_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val evalSet = docs.filter(col("doc_id") % 13 === 0)
      val corpus = docs.filter(col("doc_id") % 13 =!= 0)
        .unionAll(evalSet.select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" padded contamination tail")).as("text")))
      Dedup.decontaminate(corpus, evalSet, "doc_id", "text", minOverlap = 8,
        maxEvalShingles = 0L).orderBy("doc_id")
    }),
    // FUZZY decontamination (d7's exact-shingle cousin): corpus docs
    // whose MinHash-estimated Jaccard vs any eval doc reaches 0.5 —
    // catches the paraphrased / re-wrapped eval leaks exact overlap
    // counting misses. Contamination is planted the inverse way from
    // d7: the EVAL copy is the mutated one (every 13th doc + a 4-word
    // tail under eval_id+900000), so no corpus row equals any eval row
    // exactly yet each planted pair shares nearly all its shingles.
    // Scale shape: corpus is linear (one minhash pass) and streams
    // map-side against the GUARDED broadcast of the bounded eval
    // side's bands — the corpus never band-joins itself (contrast d3).
    "d12_fuzzy_decon" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val evalSet = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 900000).as("eval_id"),
          concat(col("text"), lit(" padded for eval release")).as("text"))
      Dedup.fuzzyDecontaminate(docs, evalSet, "doc_id", "text", "eval_id")
        .orderBy("doc_id", "eval_id")
    }),
    // d13: SemDeDup (Abbas et al. 2023) — k-means clusters bound the
    // quadratic cosine compare; a doc is dropped iff a LOWER-id
    // cluster-mate is cosine-similar above the threshold. Training is
    // IvfIndex's integer-exact loop, so the oracle replays the FULL
    // pipeline (s3's CTE machinery parameterized over the dup-planted
    // embedding set). The 0.999999 threshold is d5's: only planted
    // exact copies cross it, so the float boundary never decides.
    "d13_semdedup" -> ((s, dir) => {
      Dedup.semDedup(embWithDups(s, dir), "vec_id", "embedding",
          k = 16, iters = 2, minCosine = 0.999999)
        .orderBy("vec_id")
    }),
    // exact-substring dedup (Lee et al. 2021): per-doc duplicated
    // k-token-window stats. Contamination is planted: every 11th doc
    // re-appears under doc_id+300000 behind a 6-token fresh prefix, so
    // the copy is NOT an exact doc duplicate but nearly all its
    // windows duplicate the original's. Text is normalized with the
    // x10 EXPLICIT whitespace class on both sides (never \s — Java vs
    // RE2 divergence, CLAUDE.md) so TokenWindowHashes' isWs tokenizer
    // and the oracle's space split agree by construction.
    "d8_substring_dup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        trim(regexp_replace(col("text"), "[ \\t\\n\\f\\r\\u000B\\u00A0]+", " "))
          .as("text"))
      val corpus = docs.unionAll(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 300000).as("doc_id"),
          concat(lit("fresh prefix words precede the spliced tail "), col("text"))
            .as("text")))
      Dedup.substringDupStats(corpus, "doc_id", "text")
        .orderBy("doc_id")
    }),
    // deduped-corpus materialization: pair generation → cluster
    // resolution → keep canonical docs only, end to end
    "d9_dedup_corpus" -> ((s, dir) => {
      val corpus = docsWithNearDups(s, dir)
      val pairs = Dedup.minhashPairs(corpus, "doc_id", "text")
      Dedup.dedupedCorpus(corpus, "doc_id", pairs)
        .select(col("doc_id"), length(col("text")).as("n_chars"))
        .orderBy("doc_id")
    }),
    // CCNet-style paragraph-level exact dedup: the web-corpus
    // boilerplate killer (repeated cookie banners / footers vanish
    // corpus-wide without per-site rules). Plants: every 3rd doc gains
    // a UNIQUE tail paragraph (must survive), every 7th the SAME
    // banner paragraph (must survive only at its smallest (doc,idx)),
    // and the fixture's natural exact-dup docs lose every paragraph.
    // Keys shuffle as graft_fnv64 hashes; the oracle recomputes the
    // identical FNV-1a per paragraph, collisions included.
    "d10_para_dedup" -> ((s, dir) => {
      val withTail = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit("\nunique tail "), col("doc_id")))
        .otherwise(col("text"))
      val planted = when(col("doc_id") % 7 === 0,
        concat(withTail,
          lit("\nAccept cookies to continue — Terms of Service apply")))
        .otherwise(withTail)
      val corpus = t(s, dir, "documents").select(col("doc_id"), planted.as("text"))
      Dedup.paragraphDedup(corpus, "doc_id", "text").orderBy("doc_id")
    }),
    // SimHash hamming-band dedup
    "d4_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(docsWithNearDups(s, dir), "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),
    // embedding-cosine near-dup via LSH buckets (planted exact copies
    // ⇒ cosine == 1.0 bit-exactly; oracle checks the full pair set)
    "d5_embed_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDupPairs(embWithDups(s, dir), "vec_id", "embedding",
          minCosine = 0.999999)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),
    // brute-force cosine top-k (ANN baseline; oracle-checked ranks)
    "s1_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      Similarity.bruteForceTopK(emb, queries, 10)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    }),
    // LSH-bucketed ANN (scale path; recall vs s1 asserted in tests)
    "s2_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      Similarity.lshTopK(emb, queries, 10)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    }),
    // language-ID heuristic over extracted web pages (planted langs)
    "t1_langid" -> ((s, _) => {
      val ex = ExtractPipeline.extracted(ExtractPipeline.pages(s, 1000).toDF())
        .filter(col("error").isNull && length(col("text")) > 0)
      ex.select(col("url"),
          call_function("graft_langid",
            regexp_replace(col("text"), "(?m)^--- صفحة \\d+ ---$", "")).as("lang_pred"),
          col("lang").as("lang_true"))
        .orderBy("url")
    }),
    // langid expression over DuckDB-visible input: Latin / Arabic /
    // mixed inputs constructed deterministically from the documents
    // table (translate to the Arabic block), so the driver's oracle
    // independently recomputes the script-ratio heuristic — t1 (over
    // generated pages) stays rows-only, this twin is hash-attested
    "t1b_langid_docs" -> ((s, dir) => {
      val arabic = translate(col("text"),
        "abcdefghijklmnopqrstuvwxyz", "ابتثجحخدذرزسشصضطظعغفقكلمنه")
      val input = when(col("doc_id") % 3 === 0, col("text"))
        .when(col("doc_id") % 3 === 1, arabic)
        .otherwise(concat(col("text"), lit(" "), arabic))
      t(s, dir, "documents")
        .select(col("doc_id"), call_function("graft_langid", input).as("lang_pred"))
        .orderBy("doc_id")
    }),
    // quality scoring: length/word/stopword/punct features (oracle)
    "t2_quality" -> ((s, dir) => {
      val words = split(trim(col("text")), " ")
      val stop = array(Seq("the", "a", "of", "to", "and", "in", "is").map(lit): _*)
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("n_chars_m"),
        size(words).as("n_words"),
        size(array_intersect(words, stop)).as("stop_hits"),
        (size(filter(words, w => w.isin("the", "a", "of", "to", "and", "in", "is")))
          .cast("double") / size(words).cast("double")).as("stop_ratio"))
        .withColumn("stop_ratio", round(col("stop_ratio"), 6))
        .orderBy("doc_id")
    }),
    // token counting: whitespace + BPE-ish regex segmentation (oracle).
    // EXPLICIT whitespace class on both sides ([ \t\n\f\r] — the
    // exact expansion of Java \s, so this is bit-identical to the old
    // \s+ engine regex; never \s itself in a dual-engine regex, whose
    // Java and RE2 meanings differ — CLAUDE.md)
    "t3_tokens" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        size(split(trim(col("text")), "[ \\t\\n\\f\\r\\u000B]+")).as("ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r\\u000B]"), lit(0)))
          .as("bpeish_tokens"))
        .orderBy("doc_id")
    }),
    // winnowing fingerprints: shared-fingerprint containment pairs.
    // Stop-fingerprint removal (df > 50) is part of the operator: a
    // fingerprint present in half the corpus carries no containment
    // signal but quadratic join cost — standard winnowing practice,
    // and the only viable shape at 10^12 docs.
    "t4_fingerprint" -> ((s, dir) => {
      val fp = docsWithNearDups(s, dir).select(col("doc_id"),
        explode(call_function("graft_fingerprint", col("text"))).as("fp"))
      // broadcast the HOT side (small by construction) and anti-join:
      // the rare set is most of the vocabulary and can never be the
      // broadcast side at corpus scale (same discipline as d2's dfCap)
      // d2's r6 restructure, single pass: graft_capped_ids collects
      // each fingerprint's ≤50 sorted doc ids (Winnow emits a distinct
      // set per doc, so ids are unique) and collapses hot fingerprints
      // (df > 50) to NULL with bounded state; (a<b) pairs then emit
      // row-locally from the one MATERIALIZED grouped table — the old
      // fp-keyed self-join recomputed the corpus fingerprint pass per
      // side and the hot aggregate four times (zero ReusedExchange)
      val grouped = Barrier(fp.groupBy("fp")
        .agg(call_function("graft_capped_ids", col("doc_id"), lit(50)).as("ids"))
        .filter(col("ids").isNotNull))
      grouped.select(col("ids"), posexplode(col("ids")).as(Seq("i", "id_a")))
        .select(col("id_a"),
          explode(slice(col("ids"), col("i") + 2, size(col("ids")))).as("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("shared_fp"))
        .filter(col("shared_fp") >= 8)
        .orderBy("id_a", "id_b")
    }),
    // IVF ANN: k-means coarse quantizer + nprobe inverted-list search.
    // Training is deterministic at any parallelism (quantized
    // re-centering) and fully recomputed by the DuckDB oracle.
    "s3_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = IvfIndex.train(emb, k = 16, iters = 2)
      val queries = emb.filter(col("vec_id") < 5)
      IvfIndex.topK(emb, queries, centroids, k = 10, nprobe = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    }),
    // s4: cluster-balanced diversity sampling — the embedding-space
    // counterpart of t9's per-host cap (and SemDeDup's selection
    // sibling): assign every vector to its IVF cell (the same
    // integer-exact k-means as s3/d13), keep a deterministic top-K
    // per cell by splitmix64 priority — a subset balanced across
    // semantic clusters instead of hosts, so no single dense region
    // dominates the training mix. Scale shape: training/assignment
    // are IvfIndex's (shuffle-free literal-argmin, no Exchange); the
    // cap is graft_topk's bounded-heap PARTIAL aggregate (map-side
    // top-K per cell, never a hot-cell window sort); output is
    // cells×K rows, no join-back.
    "s4_cluster_sample" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val cents = IvfIndex.train(emb, k = 16, iters = 2)
      IvfIndex.assign(emb, cents)
        .select(col("cluster"), col("vec_id"),
          shiftrightunsigned(call_function("graft_mix64", col("vec_id")), 11)
            .cast("double").as("score"))
        .groupBy("cluster")
        .agg(call_function("graft_topk", col("score"), col("vec_id"), lit(8))
          .as("top"))
        .select(col("cluster"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("e.id").as("vec_id"),
          col("cluster").cast("long").as("cluster"),
          (col("pos") + 1).cast("long").as("rank"))
        .orderBy("vec_id")
    }),
    // repetition filter: distinct-trigram ratio (training-data quality)
    "t5_repetition" -> ((s, dir) => {
      val sh = Dedup.shingles(col("text"))
      // explicit class == Java \s expansion (never \s itself; CLAUDE.md)
      val words = split(trim(col("text")), "[ \\t\\n\\f\\r\\u000B]+")
      val shAll = when(size(words) >= 3,
        transform(sequence(lit(0), size(words) - 3),
          i => concat_ws(" ", slice(words, i + 1, lit(3))))).otherwise(array())
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(shAll).as("n_trigrams"),
          size(sh).as("n_distinct"),
          when(size(shAll) > 0,
            round(size(sh).cast("double") / size(shAll).cast("double"), 6))
            .otherwise(lit(1.0)).as("distinct_ratio"))
        .withColumn("repetitive", col("distinct_ratio") < 0.5)
        .orderBy("doc_id")
    }),
    // PII redaction (training-data scrub): emails / IPv4s / intl phone
    // numbers replaced with typed placeholders + per-kind counts.
    // Row-local (regexp codegen, no shuffle — the 100 TB shape); the
    // patterns avoid backtracking-only constructs so Java regex and
    // the oracle's RE2 agree byte for byte. PII is planted
    // deterministically (doc_id arithmetic) so counts are non-trivial
    // and the oracle recomputes the whole scrub from first principles.
    "t6_redact" -> ((s, dir) => {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ipv4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
      val phone = "\\+[0-9]{7,15}"
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
          .when(col("doc_id") % 4 === 1,
            concat(lit(" from 10.0."), col("doc_id") % 256, lit(".7")))
          .when(col("doc_id") % 4 === 2,
            concat(lit(" call +4915"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))).as("text"))
      planted.select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(email), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("text"), lit(ipv4), lit(0))).as("n_ips"),
          size(regexp_extract_all(col("text"), lit(phone), lit(0))).as("n_phones"),
          regexp_replace(
            regexp_replace(
              regexp_replace(col("text"), email, "<EMAIL>"),
              ipv4, "<IP>"),
            phone, "<PHONE>").as("redacted"))
        .orderBy("doc_id")
    }),
    // Unicode NFC normalization (graft_nfc expression): the canonical-
    // composition pass web text needs before exact dedup or shingling
    // (precomposed vs base+combining renders identically but hashes
    // differently). Non-NFC sequences are planted deterministically;
    // the oracle mirrors with DuckDB's nfc_normalize.
    "t7_nfc" -> ((s, dir) => {
      val norm = call_function("graft_nfc", col("x"))
      t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 3 === 0, lit(" nfc:e\u0301"))
              .when(col("doc_id") % 3 === 1, lit(" nfc:A\u030A"))
              .otherwise(lit(""))).as("x"))
        .select(col("doc_id"),
          norm.as("norm"),
          (col("x") =!= norm).as("changed"),
          length(col("x")).as("len_before"),
          length(norm).as("len_after"))
        .orderBy("doc_id")
    }),
    // deterministic train/val/test split: splitmix64(doc_id) → pmod
    // bucket → 90/5/5 assignment. Stable under retries and
    // recomputation (unlike rand()), reproducible on any cluster
    // size — the property a training-data split must have. Oracle
    // recomputes the full 64-bit mix in SQL (same machinery as d3).
    "t8_split" -> ((s, dir) => {
      val bucket = pmod(call_function("graft_mix64", col("doc_id")), lit(100L))
      t(s, dir, "documents").select(col("doc_id"), bucket.as("bucket"),
          when(bucket < 90, "train").when(bucket < 95, "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    }),
    // link-graph analytics: integer-exact PageRank over the host graph
    // derived deterministically from documents (src = the doc's
    // source host, dst = 'src'||(doc_id·7 mod 20)). Fixed-point
    // ranks (scale 2^20, per-edge floored contributions) make the
    // result bit-identical at any parallelism AND SQL-recomputable —
    // float PageRank could never be hash-compared across engines.
    "g1_pagerank" -> ((s, dir) => {
      val edges = t(s, dir, "documents").select(
        col("source").as("src"),
        concat(lit("src"), ((col("doc_id") * 7) % 20).cast("string")).as("dst"))
      Graph.pageRank(edges, "src", "dst", iters = 3).orderBy("host")
    }),
    // PageRank WITH dangling-mass redistribution, driver-exercised
    // (g1 keeps the flag off): every 3rd doc's outlink lands on a sink
    // host snk{doc_id % 5} — dst-only, so no out-edges and D > 0 every
    // round. The per-round term (85·D) div (100·n) is ONE floored
    // division on the GLOBAL dangling sum, identical for every node
    // (Graph.pageRank's documented remainder-dropping rule), so the
    // oracle mirrors it with a 1-row dangling-mass CTE per round.
    "g1b_pagerank_dangling" -> ((s, dir) => {
      val edges = t(s, dir, "documents").select(
        col("source").as("src"),
        when(col("doc_id") % 3 === 0,
          concat(lit("snk"), (col("doc_id") % 5).cast("string")))
          .otherwise(
            concat(lit("src"), ((col("doc_id") * 7) % 20).cast("string")))
          .as("dst"))
      Graph.pageRank(edges, "src", "dst", iters = 3,
        redistributeDangling = true).orderBy("host")
    }),
    // incremental crawl ingestion (the continuous-pipeline discipline:
    // every new crawl batch dedups against the EXISTING corpus before
    // joining it): each batch row is classified corpus_dup (text
    // already in the corpus — left-semi on sha256, 32-byte keys
    // shuffle, never text), batch_dup (an earlier row of the SAME
    // batch has the text — min-id first-wins, matching the streaming
    // dedupStream keeper rule), or fresh. Plants: every 3rd corpus doc
    // re-arrives verbatim (+500000), every 3rd+1 doc's NEW text
    // arrives twice (+600000 and +700000 — the later one is the batch
    // dup), nothing else arrives.
    "d11_incremental_ingest" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val batch =
        docs.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 500000).as("doc_id"), col("text"))
        .unionAll(docs.filter(col("doc_id") % 3 === 1)
          .select((col("doc_id") + 600000).as("doc_id"),
            concat(col("text"), lit(" fresh tail")).as("text")))
        .unionAll(docs.filter(col("doc_id") % 3 === 1)
          .select((col("doc_id") + 700000).as("doc_id"),
            concat(col("text"), lit(" fresh tail")).as("text")))
      Dedup.incrementalIngest(docs, batch, "doc_id", "text")
        .orderBy("doc_id")
    }),
    // FLAGSHIP COMPOSITION — the end-to-end training-corpus pipeline a
    // user of this engine actually runs, as ONE query: exact dedup
    // (min-id keeper per sha256, shuffles 32-byte hashes never text) →
    // C4 line/doc rules (row-local) → benchmark decontamination
    // (guarded-broadcast eval shingle overlap, Dedup.decontaminate) →
    // deterministic per-host cap (splitmix64 priority, bounded-heap
    // graft_topk). Each stage's trigger is planted: every 6th doc has
    // an exact copy (dedup kills it), every 10th gains "lorem ipsum" /
    // every 9th a brace (C4 kills them), every 13th doc is the eval
    // slice (decon kills overlapping survivors), and the cap keeps 10
    // docs per host. The oracle replays all four stages in SQL.
    "p1_training_corpus" -> ((s, dir) => {
      // planted base materialized once (Barrier — r6): the
      // composition references it ~5x (corpus twice, keepers, eval
      // set, C4 stage) and each reference re-read and re-planted the
      // corpus; one small table, much smaller plan
      val base = Barrier(t(s, dir, "documents").select(col("doc_id"), col("source"),
        concat(col("text"),
          when(col("doc_id") % 10 === 0, lit(" lorem ipsum")).otherwise(lit("")),
          when(col("doc_id") % 9 === 0, lit(" brace { here }")).otherwise(lit("")),
          lit(" end of document.")).as("text")))
      val corpus = base.unionAll(base.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 400000).as("doc_id"), col("source"), col("text")))
      val keepers = corpus.groupBy(sha2(col("text"), 256).as("sha"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val deduped = corpus.join(keepers, Seq("doc_id"), "left_semi")
      val lines = split(col("text"), "\n")
      val keptLines = filter(lines, l => l.rlike("[.!?\"]$") &&
        size(split(trim(l), "[ \\t\\n\\f\\r\\u000B]+")) >= 5)
      val c4 = deduped.filter(size(keptLines) >= 1 &&
        !lower(col("text")).contains("lorem ipsum") &&
        !lower(col("text")).contains("{"))
      val evalSet = base.filter(col("doc_id") % 13 === 0).select("doc_id", "text")
      val cont = Dedup.decontaminate(c4, evalSet, "doc_id", "text", minOverlap = 8)
        .filter(col("contaminated")).select("doc_id")
      val clean = c4.join(cont, Seq("doc_id"), "left_anti")
      val scored = clean.select(col("doc_id"), col("source"),
        shiftrightunsigned(call_function("graft_mix64", col("doc_id")), 11)
          .cast("double").as("score"))
      scored.groupBy("source")
        .agg(call_function("graft_topk", col("score"), col("doc_id"), lit(10))
          .as("top"))
        .select(col("source"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("e.id").as("doc_id"), col("source"))
        .orderBy("doc_id")
    }),
    // C4-style line/document filters (Raffel et al. 2020, §2.2): keep
    // lines that end in terminal punctuation AND carry ≥5 tokens; drop
    // docs containing "lorem ipsum" or a curly brace (code), or with
    // no kept line. Entirely row-local higher-order functions over the
    // line array — no shuffle before the driver-compare sort, codegen
    // end to end. Lines are planted in-query (every 4th doc a short
    // unterminated line, every 6th a lorem line, every 9th a code
    // line) so each rule provably fires; the oracle replays the same
    // plants and rules.
    "t12_c4_filters" -> ((s, dir) => {
      val planted = concat(col("text"),
        when(col("doc_id") % 4 === 0, lit("\nshort line")).otherwise(lit("")),
        when(col("doc_id") % 6 === 0,
          lit("\nLorem ipsum dolor sit amet consectetur.")).otherwise(lit("")),
        when(col("doc_id") % 9 === 0,
          lit("\nfunction f() { return 0; }")).otherwise(lit("")))
      val lines = split(planted, "\n")
      val kept = filter(lines, l =>
        l.rlike("[.!?\"]$") &&
          size(split(trim(l), "[ \\t\\n\\f\\r\\u000B]+")) >= 5)
      val lowered = lower(planted)
      t(s, dir, "documents").select(
          col("doc_id"),
          size(lines).as("n_lines"),
          size(kept).as("n_kept_lines"),
          lowered.contains("lorem ipsum").as("has_lorem"),
          lowered.contains("{").as("has_brace"))
        .withColumn("keep_doc",
          col("n_kept_lines") >= 1 && !col("has_lorem") && !col("has_brace"))
        .orderBy("doc_id")
    }),
    // Gopher repetition signals (Rae et al. 2021, Table A1): within-doc
    // duplicate-line fraction and the fraction of characters sitting in
    // duplicated lines — the quality pair that catches nav-menu /
    // listicle spam pages that trigram ratios (t5) miss. Shape: lines
    // explode to (doc_id, line) and group by that pair — keys are
    // (doc,line) so a line repeated across the CORPUS never creates a
    // hot key (contrast d10, which dedups across docs on purpose).
    // Every 5th doc plants the same line twice so the signal fires.
    "t13_gopher_lines" -> ((s, dir) => {
      val planted = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          lit("\nrepeat me exactly\nrepeat me exactly")).otherwise(lit("")))
      val docs = t(s, dir, "documents").select(col("doc_id"), planted.as("text"))
      val lines = docs.select(col("doc_id"),
        explode(split(col("text"), "\n")).as("line"))
      val grouped = lines.groupBy("doc_id", "line")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("chars", length(col("line")))
      grouped.groupBy("doc_id")
        .agg(sum("cnt").as("n_lines"),
          sum(col("cnt") - 1).as("n_dup_lines"),
          sum(col("cnt") * col("chars")).as("n_chars"),
          sum(when(col("cnt") > 1, col("cnt") * col("chars")).otherwise(0L))
            .as("dup_chars"))
        .withColumn("dup_line_frac",
          col("n_dup_lines").cast("double") / col("n_lines").cast("double"))
        .withColumn("dup_char_frac",
          col("dup_chars").cast("double") / col("n_chars").cast("double"))
        .orderBy("doc_id")
    }),
    // crawl-analytics rollup: per-host corpus statistics (the domain
    // balance audit that pairs with t9's host cap — which hosts
    // dominate the mix, how big their docs run, how many languages
    // they serve). ONE combiner-friendly groupBy over the corpus:
    // partial aggregation collapses each host inside every map
    // partition, so a million-doc host reaches the reducer as
    // n_partitions partial rows, never a row per doc.
    "t11_host_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(trim(col("text")), "[ \\t\\n\\f\\r\\u000B]+"))
            .cast("long")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          sum(length(col("text")).cast("long")).as("n_chars"))
        .withColumn("mean_doc_chars",
          col("n_chars").cast("double") / col("n_docs").cast("double"))
        .orderBy("source")
    }),
    // link-graph degree/reciprocity profile over the same deterministic
    // host graph as g1: out/in degree count PARALLEL edges (crawl
    // volume), reciprocity counts DISTINCT reciprocal neighbors — the
    // distinct-first discipline keeps the self-join bounded by the
    // distinct edge set (hosts², never doc-pair-quadratic: counting
    // reciprocity over parallel edges would multiply hot-pair
    // multiplicities).
    "g2_host_degrees" -> ((s, dir) => {
      val edges = t(s, dir, "documents").select(
        col("source").as("src"),
        concat(lit("src"), ((col("doc_id") * 7) % 20).cast("string")).as("dst"))
      val outd = edges.groupBy(col("src").as("host")).agg(count(lit(1)).as("out_deg"))
      val ind = edges.groupBy(col("dst").as("host")).agg(count(lit(1)).as("in_deg"))
      val distinctE = edges.distinct()
      val recip = distinctE.as("e").join(distinctE.as("r"),
          col("e.src") === col("r.dst") && col("e.dst") === col("r.src"))
        .groupBy(col("e.src").as("host")).agg(count(lit(1)).as("n_recip"))
      outd.join(ind, Seq("host"), "full_outer")
        .join(recip, Seq("host"), "left_outer")
        .select(col("host"),
          coalesce(col("out_deg"), lit(0L)).as("out_deg"),
          coalesce(col("in_deg"), lit(0L)).as("in_deg"),
          coalesce(col("n_recip"), lit(0L)).as("n_recip"))
        .orderBy("host")
    }),
    // corpus-statistics quality signal: rare-token ratio. Unlike t2's
    // row-local heuristics this is a TWO-PASS op. De-skewed shape
    // (VERDICT r4 #3 — the old plan joined every occurrence against
    // the full vocabulary DF table keyed by raw token, funneling
    // every "the"-class occurrence through one reducer at scale):
    //  1. pre-aggregate to (doc_id, tok, cnt) — combiner-friendly,
    //     keys are (doc,tok) so no hot key exists;
    //  2. n_tokens is a plain per-doc sum — no join at all;
    //  3. the DF table is built from the pre-agg (one row per
    //     (doc,tok), so df is count(*), and hot tokens reach the
    //     reducer as ≤1 partial row per map partition) and FILTERED
    //     to the rare sliver (df ≤ 2) BEFORE the join-back;
    //  4. occurrences stream against the broadcast rare set — no
    //     full-vocabulary shuffle, no hot-key reducer (plan-asserted
    //     in PlanChecksSpec). At 10^12 docs the rare sliver is capped
    //     the same way d2 caps stop shingles: it is the join's BUILD
    //     side and never the streamed corpus.
    // Docs whose tokens are mostly corpus-rare are OCR garbage /
    // lorem noise / non-language — the standard web-corpus noisiness
    // filter that fixed stopword lists miss.
    "t10_rare_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // explicit ws class == the oracle's (Java \s ⊃ RE2 \s: U+000B)
      val toks = docs.select(col("doc_id"),
        explode(split(trim(col("text")), "[ \\t\\n\\f\\r\\u000B]+")).as("tok"))
      val perDocTok = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      val nTok = perDocTok.groupBy("doc_id").agg(sum("cnt").as("n_tokens"))
      val rare = perDocTok.groupBy("tok").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 2)
      val nRare = perDocTok.join(broadcast(rare.select("tok")), "tok")
        .groupBy("doc_id").agg(sum("cnt").as("n_rare"))
      nTok.join(nRare, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_rare"), lit(0L)).as("n_rare"))
        .withColumn("rare_ratio",
          col("n_rare").cast("double") / col("n_tokens").cast("double"))
        .orderBy("doc_id")
    }),
    // t17: token-familiarity LM quality proxy (the integer-exact
    // stand-in for CCNet's KenLM perplexity filter: docs whose tokens
    // are corpus-common score high, OCR garbage / wrong-language docs
    // score low). Per-token score = bit-length of the token's corpus
    // document frequency (floor(log2 df)+1 — an exact integer log
    // both engines compute identically via bin()); per-doc
    // familiarity = mean bits over occurrences, ONE int/int division
    // through DOUBLE. Scale shape: unlike t10 (which only needs the
    // rare sliver), every occurrence needs its df — the join-back is
    // SPLIT: heavy hitters (df > 64; by Zipf a tiny distinct set at
    // any corpus size) broadcast map-side, and the remaining tail
    // shuffle-join has per-key multiplicity bounded by 64 — no
    // stopword key ever funnels through one reducer.
    "t17_token_lm" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val toks = docs.select(col("doc_id"),
        explode(split(trim(col("text")), "[ \\t\\n\\f\\r\\u000B]+")).as("tok"))
      val perDocTok = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      val dfreq = perDocTok.groupBy("tok").agg(count(lit(1)).as("df"))
      val headDf = 64L
      val viaHead = perDocTok.join(
        broadcast(dfreq.filter(col("df") > headDf)), Seq("tok"), "left_outer")
      val hit = viaHead.filter(col("df").isNotNull)
      val miss = viaHead.filter(col("df").isNull).drop("df")
        .join(dfreq.filter(col("df") <= headDf), Seq("tok"))
      hit.unionByName(miss)
        .withColumn("bits", col("cnt") * length(bin(col("df"))))
        .groupBy("doc_id")
        .agg(sum("cnt").as("n_tokens"), sum("bits").as("fam_bits"))
        .withColumn("familiarity",
          col("fam_bits").cast("double") / col("n_tokens").cast("double"))
        .orderBy("doc_id")
    }),
    // t18: per-host vocabulary sketch — HyperLogLog registers via the
    // graft_hll partial aggregate. Exact countDistinct(tok) per host
    // shuffles the full host×vocabulary matrix; the sketch ships 2^p
    // bytes per host per partition and needs NO upstream distinct
    // (register max is duplicate-insensitive). Output is the exact
    // integer register summary (occupied count + rank sum) — the
    // float ESTIMATE stays out of the dual-engine contract (IEEE sum
    // order) and is accuracy-checked in OpsSpec instead.
    "t18_host_vocab" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(col("source"),
        explode(split(trim(col("text")), "[ \\t\\n\\f\\r\\u000B]+")).as("tok"))
      toks.select(col("source"),
          call_function("graft_mix64",
            call_function("graft_fnv64", col("tok"))).as("mv"))
        .groupBy("source")
        .agg(call_function("graft_hll", col("mv"), lit(10)).as("regs"))
        .select(col("source"),
          size(filter(col("regs"), r => r > 0)).as("n_occupied"),
          aggregate(col("regs"), lit(0L), (a, x) => a + x).as("reg_sum"))
        .orderBy("source")
    }),
    // t19: per-host doc-length quantiles WITHOUT a global sort or
    // percentile_approx: lengths bin into 256-char buckets row-locally
    // (one shiftright), per-(host,bin) counts pre-aggregate map-side,
    // and the quantile reads off the cumulative table — the only
    // window runs over the BINNED aggregate (≤ #bins rows per host),
    // never the corpus, so a billion-doc host costs the same window
    // work as a thousand-doc one. Integer-exact: the f-quantile bin is
    // the smallest bin with denom·cum >= num·n (cross-multiplied
    // integers, no float fractions).
    "t19_length_quantiles" -> ((s, dir) => {
      val binned = t(s, dir, "documents")
        .select(col("source"), shiftright(length(col("text")), 8).as("bin"))
      val counts = binned.groupBy("source", "bin").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("bin")
      val cum = counts.withColumn("cum", sum("cnt").over(w))
      val tot = counts.groupBy("source").agg(sum("cnt").as("n_docs"))
      val j = cum.join(tot, "source")
      val p50 = j.filter(col("cum") * 2 >= col("n_docs"))
        .groupBy("source").agg(min("bin").as("p50_bin"))
      val p90 = j.filter(col("cum") * 10 >= col("n_docs") * 9)
        .groupBy("source").agg(min("bin").as("p90_bin"))
      tot.join(p50, "source").join(p90, "source")
        .select(col("source"), col("n_docs"), col("p50_bin"), col("p90_bin"))
        .orderBy("source")
    }),
    // t20: BPE merge-candidate counting — the inner loop of tokenizer
    // training (Sennrich et al. 2016): count every adjacent character
    // pair inside every token occurrence corpus-wide and rank merge
    // candidates (cnt DESC, pair ASC). Scale shape: pair extraction is
    // row-local (one transform over each token), the count combines
    // MAP-SIDE, and the distinct-pair table is bounded by |alphabet|^2
    // regardless of corpus size — so the ranking window runs over that
    // tiny aggregate (t19's discipline), never the corpus.
    "t20_bpe_pairs" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(
        explode(split(trim(col("text")), "[ \\t\\n\\f\\r\\u000B]+")).as("tok"))
      val pairs = toks.filter(length(col("tok")) >= 2)
        .select(explode(transform(sequence(lit(1), length(col("tok")) - 1),
          i => col("tok").substr(i, lit(2)))).as("pair"))
      val counts = pairs.groupBy("pair").agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("pair"))
      counts.withColumn("rank", row_number().over(w).cast("long"))
        .orderBy("pair")
    }),
    // t21: token-budget shard packing — the corpus-export step that
    // cuts the training mix into fixed-budget shards by CUMULATIVE
    // token count (a doc lands in the shard where its first token
    // falls). The naive spelling is a global Window.orderBy — a
    // SinglePartition Exchange of the WHOLE corpus; Pack.prefixShards
    // is the two-level distributed prefix sum instead: the only
    // corpus-wide window is PARTITIONED by the id-range bucket
    // (plan-asserted), and the lone single-partition window runs over
    // the one-row-per-bucket aggregate (t19's bounded-window
    // discipline), broadcast back. bucketSize=64 at test scale so
    // multiple buckets are live; 2^20 at deployment (10^6 level-2
    // rows at 10^12 docs).
    "t21_pack_shards" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        size(split(trim(col("text")), "[ \\t\\n\\f\\r\\u000B]+"))
          .cast("long").as("n_toks"))
      Pack.prefixShards(docs, "doc_id", "n_toks", budget = 2048L,
        bucketSize = 64L).orderBy("doc_id")
    }),
    // t22: DSIR importance weighting (Xie et al. 2023, "Data Selection
    // via Importance Resampling"): every corpus doc scored by the
    // log-likelihood ratio of a hashed-unigram TARGET model vs the
    // RAW-corpus model — the selection stat that up-weights
    // target-domain-like docs before resampling. Features are hashed
    // (fnv64 → splitmix64 & 255), so each model is a FIXED 256-row
    // table regardless of vocabulary: both distribution passes
    // map-side combine to ≤256 rows, the weight table BROADCASTS, and
    // the only corpus-wide shuffle is the per-doc sum keyed by doc_id
    // (no token-keyed join anywhere — contrast t10/t17). Integer-
    // exact LLR: per-bucket weight = bitlen((tc+1)·2^20 div (ttot+256))
    // − bitlen((rc+1)·2^20 div (rtot+256)) — floor-log2 probabilities
    // with add-one smoothing, identical bit-for-bit at any parallelism
    // (headroom: safe while a bucket's occurrence count < 2^43).
    // Target = a marker-tailed release of the doc_id%13 slice (d7's
    // eval residue); docs with doc_id%7==0 carry the same marker in
    // the corpus, so selection (imp_bits > 0) has planted signal.
    "t22_dsir_select" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(dsirMarkerTail))).otherwise(col("text"))
          .as("text"))
      // target release: marker-dominated snippets of the eval slice
      val target = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 700000).as("doc_id"),
          concat(substring(col("text"), 1, 64), lit(dsirMarkerTail)).as("text"))
      def occ(df: DataFrame): DataFrame = df.select(col("doc_id"),
        explode(split(trim(col("text")), "[ \\t\\n\\f\\r\\u000B]+")).as("tok"))
        .select(col("doc_id"),
          call_function("graft_mix64",
            call_function("graft_fnv64", col("tok")))
            .bitwiseAND(lit(255L)).as("bucket"))
      // one tagged aggregation (no join): map-side combines to ≤256
      // rows per partition on BOTH passes — the oracle's shape too
      val counts = occ(target).withColumn("is_t", lit(1L))
        .unionByName(occ(corpus).withColumn("is_t", lit(0L)))
        .groupBy("bucket")
        .agg(sum(col("is_t")).as("tc"), sum(lit(1L) - col("is_t")).as("rc"))
      val tot = counts.agg(sum("tc"), sum("rc")).head
      val (ttot, rtot) = (tot.getLong(0), tot.getLong(1))
      val wt = counts.select(col("bucket"),
        (length(bin(expr(s"(tc + 1) * 1048576 div (${ttot}L + 256)"))).cast("long")
          - length(bin(expr(s"(rc + 1) * 1048576 div (${rtot}L + 256)"))).cast("long"))
          .as("wbits"))
      occ(corpus).join(broadcast(wt), "bucket")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("wbits").as("imp_bits"))
        .select(col("doc_id"), col("n_tokens"),
          col("imp_bits").cast("long").as("imp_bits"),
          (col("imp_bits").cast("double") / col("n_tokens").cast("double"))
            .as("imp_per_tok"),
          (col("imp_bits") > 0).as("selected"))
        .orderBy("doc_id")
    }),
    // per-host document cap (the crawl-balance step: no domain may
    // dominate the training mix). Deterministic SAMPLING, not
    // first-N: each doc's priority is splitmix64(doc_id) — stable
    // across retries/cluster sizes like t8 — and the per-host top-K
    // survives. Scale shape: graft_topk is a bounded-heap PARTIAL
    // aggregate (map-side top-K per host, merged), so a hot host
    // never funnels through one task's full sort the way a
    // row_number window would; output is only the kept set (hosts×K
    // rows), no join back against the corpus needed. The top-53-bit
    // score (>>> 11) is exactly double-representable, ties broken by
    // doc_id inside the heap — bit-reproducible at any parallelism.
    "t9_host_cap" -> ((s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          shiftrightunsigned(call_function("graft_mix64", col("doc_id")), 11)
            .cast("double").as("score"))
      scored.groupBy("source")
        .agg(call_function("graft_topk", col("score"), col("doc_id"), lit(10))
          .as("top"))
        .select(col("source"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("e.id").as("doc_id"), col("source"),
          (col("pos") + 1).cast("long").as("rank"))
        .orderBy("doc_id")
    }),
    // b1: BM25 top-k retrieval — the inverted-index scoring loop of a
    // web-scale search/eval stack, INTEGER-EXACT so both engines agree
    // bit-for-bit. The classic formula's floats are replaced by exact
    // integer arithmetic computed identically on both sides:
    //   idf       = bitlen((1024·N) DIV df)       (integer log2 of the
    //               2^10-scaled inverse frequency — the t17 bin()
    //               discipline, fine enough to separate common from
    //               planted-rare terms)
    //   avgdl     = total_tokens DIV n_docs       (integer division)
    //   tf-sat    = (22·tf·S·avgdl·1024) DIV (10·tf·S·avgdl
    //               + 12·((S-B)·avgdl + B·dl))    with S=1000, B=750 —
    //               i.e. k1=1.2, b=0.75 cross-multiplied to integers,
    //               2^10 fixed point (sound while tf·avgdl < ~4·10^11)
    //   score     = Σ_terms idf·sat               (exact integer sum)
    // Scale shape: the query-term set is the canonical tiny dimension —
    // occurrences are BROADCAST-pruned map-side before anything
    // shuffles, df is computed only for query terms (≤|terms| rows,
    // broadcast back), the single corpus-keyed shuffle is the doc_id
    // join against doclen, and ranking is the graft_topk bounded-heap
    // PARTIAL aggregate (t9's discipline: score DESC, id ASC, scores
    // exactly double-representable). A billion-doc posting list never
    // funnels through a window sort. Rare terms are PLANTED (every 3rd
    // doc grows a ' bmq{doc_id%7}' tail) so df spans common→rare and
    // the ranking is non-degenerate; the oracle appends the identical
    // tail.
    "b1_bm25" -> ((s, dir) => {
      import s.implicits._
      val qterms = Seq((0L, "spark"), (0L, "bmq1"),
        (1L, "bmq2"), (1L, "bmq3"), (1L, "merge"),
        (2L, "customer"), (2L, "bmq5")).toDF("qid", "tok")
      val planted = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" bmq"), col("doc_id") % 7)).otherwise(lit("")))
      val toks = t(s, dir, "documents").select(col("doc_id"),
        explode(split(trim(planted), "[ \\t\\n\\f\\r\\u000B]+")).as("tok"))
      // tf materialized once (Barrier — r6): doclen, the global
      // stats, the query-term prune and the scoring join all derive
      // from it, and each consumer otherwise re-ran the corpus
      // explode+aggregate (~4 passes, zero ReusedExchange)
      val tf = Barrier(toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")))
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val glob = dl.agg(count(lit(1)).as("n"), sum("dl").as("tt"))
        .select(col("n"), expr("tt DIV n").as("avgdl"))
      val tfq = tf.join(broadcast(qterms.select("tok").distinct()), "tok")
      val dfreq = tfq.groupBy("tok").agg(count(lit(1)).as("df"))
      // doclen pruned to the candidate set BEFORE the scoring join
      // (VERDICT r5 #6): dl is corpus-sized while only query-term-
      // bearing docs survive — the left-semi prune cuts the doc_id
      // shuffle to the candidate set (same rows by construction:
      // every tfq doc_id is in dl)
      val dlq = dl.join(tfq.select("doc_id"), Seq("doc_id"), "left_semi")
      tfq.join(broadcast(dfreq), "tok")
        .join(dlq, "doc_id")
        .crossJoin(broadcast(glob))
        .join(broadcast(qterms), "tok")
        .withColumn("idf",
          length(bin(expr("(1024L * n) DIV df"))).cast("long"))
        .withColumn("sat", expr(
          "(22L * tf * 1000L * avgdl * 1024L) DIV " +
            "(10L * tf * 1000L * avgdl + 12L * (250L * avgdl + 750L * dl))"))
        .groupBy("qid", "doc_id")
        .agg(sum(col("idf") * col("sat")).as("score"))
        .groupBy("qid")
        .agg(call_function("graft_topk",
          col("score").cast("double"), col("doc_id"), lit(10)).as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("qid"), col("e.id").as("doc_id"),
          (col("pos") + 1).cast("long").as("rank"),
          col("e.score").cast("long").as("score"))
        .orderBy("qid", "doc_id")
    }),
    // URL canonicalization (the step before any url-keyed crawl dedup
    // or host bucketing): lowercase scheme+host, drop the scheme's
    // default port, strip fragments and tracking params (utm_*/
    // fbclid/gclid), sort surviving query params. Row-local regexp +
    // array built-ins (codegen, no shuffle). URLs are planted
    // deterministically with mixed case / ports / params / fragments
    // so every rule fires; the oracle recomputes the whole
    // canonicalization from first principles. The rules live in ONE
    // place — `UrlCanon` — shared with u2/r1; the SQL mirror is
    // `urlCanonCtesFor` (change only in lockstep).
    "u1_url_canon" -> ((s, dir) => {
      val url = concat(
        when(col("doc_id") % 3 === 0, lit("HTTP")).otherwise(lit("https")),
        lit("://"),
        when(col("doc_id") % 2 === 0, lit("WWW.")).otherwise(lit("")),
        lit("Site"), col("doc_id") % 97, lit(".Example.COM"),
        when(col("doc_id") % 4 === 0, lit(":80"))
          .when(col("doc_id") % 4 === 1, lit(":443"))
          .when(col("doc_id") % 4 === 2, lit(":8080")).otherwise(lit("")),
        lit("/a/"), col("doc_id"),
        when(col("doc_id") % 5 === 0,
            concat(lit("?utm_source=feed&id="), col("doc_id") % 50, lit("&utm_campaign=x")))
          .when(col("doc_id") % 5 === 1, concat(lit("?b=2&a=1&fbclid=f"), col("doc_id")))
          .when(col("doc_id") % 5 === 2, lit("?z=9")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, concat(lit("#frag"), col("doc_id") % 5))
          .otherwise(lit("")))
      t(s, dir, "documents").select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), col("url"),
          UrlCanon.canon(col("url")).as("canon_url"),
          UrlCanon.host(col("url")).as("canon_host"),
          UrlCanon.nTracking(col("url")).as("n_tracking_params"))
        .orderBy("doc_id")
    }),
    // URL-keyed crawl dedup: the same page crawled under surface
    // variants (case, default port, tracking params, fragments) must
    // collapse to ONE canonical row before any content-level dedup.
    // Planting: doc_id % 229 picks the logical page, the remaining
    // doc_id residues drive only canonicalization-INVARIANT variation
    // (scheme/host case, :443 under https, utm_*/fbclid params,
    // fragments), so exactly the docs sharing doc_id % 229 collapse.
    // Shape at 100 TB: the min/count agg combines MAP-SIDE (partial
    // agg below its exchange — plan-asserted), so the agg shuffle
    // carries one compact (canon_url, keeper, count) row per distinct
    // URL per task, never the text. At test scale the planner
    // broadcasts that aggregate; at corpus scale it degrades to a
    // sort-merge whose probe side shuffles the corpus ONCE on
    // canon_url — the unavoidable shuffle — and canon_url groups are
    // bounded by crawl duplication (no hot keys).
    "u2_url_dedup" -> ((s, dir) => {
      val k = col("doc_id") % 229
      val url = concat(
        when(col("doc_id") % 3 === 0, lit("HTTPS")).otherwise(lit("https")),
        lit("://"),
        when(col("doc_id") % 2 === 0, concat(lit("Site"), k, lit(".Example.COM")))
          .otherwise(concat(lit("site"), k, lit(".example.com"))),
        when(col("doc_id") % 4 === 1, lit(":443")).otherwise(lit("")),
        lit("/a/"), k,
        when(col("doc_id") % 5 === 0,
            concat(lit("?utm_source=feed&id="), k % 50, lit("&utm_campaign=x")))
          .when(col("doc_id") % 5 === 1, concat(lit("?id="), k % 50, lit("&fbclid=f"), col("doc_id")))
          .otherwise(concat(lit("?id="), k % 50)),
        when(col("doc_id") % 7 === 0, concat(lit("#frag"), col("doc_id") % 5))
          .otherwise(lit("")))
      // synthesized+canonicalized url table materialized once (r6):
      // the keeper aggregate and the join-back probe each re-ran the
      // url synthesis and the full canonicalization expression chain
      val docs = Barrier(t(s, dir, "documents")
        .select(col("doc_id"), url.as("url"))
        .withColumn("canon_url", UrlCanon.canon(col("url"))))
      val groups = docs.groupBy("canon_url")
        .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
      docs.join(groups, "canon_url")
        .select(col("doc_id"), col("url"), col("canon_url"),
          (col("doc_id") === col("keeper_id")).as("keep"), col("n_copies"))
        .orderBy("doc_id")
    }),
    // u3: redirect-chain resolution — every URL's redirect chain
    // resolved to its terminal target via POINTER DOUBLING
    // (Graph.resolveChains): ⌈log₂ L⌉ join rounds for a length-L
    // chain instead of L (a 100-hop crawl spam chain costs 7 rounds,
    // not 100). Deterministic chain layout from doc ids: 32-id
    // groups; groups with group%5==0 chain FORWARD (id → id+1,
    // terminal at the group top, truncated at the table edge), the
    // rest BACKWARD (id → id-1, terminal at the group base); edges
    // exist only between ids present in the table (semi-join, EXISTS
    // in the oracle). Two synthetic ids (20001 ↔ 20002) plant a
    // redirect LOOP: never terminal, flagged resolved=false with
    // final_id/hops masked to -1 on BOTH engines — the raw
    // exhausted-doubling values are deterministic but
    // round-count-dependent, so they stay out of the dual-engine
    // contract (the HLL-float-estimate rule).
    "u3_redirects" -> ((s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id").as("id"))
      val back = ids.filter(expr("(id div 32) % 5 <> 0 AND id % 32 > 0"))
        .select(col("id"), (col("id") - 1).as("nxt"))
      val fwd = ids.filter(expr("(id div 32) % 5 = 0 AND id % 32 < 31"))
        .select(col("id"), (col("id") + 1).as("nxt"))
      val cyc = Seq((20001L, 20002L), (20002L, 20001L)).toDF("id", "nxt")
      val edges = back.unionAll(fwd)
        .join(ids.select(col("id").as("nxt")), Seq("nxt"), "left_semi")
        .unionAll(cyc)
      Graph.resolveChains(edges, "id", "nxt", maxRounds = 8)
        .select(col("id"),
          when(col("resolved"), col("final_id")).otherwise(lit(-1L))
            .as("final_id"),
          when(col("resolved"), col("hops")).otherwise(lit(-1L)).as("hops"),
          col("resolved"))
        .orderBy("id")
    }),
    // robots.txt-style crawl filtering: per-host Disallow prefix rules
    // applied to every fetched URL — the politeness gate that runs
    // before extraction. Hosts site{0..59}.example.com; every host
    // disallows /private/, every 3rd also /admin/, every 7th also
    // /tmp/. Rules are the canonical tiny dimension (≤3 rows/host):
    // BROADCAST left join on host with a row-local prefix test —
    // plan-asserted no sort-merge, so at 10^12 URLs the corpus
    // streams through map-side. Path sections are disjoint, so at
    // most one rule matches (left join stays 1:1, no post-agg).
    "r1_robots" -> ((s, dir) => {
      val h = col("doc_id") % 60
      val section = when(col("doc_id") % 5 === 1, lit("private"))
        .when(col("doc_id") % 5 === 2, lit("tmp"))
        .when(col("doc_id") % 5 === 3, lit("admin"))
        .otherwise(lit("public"))
      val url = concat(lit("https://site"), h, lit(".example.com/"),
        section, lit("/"), col("doc_id"))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), url.as("url"))
        .withColumn("host", UrlCanon.host(col("url")))
        .withColumn("path", UrlCanon.path(col("url")))
      val rules = s.range(60).select(
          concat(lit("site"), col("id"), lit(".example.com")).as("rhost"),
          filter(array(
            lit("/private/"),
            when(col("id") % 3 === 0, lit("/admin/")),
            when(col("id") % 7 === 0, lit("/tmp/"))), p => p.isNotNull).as("pfxs"))
        .select(col("rhost"), explode(col("pfxs")).as("prefix"))
      docs.join(broadcast(rules),
          col("host") === col("rhost") && startswith(col("path"), col("prefix")),
          "left")
        .select(col("doc_id"), col("url"), col("host"),
          col("prefix").isNotNull.as("blocked"),
          col("prefix").as("matched_rule"))
        .orderBy("doc_id")
    }),
    // Gopher document-level quality rules (Rae et al. 2021, Table A1):
    // word-count bounds, mean word length, symbol-to-word ratio (# and
    // '...'), bullet / ellipsis line fractions, alpha-word fraction
    // and the required-stopword count — the document-level gate that
    // pairs with t13's line-repetition signals. Entirely row-local
    // (split / higher-order filter / transform, codegen end to end):
    // no shuffle before the compare sort (plan-asserted). Plants make
    // every rule observable: every 7th doc gains bullet lines, every
    // 11th ellipsis-terminated lines, every 13th a # symbol burst.
    // All fractions are a SINGLE int/int division cast through DOUBLE
    // (IEEE exact-rounded, bit-identical in DuckDB) — never a
    // float SUM whose order could differ.
    "t14_gopher_docs" -> ((s, dir) => {
      val wsCls = "[ \\t\\n\\f\\r\\u000B]" // explicit whitespace class
      val planted = concat(col("text"),
        when(col("doc_id") % 7 === 0,
          lit("\n- bullet item one\n- bullet item two\n- bullet item three"))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          lit("\ntrailing thought...\nanother unfinished idea..."))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          lit("\n## ### # heading # noise ##")).otherwise(lit("")))
      val lines = split(planted, "\n")
      val words = split(trim(planted), wsCls + "+")
      val nWords = size(words).cast("long")
      val nLines = size(lines).cast("long")
      val wordChars =
        length(regexp_replace(planted, wsCls, "")).cast("long")
      val nHash =
        (length(planted) - length(regexp_replace(planted, "#", ""))).cast("long")
      val nEll =
        ((length(planted) - length(regexp_replace(planted, "\\.\\.\\.", ""))) / lit(3))
          .cast("long")
      val nBullet = size(filter(lines, l =>
        startswith(l, lit("- ")) || startswith(l, lit("• ")))).cast("long")
      val nEllLines = size(filter(lines, l =>
        endswith(l, lit("...")) || endswith(l, lit("…")))).cast("long")
      val nAlpha = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long")
      val stops = array(Seq("the", "be", "to", "of", "and", "that", "have",
        "with").map(lit): _*)
      val nStop = size(array_intersect(
        array_distinct(transform(words, w => lower(w))), stops)).cast("long")
      val meanWordLen = wordChars.cast("double") / nWords.cast("double")
      val symbolRatio = (nHash + nEll).cast("double") / nWords.cast("double")
      val fracBullet = nBullet.cast("double") / nLines.cast("double")
      val fracEllLines = nEllLines.cast("double") / nLines.cast("double")
      val fracAlpha = nAlpha.cast("double") / nWords.cast("double")
      t(s, dir, "documents").select(
          col("doc_id"),
          nWords.as("n_words"), nLines.as("n_lines"),
          meanWordLen.as("mean_word_len"),
          symbolRatio.as("symbol_ratio"),
          fracBullet.as("frac_bullet_lines"),
          fracEllLines.as("frac_ellipsis_lines"),
          fracAlpha.as("frac_alpha_words"),
          nStop.as("n_stop_hits"))
        .withColumn("keep_doc",
          col("n_words") >= 50 && col("n_words") <= 100000 &&
            col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
            col("symbol_ratio") < 0.1 &&
            col("frac_bullet_lines") <= 0.9 &&
            col("frac_ellipsis_lines") <= 0.3 &&
            col("frac_alpha_words") >= 0.8 &&
            col("n_stop_hits") >= 2)
        .orderBy("doc_id")
    }),
    // UT1-style URL / host blocklist filter (the crawl-hygiene step
    // before any content-quality work: adult/malware domain lists,
    // banned URL terms). The blocklist is a TABLE, not a literal —
    // at scale it is the canonical small-dimension side (UT1 ships
    // ~4M hosts), so the shape is a guarded BROADCAST left join on
    // host (plan-asserted) + a row-local banned-term predicate;
    // the corpus side never shuffles. Host-block takes precedence
    // over term-block, mirrored exactly in the oracle's CASE.
    "t15_url_blocklist" -> ((s, dir) => {
      import s.implicits._
      val blockedHosts = OpsQueries.blockedHostList.toDF("bhost")
      val url = concat(lit("https://site"), col("doc_id") % 97,
        lit(".example.com/p/"), col("doc_id"),
        when(col("doc_id") % 23 === 0, lit("?x=casino-bonus"))
          .when(col("doc_id") % 29 === 0, lit("/free-download.html"))
          .otherwise(lit("")))
      val docs = t(s, dir, "documents").select(col("doc_id"), url.as("url"))
        .withColumn("host",
          regexp_extract(col("url"), "^[a-z]+://([^/?#]+)", 1))
      docs.join(broadcast(blockedHosts), col("host") === col("bhost"),
          "left_outer")
        .select(col("doc_id"), col("url"), col("host"),
          when(col("bhost").isNotNull, lit("blocked_host"))
            .when(col("url").contains("casino") ||
              col("url").contains("free-download"), lit("blocked_term"))
            .otherwise(lit("ok")).as("status"))
        .orderBy("doc_id")
    }),
    // language-temperature corpus balancing (the multilingual-mix
    // step: small languages are UP-weighted relative to the head so
    // the sample isn't English-only; α=0.5 temperature = sqrt of the
    // size ratio). Integer-exact by construction: keep_thresh =
    // floor(2^20 · sqrt(n_l / n_max)) — the ratio and sqrt are single
    // IEEE correctly-rounded ops and ·2^20 is exact, so DuckDB
    // reproduces the threshold bit-for-bit; the per-doc gate is
    // splitmix64(doc_id) mod 2^20 (retry- and cluster-size-stable,
    // like t8's split). Scale shape: two tiny aggregates (langs,
    // then a 1-row max) broadcast back onto the corpus — the
    // 10^12-doc side streams through ONE broadcast hash join, no
    // shuffle (plan-asserted).
    "t16_lang_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val maxN = counts.agg(max("n_docs").as("max_docs"))
      val weights = counts.crossJoin(broadcast(maxN))
        .withColumn("keep_thresh",
          floor(lit(1048576.0) *
            sqrt(col("n_docs").cast("double") / col("max_docs").cast("double")))
            .cast("long"))
      docs.join(broadcast(weights), "lang")
        .withColumn("gate",
          call_function("graft_mix64", col("doc_id"))
            .bitwiseAND(lit(1048575L)))
        .select(col("doc_id"), col("lang"), col("n_docs"), col("keep_thresh"),
          col("gate"), (col("gate") < col("keep_thresh")).as("kept"))
        .orderBy("doc_id")
    }),
    // host-graph connected components, driver-exercised directly
    // (d6 exercises Dedup.connectedComponents only through the
    // minhash-pair path): the crawl-analytics "site islands" view
    // over a deterministic mirror-host graph — node h{i} links to
    // h{(i+6) mod 60}, so the components are exactly the congruence
    // classes mod gcd(6,60)=6 and min-label propagation must walk a
    // 10-ring's diameter to converge (a real multi-round iteration,
    // unlike near-dup star clusters). Oracle = recursive-CTE
    // min-reachable-label closure, d6's pattern on a formulaic graph.
    "g3_host_components" -> ((s, dir) => {
      val nodes = t(s, dir, "documents")
        .select((col("doc_id") % 60).as("id")).distinct()
      val edges = nodes.select(col("id").as("id_a"),
        ((col("id") + 6) % 60).as("id_b"))
      val cc = Dedup.connectedComponents(edges)
      val sizes = cc.groupBy("component").agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, "component")
        .select(col("id").as("node_id"),
          concat(lit("h"), col("id")).as("host"),
          col("component").as("canon_id"), col("cluster_size"))
        .orderBy("node_id")
    }),
    // g4: inbound anchor-text aggregation per target host (the classic
    // web-corpus signal: how the web titles a page). graft_anchors
    // pulls (href, visible text) row-locally — nested tags stripped,
    // HTML5 implicit close, ws collapsed — then host extraction and
    // ONE combiner-friendly groupBy(host); a million-inlink host
    // reaches the reducer as partial rows. Link targets vary per doc
    // (h(doc_id%60) / h((doc_id+7)%60)) so the rollup is non-trivial
    // and the oracle predicts it from the same arithmetic.
    "g4_anchor_stats" -> ((s, dir) => {
      val html = concat(
        lit("<html><body><p>Intro text.</p><a href=\"https://h"),
        pmod(col("doc_id"), lit(60)),
        lit(".example/p"), col("doc_id"), lit("\">site "),
        pmod(col("doc_id"), lit(60)),
        lit("</a> between <a href=\"https://h"),
        pmod(col("doc_id") + 7, lit(60)),
        lit(".example/\"> <b>bold</b> link "), col("doc_id"),
        lit(" </a><a name=\"x\">no href</a></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(call_function("graft_anchors", html)).as("l"))
        .select(col("doc_id"),
          regexp_extract(col("l.href"), "^https?://([^/]+)", 1).as("host"),
          col("l.anchor").as("anchor"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_inlinks"),
          countDistinct(col("doc_id")).as("n_src_docs"),
          countDistinct(col("anchor")).as("n_anchors"),
          min(col("anchor")).as("first_anchor"))
        .orderBy("host")
    }),
    // g5: integer-exact HITS over g1's doc graph (crawl hosts link to
    // src{0..19} targets — hosts become hubs, targets authorities):
    // the complementary rank to PageRank, same fixed-point discipline,
    // 2 rounds unrolled exactly in SQL.
    "g5_hits" -> ((s, dir) => {
      val edges = t(s, dir, "documents").select(
        col("source").as("src"),
        concat(lit("src"), ((col("doc_id") * 7) % 20).cast("string")).as("dst"))
      Graph.hits(edges, "src", "dst", iters = 2).orderBy("host")
    }),
    // multimodal: real image/audio decode (stub video) + feature schema
    // + frame sample
    "m1_media_features" -> ((s, _) => {
      val feats = Multimodal.features(Multimodal.gen(s, 300)).toDF()
      feats.select(col("media_id"), col("kind"), col("width"), col("height"),
          col("n_frames"), size(col("feature")).as("feat_dim"), col("decode_error"))
        .orderBy("media_id")
    }),
    "m2_frame_sample" -> ((s, _) => {
      val feats = Multimodal.features(Multimodal.gen(s, 300)).toDF()
      Multimodal.frameSample(feats, 24).orderBy("media_id", "frame_idx")
    }))

  // ---- SQL builders for hash-faithful oracles -------------------------
  //
  // d3/d4's fingerprints use FNV-1a and splitmix64 (TextExprs.Hash64) —
  // fixed public integer algorithms, so DuckDB can recompute them
  // EXACTLY with 64-bit wraparound arithmetic emulated via HUGEINT.
  // splitmix64 is generated as a relational CTE pipeline (one column
  // step per stage) rather than a nested expression — nesting would
  // duplicate the input expression 8× per mix application.

  private val M64 = "18446744073709551616" // 2^64

  /** (z * const) mod 2^64 without INT128 overflow: 32-bit split. */
  private def modMul(z: String, const: String): String =
    s"CAST(( (CAST(($z >> 32) AS HUGEINT) * $const % 4294967296) * 4294967296" +
      s" + CAST(($z & 4294967295) AS HUGEINT) * $const ) % $M64 AS UBIGINT)"

  /** splitmix64 finalizer (Hash64.mix) applied to `src.incol`, emitted
    * as 4 chained CTEs named `prefix_a..prefix_out(keep, outcol)`. */
  private def mixCtes(src: String, incol: String, prefix: String,
                      outcol: String, keep: String): String = {
    val A = "11400714819323198485" // 0x9e3779b97f4a7c15
    val B = "13787848793156543929" // 0xbf58476d1ce4e5b9
    val C = "10723151780598845931" // 0x94d049bb133111eb
    s"""$prefix{}_a AS (SELECT $keep, CAST((CAST($incol AS HUGEINT) + $A) % $M64 AS UBIGINT) AS z1 FROM $src),
       |$prefix{}_b AS (SELECT $keep, ${modMul("xor(z1, z1 >> 30)", B)} AS z2 FROM $prefix{}_a),
       |$prefix{}_c AS (SELECT $keep, ${modMul("xor(z2, z2 >> 27)", C)} AS z3 FROM $prefix{}_b),
       |$prefix{}_out AS (SELECT $keep, xor(z3, z3 >> 31) AS $outcol FROM $prefix{}_c)"""
      .stripMargin.replace("{}", "")
  }

  /** DuckDB mirror of `UrlCanon` — ONE builder feeds every url-keyed
    * oracle (u1, u2, r1 via host/path), so a rule change alters all of
    * them identically by construction (CLAUDE.md coupling inventory).
    * Takes a CTE body producing (doc_id, url) and emits the chain
    * ending in `c`(doc_id, url, canon_host, canon_url,
    * n_tracking_params).
    */
  private def urlCanonCtesFor(uBody: String): String =
    s"""u AS ($uBody),
       |ucp AS (
       | SELECT doc_id, url,
       |  lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
       |  lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS hostport,
       |  regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
       |  regexp_extract(url, '\\?([^#]*)', 1) AS q
       | FROM u),
       |uch AS (
       | SELECT *, CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
       |                WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
       |                ELSE hostport END AS canon_host
       | FROM ucp),
       |uck AS (
       | SELECT *, list_filter(string_split(q, '&'), x -> x <> '') AS parts
       | FROM uch),
       |ucf AS (
       | SELECT *, list_filter(parts, x -> NOT starts_with(x, 'utm_')
       |   AND NOT starts_with(x, 'fbclid=') AND NOT starts_with(x, 'gclid=')) AS kept
       | FROM uck),
       |c AS (
       | SELECT doc_id, url, canon_host,
       |  scheme || '://' || canon_host || path ||
       |   CASE WHEN len(kept) > 0 THEN '?' || array_to_string(list_sort(kept), '&')
       |        ELSE '' END AS canon_url,
       |  len(parts) - len(kept) AS n_tracking_params
       | FROM ucf)""".stripMargin

  /** FNV-1a of word `w` over UTF-16 code units (Hash64.fnv1a). */
  private val fnvWordSql: String =
    s"""list_reduce(
       |   [14695981039346656037::UBIGINT] ||
       |     list_transform(range(1, len(w)+1), i -> CAST(ord(substr(w, i, 1)) AS UBIGINT)),
       |   (h, c) -> CAST(
       |     (CAST(xor(
       |        CAST((CAST(xor(h, c & 255) AS HUGEINT) * 1099511628211) % $M64 AS UBIGINT),
       |        (c >> 8) & 255) AS HUGEINT) * 1099511628211) % $M64
       |     AS UBIGINT))""".stripMargin

  /** d8 from first principles: the same planted-splice corpus, every
    * positional 8-token window hashed with the SAME FNV-1a the engine
    * uses (fnvWordSql over the space-joined window string — bit-exact
    * vs TokenWindowHashes' virtual-string hashing), first occurrence
    * per window hash ranked by (doc_id, pos), rest counted as dups.
    * Text is normalized IN-QUERY on both sides with the x10 explicit
    * whitespace class (space tab nl ff cr \\x0B \\xA0 — never `\\s`,
    * whose Java and RE2 meanings differ; CLAUDE.md), so the engine's
    * isWs tokenizer and this space-split agree by construction. */
  /** The x10 explicit whitespace class, DuckDB-regex form (raw string:
    * no interpolator escape processing, `\x{0B}` stays literal). */
  private val wsClassSql = """[ \t\n\f\r\x{0B}\x{A0}]+"""

  /** The t12 explicit whitespace class (no NBSP — exactly the Java
    * default-whitespace expansion), raw-string as above. */
  private val wsClassNoNbspSql = """[ \t\n\f\r\x{0B}]+"""

  /** p1 from first principles: all four pipeline stages replayed in
    * SQL over the same planted corpus — text-partitioned first-keeper
    * (== the engine's sha256 min-id keeper absent collisions), the t12
    * C4 rules, d7's shingle-overlap decontamination against the eval
    * slice, and t9's splitmix64 + top-53-bit + row_number host cap. */
  private lazy val p1OracleSql: String =
    s"""WITH base AS (
       | SELECT doc_id, source,
       |   text ||
       |   CASE WHEN doc_id % 10 = 0 THEN ' lorem ipsum' ELSE '' END ||
       |   CASE WHEN doc_id % 9 = 0 THEN ' brace { here }' ELSE '' END ||
       |   ' end of document.' AS text
       | FROM documents),
       |corpus AS (
       | SELECT doc_id, source, text FROM base
       | UNION ALL
       | SELECT doc_id + 400000 AS doc_id, source, text FROM base
       | WHERE doc_id % 6 = 0),
       |dedup AS (
       | SELECT doc_id, source, text FROM (
       |  SELECT doc_id, source, text,
       |         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       |  FROM corpus) WHERE rn = 1),
       |c4 AS (
       | SELECT doc_id, source, text FROM dedup
       | WHERE len(list_filter(string_split(text, chr(10)), x ->
       |     regexp_matches(x, '[.!?"]$$') AND
       |     len(regexp_split_to_array(trim(x), '$wsClassNoNbspSql')) >= 5)) >= 1
       |  AND NOT contains(lower(text), 'lorem ipsum')
       |  AND NOT contains(lower(text), '{')),
       |ev AS (SELECT text FROM base WHERE doc_id % 13 = 0),
       |evw AS (SELECT string_split(trim(text), ' ') AS w FROM ev),
       |evsh AS (
       | SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(w)-1),
       |   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
       | FROM evw WHERE len(w) >= 3),
       |cw AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM c4),
       |csh AS (
       | SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)-1),
       |   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
       | FROM cw WHERE len(w) >= 3),
       |cont AS (
       | SELECT c.doc_id FROM csh c JOIN evsh e ON c.shingle = e.shingle
       | GROUP BY c.doc_id HAVING COUNT(*) >= 8),
       |clean AS (
       | SELECT doc_id, source FROM c4
       | WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
       |m0 AS (SELECT doc_id, source, CAST(doc_id AS UBIGINT) AS x FROM clean),
       |${mixCtes("m0", "x", "pc", "mx", "doc_id, source")},
       |scored AS (SELECT doc_id, source, CAST(mx >> 11 AS DOUBLE) AS score
       |           FROM pc_out),
       |ranked AS (SELECT doc_id, source,
       |  row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id)
       |    AS rank
       | FROM scored)
       |SELECT doc_id, source FROM ranked WHERE rank <= 10 ORDER BY doc_id"""
      .stripMargin

  // shared by d7 (broadcast path) and d7b (bloom + merge-join path):
  // the two plans are proven result-identical, so one oracle covers both
  private lazy val d7OracleSql: String =
    """WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 = 0),
      |corpus AS (
      | SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 0
      | UNION ALL
      | SELECT doc_id + 200000 AS doc_id,
      |        text || ' padded contamination tail' AS text
      | FROM ev),
      |evw AS (SELECT string_split(trim(text), ' ') AS w FROM ev),
      |evsh AS (
      | SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(w)-1),
      |   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
      | FROM evw WHERE len(w) >= 3),
      |cw AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM corpus),
      |csh AS (
      | SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)-1),
      |   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
      | FROM cw WHERE len(w) >= 3)
      |SELECT c.doc_id, COUNT(*) AS n_overlap, COUNT(*) >= 8 AS contaminated
      |FROM csh c JOIN evsh e ON c.shingle = e.shingle
      |GROUP BY c.doc_id
      |ORDER BY doc_id""".stripMargin

  private lazy val d8OracleSql: String =
    s"""WITH norm AS (
       | SELECT doc_id,
       |        trim(regexp_replace(text, '$wsClassSql', ' ', 'g')) AS text
       | FROM documents),
       |corpus AS (
       | SELECT doc_id, text FROM norm
       | UNION ALL
       | SELECT doc_id + 300000 AS doc_id,
       |        'fresh prefix words precede the spliced tail ' || text AS text
       | FROM norm WHERE doc_id % 11 = 0),
       |base AS (
       | SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
       |wins AS (
       | SELECT doc_id, i - 1 AS pos, $fnvWordSql AS whash
       | FROM (SELECT doc_id, unnest(range(1, len(t) - 6)) AS i, t
       |       FROM base WHERE len(t) >= 8),
       |      LATERAL (SELECT array_to_string(t[i:i+7], ' ') AS w)),
       |ranked AS (
       | SELECT doc_id,
       |        row_number() OVER (PARTITION BY whash ORDER BY doc_id, pos) AS rn
       | FROM wins)
       |SELECT doc_id, COUNT(*) AS n_windows,
       |       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
       |       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
       |         AS dup_ratio
       |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** g1 from first principles: the same deterministic host graph, 3
    * unrolled PageRank rounds in pure integer arithmetic — DuckDB's
    * `//` floor division mirrors Spark's `div` per edge, so the sums
    * match bit-for-bit. */
  private lazy val g1OracleSql: String = {
    def round(i: Int, prev: String): String =
      s"""c$i AS (
         | SELECT e.dst AS host,
         |        CAST(SUM((85 * r.rank) // (100 * o.odeg)) AS BIGINT) AS contrib
         | FROM edges e JOIN $prev r ON r.host = e.src
         |              JOIN outdeg o ON o.src = e.src
         | GROUP BY e.dst),
         |r$i AS (
         | SELECT nd.host,
         |        CAST((15 * 1048576) // (100 * p.n) + COALESCE(c.contrib, 0)
         |             AS BIGINT) AS rank
         | FROM nodes nd CROSS JOIN p LEFT JOIN c$i c ON c.host = nd.host)"""
        .stripMargin
    s"""WITH edges AS (
       | SELECT source AS src, 'src' || ((doc_id * 7) % 20) AS dst FROM documents),
       |nodes AS (SELECT DISTINCT host FROM
       | (SELECT src AS host FROM edges UNION ALL SELECT dst FROM edges)),
       |outdeg AS (SELECT src, COUNT(*) AS odeg FROM edges GROUP BY src),
       |p AS (SELECT COUNT(*) AS n FROM nodes),
       |r0 AS (SELECT host, 1048576 // n AS rank FROM nodes, p),
       |${round(1, "r0")},
       |${round(2, "r1")},
       |${round(3, "r2")}
       |SELECT host, rank FROM r3 ORDER BY host""".stripMargin
  }

  /** g1b: g1's integer rounds plus the dangling term — D enters each
    * round as a 1-row CTE (the summed rank of no-outdeg nodes), and
    * every node gains (85·D)//(100·n), the engine's exact
    * remainder-dropping rule. */
  private lazy val g1bOracleSql: String = {
    def round(i: Int, prev: String): String =
      s"""d$i AS (
         | SELECT COALESCE(CAST(SUM(r.rank) AS BIGINT), 0) AS dmass
         | FROM $prev r JOIN dang g ON g.host = r.host),
         |c$i AS (
         | SELECT e.dst AS host,
         |        CAST(SUM((85 * r.rank) // (100 * o.odeg)) AS BIGINT) AS contrib
         | FROM edges e JOIN $prev r ON r.host = e.src
         |              JOIN outdeg o ON o.src = e.src
         | GROUP BY e.dst),
         |r$i AS (
         | SELECT nd.host,
         |        CAST((15 * 1048576) // (100 * p.n) + COALESCE(c.contrib, 0)
         |             + (85 * d.dmass) // (100 * p.n) AS BIGINT) AS rank
         | FROM nodes nd CROSS JOIN p CROSS JOIN d$i d
         |      LEFT JOIN c$i c ON c.host = nd.host)"""
        .stripMargin
    s"""WITH edges AS (
       | SELECT source AS src,
       |  CASE WHEN doc_id % 3 = 0 THEN 'snk' || (doc_id % 5)
       |       ELSE 'src' || ((doc_id * 7) % 20) END AS dst
       | FROM documents),
       |nodes AS (SELECT DISTINCT host FROM
       | (SELECT src AS host FROM edges UNION ALL SELECT dst FROM edges)),
       |outdeg AS (SELECT src, COUNT(*) AS odeg FROM edges GROUP BY src),
       |dang AS (SELECT host FROM nodes
       |         WHERE host NOT IN (SELECT src FROM outdeg)),
       |p AS (SELECT COUNT(*) AS n FROM nodes),
       |r0 AS (SELECT host, 1048576 // n AS rank FROM nodes, p),
       |${round(1, "r0")},
       |${round(2, "r1")},
       |${round(3, "r2")}
       |SELECT host, rank FROM r3 ORDER BY host""".stripMargin
  }

  /** g5: HITS unrolled — each half-step is one edges⋈scores sum plus
    * the max-rescale ((s·2^20) // max), Graph.hits' exact rule. */
  private lazy val g5OracleSql: String = {
    def half(srcTbl: String, srcCol: String, joinOn: String, grp: String,
             out: String, outCol: String): String =
      s"""${out}_raw AS (
         | SELECT nd.host, COALESCE(r.s, 0) AS s
         | FROM nodes nd LEFT JOIN (
         |  SELECT e.$grp AS host, CAST(SUM(t.$srcCol) AS BIGINT) AS s
         |  FROM edges e JOIN $srcTbl t ON t.host = e.$joinOn
         |  GROUP BY e.$grp) r ON r.host = nd.host),
         |${out}_mx AS (SELECT MAX(s) AS mx FROM ${out}_raw),
         |$out AS (SELECT host, (s * 1048576) // mx AS $outCol
         |         FROM ${out}_raw, ${out}_mx)""".stripMargin
    s"""WITH edges AS (
       | SELECT source AS src, 'src' || ((doc_id * 7) % 20) AS dst FROM documents),
       |nodes AS (SELECT DISTINCT host FROM
       | (SELECT src AS host FROM edges UNION ALL SELECT dst FROM edges)),
       |h0 AS (SELECT host, 1048576 AS hub FROM nodes),
       |${half("h0", "hub", "src", "dst", "a1", "auth")},
       |${half("a1", "auth", "dst", "src", "h1", "hub")},
       |${half("h1", "hub", "src", "dst", "a2", "auth")},
       |${half("a2", "auth", "dst", "src", "h2", "hub")}
       |SELECT n.host, h2.hub, a2.auth
       |FROM nodes n JOIN h2 ON h2.host = n.host JOIN a2 ON a2.host = n.host
       |ORDER BY n.host""".stripMargin
  }

  /** Per-word FNV hash CTEs over an arbitrary `docs` CTE body —
    * the tokenization front half of the minhash oracle pipeline,
    * parameterized so d12 can run it over a corpus∪eval union. */
  private def wordHashCtesFor(docsCteBody: String): String =
    s"""docs AS (
       |$docsCteBody),
       |wl AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM docs),
       |words AS (
       | SELECT doc_id, i AS widx, $fnvWordSql AS h
       | FROM (SELECT doc_id, unnest(range(1, len(ws)+1)) AS i, ws FROM wl),
       |      LATERAL (SELECT ws[i] AS w))""".stripMargin

  /** The planted-near-dup corpus + per-word FNV hashes, shared by the
    * d3/d4 oracles (exact mirror of docsWithNearDups + tokenization). */
  private val wordHashCtes: String = wordHashCtesFor(
    """ SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 100000 AS doc_id, text || ' zz qq xx' AS text
      | FROM documents WHERE doc_id % 5 = 0""".stripMargin)

  /** Full MinHash+LSH recomputation: word FNV → rolling 3-gram shingle
    * hashes (mix chains) → K seeded permutations → per-position mins
    * (SIGNED compare, matching Java Long) → band slice join →
    * est_jaccard = equal positions / K, the shape read from
    * `MinHashSig`. Matches d3 bit-for-bit.
    * The ORDER-BY-less body (`d3PairsBody`) doubles as the pair
    * source nested inside d6's connected-components closure. */
  private lazy val d3PairsBody: String = minhashPairsBodyFor(wordHashCtes)

  /** The minhash/band/estimate back half over any word-hash front
    * half (d3's bit-exact pipeline, reused verbatim by d12). */
  private def minhashPairsBodyFor(wordCtes: String): String = {
    import MinHashSig.{Bands, K, Rows, SeedBase, Threshold}
    val est = s"CAST(len(list_filter(range(1, ${K + 1}), i -> sa[i] = sb[i])) AS DOUBLE) / ${K.toDouble}"
    s"""WITH $wordCtes,
       |${mixCtes("words", "h", "m1", "mh", "doc_id, widx, h")},
       |${mixCtes("m1_out", "mh", "m2", "mmh", "doc_id, widx")},
       |tri AS (
       | SELECT a.doc_id, xor(xor(a.h, b.mh), c.mmh) AS pre
       | FROM words a
       | JOIN m1_out b ON b.doc_id = a.doc_id AND b.widx = a.widx + 1
       | JOIN m2_out c ON c.doc_id = a.doc_id AND c.widx = a.widx + 2),
       |${mixCtes("tri", "pre", "sh", "shingle", "doc_id")},
       |seeds1 AS (SELECT j, CAST($SeedBase + j AS UBIGINT) AS s0
       |           FROM (SELECT unnest(range(0, $K)) AS j)),
       |${mixCtes("seeds1", "s0", "sd", "seed", "j")},
       |perm0 AS (SELECT doc_id, j, xor(shingle, seed) AS x FROM sh_out, sd_out),
       |${mixCtes("perm0", "x", "pm", "pv", "doc_id, j")},
       |permv AS (SELECT doc_id, j,
       |  CASE WHEN pv >= 9223372036854775808::UBIGINT
       |       THEN CAST(CAST(pv AS HUGEINT) - $M64 AS BIGINT)
       |       ELSE CAST(pv AS BIGINT) END AS sv
       | FROM pm_out),
       |sig AS (SELECT doc_id, list(min_sv ORDER BY j) AS sg
       | FROM (SELECT doc_id, j, MIN(sv) AS min_sv FROM permv GROUP BY doc_id, j)
       | GROUP BY doc_id),
       |banded AS (
       | SELECT doc_id, sg, b, sg[b*$Rows+1 : b*$Rows+$Rows] AS band_key
       | FROM sig, (SELECT unnest(range(0, $Bands)) AS b) bands),
       |pairs AS (
       | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sg AS sa, b.sg AS sb
       | FROM banded a JOIN banded b
       |   ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b,
       | $est AS est_jaccard
       |FROM pairs
       |WHERE $est >= $Threshold""".stripMargin
  }

  private lazy val d3OracleSql: String = d3PairsBody + "\nORDER BY id_a, id_b"

  /** d12: the full d3 minhash pipeline over corpus ∪ mutated-eval
    * (+900000, 4-word tail), keeping only the crossing pairs — the
    * engine's corpus↔eval band join produces exactly those, so the
    * boundary filter makes the all-pairs oracle equivalent by
    * construction (corpus ids < 900000 ≤ eval ids ⇒ id_a is always
    * the corpus side). */
  private lazy val d12OracleSql: String = {
    val docsCte =
      """ SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 900000 AS doc_id, text || ' padded for eval release' AS text
        | FROM documents WHERE doc_id % 13 = 0""".stripMargin
    s"""WITH cand AS (
       |${minhashPairsBodyFor(wordHashCtesFor(docsCte))}
       |)
       |SELECT id_a AS doc_id, id_b AS eval_id, est_jaccard
       |FROM cand WHERE id_a < 900000 AND id_b >= 900000
       |ORDER BY doc_id, eval_id""".stripMargin
  }

  /** Duplicate clusters = transitive closure of the d3 pair list: the
    * recursive CTE computes full reachability over the symmetrized
    * edges, each node's canon is the least id it can reach, and
    * cluster_size counts the component's members — mirroring
    * Dedup.connectedComponents' min-label fixpoint semantics from
    * first principles (closure, not label propagation). */
  /** The shared closure CTEs (through `comp` and `sizes`) — the d6
    * final select and d9's deduped-corpus anti-join both build on it. */
  private lazy val d6CompCtes: String =
    s"""WITH RECURSIVE dup_pairs AS (
       |$d3PairsBody
       |),
       |edges AS (
       | SELECT id_a AS src, id_b AS dst FROM dup_pairs
       | UNION
       | SELECT id_b AS src, id_a AS dst FROM dup_pairs),
       |reach(src, dst) AS (
       | SELECT src, dst FROM edges
       | UNION
       | SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |comp AS (
       | SELECT src AS doc_id, LEAST(src, MIN(dst)) AS canon_id
       | FROM reach GROUP BY src),
       |sizes AS (SELECT canon_id, COUNT(*) AS cluster_size FROM comp GROUP BY canon_id)""".stripMargin

  private lazy val d6OracleSql: String =
    s"""$d6CompCtes
       |SELECT c.doc_id, c.canon_id, s.cluster_size
       |FROM comp c JOIN sizes s USING (canon_id)
       |ORDER BY doc_id""".stripMargin

  /** d9: the corpus d6's clusters deduplicate down to — every doc that
    * is either untouched by any near-dup pair or its cluster's
    * canonical (least-id) member survives. */
  private lazy val d9OracleSql: String =
    s"""$d6CompCtes,
       |docs AS (
       | SELECT doc_id, text FROM documents
       | UNION ALL
       | SELECT doc_id + 100000 AS doc_id, text || ' zz qq xx' AS text
       | FROM documents WHERE doc_id % 5 = 0)
       |SELECT d.doc_id, len(d.text) AS n_chars
       |FROM docs d
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM comp c WHERE c.doc_id = d.doc_id AND c.canon_id <> c.doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** d10 from first principles: the same planted corpus (unique tails
    * every 3rd doc, the shared banner every 7th), the SAME FNV-1a per
    * paragraph ($fnvWordSql over the paragraph string — bit-exact vs
    * graft_fnv64, collisions included), first occurrence per hash by
    * (doc_id, idx) kept, ordered string_agg reassembly (COALESCE ''
    * for docs that lose every paragraph, matching concat_ws). */
  private lazy val d10OracleSql: String =
    s"""WITH c1 AS (
       | SELECT doc_id,
       |   CASE WHEN doc_id % 3 = 0
       |        THEN text || chr(10) || 'unique tail ' || doc_id
       |        ELSE text END AS t2
       | FROM documents),
       |c2 AS (
       | SELECT doc_id,
       |   CASE WHEN doc_id % 7 = 0
       |        THEN t2 || chr(10) ||
       |             'Accept cookies to continue — Terms of Service apply'
       |        ELSE t2 END AS text
       | FROM c1),
       |paras AS (
       | SELECT doc_id, i - 1 AS idx, w AS para, $fnvWordSql AS ph
       | FROM (SELECT doc_id, unnest(range(1, len(p)+1)) AS i, p
       |       FROM (SELECT doc_id, string_split(text, chr(10)) AS p FROM c2)),
       |      LATERAL (SELECT p[i] AS w)),
       |ranked AS (
       | SELECT doc_id, idx, para,
       |        row_number() OVER (PARTITION BY ph ORDER BY doc_id, idx) AS rn
       | FROM paras)
       |SELECT doc_id, COUNT(*) AS n_paras,
       |       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       COALESCE(string_agg(CASE WHEN rn = 1 THEN para END, chr(10)
       |                           ORDER BY idx), '') AS text_dedup
       |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Full SimHash recomputation: per-word FNV → ±1 votes per bit →
    * 64-bit fingerprint → 4×16-bit chunk-band join (pigeonhole) →
    * exact hamming via bit_count(xor). Matches d4 bit-for-bit. */
  private lazy val d4OracleSql: String =
    s"""WITH $wordHashCtes,
       |votes AS (
       | SELECT doc_id, j,
       |  CAST(SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS acc
       | FROM words, (SELECT unnest(range(0, 64)) AS j) bits
       | GROUP BY doc_id, j),
       |fp AS (
       | SELECT doc_id,
       |  CAST(SUM(CASE WHEN acc > 0 THEN (1::UBIGINT << CAST(j AS INT))::HUGEINT
       |           ELSE 0::HUGEINT END) AS HUGEINT) AS fpu
       | FROM votes GROUP BY doc_id),
       |chunked AS (
       | SELECT doc_id, fpu, ci, (CAST(fpu AS UBIGINT) >> (ci * 16)) & 65535 AS cv
       | FROM fp, (SELECT unnest(range(0, 4)) AS ci) chunks),
       |pairs AS (
       | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.fpu AS fa, b.fpu AS fb
       | FROM chunked a JOIN chunked b
       |   ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b,
       | bit_count(xor(CAST(fa AS UBIGINT), CAST(fb AS UBIGINT))) AS hamming
       |FROM pairs
       |WHERE bit_count(xor(CAST(fa AS UBIGINT), CAST(fb AS UBIGINT))) <= 3
       |ORDER BY id_a, id_b""".stripMargin

  /** Full random-hyperplane-LSH ANN recomputation: ±1 plane signs from
    * splitmix64(p·131+d), bucket bits from ORDERED left-to-right dot
    * folds (list_reduce reproduces the Java loop's IEEE summation
    * order exactly), multi-probe 1-bit flips, cosine in the same fold
    * order, rank with the same tie-break. dim=64 fixed by the driver's
    * embeddings table. Matches s2 bit-for-bit. */
  private lazy val s2OracleSql: String = {
    val dim = 64
    s"""WITH pd0 AS (SELECT p, d, CAST(p * 131 + d AS UBIGINT) AS x
       |  FROM (SELECT unnest(range(0, 8)) AS p), (SELECT unnest(range(0, $dim)) AS d)),
       |${mixCtes("pd0", "x", "sg", "mv", "p, d")},
       |signs AS (SELECT p, d, CASE WHEN mv & 1 = 1 THEN 1.0 ELSE -1.0 END AS s FROM sg_out),
       |ev AS (SELECT vec_id, embedding, d, CAST(embedding[d+1] AS DOUBLE) AS v
       |  FROM embeddings, (SELECT unnest(range(0, $dim)) AS d)),
       |prod AS (SELECT vec_id, p, list(v * s ORDER BY d) AS xs
       |  FROM ev JOIN signs USING (d) GROUP BY vec_id, p),
       |dots AS (SELECT vec_id, p, list_reduce(xs, (a, x) -> a + x) AS dot FROM prod),
       |buckets AS (SELECT vec_id,
       |    CAST(SUM(CASE WHEN dot > 0.0 THEN 1 << CAST(p AS INT) ELSE 0 END) AS INT) AS bucket
       |  FROM dots GROUP BY vec_id),
       |emb AS (SELECT e.vec_id, e.embedding, b.bucket FROM embeddings e JOIN buckets b USING (vec_id)),
       |qb AS (SELECT vec_id AS query_id, embedding AS qemb,
       |         unnest([bucket] || list_transform(range(0, 8), i -> xor(bucket, 1 << CAST(i AS INT)))) AS bucket
       |  FROM emb WHERE vec_id < 5),
       |scored AS (
       | SELECT q.query_id, c.vec_id AS neighbor_id,
       |  list_reduce(list_transform(range(1, $dim+1), i -> CAST(q.qemb[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), (a,x) -> a+x) /
       |  (sqrt(list_reduce(list_transform(range(1, $dim+1), i -> CAST(q.qemb[i] AS DOUBLE) * CAST(q.qemb[i] AS DOUBLE)), (a,x) -> a+x)) *
       |   sqrt(list_reduce(list_transform(range(1, $dim+1), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)), (a,x) -> a+x))) AS cosine
       | FROM qb q JOIN emb c USING (bucket)
       | WHERE q.query_id <> c.vec_id),
       |ranked AS (
       | SELECT query_id, neighbor_id,
       |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       | FROM scored)
       |SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---- shared IVF-oracle machinery (s3 + d13): recomputes
  // IvfIndex.train/assign in SQL — exact because re-centering is
  // integer fixed-point (IvfIndex.QuantScale) and assignment ties
  // break to the lowest cluster id on both sides. `src` is any
  // CTE/table with (vec_id, embedding FLOAT[]).
  private val ivfDim = 64
  private val ivfK = 16

  /** squared-L2 of every `src` row to centroid table `cents(cl, c)`,
    * then nearest cluster — identical fold + tie-break to
    * IvfIndex.dists/assign. */
  private def ivfAssignCtes(src: String, where: String, cents: String,
                            out: String): String =
    s"""${out}_d AS (
       | SELECT s.vec_id, c.cl,
       |  list_reduce(list_transform(range(1, ${ivfDim + 1}),
       |    i -> (CAST(s.embedding[i] AS DOUBLE) - c.c[i]) *
       |         (CAST(s.embedding[i] AS DOUBLE) - c.c[i])),
       |   (a, x) -> a + x) AS d
       | FROM $src s, $cents c$where),
       |$out AS (
       | SELECT vec_id, cl AS cluster FROM (
       |  SELECT vec_id, cl,
       |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cl) AS rn
       |  FROM ${out}_d) WHERE rn = 1)""".stripMargin

  /** quantized re-centering; empty clusters keep the previous centroid */
  private def ivfRecenterCtes(src: String, asg: String, prev: String,
                              out: String): String =
    s"""${out}_s AS (
       | SELECT a.cluster AS cl, i, COUNT(*) AS n,
       |  CAST(SUM(CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 1048576.0 + 0.5)
       |           AS BIGINT)) AS BIGINT) AS s
       | FROM $src e JOIN $asg a USING (vec_id),
       |      (SELECT unnest(range(1, ${ivfDim + 1})) AS i) dims
       | GROUP BY a.cluster, i),
       |${out}_n AS (
       | SELECT cl, list((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 1048576.0 ORDER BY i) AS c
       | FROM ${out}_s GROUP BY cl),
       |$out AS (
       | SELECT p.cl, COALESCE(n.c, p.c) AS c
       | FROM $prev p LEFT JOIN ${out}_n n ON n.cl = p.cl)""".stripMargin

  /** left-fold dot product — the exact order Similarity.cosine uses */
  private def vecDotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, ${ivfDim + 1}),
       |   i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (a, x) -> a + x)""".stripMargin

  /** c0 (first-16-by-id init) → a1/c1 → a2/c2 → `out` = final
    * assignment of every `src` row, 2 Lloyd iterations — the full
    * IvfIndex.train(k=16, iters=2) + assign replay. */
  private def ivfTrainingCtes(src: String, out: String): String =
    s"""c0 AS (
       | SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cl,
       |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
       | FROM $src ORDER BY vec_id LIMIT $ivfK),
       |${ivfAssignCtes(src, "", "c0", "a1")},
       |${ivfRecenterCtes(src, "a1", "c0", "c1")},
       |${ivfAssignCtes(src, "", "c1", "a2")},
       |${ivfRecenterCtes(src, "a2", "c1", "c2")},
       |${ivfAssignCtes(src, "", "c2", out)}""".stripMargin

  /** Full IVF-ANN recomputation (s3), 2 Lloyd iterations: first-16-
    * by-id init → row-local argmin assignment (ties: lowest cluster,
    * the array_position semantic) → QUANTIZED re-centering (2^20
    * fixed point: exact integer sums make training order- and
    * partitioning-independent on the Spark side — IvfIndex.QuantScale
    * — and exactly recomputable here) → nprobe=4 probe selection →
    * cosine in the engine's left-fold order → (score desc, id asc)
    * rank. Matches s3 bit-for-bit. */
  private lazy val s3OracleSql: String = {
    def dot(a: String, b: String): String = vecDotSql(a, b)
    s"""WITH ${ivfTrainingCtes("embeddings", "corpus_asg")},
       |${ivfAssignCtes("embeddings", " WHERE s.vec_id < 5", "c2", "q_asg")},
       |qp AS (
       | SELECT vec_id AS query_id, cl AS cluster FROM (
       |  SELECT vec_id, cl,
       |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cl) AS rn
       |  FROM q_asg_d) WHERE rn <= 4),
       |scored AS (
       | SELECT qp.query_id, ca.vec_id AS neighbor_id,
       |  ${dot("q.embedding", "ce.embedding")} /
       |  (sqrt(${dot("q.embedding", "q.embedding")}) *
       |   sqrt(${dot("ce.embedding", "ce.embedding")})) AS cosine
       | FROM qp
       | JOIN embeddings q ON q.vec_id = qp.query_id
       | JOIN corpus_asg ca ON ca.cluster = qp.cluster
       | JOIN embeddings ce ON ce.vec_id = ca.vec_id
       | WHERE qp.query_id <> ca.vec_id),
       |ranked AS (
       | SELECT query_id, neighbor_id,
       |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       | FROM scored)
       |SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Full SemDeDup recomputation (d13): the SAME training replay as
    * s3 (ivfTrainingCtes — coupling to IvfIndex by construction) over
    * the dup-planted embedding union, then within-cluster lower-id
    * cosine domination in the engine's exact fold order. */
  private lazy val d13OracleSql: String = {
    val cos =
      s"""${vecDotSql("ea.embedding", "eb.embedding")} /
         |  (sqrt(${vecDotSql("ea.embedding", "ea.embedding")}) *
         |   sqrt(${vecDotSql("eb.embedding", "eb.embedding")}))""".stripMargin
    s"""WITH emb AS (
       | SELECT vec_id, embedding FROM embeddings
       | UNION ALL
       | SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 9 = 0),
       |${ivfTrainingCtes("emb", "asg")},
       |dom AS (
       | SELECT DISTINCT a.vec_id
       | FROM asg a
       | JOIN asg b ON b.cluster = a.cluster AND b.vec_id < a.vec_id
       | JOIN emb ea ON ea.vec_id = a.vec_id
       | JOIN emb eb ON eb.vec_id = b.vec_id
       | WHERE $cos >= 0.999999)
       |SELECT g.vec_id, g.cluster, dom.vec_id IS NULL AS kept
       |FROM asg g LEFT JOIN dom ON dom.vec_id = g.vec_id
       |ORDER BY g.vec_id""".stripMargin
  }

  /** Full winnowing recomputation (Schleimer et al.): char-8-gram FNV →
    * mix → signed min per non-overlapping 16-window (integer division
    * groups the tail window automatically) → distinct fingerprints →
    * df≤50 stop-fp filter → shared-fp containment pairs. Matches t4
    * bit-for-bit. */
  private lazy val t4OracleSql: String =
    s"""WITH docs AS (
       | SELECT doc_id, text FROM documents
       | UNION ALL
       | SELECT doc_id + 100000 AS doc_id, text || ' zz qq xx' AS text
       | FROM documents WHERE doc_id % 5 = 0),
       |grams AS (
       | SELECT doc_id, pos, $fnvWordSql AS h
       | FROM (SELECT doc_id, unnest(range(0, len(text) - 7)) AS pos, text FROM docs
       |       WHERE len(text) >= 8),
       |      LATERAL (SELECT substr(text, CAST(pos AS INT) + 1, 8) AS w)),
       |${mixCtes("grams", "h", "gm", "mv", "doc_id, pos")},
       |signed AS (SELECT doc_id, pos,
       |  CASE WHEN mv >= 9223372036854775808::UBIGINT
       |       THEN CAST(CAST(mv AS HUGEINT) - $M64 AS BIGINT)
       |       ELSE CAST(mv AS BIGINT) END AS hv
       | FROM gm_out),
       |fps AS (SELECT DISTINCT doc_id, wmin AS fp
       | FROM (SELECT doc_id, pos // 16 AS wi, MIN(hv) AS wmin
       |       FROM signed GROUP BY doc_id, pos // 16)),
       |hot AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) > 50),
       |rare AS (SELECT * FROM fps WHERE fp NOT IN (SELECT fp FROM hot))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fp
       |FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= 8
       |ORDER BY id_a, id_b""".stripMargin

  def oracles: Map[String, String] = Map(
    "s3_ann_ivf" -> s3OracleSql,
    // s4: s3's ENTIRE IVF training replayed (ivfTrainingCtes — one
    // builder feeds s3/d13/s4, so any IvfIndex change alters all
    // three identically by construction), then t9's splitmix64
    // top-53-bit priority and row_number heap-order mirror,
    // partitioned by cluster instead of host. K=8 is coupled to the
    // query's graft_topk literal.
    "s4_cluster_sample" ->
      s"""WITH ${ivfTrainingCtes("embeddings", "asg")},
         |m0 AS (SELECT vec_id, CAST(vec_id AS UBIGINT) AS x FROM embeddings),
         |${mixCtes("m0", "x", "cs", "mx", "vec_id")},
         |scored AS (
         | SELECT a.vec_id, a.cluster, CAST(mx >> 11 AS DOUBLE) AS score
         | FROM asg a JOIN cs_out USING (vec_id)),
         |ranked AS (
         | SELECT vec_id, cluster,
         |  row_number() OVER (PARTITION BY cluster ORDER BY score DESC, vec_id)
         |   AS rank
         | FROM scored)
         |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
         |       CAST(rank AS BIGINT) AS rank
         |FROM ranked WHERE rank <= 8 ORDER BY vec_id""".stripMargin,
    "d3_minhash_lsh" -> d3OracleSql,
    "d12_fuzzy_decon" -> d12OracleSql,
    "d13_semdedup" -> d13OracleSql,
    "g5_hits" -> g5OracleSql,
    "d6_dup_clusters" -> d6OracleSql,
    "d8_substring_dup" -> d8OracleSql,
    "d9_dedup_corpus" -> d9OracleSql,
    "d10_para_dedup" -> d10OracleSql,
    "p1_training_corpus" -> p1OracleSql,
    "d11_incremental_ingest" ->
      """WITH batch AS (
        | SELECT doc_id + 500000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
        | UNION ALL
        | SELECT doc_id + 600000 AS doc_id, text || ' fresh tail' AS text
        | FROM documents WHERE doc_id % 3 = 1
        | UNION ALL
        | SELECT doc_id + 700000 AS doc_id, text || ' fresh tail' AS text
        | FROM documents WHERE doc_id % 3 = 1),
        |flagged AS (
        | SELECT b.doc_id, b.text,
        |        EXISTS (SELECT 1 FROM documents d WHERE d.text = b.text) AS in_corpus
        | FROM batch b),
        |ranked AS (
        | SELECT doc_id, in_corpus,
        |        row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        | FROM flagged WHERE NOT in_corpus)
        |SELECT doc_id, 'corpus_dup' AS status FROM flagged WHERE in_corpus
        |UNION ALL
        |SELECT doc_id, CASE WHEN rn = 1 THEN 'fresh' ELSE 'batch_dup' END AS status
        |FROM ranked
        |ORDER BY doc_id""".stripMargin,
    "g1_pagerank" -> g1OracleSql,
    "g1b_pagerank_dangling" -> g1bOracleSql,
    "d4_simhash" -> d4OracleSql,
    "s2_ann_lsh" -> s2OracleSql,
    "t4_fingerprint" -> t4OracleSql,
    "d1_dedup_exact" ->
      """WITH docs AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0)
        |SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt
        |FROM docs GROUP BY text HAVING COUNT(*) > 1
        |ORDER BY keep_id""".stripMargin,
    "d5_embed_neardup" ->
      """WITH emb AS (
        | SELECT vec_id, embedding FROM embeddings
        | UNION ALL
        | SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 9 = 0)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM emb a JOIN emb b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.999999
        |ORDER BY id_a, id_b""".stripMargin,
    "s1_cosine_topk" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
        |scored AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
        |   (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
        |    sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS cosine
        | FROM q, embeddings c WHERE q.vec_id <> c.vec_id),
        |ranked AS (
        | SELECT query_id, neighbor_id,
        |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        | FROM scored)
        |SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    "t2_quality" ->
      """SELECT doc_id,
        | LENGTH(text) AS n_chars_m,
        | len(string_split(TRIM(text), ' ')) AS n_words,
        | len(list_distinct(list_intersect(string_split(TRIM(text), ' '),
        |   ['the','a','of','to','and','in','is']))) AS stop_hits,
        | ROUND(len(list_filter(string_split(TRIM(text), ' '),
        |   w -> list_contains(['the','a','of','to','and','in','is'], w)))::DOUBLE /
        |   len(string_split(TRIM(text), ' '))::DOUBLE, 6) AS stop_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t12_c4_filters" ->
      """WITH planted AS (
        | SELECT doc_id, text ||
        |  CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'short line' ELSE '' END ||
        |  CASE WHEN doc_id % 6 = 0 THEN chr(10) || 'Lorem ipsum dolor sit amet consectetur.' ELSE '' END ||
        |  CASE WHEN doc_id % 9 = 0 THEN chr(10) || 'function f() { return 0; }' ELSE '' END AS text
        | FROM documents),
        |k AS (
        | SELECT doc_id, text, len(string_split(text, chr(10))) AS n_lines,
        |  len(list_filter(string_split(text, chr(10)), x ->
        |    regexp_matches(x, '[.!?"]$') AND
        |    len(regexp_split_to_array(trim(x), '[ \t\n\f\r\x{0B}]+')) >= 5)) AS n_kept_lines
        | FROM planted)
        |SELECT doc_id, n_lines, n_kept_lines,
        | contains(lower(text), 'lorem ipsum') AS has_lorem,
        | contains(lower(text), '{') AS has_brace,
        | (n_kept_lines >= 1 AND NOT contains(lower(text), 'lorem ipsum')
        |   AND NOT contains(lower(text), '{')) AS keep_doc
        |FROM k ORDER BY doc_id""".stripMargin,
    "t13_gopher_lines" ->
      """WITH planted AS (
        | SELECT doc_id, text ||
        |  CASE WHEN doc_id % 5 = 0
        |       THEN chr(10) || 'repeat me exactly' || chr(10) || 'repeat me exactly'
        |       ELSE '' END AS text
        | FROM documents),
        |lines AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM planted),
        |g AS (SELECT doc_id, line, COUNT(*) AS cnt, len(line) AS chars
        |      FROM lines GROUP BY doc_id, line)
        |SELECT doc_id,
        | CAST(SUM(cnt) AS BIGINT) AS n_lines,
        | CAST(SUM(cnt - 1) AS BIGINT) AS n_dup_lines,
        | CAST(SUM(cnt * chars) AS BIGINT) AS n_chars,
        | CAST(SUM(CASE WHEN cnt > 1 THEN cnt * chars ELSE 0 END) AS BIGINT) AS dup_chars,
        | CAST(SUM(cnt - 1) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS dup_line_frac,
        | CAST(SUM(CASE WHEN cnt > 1 THEN cnt * chars ELSE 0 END) AS DOUBLE)
        |   / CAST(SUM(cnt * chars) AS DOUBLE) AS dup_char_frac
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // t14: the same plants and rules from first principles; every
    // fraction is one int/int division through DOUBLE (bit-exact),
    // whitespace is the explicit Java-\s class (never \s), and the
    // '...' count divides a len-diff by 3 with INTEGER division (//
    // here, /-then-cast on the Spark side — both exact since the
    // diff is a multiple of 3).
    "t14_gopher_docs" ->
      """WITH planted AS (
        | SELECT doc_id, text ||
        |  CASE WHEN doc_id % 7 = 0 THEN chr(10) || '- bullet item one' || chr(10) || '- bullet item two' || chr(10) || '- bullet item three' ELSE '' END ||
        |  CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'trailing thought...' || chr(10) || 'another unfinished idea...' ELSE '' END ||
        |  CASE WHEN doc_id % 13 = 0 THEN chr(10) || '## ### # heading # noise ##' ELSE '' END AS x
        | FROM documents),
        |f AS (
        | SELECT doc_id,
        |  string_split(x, chr(10)) AS lines,
        |  regexp_split_to_array(trim(x), '[ \t\n\f\r\x{0B}]+') AS w,
        |  len(regexp_replace(x, '[ \t\n\f\r\x{0B}]', '', 'g')) AS word_chars,
        |  len(x) - len(regexp_replace(x, '#', '', 'g')) AS n_hash,
        |  (len(x) - len(regexp_replace(x, '\.\.\.', '', 'g'))) // 3 AS n_ell
        | FROM planted),
        |g AS (
        | SELECT doc_id,
        |  len(w) AS n_words, len(lines) AS n_lines,
        |  CAST(word_chars AS DOUBLE) / CAST(len(w) AS DOUBLE) AS mean_word_len,
        |  CAST(n_hash + n_ell AS DOUBLE) / CAST(len(w) AS DOUBLE) AS symbol_ratio,
        |  CAST(len(list_filter(lines, l -> starts_with(l, '- ') OR starts_with(l, '• '))) AS DOUBLE)
        |    / CAST(len(lines) AS DOUBLE) AS frac_bullet_lines,
        |  CAST(len(list_filter(lines, l -> ends_with(l, '...') OR ends_with(l, '…'))) AS DOUBLE)
        |    / CAST(len(lines) AS DOUBLE) AS frac_ellipsis_lines,
        |  CAST(len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
        |    / CAST(len(w) AS DOUBLE) AS frac_alpha_words,
        |  len(list_intersect(list_distinct(list_transform(w, t -> lower(t))),
        |      ['the','be','to','of','and','that','have','with'])) AS n_stop_hits
        | FROM f)
        |SELECT doc_id, n_words, n_lines, mean_word_len, symbol_ratio,
        | frac_bullet_lines, frac_ellipsis_lines, frac_alpha_words, n_stop_hits,
        | (n_words >= 50 AND n_words <= 100000
        |  AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |  AND symbol_ratio < 0.1
        |  AND frac_bullet_lines <= 0.9
        |  AND frac_ellipsis_lines <= 0.3
        |  AND frac_alpha_words >= 0.8
        |  AND n_stop_hits >= 2) AS keep_doc
        |FROM g ORDER BY doc_id""".stripMargin,
    // t15: same URL plants; the IN list is interpolated from the ONE
    // blockedHostList definition the engine broadcasts (coupled by
    // construction); host-block precedence mirrored in CASE order.
    "t15_url_blocklist" ->
      s"""WITH u AS (
         | SELECT doc_id,
         |  'https://site' || CAST(doc_id % 97 AS VARCHAR) || '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
         |  CASE WHEN doc_id % 23 = 0 THEN '?x=casino-bonus'
         |       WHEN doc_id % 29 = 0 THEN '/free-download.html'
         |       ELSE '' END AS url
         | FROM documents),
         |h AS (SELECT doc_id, url,
         |        regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host FROM u)
         |SELECT doc_id, url, host,
         | CASE WHEN host IN (${blockedHostList.map(h => s"'$h'").mkString(",")})
         |        THEN 'blocked_host'
         |      WHEN contains(url, 'casino') OR contains(url, 'free-download')
         |        THEN 'blocked_term'
         |      ELSE 'ok' END AS status
         |FROM h ORDER BY doc_id""".stripMargin,
    // t16: the threshold is floor(2^20·sqrt(n/max)) — both engines do
    // the identical single division, single sqrt (IEEE correctly
    // rounded) and an EXACT power-of-two scale, so no float-sum-order
    // hazard exists; the gate reuses t8's splitmix64 CTE pipeline and
    // masks the low 20 bits (identical to the engine's signed & on
    // two's-complement longs).
    "t16_lang_sample" ->
      s"""WITH counts AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
         |mxx AS (SELECT MAX(n_docs) AS max_docs FROM counts),
         |w AS (SELECT lang, n_docs,
         |  CAST(floor(1048576.0 * sqrt(CAST(n_docs AS DOUBLE) / CAST(max_docs AS DOUBLE))) AS BIGINT) AS keep_thresh
         | FROM counts, mxx),
         |m0 AS (SELECT doc_id, lang, CAST(doc_id AS UBIGINT) AS x FROM documents),
         |${mixCtes("m0", "x", "lsmp", "mxv", "doc_id, lang")},
         |g AS (SELECT doc_id, lang, CAST((mxv & 1048575) AS BIGINT) AS gate
         |      FROM lsmp_out)
         |SELECT g.doc_id, g.lang, w.n_docs, w.keep_thresh, g.gate,
         | g.gate < w.keep_thresh AS kept
         |FROM g JOIN w USING (lang) ORDER BY doc_id""".stripMargin,
    // g3: d6's recursive min-reachable-label closure on the formulaic
    // mirror-host ring graph (undirected via the UNION'd reverse).
    "g3_host_components" ->
      """WITH RECURSIVE nodes AS (SELECT DISTINCT doc_id % 60 AS id FROM documents),
        |e0 AS (SELECT id AS a, (id + 6) % 60 AS b FROM nodes),
        |edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        |reach(id, lab) AS (
        | SELECT id, id FROM nodes
        | UNION
        | SELECT e.a, r.lab FROM edges e JOIN reach r ON e.b = r.id),
        |comp AS (SELECT id, MIN(lab) AS canon_id FROM reach GROUP BY id),
        |sizes AS (SELECT canon_id, COUNT(*) AS cluster_size FROM comp GROUP BY canon_id)
        |SELECT c.id AS node_id, 'h' || CAST(c.id AS VARCHAR) AS host,
        | c.canon_id, s.cluster_size
        |FROM comp c JOIN sizes s USING (canon_id)
        |ORDER BY node_id""".stripMargin,
    // g4: the template's two links predicted from the same doc_id
    // arithmetic (change the query template and this together —
    // CLAUDE.md coupling rule); anchor texts are what graft_anchors'
    // strip+collapse rules leave of the template bodies
    "g4_anchor_stats" ->
      """WITH links AS (
        | SELECT doc_id, 'h' || (doc_id % 60) || '.example' AS host,
        |        'site ' || (doc_id % 60) AS anchor
        | FROM documents
        | UNION ALL
        | SELECT doc_id, 'h' || ((doc_id + 7) % 60) || '.example' AS host,
        |        'bold link ' || doc_id AS anchor
        | FROM documents)
        |SELECT host, COUNT(*) AS n_inlinks,
        |       COUNT(DISTINCT doc_id) AS n_src_docs,
        |       COUNT(DISTINCT anchor) AS n_anchors,
        |       MIN(anchor) AS first_anchor
        |FROM links GROUP BY host ORDER BY host""".stripMargin,
    "t11_host_stats" ->
      """SELECT source,
        | COUNT(*) AS n_docs,
        | CAST(SUM(len(regexp_split_to_array(TRIM(text), '[ \t\n\f\r\x{0B}]+'))) AS BIGINT) AS n_tokens,
        | COUNT(DISTINCT lang) AS n_langs,
        | CAST(SUM(len(text)) AS BIGINT) AS n_chars,
        | CAST(SUM(len(text)) AS DOUBLE) / COUNT(*) AS mean_doc_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "g2_host_degrees" ->
      """WITH edges AS (
        | SELECT source AS src, 'src' || ((doc_id * 7) % 20) AS dst FROM documents),
        |outd AS (SELECT src AS host, COUNT(*) AS out_deg FROM edges GROUP BY src),
        |ind AS (SELECT dst AS host, COUNT(*) AS in_deg FROM edges GROUP BY dst),
        |de AS (SELECT DISTINCT src, dst FROM edges),
        |recip AS (
        | SELECT e.src AS host, COUNT(*) AS n_recip
        | FROM de e JOIN de r ON e.src = r.dst AND e.dst = r.src
        | GROUP BY e.src)
        |SELECT COALESCE(o.host, i.host) AS host,
        | COALESCE(o.out_deg, 0) AS out_deg,
        | COALESCE(i.in_deg, 0) AS in_deg,
        | COALESCE(rc.n_recip, 0) AS n_recip
        |FROM outd o FULL OUTER JOIN ind i ON o.host = i.host
        |LEFT JOIN recip rc ON rc.host = COALESCE(o.host, i.host)
        |ORDER BY host""".stripMargin,
    "t3_tokens" ->
      """SELECT doc_id,
        | len(regexp_split_to_array(TRIM(text), '[ \t\n\f\r\x{0B}]+')) AS ws_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r\x{0B}]')) AS bpeish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // exact mirror of ngramJaccardPairs(dfCap=50): jaccard over the
    // NON-STOP (df ≤ 50) distinct-shingle sets
    "d2_ngram_jaccard" ->
      """WITH docs AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 100000 AS doc_id, text || ' zz qq xx' AS text
        | FROM documents WHERE doc_id % 5 = 0),
        |w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM docs),
        |sets AS (
        | SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        | FROM w WHERE len(w) >= 3),
        |inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sets),
        |hot AS (SELECT shingle FROM inv GROUP BY shingle HAVING COUNT(*) > 50),
        |rinv AS (SELECT * FROM inv WHERE shingle NOT IN (SELECT shingle FROM hot)),
        |rn AS (SELECT doc_id, COUNT(*) AS n FROM rinv GROUP BY doc_id),
        |shared AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        | FROM rinv a JOIN rinv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT id_a, id_b,
        | ROUND(shared::DOUBLE / (na.n + nb.n - shared)::DOUBLE, 6) AS jaccard
        |FROM shared JOIN rn na ON na.doc_id = id_a JOIN rn nb ON nb.doc_id = id_b
        |WHERE shared::DOUBLE / (na.n + nb.n - shared)::DOUBLE >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,
    "d7_decontaminate" -> d7OracleSql,
    // bloom pre-filter is exact (no false negatives; FPs die in the
    // join) — d7b's oracle IS d7's
    "d7b_decon_bloom" -> d7OracleSql,
    "t5_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |tri AS (
        | SELECT doc_id,
        |  CASE WHEN len(w) >= 3 THEN list_transform(range(1, len(w)-1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [] END AS sh_all
        | FROM w),
        |m AS (
        | SELECT doc_id, len(sh_all) AS n_trigrams,
        |  len(list_distinct(sh_all)) AS n_distinct,
        |  CASE WHEN len(sh_all) > 0
        |    THEN ROUND(len(list_distinct(sh_all))::DOUBLE / len(sh_all)::DOUBLE, 6)
        |    ELSE 1.0 END AS distinct_ratio
        | FROM tri)
        |SELECT doc_id, n_trigrams, n_distinct, distinct_ratio,
        | distinct_ratio < 0.5 AS repetitive
        |FROM m ORDER BY doc_id""".stripMargin,
    "t6_redact" ->
      """WITH inp AS (
        | SELECT doc_id, text ||
        |  CASE doc_id % 4
        |   WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |   WHEN 1 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
        |   WHEN 2 THEN ' call +4915' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |   ELSE '' END AS x
        | FROM documents)
        |SELECT doc_id,
        | len(regexp_extract_all(x, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        | len(regexp_extract_all(x, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
        | len(regexp_extract_all(x, '\+[0-9]{7,15}')) AS n_phones,
        | regexp_replace(
        |   regexp_replace(
        |     regexp_replace(x, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |     '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |   '\+[0-9]{7,15}', '<PHONE>', 'g') AS redacted
        |FROM inp ORDER BY doc_id""".stripMargin,
    "t10_rare_tokens" ->
      """WITH toks AS (
        | SELECT doc_id,
        |        unnest(string_split_regex(trim(text), '[ \t\n\f\r\x{0B}]+')) AS tok
        | FROM documents),
        |dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |       CAST(SUM(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |       CAST(SUM(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
        |         AS rare_ratio
        |FROM toks JOIN dfreq USING (tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // t17: bin() is the shared integer log — both engines emit the
    // minimal binary string of the BIGINT df, so length(bin(df)) ==
    // floor(log2 df)+1 exactly; familiarity is ONE int/int division
    // through DOUBLE (no float-sum-order hazard)
    "t17_token_lm" ->
      """WITH toks AS (
        | SELECT doc_id,
        |        unnest(string_split_regex(trim(text), '[ \t\n\f\r\x{0B}]+')) AS tok
        | FROM documents),
        |dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |       CAST(SUM(length(bin(df))) AS BIGINT) AS fam_bits,
        |       CAST(SUM(length(bin(df))) AS DOUBLE) / COUNT(*) AS familiarity
        |FROM toks JOIN dfreq USING (tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // t18: the full HLL register table recomputed in integer SQL —
    // token FNV (fnvWordSql) → splitmix64 (mixCtes) → bucket = top 10
    // bits, rho = 55 - bitlen(low 54 bits) (the bin()-length integer
    // log again), MAX per (host, bucket); every group has reg >= 1 so
    // COUNT(*) == the engine's occupied-register count
    "t18_host_vocab" ->
      s"""WITH toks AS (
         | SELECT DISTINCT source, tok FROM (
         |  SELECT source,
         |         unnest(string_split_regex(trim(text), '$wsClassNoNbspSql')) AS tok
         |  FROM documents)),
         |f AS (
         | SELECT source, tok, $fnvWordSql AS h
         | FROM toks, LATERAL (SELECT tok AS w)),
         |${mixCtes("f", "h", "th", "mv", "source, tok")},
         |regs AS (
         | SELECT source, mv >> 54 AS bucket,
         |  MAX(CASE WHEN (mv & 18014398509481983::UBIGINT) = 0::UBIGINT THEN 55
         |       ELSE 55 - length(bin(mv & 18014398509481983::UBIGINT)) END) AS reg
         | FROM th_out GROUP BY source, bucket)
         |SELECT source, CAST(COUNT(*) AS INT) AS n_occupied,
         |       CAST(SUM(reg) AS BIGINT) AS reg_sum
         |FROM regs GROUP BY source ORDER BY source""".stripMargin,
    // t19: same binned-histogram quantile rule in SQL (cross-
    // multiplied integer comparison, correlated MIN over the
    // cumulative table)
    "t19_length_quantiles" ->
      """WITH b AS (SELECT source, length(text) >> 8 AS bin FROM documents),
        |c AS (SELECT source, bin, COUNT(*) AS cnt FROM b GROUP BY source, bin),
        |cum AS (SELECT source, bin, cnt,
        |        CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY bin) AS BIGINT) AS cum
        |        FROM c),
        |tot AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_docs FROM c GROUP BY source)
        |SELECT t.source, t.n_docs,
        | (SELECT MIN(bin) FROM cum
        |  WHERE cum.source = t.source AND 2 * cum.cum >= t.n_docs) AS p50_bin,
        | (SELECT MIN(bin) FROM cum
        |  WHERE cum.source = t.source AND 10 * cum.cum >= 9 * t.n_docs) AS p90_bin
        |FROM tot t ORDER BY t.source""".stripMargin,
    // t9: the same splitmix64 recomputation as t8, then the top-53-bit
    // double score and a per-source row_number mirroring TopKAgg's
    // exact (score DESC, doc_id ASC) order
    "t9_host_cap" ->
      s"""WITH m0 AS (SELECT doc_id, source, CAST(doc_id AS UBIGINT) AS x FROM documents),
         |${mixCtes("m0", "x", "hc", "mx", "doc_id, source")},
         |scored AS (SELECT doc_id, source, CAST(mx >> 11 AS DOUBLE) AS score
         |           FROM hc_out),
         |ranked AS (SELECT doc_id, source,
         |  row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id)
         |    AS rank
         | FROM scored)
         |SELECT doc_id, source, rank FROM ranked
         |WHERE rank <= 10 ORDER BY doc_id""".stripMargin,
    // t20: identical tokenization, pair explosion via range/substr
    // (both engines 1-based, end-exclusive upper bound = length-1
    // last start), integer counts, same (cnt DESC, pair ASC) rank
    "t20_bpe_pairs" ->
      """WITH toks AS (
        | SELECT unnest(string_split_regex(trim(text), '[ \t\n\f\r\x{0B}]+')) AS tok
        | FROM documents),
        |pairs AS (
        | SELECT unnest(list_transform(range(1, length(tok)),
        |          i -> substr(tok, CAST(i AS INTEGER), 2))) AS pair
        | FROM toks WHERE length(tok) >= 2),
        |c AS (SELECT pair, COUNT(*) AS cnt FROM pairs GROUP BY pair)
        |SELECT pair, cnt,
        |       row_number() OVER (ORDER BY cnt DESC, pair) AS rank
        |FROM c ORDER BY pair""".stripMargin,
    // t21: the SAME running sum as ONE global window — correct in
    // DuckDB (single node) and exactly what the engine's two-level
    // prefix sum must reproduce. Budget 2048 and the 32-id group
    // arithmetic are coupled to the query; change only in lockstep.
    "t21_pack_shards" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '[ \t\n\f\r\x{0B}]+'))
        |   AS BIGINT) AS n_toks
        | FROM documents),
        |c AS (
        | SELECT doc_id, n_toks,
        |  COALESCE(CAST(SUM(n_toks) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |   0) AS tok_offset
        | FROM toks)
        |SELECT doc_id, n_toks, tok_offset, tok_offset // 2048 AS shard
        |FROM c ORDER BY doc_id""".stripMargin,
    // t22: the full DSIR pipeline from first principles — the same
    // marker-tailed corpus/target plants (shared dsirMarkerTail val),
    // token FNV (fnvWordSql) → splitmix64 (mixCtes) → bucket = low 8
    // bits, add-one-smoothed floor-log2 weights via length(bin(...)),
    // per-doc sum over corpus occurrences. The %7/%13 plants and the
    // 2^20 / 256-bucket constants are coupled to the query; change
    // only in lockstep.
    "t22_dsir_select" ->
      s"""WITH corpus AS (
         | SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 0 THEN text || '$dsirMarkerTail'
         |       ELSE text END AS text
         | FROM documents),
         |target AS (
         | SELECT doc_id + 700000 AS doc_id,
         |        substr(text, 1, 64) || '$dsirMarkerTail' AS text
         | FROM documents WHERE doc_id % 13 = 0),
         |occ AS (
         | SELECT doc_id, 0 AS is_t,
         |  unnest(string_split_regex(trim(text), '$wsClassNoNbspSql')) AS tok
         | FROM corpus
         | UNION ALL
         | SELECT doc_id, 1 AS is_t,
         |  unnest(string_split_regex(trim(text), '$wsClassNoNbspSql')) AS tok
         | FROM target),
         |f AS (SELECT doc_id, is_t, $fnvWordSql AS h
         |      FROM occ, LATERAL (SELECT tok AS w)),
         |${mixCtes("f", "h", "dx", "mv", "doc_id, is_t")},
         |bt AS (SELECT doc_id, is_t, mv & 255 AS bucket FROM dx_out),
         |cnts AS (
         | SELECT bucket,
         |  CAST(SUM(is_t) AS BIGINT) AS tc,
         |  CAST(SUM(1 - is_t) AS BIGINT) AS rc
         | FROM bt GROUP BY bucket),
         |tots AS (SELECT CAST(SUM(tc) AS BIGINT) AS ttot,
         |                CAST(SUM(rc) AS BIGINT) AS rtot FROM cnts),
         |wt AS (
         | SELECT bucket,
         |  CAST(length(bin(((tc + 1) * 1048576) // (ttot + 256))) AS BIGINT)
         |  - CAST(length(bin(((rc + 1) * 1048576) // (rtot + 256))) AS BIGINT)
         |   AS wbits
         | FROM cnts, tots)
         |SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         | CAST(SUM(wbits) AS BIGINT) AS imp_bits,
         | CAST(SUM(wbits) AS DOUBLE) / COUNT(*) AS imp_per_tok,
         | CAST(SUM(wbits) AS BIGINT) > 0 AS selected
         |FROM bt b JOIN wt USING (bucket)
         |WHERE b.is_t = 0
         |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
    // u3: the chains walked LINEARLY by a recursive CTE (the oracle
    // need not be fast, only exact); terminal = the first walked
    // pointer with no out-edge. Cycle ids never produce a terminal
    // row (the walk is hop-capped) → resolved=false, final_id/hops
    // masked to -1 exactly as the query masks them. The 32-id group
    // arithmetic and the (20001,20002) loop plant are coupled to the
    // query; change only in lockstep.
    "u3_redirects" ->
      """WITH RECURSIVE edges AS (
        | SELECT d.doc_id AS id, d.doc_id - 1 AS nxt FROM documents d
        | WHERE (d.doc_id // 32) % 5 <> 0 AND d.doc_id % 32 > 0
        |   AND EXISTS (SELECT 1 FROM documents x WHERE x.doc_id = d.doc_id - 1)
        | UNION ALL
        | SELECT d.doc_id, d.doc_id + 1 FROM documents d
        | WHERE (d.doc_id // 32) % 5 = 0 AND d.doc_id % 32 < 31
        |   AND EXISTS (SELECT 1 FROM documents x WHERE x.doc_id = d.doc_id + 1)
        | UNION ALL
        | SELECT * FROM (VALUES (20001, 20002), (20002, 20001)) c(id, nxt)),
        |nodes AS (SELECT DISTINCT id FROM
        |  (SELECT id FROM edges UNION ALL SELECT nxt FROM edges)),
        |walk(id, ptr, hops) AS (
        | SELECT id, nxt, 1 FROM edges
        | UNION ALL
        | SELECT w.id, e.nxt, w.hops + 1 FROM walk w JOIN edges e ON w.ptr = e.id
        | WHERE w.hops < 300),
        |term AS (
        | SELECT w.id, w.ptr, w.hops FROM walk w
        | WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.id = w.ptr)),
        |src AS (SELECT DISTINCT id FROM edges)
        |SELECT CAST(n.id AS BIGINT) AS id,
        | CAST(CASE WHEN s.id IS NULL THEN n.id
        |           WHEN t.id IS NOT NULL THEN t.ptr ELSE -1 END AS BIGINT)
        |  AS final_id,
        | CAST(CASE WHEN s.id IS NULL THEN 0
        |           WHEN t.id IS NOT NULL THEN t.hops ELSE -1 END AS BIGINT)
        |  AS hops,
        | (s.id IS NULL OR t.id IS NOT NULL) AS resolved
        |FROM nodes n LEFT JOIN src s ON n.id = s.id
        | LEFT JOIN term t ON n.id = t.id
        |ORDER BY n.id""".stripMargin,
    // b1: the WHOLE integer BM25 recomputed from first principles —
    // same bitlen idf (bin()), same integer avgdl, same cross-
    // multiplied tf saturation with // division, then t9's
    // row_number mirror of the graft_topk (score DESC, doc_id ASC)
    // order. Change `b1_bm25`'s constants (S=1000, B=750, k1 scale
    // 22/10, 2^10 fixed point) or query-term table only in lockstep.
    "b1_bm25" ->
      """WITH toks AS (
        | SELECT doc_id,
        |        unnest(string_split_regex(trim(text ||
        |          CASE WHEN doc_id % 3 = 0
        |               THEN ' bmq' || CAST(doc_id % 7 AS VARCHAR) ELSE '' END),
        |          '[ \t\n\f\r\x{0B}]+')) AS tok
        | FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |gstat AS (SELECT COUNT(*) AS n,
        |                CAST(SUM(dl) AS BIGINT) // COUNT(*) AS avgdl FROM dl),
        |q AS (SELECT * FROM (VALUES (0,'spark'),(0,'bmq1'),(1,'bmq2'),
        |       (1,'bmq3'),(1,'merge'),(2,'customer'),(2,'bmq5')) v(qid, tok)),
        |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf
        |          WHERE tok IN (SELECT tok FROM q) GROUP BY tok),
        |sc AS (
        | SELECT q.qid, tf.doc_id,
        |  CAST(SUM(length(bin((1024 * g.n) // d.df)) *
        |    ((22 * tf.tf * 1000 * g.avgdl * 1024) //
        |     (10 * tf.tf * 1000 * g.avgdl + 12 * (250 * g.avgdl + 750 * l.dl))))
        |   AS BIGINT) AS score
        | FROM tf JOIN q ON tf.tok = q.tok
        |   JOIN dfreq d ON tf.tok = d.tok
        |   JOIN dl l ON tf.doc_id = l.doc_id
        |   CROSS JOIN gstat g
        | GROUP BY q.qid, tf.doc_id),
        |ranked AS (SELECT qid, doc_id, score,
        |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
        | FROM sc)
        |SELECT CAST(qid AS BIGINT) AS qid, doc_id, rank, score
        |FROM ranked WHERE rank <= 10 ORDER BY qid, doc_id""".stripMargin,
    "t8_split" ->
      s"""WITH m0 AS (SELECT doc_id, CAST(doc_id AS UBIGINT) AS x FROM documents),
         |${mixCtes("m0", "x", "sp", "mx", "doc_id")},
         |sv AS (SELECT doc_id,
         |  CASE WHEN mx >= 9223372036854775808::UBIGINT
         |       THEN CAST(CAST(mx AS HUGEINT) - $M64 AS BIGINT)
         |       ELSE CAST(mx AS BIGINT) END AS m
         | FROM sp_out),
         |b AS (SELECT doc_id, ((m % 100) + 100) % 100 AS bucket FROM sv)
         |SELECT doc_id, bucket,
         | CASE WHEN bucket < 90 THEN 'train'
         |      WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,
    "t7_nfc" ->
      """WITH inp AS (
        | SELECT doc_id, text ||
        |  CASE doc_id % 3 WHEN 0 THEN ' nfc:e' || chr(769)
        |                  WHEN 1 THEN ' nfc:A' || chr(778)
        |                  ELSE '' END AS x
        | FROM documents)
        |SELECT doc_id, nfc_normalize(x) AS norm,
        | x <> nfc_normalize(x) AS changed,
        | length(x) AS len_before,
        | length(nfc_normalize(x)) AS len_after
        |FROM inp ORDER BY doc_id""".stripMargin,
    "u1_url_canon" ->
      s"""WITH ${urlCanonCtesFor(
        """
        | SELECT doc_id,
        |  (CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
        |  (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END) ||
        |  'Site' || CAST(doc_id % 97 AS VARCHAR) || '.Example.COM' ||
        |  (CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443' WHEN 2 THEN ':8080' ELSE '' END) ||
        |  '/a/' || CAST(doc_id AS VARCHAR) ||
        |  (CASE doc_id % 5
        |    WHEN 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 50 AS VARCHAR) || '&utm_campaign=x'
        |    WHEN 1 THEN '?b=2&a=1&fbclid=f' || CAST(doc_id AS VARCHAR)
        |    WHEN 2 THEN '?z=9' ELSE '' END) ||
        |  (CASE WHEN doc_id % 7 = 0 THEN '#frag' || CAST(doc_id % 5 AS VARCHAR) ELSE '' END) AS url
        | FROM documents""".stripMargin)}
        |SELECT doc_id, url, canon_url, canon_host, n_tracking_params
        |FROM c ORDER BY doc_id""".stripMargin,
    "u2_url_dedup" ->
      s"""WITH ${urlCanonCtesFor(
        """
        | SELECT doc_id,
        |  (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
        |  (CASE WHEN doc_id % 2 = 0
        |    THEN 'Site' || CAST(doc_id % 229 AS VARCHAR) || '.Example.COM'
        |    ELSE 'site' || CAST(doc_id % 229 AS VARCHAR) || '.example.com' END) ||
        |  (CASE WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END) ||
        |  '/a/' || CAST(doc_id % 229 AS VARCHAR) ||
        |  (CASE doc_id % 5
        |    WHEN 0 THEN '?utm_source=feed&id=' || CAST((doc_id % 229) % 50 AS VARCHAR) || '&utm_campaign=x'
        |    WHEN 1 THEN '?id=' || CAST((doc_id % 229) % 50 AS VARCHAR) || '&fbclid=f' || CAST(doc_id AS VARCHAR)
        |    ELSE '?id=' || CAST((doc_id % 229) % 50 AS VARCHAR) END) ||
        |  (CASE WHEN doc_id % 7 = 0 THEN '#frag' || CAST(doc_id % 5 AS VARCHAR) ELSE '' END) AS url
        | FROM documents""".stripMargin)},
        |g AS (
        | SELECT doc_id, url, canon_url,
        |  min(doc_id) OVER (PARTITION BY canon_url) AS keeper_id,
        |  count(*) OVER (PARTITION BY canon_url) AS n_copies
        | FROM c)
        |SELECT doc_id, url, canon_url, doc_id = keeper_id AS keep, n_copies
        |FROM g ORDER BY doc_id""".stripMargin,
    "r1_robots" ->
      """WITH d AS (
        | SELECT doc_id,
        |  CASE doc_id % 5 WHEN 1 THEN 'private' WHEN 2 THEN 'tmp'
        |                  WHEN 3 THEN 'admin' ELSE 'public' END AS section
        | FROM documents),
        |uu AS (
        | SELECT doc_id,
        |  'https://site' || CAST(doc_id % 60 AS VARCHAR) || '.example.com/'
        |    || section || '/' || CAST(doc_id AS VARCHAR) AS url,
        |  'site' || CAST(doc_id % 60 AS VARCHAR) || '.example.com' AS host,
        |  '/' || section || '/' || CAST(doc_id AS VARCHAR) AS path
        | FROM d),
        |r AS (
        | SELECT 'site' || CAST(i AS VARCHAR) || '.example.com' AS rhost, pfx
        | FROM range(60) t(i), (VALUES ('/private/'), ('/admin/'), ('/tmp/')) v(pfx)
        | WHERE pfx = '/private/'
        |    OR (pfx = '/admin/' AND i % 3 = 0)
        |    OR (pfx = '/tmp/' AND i % 7 = 0))
        |SELECT uu.doc_id, uu.url, uu.host,
        | r.pfx IS NOT NULL AS blocked, r.pfx AS matched_rule
        |FROM uu LEFT JOIN r ON uu.host = r.rhost AND starts_with(uu.path, r.pfx)
        |ORDER BY uu.doc_id""".stripMargin,
    "t1b_langid_docs" ->
      """WITH inp AS (
        | SELECT d.doc_id,
        |  CASE WHEN d.doc_id % 3 = 0 THEN d.text
        |       WHEN d.doc_id % 3 = 1
        |       THEN translate(d.text, 'abcdefghijklmnopqrstuvwxyz', 'ابتثجحخدذرزسشصضطظعغفقكلمنه')
        |       ELSE d.text || ' ' ||
        |            translate(d.text, 'abcdefghijklmnopqrstuvwxyz', 'ابتثجحخدذرزسشصضطظعغفقكلمنه')
        |  END AS x
        | FROM documents d),
        |cnt AS (
        | SELECT doc_id,
        |  len(x) - len(regexp_replace(x, '[\x{0600}-\x{06FF}\x{0750}-\x{077F}]', '', 'g')) AS ar,
        |  len(x) - len(regexp_replace(x, '[A-Za-z]', '', 'g')) AS lat
        | FROM inp)
        |SELECT doc_id,
        | CASE WHEN ar + lat = 0 THEN 'und'
        |      WHEN ar * 10 >= (ar + lat) * 7 THEN 'ar'
        |      WHEN ar * 20 >= (ar + lat) AND lat * 20 >= (ar + lat) THEN 'mixed'
        |      WHEN ar > lat THEN 'ar'
        |      ELSE 'en' END AS lang_pred
        |FROM cnt ORDER BY doc_id""".stripMargin,
    // video rows are MJPEG AVIs with thumbnail-scale frames: same
    // dimension multipliers as image/audio but over mod 24 (see
    // Multimodal.gen) — hence the kind-dependent width/height CASE;
    // n_frames is what the engine COUNTS from the '00dc' chunk walk,
    // which for an intact container equals the generator's formula
    "m1_media_features" ->
      """SELECT media_id,
        | CASE media_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        | CASE WHEN media_id % 50 = 7 THEN -1
        |      WHEN media_id % 3 = 2 THEN 8 + (media_id * 37) % 24
        |      ELSE 16 + (media_id * 37) % 512 END AS width,
        | CASE WHEN media_id % 50 = 7 THEN -1
        |      WHEN media_id % 3 = 2 THEN 8 + (media_id * 73) % 24
        |      ELSE 16 + (media_id * 73) % 512 END AS height,
        | CASE WHEN media_id % 50 = 7 THEN -1
        |      WHEN media_id % 3 = 2 THEN 1 + (media_id * 91) % 240 ELSE 1 END AS n_frames,
        | CASE WHEN media_id % 50 = 7 THEN 0 ELSE 8 END AS feat_dim,
        | CASE WHEN media_id % 50 = 7
        |      THEN CASE WHEN media_id % 3 = 0 THEN 'bad image'
        |                WHEN media_id % 3 = 1 THEN 'bad audio'
        |                ELSE 'bad video' END
        |      ELSE NULL END AS decode_error
        |FROM range(0, 300) t(media_id) ORDER BY media_id""".stripMargin,
    "m2_frame_sample" ->
      """SELECT media_id, frame_idx FROM (
        | SELECT media_id, unnest(range(0, 1 + (media_id * 91) % 240, 24)) AS frame_idx
        | FROM range(0, 300) t(media_id)
        | WHERE media_id % 3 = 2 AND media_id % 50 <> 7)
        |ORDER BY media_id, frame_idx""".stripMargin)
}
