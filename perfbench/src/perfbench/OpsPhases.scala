package perfbench

import graft.SparkEntry
import graft.gen.Random

/** Fixed input tables for the ops queries, generated in-process (the
  * same bytes for every seed) in the shapes the queries read:
  * `documents(doc_id, text, lang, source, n_chars)`,
  * `embeddings(vec_id, embedding array<float>, label)` and the four
  * `lineitem` columns q5 reads. */
final case class DocRow(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
final case class EmbRow(vec_id: Long, embedding: Array[Float], label: Int)
final case class LineRow(l_orderkey: Long, l_suppkey: Long, l_linenumber: Int,
                         l_shipdate: java.sql.Timestamp)

object OpsTables {
  val Docs = 1500
  val Vectors = 600
  val Dim = 64
  val Lines = 60000

  private val Words = Array(
    "a", "the", "data", "spark", "table", "column", "query", "scan", "sort",
    "hash", "join", "group", "filter", "window", "row", "key", "value",
    "batch", "stream", "vector", "line", "part", "order", "customer",
    "fast", "slow", "big", "small", "merge", "agg", "index", "page")
  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")

  def doc(id: Long): DocRow = {
    val r = new Random(0x5EED0001L ^ (id * 0x9E3779B97F4A7C15L))
    val n = 8 + r.nextInt(90)
    // skewed word choice: low indices are far more common
    val text = Array.fill(n) { Words(math.min(r.nextInt(Words.length), r.nextInt(Words.length))) }
      .mkString(" ")
    DocRow(id, text, Langs(r.nextInt(Langs.length)), s"src${id % 20}", text.length.toLong)
  }

  def vec(id: Long): EmbRow = {
    val label = (id % 10).toInt
    val r = new Random(0x5EED0002L ^ (id * 0xBF58476D1CE4E5B9L))
    val c = new Random(0x5EED0003L + label)
    val v = Array.fill(Dim)((c.nextInt(2001) - 1000) / 1000.0f + (r.nextInt(401) - 200) / 1000.0f)
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    EmbRow(id, v.map(_ / norm), label)
  }

  def line(i: Long): LineRow = {
    val r = new Random(0x5EED0004L ^ (i * 0x94D049BB133111EBL))
    val day = 9131L + r.nextInt(2500) // days since epoch: 1995 .. 2001
    LineRow(i / 4, r.nextInt(1000).toLong, 1 + (i % 4).toInt,
      new java.sql.Timestamp(day * 86400000L))
  }
}

/** The ops layer, measured in extract_scan's traced run: the 16 declared
  * queries from `SparkEntry.queries` over `OpsTables`, each consumed
  * through the all-column digest and compared with the digest recorded
  * for those fixed tables. One pass compiles every plan; the next pass,
  * in the seed's query order, is timed, with each query's jobs and
  * shuffle bytes taken from the listener. */
object OpsPhases {
  val queries: Seq[String] = Seq(
    "b1_bm25", "d2_ngram_jaccard", "t4_fingerprint", "d3_minhash_lsh",
    "d5_embed_neardup", "d11_incremental_ingest", "d13_semdedup",
    "g1_pagerank", "g3_host_components", "g5_hits", "u3_redirects",
    "t17_token_lm", "t22_dsir_select", "q5_window", "x8_dual_engine",
    "x11_blocks_roundtrip")

  /** Digests of each query over `OpsTables`, recorded from the engine
    * these tables were introduced with. A query whose output changes
    * fails the run. */
  val expected: Map[String, String] = Map(
    "b1_bm25" -> "30:ecfb773cd:e04a539d8",
    "d2_ngram_jaccard" -> "300:938414af26:a261423510",
    "t4_fingerprint" -> "104:3592240534:32a607ee57",
    "d3_minhash_lsh" -> "300:934eeaec4e:99d9643b70",
    "d5_embed_neardup" -> "67:1e0e4fca0c:21a1b00349",
    "d11_incremental_ingest" -> "1500:2de7e7027cd:2f8aec10135",
    "d13_semdedup" -> "667:14ef393237d:14366d4cb04",
    "g1_pagerank" -> "20:8e0afa686:a07307938",
    "g3_host_components" -> "60:1eb39c524e:1c7f6c3f07",
    "g5_hits" -> "20:8ba46c753:b834ad2e5",
    "u3_redirects" -> "1502:2de93ef47e5:2e1e6a984af",
    "t17_token_lm" -> "1500:2e1ec79053b:2ebc38f6285",
    "t22_dsir_select" -> "1500:2d22d8401b5:2e4246da1c3",
    "q5_window" -> "3000:5e0f59ae544:5da3b803faa",
    "x8_dual_engine" -> "1500:2e23570501c:2f149f41e65",
    "x11_blocks_roundtrip" -> "6000:bcfea622b15:bbb0fd837f8")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val dir = ctx.dir("ops-tables")
    val parts = ctx.cores
    spark.range(0L, OpsTables.Docs, 1L, parts).map(i => OpsTables.doc(i)).write.parquet(s"$dir/documents.parquet")
    spark.range(0L, OpsTables.Vectors, 1L, parts).map(i => OpsTables.vec(i)).write.parquet(s"$dir/embeddings.parquet")
    spark.range(0L, OpsTables.Lines, 1L, parts).map(i => OpsTables.line(i)).write.parquet(s"$dir/lineitem.parquet")

    def runQuery(q: String): Unit = {
      val before = ctx.sparkTotals
      ctx.check(s"ops $q digest") {
        val (d, s) = Stats.timed(ctx.tracer.span(s"ops.$q") {
          Digest.of(SparkEntry.queries(q)(spark, dir))
        })
        val t = ctx.sparkTotals - before
        ctx.layer(s"ops.$q.s") = s
        ctx.layer(s"ops.$q.jobs") = t.jobs.toDouble
        ctx.layer(s"ops.$q.shuffle_bytes") = t.shuffleWrite.toDouble
        if (expected(q) == d.toString) 0L
        else {
          System.err.println(s"perfbench: $q digest $d, expected ${expected(q)}")
          1L
        }
      }
    }
    val order = new scala.util.Random(ctx.seed).shuffle(queries)
    (0 until 2).foreach(_ => order.foreach(runQuery))
    ctx.report("ops_pass_s") = (queries.map(q => ctx.layer(s"ops.$q.s")).sum, "s")
    ctx.deleteTree(dir)
  }
}
