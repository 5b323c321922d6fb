package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (broadcast the query set, scan
  * the corpus once — correct at any corpus size as long as the QUERY
  * side is small). Scale path: random-hyperplane LSH bucketing
  * (`graft_lsh_bucket` expression) so only same/near-bucket pairs are
  * scored — corpus×corpus problems stay linear-ish.
  */
object Similarity {

  /** Cosine similarity between two float-array columns, computed in
    * double precision with a fixed left-to-right fold (deterministic,
    * and reproducible in the DuckDB oracle). Codegen-friendly: pure
    * built-ins (zip_with + aggregate). */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b,
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, x) => acc + x)
    val na = aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val nb = aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    dot / (sqrt(na) * sqrt(nb))
  }

  /** Rank the scored candidate set per query via the bounded top-k
    * aggregate (graft_topk — TopKAgg): partial per-partition heaps of
    * ≤k entries, so only k rows per query per partition shuffle. The
    * round-1 `row_number().over(Window)` shape shuffled EVERY scored
    * row; ordering (score desc, id asc) is identical. Requires
    * GraftSession.register.
    *
    * NaN scores (cosine of a zero-norm embedding) are DROPPED before
    * ranking: Spark's window desc sort ranks NaN first while the heap's
    * `<` comparisons are always false for NaN, so admitting them would
    * break the window equivalence — and a NaN similarity is meaningless
    * as a neighbor anyway. */
  def rankTopK(scored: DataFrame, queryCol: Column, idCol: Column,
               scoreCol: Column, k: Int): DataFrame =
    scored.filter(!isnan(scoreCol))
      .groupBy(queryCol.as("query_id"))
      .agg(call_function("graft_topk", scoreCol, idCol, lit(k)).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("e.id").as("neighbor_id"), col("e.score").as("cosine"))

  /** Brute-force cosine top-k: broadcast queries × corpus scan, then
    * the bounded top-k aggregate — shuffles k rows per (query,
    * partition), never the full scored set. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = corpus.as("c").join(broadcast(queries.as("q")))
      .withColumn("cosine", cosine(col("q.embedding"), col("c.embedding")))
      .filter(col("q.vec_id") =!= col("c.vec_id"))
    rankTopK(scored, col("q.vec_id"), col("c.vec_id"), col("cosine"), k)
  }

  /** Random hyperplanes of the LSH buckets (`lshTopK`,
    * `Dedup.embeddingNearDupPairs`): 2^8 buckets. */
  val LshPlanes = 8

  /** LSH-bucketed ANN top-k: score only corpus rows in the query's
    * bucket or any 1-bit-flip neighbor bucket (multi-probe) — recall
    * stays high while compared pairs drop ~2^LshPlanes-fold. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val cb = corpus.withColumn("bucket",
      call_function("graft_lsh_bucket", col("embedding"), lit(LshPlanes)))
    // multi-probe: query probes its own bucket + all 1-bit flips
    val qb = queries.withColumn("qbucket",
        call_function("graft_lsh_bucket", col("embedding"), lit(LshPlanes)))
      .withColumn("bucket", explode(array(
        col("qbucket") +:
          (0 until LshPlanes).map(i => col("qbucket").bitwiseXOR(lit(1 << i))): _*)))
    val scored = cb.as("c").join(broadcast(qb.as("q")), Seq("bucket"))
      .withColumn("cosine", cosine(col("q.embedding"), col("c.embedding")))
      .filter(col("q.vec_id") =!= col("c.vec_id"))
    rankTopK(scored, col("q.vec_id"), col("c.vec_id"), col("cosine"), k)
  }
}
