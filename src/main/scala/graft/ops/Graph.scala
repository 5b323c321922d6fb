package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics over crawl-derived edges (outlink extraction →
  * host graph → rank). */
object Graph {

  /** Fixed-point unit of the integer ranks of `pageRank` and `hits`:
    * 2^20 (the g1/g1b/g5 oracles spell it 1048576). */
  val Scale: Long = 1L << 20

  /** INTEGER-EXACT PageRank, damping 0.85, `iters` rounds.
    *
    * All arithmetic is 64-bit integer with ranks scaled by `Scale`:
    * each edge's contribution is floored INDIVIDUALLY
    * (`(85·r) div (100·outdeg)`), so the per-node sum is
    * permutation-invariant and the result is bit-identical at any
    * parallelism — and a SQL oracle recomputes it exactly (float
    * PageRank cannot be hash-compared across engines; this is the
    * same fixed-point discipline as IvfIndex.QuantScale).
    *
    * Dangling nodes (no out-edges) leak their rank mass by default —
    * the standard simplification. With `redistributeDangling`, each
    * round adds `(85·D) div (100·n)` to every node, where D is the
    * summed rank of dangling nodes entering the round — ONE floored
    * division on the global sum, so the term is identical for every
    * node and the result stays bit-exact and SQL-mirrorable (the
    * sub-`n` remainder of the division is dropped, documented so an
    * oracle can reproduce it; conserving it exactly would need a
    * deterministic tie-break for which nodes get the extra units).
    *
    * Iteration hygiene mirrors [[Dedup.connectedComponents]] (VERDICT
    * r4 #4): a [[Barrier]] every 5 rounds truncates
    * the lineage (reliable when the context has a checkpoint dir), the
    * result passes one more barrier at exit so the loop-invariant
    * frames can be unpersisted immediately, and nothing cached leaks
    * past the call.
    *
    * Scale shape per iteration: ONE equi-join of edges against the
    * (nodes-sized) rank table on src + a combiner-friendly sum keyed
    * by dst — edges never self-join and never materialize more than
    * one row per edge. outdeg and N are computed once. Multigraph
    * semantics: parallel edges each contribute. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, redistributeDangling: Boolean = false): DataFrame = {
    require(iters >= 1)
    // persist the loop-invariant frames: every iteration's plan would
    // otherwise re-embed (and re-execute) the edge scan, the
    // union+distinct node shuffle, and the outdeg aggregate
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).persist()
    val nodes = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host"))).distinct().persist()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("odeg")).persist()
    // dangling = nodes with no out-edges (computed once, loop-invariant)
    val dangling =
      if (redistributeDangling)
        Some(nodes.join(outdeg, nodes("host") === outdeg("src"), "left_anti")
          .select("host").persist())
      else None
    val n = nodes.count() // one small agg job, like IVF's k×partitions
    require(n > 0, "pageRank: empty graph")
    val base = (15L * Scale) / (100L * n)
    var ranks = nodes.withColumn("rank", lit(Scale / n))
    // previous round's barrier — released as soon as the next one
    // is materialized (the connectedComponents discipline)
    var prevCp: Option[DataFrame] = None
    (1 to iters).foreach { i =>
      val contrib = e
        .join(ranks.select(col("host").as("src"), col("rank")), "src")
        .join(outdeg, "src")
        .select(col("dst").as("host"),
          expr("(85 * rank) div (100 * odeg)").as("c"))
        .groupBy("host").agg(sum("c").as("contrib"))
      var next = nodes.join(contrib, Seq("host"), "left_outer")
        .select(col("host"),
          (lit(base) + coalesce(col("contrib"), lit(0L))).as("rank"))
      dangling.foreach { d =>
        // D = total rank entering the round on dangling nodes,
        // attached LAZILY as a broadcast 1-row aggregate (r6): the old
        // per-round driver `.head()` made every round an eager job
        // that re-executed the growing rank chain — O(iters²) stage
        // executions. The per-node term is the identical floored
        // division ((85·D) div (100·n), remainder dropped; adding a
        // 0-mass term is the identity the old `add != 0` guard
        // special-cased), so the result is bit-for-bit unchanged.
        val dmass = ranks.join(d, Seq("host"), "left_semi")
          .agg(coalesce(sum("rank"), lit(0L)).as("dmass__"))
        next = next.crossJoin(broadcast(dmass))
          .withColumn("rank",
            col("rank") + expr(s"(85 * dmass__) div (100 * ${n}L)"))
          .drop("dmass__")
      }
      // lineage truncation: every 5 rounds — and every
      // round when redistributing, because the lazy dangling aggregate
      // references `ranks` a second time and an unbroken chain would
      // double the plan per round (same discipline as
      // connectedComponents: materialize, then drop the previous cp)
      val mustCp = (dangling.isDefined || i % 5 == 0) && i < iters
      ranks = if (mustCp) {
        val nxt = Barrier(next)
        prevCp.foreach(_.unpersist())
        prevCp = Some(nxt)
        nxt
      } else next
    }
    // materialize the result so the loop-invariant frames can be
    // unpersisted NOW instead of leaking into session LRU (VERDICT r4)
    val out = Barrier(ranks)
    prevCp.foreach(_.unpersist())
    dangling.foreach(_.unpersist())
    outdeg.unpersist()
    nodes.unpersist()
    e.unpersist()
    out
  }

  /** Redirect-chain resolution via POINTER DOUBLING (path doubling):
    * given a redirect map (src → dst, AT MOST ONE out-edge per src),
    * return for every node (any id appearing as src or dst) its
    * terminal target and exact hop count. A src with two out-edges
    * (it would multiply pointer rows every round) fails by name.
    *
    * Why doubling: a naive chase resolves a length-L chain in L
    * join rounds; composing the pointer table with ITSELF
    * (f' = f∘f, hops' = hops(x) + hops(f(x))) resolves it in
    * ⌈log₂ L⌉ rounds — a 100-hop crawl spam chain costs 7 shuffle
    * rounds, not 100. Terminal nodes hold the identity pointer
    * (ptr = self, hops = 0), so composition is a total equi-join of
    * the nodes-sized table with itself — no edge blow-up, no
    * cartesian, and resolved rows are fixed points.
    *
    * Convergence: the summed hop count is monotone and stabilizes
    * exactly when every pointer is terminal (one tiny agg per round,
    * the connectedComponents discipline). CYCLES never stabilize
    * (their hops double every round), so after `maxRounds`
    * compositions — enough for chains up to 2^maxRounds hops —
    * surviving non-terminal rows are returned with `resolved = false`
    * (error-as-row, matching the WARC/media contract) instead of
    * throwing: real crawls DO contain redirect loops. Unresolved
    * rows' final_id/hops reflect the exhausted doubling state —
    * deterministic, but round-count-dependent; callers that expose
    * them across engines should mask them (the u3 query does).
    *
    * Iteration hygiene mirrors [[pageRank]]: a [[Barrier]] per round
    * truncates lineage, nothing cached leaks.
    * Returns (id, final_id, hops, resolved). */
  def resolveChains(edges: DataFrame, srcCol: String = "src",
                    dstCol: String = "dst", maxRounds: Int = 40): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 62, "2^maxRounds must fit a long")
    // hop sums ride each round's barrier job as OBSERVED metrics (the
    // connectedComponents discipline: no aggregate action per round)
    val hopSum = coalesce(sum(col("hops").cast("decimal(38,0)")), lit(0))
    val e = Barrier(edges.select(col(srcCol).cast("long").as("id"),
      col(dstCol).cast("long").as("nxt")))
    val (nodes, nodeCount) = Barrier.observe(
      e.select(col("id")).union(e.select(col("nxt").as("id"))).distinct(),
      "resolveChains nodes", count(lit(1)))
    // f₀: redirecting nodes point one hop ahead, terminals at self; one
    // row per node iff no src has two out-edges. The second distinct (no
    // exchange) restores the key uniqueness the observed frame hides from
    // f₀'s size estimate, which sets every later round's join strategy.
    var (f, m0) = Barrier.observed(nodes.distinct().join(e, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("nxt"), col("id")).as("ptr"),
        when(col("nxt").isNull, 0L).otherwise(1L).as("hops")),
      "resolveChains round 0", hopSum, count(lit(1)))
    require(m0.getLong(1) == nodeCount().getLong(0), "resolveChains: src " +
      e.groupBy("id").count().filter(col("count") > 1).agg(min("id")).head().getLong(0) +
      " has more than one out-edge (the redirect map allows one per src)")
    var prevSum = m0.getDecimal(0)
    var done = prevSum.signum == 0 // no redirects at all
    var round = 0
    while (!done && round < maxRounds) {
      // f' = f∘f: every ptr is a node, so the self-join is total
      val (next, m) = Barrier.observed(f
        .join(f.select(col("id").as("ptr"), col("ptr").as("ptr2"),
          col("hops").as("hops2")), "ptr")
        .select(col("id"), col("ptr2").as("ptr"),
          (col("hops") + col("hops2")).as("hops")),
        s"resolveChains round ${round + 1}", hopSum)
      val nextSum = m.getDecimal(0)
      done = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      f.unpersist()
      f = next
      round += 1
    }
    // resolved ⟺ the pointer left the redirect map (terminal target)
    val out = f.join(e.select(col("id").as("ptr")).distinct()
        .withColumn("still_src", lit(true)), Seq("ptr"), "left_outer")
      .select(col("id"), col("ptr").as("final_id"), col("hops"),
        coalesce(!col("still_src"), lit(true)).as("resolved"))
    val res = Barrier(out)
    f.unpersist() // the final pointer table fed `res`; drop its blocks
    e.unpersist()
    res
  }

  /** INTEGER-EXACT HITS (Kleinberg 1999), `iters` rounds: hub and
    * authority fixed point over the link graph — the complementary
    * rank to [[pageRank]] (a page can be a poor destination but a
    * great directory, and vice versa).
    *
    * Update per round, in the standard order: a'(v) = Σ_{u→v} h(u)
    * from the CURRENT hubs, then h'(u) = Σ_{u→v} a'(v) from the NEW
    * authorities. After each half-step, scores re-normalize to
    * max = `Scale` with ONE floored division per node
    * (`(s·Scale) div max` — max is one small agg job): the integer
    * stand-in for normalization (textbook L2 needs sqrt — float, not
    * oracle-mirrorable). Same fixed-point discipline as [[pageRank]]:
    * bit-identical at any parallelism, SQL-replayable.
    *
    * Overflow headroom: scores are ≤ `Scale` after normalization, so
    * a raw half-step sum is ≤ indeg·Scale and the rescale multiply is
    * ≤ indeg·Scale² — at 2^20 that caps safe in-degree at ~2^23 per
    * node. A hub-heavy graph (a CC-scale host graph can exceed that)
    * needs a smaller unit (2^10 → indeg 2^43, precision cost bounded
    * by 1/Scale per round), and the g5 oracle with it.
    *
    * Scale shape per round: two equi-joins of edges against the
    * nodes-sized score table + combiner sums — edges never self-join.
    * Iteration hygiene mirrors [[pageRank]]: every half-step passes a
    * [[Barrier]], loop frames are unpersisted on exit. Returns
    * (host, hub, auth). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2): DataFrame = {
    require(iters >= 1)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).persist()
    val nodes = e.select(col("src").as("host"))
      .union(e.select(col("dst").as("host"))).distinct().persist()
    require(!e.isEmpty, "hits: empty graph")
    // one job per half-step: the raw frame passes a BARRIER with its
    // max as an OBSERVED metric of the same action, so no later
    // half-step plans over the round chain; all frames release on exit
    val loopFrames = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def rescale(full: DataFrame, c: String): DataFrame = {
      val (f, m) = Barrier.observed(full, s"hits $c rescale", max(col(c)))
      loopFrames += f
      val mx = m.getLong(0)
      // mx > 0 always: every edge endpoint is a node, so some node
      // received a positive sum from the Scale-initialized other side
      f.select(col("host"), expr(s"($c * $Scale) div $mx").as(c))
    }
    var hubs = nodes.withColumn("hub", lit(Scale))
    var auths = nodes.withColumn("auth", lit(Scale))
    (1 to iters).foreach { i =>
      val araw = nodes.join(
          e.join(hubs.select(col("host").as("src"), col("hub")), "src")
            .groupBy(col("dst").as("host")).agg(sum("hub").as("auth")),
          Seq("host"), "left_outer")
        .select(col("host"), coalesce(col("auth"), lit(0L)).as("auth"))
      auths = rescale(araw, "auth")
      val hraw = nodes.join(
          e.join(auths.select(col("host").as("dst"), col("auth")), "dst")
            .groupBy(col("src").as("host")).agg(sum("auth").as("hub")),
          Seq("host"), "left_outer")
        .select(col("host"), coalesce(col("hub"), lit(0L)).as("hub"))
      hubs = rescale(hraw, "hub")
      // no separate interval barrier needed: every half-step is
      // already materialized with truncated lineage by rescale (r6)
    }
    val out = Barrier(hubs.join(auths, "host").select("host", "hub", "auth"))
    loopFrames.foreach(_.unpersist())
    nodes.unpersist()
    e.unpersist()
    out
  }
}
