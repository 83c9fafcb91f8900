package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph algorithms over edge tables. [[Dedup.connectedComponents]]
  * covers the union-find family (pointer jumping); this adds the
  * random-walk family — PageRank — used in corpus curation to weight
  * crawl sources by link structure (a page linked by important pages is
  * important) before sampling.
  *
  * Shape at 100 TB: each iteration is two shuffle joins (rank×out-degree,
  * then along edges) and one hash aggregate — the classic synchronous
  * PageRank step, linear in |E| per iteration with no driver actions; the
  * node count enters as a one-row broadcast. The driver only composes the
  * K-step plan (K is small and fixed); in a long-running production loop
  * each iteration's result would be checkpointed to cut lineage, exactly
  * like the connected-components pass documented in SURVEY §9.
  *
  * Determinism: per-edge contributions are cast to DECIMAL(38,18) before
  * summing, so the per-node sum is EXACT and independent of partitioning
  * and merge order — the same trick the q08 oracle uses for double
  * aggregation. Reruns and external engines (the DuckDB oracle unrolls
  * the same iterations) reproduce ranks bit-for-bit.
  */
object Graphs {

  /** Synchronous PageRank over `edges` (columns `src`, `dst`; duplicate
    * edges are collapsed). Damping-factor random walk with uniform
    * teleport: r_{k+1}(v) = (1-d)/N + d * Σ_{u→v} r_k(u)/outdeg(u).
    * Dangling mass is dropped (the standard simplified form — ranks then
    * sum to < 1 when sinks exist, which ranking use-cases don't care
    * about). Returns (node, rank) after `iterations` steps.
    *
    * The deduplicated edge table feeds every iteration plus the node and
    * out-degree derivations, so it is materialized once to a
    * session-temp parquet ([[graft.io.Spill]], the TrainingData pattern —
    * a spill releases on JVM exit where a persist of a lazily-returned
    * plan leaks for the session); left lazy, a K-iteration run would
    * re-derive the edges ~2K+2 times from source.
    */
  def pageRank(edges: DataFrame, iterations: Int,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    require(damping > 0 && damping < 1, "damping must be in (0,1)")
    val ePlan = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
    // out-degree pre-joined ONCE onto the edge table (round-20 verdict
    // item 7): the per-iteration rank×outdeg join disappears — each step
    // is one join (ranks onto the widened edges) + one aggregate instead
    // of two joins. rank/outdeg is evaluated per edge row either way, so
    // the contribution doubles are bit-identical. Both join inputs are
    // the SAME dedup subtree, so its exchange is planned once and reused
    // (ReuseExchange) inside the one spill job — still one pass over the
    // raw edges, one eager sub-execution total (a separate pre-join
    // spill was measured as a second fixed-cost job at bench scale).
    val eWide = ePlan.join(
      ePlan.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), "src")
    val e = graft.io.Spill(eWide, "graft-pr-edges-")
    // the (node, initial rank, teleport base) frame stays LAZY: its
    // identical distinct+count subtrees across iterations collapse under
    // exchange reuse in the final plan, and an eager spill of it paid a
    // fixed sub-execution cost that outweighed the saved recomputation
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val n = nodes.agg(count(lit(1)).as("n")) // one row; broadcast by size
    // (1-d) computed IN the plan so the oracle's (1 - 0.85) lands on the
    // identical double — a 0.15 literal parses to a different one
    val rb = nodes.crossJoin(n)
      .select(col("node"), (lit(1.0) / col("n")).as("r0"),
        ((lit(1.0) - lit(damping)) / col("n")).as("base"))
    var ranks = rb.select(col("node"), col("r0").as("rank"))
    for (_ <- 1 to iterations) {
      val contribs = ranks
        .join(e, ranks("node") === e("src"))
        .select(col("dst").as("node"),
          (col("rank") / col("outdeg")).cast("decimal(38,18)").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      ranks = rb
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (col("base") + lit(damping) *
            coalesce(col("s").cast("double"), lit(0.0))).as("rank"))
    }
    ranks
  }
}
