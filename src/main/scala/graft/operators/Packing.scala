package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training pipelines: concatenate documents into
  * fixed-token-budget training sequences, greedily and in a deterministic
  * order, so the packing is reproducible run-to-run and auditable ("which
  * sequence did doc X land in?").
  *
  * The classic formulation is bin packing (NP-hard); production pipelines
  * use *greedy sequential* packing instead: walk the documents of a shard
  * in a stable order and keep appending to the current sequence until the
  * next document would exceed the budget, then start a new sequence. That
  * choice is deliberate here:
  *
  *   - it is a streaming single pass — O(n) per shard, no sort by length,
  *     no pairwise matching, so it scales to any shard size;
  *   - the assignment is a pure function of (shard, id order, token
  *     counts), independent of physical partitioning — identical on
  *     local[32] and on 1000 executors, and recomputable by an external
  *     engine for audit (the DuckDB oracle replays it with a recursive
  *     CTE);
  *   - first-fit-decreasing would pack ~2% tighter but destroys order
  *     locality and needs a per-shard sort by length; the waste bound of
  *     greedy sequential is budget-1 tokens per sequence boundary, which
  *     at a 4k-token budget over ~500-token documents is <2% — not worth
  *     giving up determinism-under-reordering.
  *
  * Scale posture: ONE hash exchange on the shard column, then a
  * partition-local sort and a single forward pass (`mapPartitions`). A
  * shard never needs to fit in memory — the pass carries three running
  * longs, not the shard. Shard count is the parallelism knob: pick ≥ the
  * cluster's core count; packing quality is unaffected by shard count
  * since sequences never cross shards (by design — a global greedy pack
  * would serialize the whole corpus through one task).
  *
  * A document larger than the budget gets a sequence of its own (callers
  * that truncate or split oversized docs should do so upstream — see
  * [[graft.operators.Chunking]]); it is flagged `oversize` so a gate can
  * route it out.
  */
object Packing {

  /** Pack documents into token-budget sequences, greedily per shard in
    * ascending-id order. Returns the assignment table:
    * `(id, shard, seq_id, seq_pos, oversize)` — `seq_id` numbers sequences
    * within a shard from 0, `seq_pos` numbers documents within a sequence
    * from 0. All columns are LongType (oversize boolean).
    *
    * @param df        input with at least the three named columns
    * @param idCol     stable unique document id (integral); packing order
    * @param tokensCol per-document token count (integral)
    * @param shardCol  integral shard key; sequences never cross shards
    * @param budget    max tokens per sequence, > 0
    */
  private[operators] case class PackIn(shard: Long, id: Long, tokens: Long)
  private[operators] case class PackOut(id: Long, shard: Long, seq_id: Long,
      seq_pos: Long, oversize: Boolean)

  def packGreedy(df: DataFrame, idCol: String, tokensCol: String,
      shardCol: String, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val spark = df.sparkSession
    import spark.implicits._

    val assigned = df
      .select(col(shardCol).cast("long").as("shard"),
        col(idCol).cast("long").as("id"),
        col(tokensCol).cast("long").as("tokens"))
      .as[PackIn]
      // all rows of one shard into one partition, id-ordered within it:
      // the greedy pass below is then a pure function of the data
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("id"))
      .mapPartitions { it =>
        // a partition holds one or more whole shards; reset state at
        // each shard boundary
        var curShard = 0L
        var first = true
        var seqId = 0L
        var cum = 0L
        var pos = 0L
        it.map { r =>
          if (first || r.shard != curShard) {
            curShard = r.shard; first = false
            seqId = 0L; cum = r.tokens; pos = 0L
          } else if (cum + r.tokens <= budget) {
            cum += r.tokens; pos += 1L
          } else {
            seqId += 1L; cum = r.tokens; pos = 0L
          }
          PackOut(r.id, r.shard, seqId, pos, r.tokens > budget)
        }
      }

    assigned.toDF().withColumnRenamed("id", idCol)
  }

  /** Group-coherent packing — the in-context-pretraining ordering: walk
    * each shard's documents GROUPED (by domain, near-dup cluster, topic
    * cluster — any `groupCol`) so related documents are adjacent and
    * tend to land in the SAME training sequence, giving long-context
    * training coherent context windows instead of unrelated
    * concatenation. Same greedy budget walk as [[packGreedy]] with two
    * ordering changes: the shard is the [[Sampling.unitHash]] bucket of
    * the GROUP (a group never splits across shards — salt 'pack'), and
    * the within-shard order is (group, id). Sequences still run across
    * group boundaries (a boundary reset would pay up to budget-1 wasted
    * tokens per SMALL group; adjacency is what buys the coherence), so
    * a group's documents span at most adjacent sequences.
    *
    * Output: `(id, group, shard, seq_id, seq_pos, oversize)`. The
    * assignment is a pure function of (group hash, group order, id
    * order, token counts) — partitioning-invariant like every packer
    * here. Scale posture identical to [[packGreedy]]: one shard
    * exchange, partition-local sort, single forward pass; nShards is
    * the parallelism knob and group skew is bounded by the largest
    * group's token mass, exactly the skew [[Skew]] salting must NOT fix
    * here (splitting a group defeats the point).
    */
  private[operators] case class PackInG(shard: Long, grp: String, id: Long,
      tokens: Long)
  private[operators] case class PackOutG(id: Long, group: String,
      shard: Long, seq_id: Long, seq_pos: Long, oversize: Boolean)

  def packRelated(df: DataFrame, idCol: String, tokensCol: String,
      groupCol: String, budget: Long, nShards: Int): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(nShards > 0, "nShards must be positive")
    val spark = df.sparkSession
    import spark.implicits._

    df.select(
        floor(Sampling.unitHash(col(groupCol).cast("string"), "pack")
          * nShards).cast("long").as("shard"),
        col(groupCol).cast("string").as("grp"),
        col(idCol).cast("long").as("id"),
        col(tokensCol).cast("long").as("tokens"))
      .as[PackInG]
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("grp"), col("id"))
      .mapPartitions { it =>
        var curShard = 0L
        var first = true
        var seqId = 0L
        var cum = 0L
        var pos = 0L
        it.map { r =>
          if (first || r.shard != curShard) {
            curShard = r.shard; first = false
            seqId = 0L; cum = r.tokens; pos = 0L
          } else if (cum + r.tokens <= budget) {
            cum += r.tokens; pos += 1L
          } else {
            seqId += 1L; cum = r.tokens; pos = 0L
          }
          PackOutG(r.id, r.grp, r.shard, seqId, pos, r.tokens > budget)
        }
      }
      .toDF().withColumnRenamed("id", idCol)
  }
}
