package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, reproducible sampling and dataset splitting for training
  * pipelines. `df.sample()` draws from a per-partition RNG — re-running the
  * job, changing partitioning, or adding an executor changes WHICH rows are
  * sampled. Pipelines that must be re-runnable (and auditable: "why is this
  * document in the training set?") hash a stable id instead: membership is
  * a pure function of the row, independent of physical execution, identical
  * on 1 core or 1000 executors, and cheap to recompute for audits.
  *
  * The unit hash is the first 8 hex chars of md5(id || salt) read as a
  * 32-bit unsigned integer over 2^32 — uniform on [0,1), recomputable
  * verbatim by the DuckDB oracle (and any other engine with md5). The salt
  * string is the "seed": distinct salts give independent samples.
  */
object Sampling {

  /** Uniform [0,1) hash of an id column. Exactly representable: an 8-hex
    * integer and the 2^32 divisor are both exact doubles.
    */
  def unitHash(id: Column, salt: String = ""): Column =
    conv(substring(md5(concat(id.cast("string"), lit(salt))), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)

  /** Keep ~`fraction` of rows, deterministically by id.
    * Public entry point: the uniform case of the deterministic id-hash sampler.
    */
  def hashSample(df: DataFrame, idCol: String, fraction: Double,
      salt: String = ""): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction must be in [0,1]")
    df.where(unitHash(col(idCol), salt) < lit(fraction))
  }

  /** Stratified deterministic sampling: a different keep-fraction per
    * stratum (value of `stratumCol`), e.g. downsample boilerplate-heavy
    * languages while keeping all of a rare one. Strata absent from
    * `fractions` fall back to `defaultFraction` (0 = drop). Same unit-hash
    * membership as [[hashSample]], so per-stratum samples stay invariant
    * under partitioning and nested under fraction refinement.
    */
  def stratifiedHashSample(df: DataFrame, idCol: String, stratumCol: String,
      fractions: Map[String, Double], defaultFraction: Double = 0.0,
      salt: String = ""): DataFrame = {
    (fractions.values ++ Seq(defaultFraction)).foreach(f =>
      require(f >= 0 && f <= 1, "fractions must be in [0,1]"))
    val frac = fractions.foldLeft(lit(defaultFraction)) {
      case (rest, (stratum, f)) =>
        when(col(stratumCol) === stratum, lit(f)).otherwise(rest)
    }
    df.where(unitHash(col(idCol), salt) < frac)
  }

  /** Assign each row a split label by cumulative fraction ranges, e.g.
    * Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25). Fractions must sum
    * to 1; the last label absorbs the top of the range so floating-point
    * rounding can never leave a row unlabeled. Adds a `split` column.
    *
    * NOTE for cross-engine checks: the cumulative bounds are plain double
    * sums — prefer binary-exact fractions (0.5, 0.25, 0.125, ...) when an
    * external system must recompute the same assignment from literals.
    */
  def hashSplit(df: DataFrame, idCol: String,
      fractions: Seq[(String, Double)], salt: String = ""): DataFrame = {
    require(fractions.nonEmpty, "at least one split")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      "fractions must sum to 1")
    val u = unitHash(col(idCol), salt)
    val bounds = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
    val label = fractions.init.zip(bounds.init).foldRight(
      lit(fractions.last._1)) { case (((name, _), hi), rest) =>
      when(u < lit(hi), name).otherwise(rest)
    }
    // null ids: drop, matching hashSample/stratifiedHashSample — every
    // when() is null-false, so without this filter all null-id rows would
    // silently pile into the LAST split label
    df.where(col(idCol).isNotNull).withColumn("split", label)
  }

  /** Weighted sampling without replacement, deterministic: k items per
    * group, each item's inclusion probability proportional to
    * `weightCol` (Efraimidis-Spirakis A-ES — rank items by
    * ln(u)/w descending with u the [[unitHash]]; the k largest keys ARE
    * a weighted sample without replacement). The standard "sample
    * high-quality documents more often, but never twice" draw for
    * training-mix construction.
    *
    * Same determinism contract as every sampler here: membership is a
    * pure function of (id, weight, salt) — re-runs, repartitioning, and
    * external engines reproduce it exactly (no RNG state). The per-group
    * top-k runs through the bounded
    * [[graft.functions.TopKAggregator]], so the shuffle carries k
    * (key, id) pairs per group per map task, never the corpus.
    * Non-positive or null weights are dropped (weight 0 = never sample).
    * Output: (group, rank, id), rank 1-based by descending key.
    */
  /** Deterministic global corpus shuffle — the training-prep step that
    * decorrelates document order from crawl/ingest order before
    * sharding. The order key is [[unitHash]] (id tie-break for the
    * astronomically-unlikely collision), so the permutation is a pure
    * function of (id, salt): re-runs, repartitionings, and external
    * engines produce the identical order, and distinct salts give
    * independent permutations per epoch. Plans as a RANGE-partitioned
    * sort (Spark samples key ranges, each executor sorts its slice) —
    * the scalable global sort, no single-partition bottleneck; write the
    * result with `maxRecordsPerFile`/partitioned output to get shuffled
    * shards.
    */
  def deterministicShuffle(df: DataFrame, idCol: String,
      salt: String = ""): DataFrame =
    df.withColumn("shuffle_key", unitHash(col(idCol), salt))
      .orderBy(col("shuffle_key"), col(idCol))

  /** Deterministic shard assignment — the export-time companion of
    * [[deterministicShuffle]]: `shard = floor(unitHash * nShards)`, a
    * pure (id, salt) function, so shard membership survives re-runs,
    * repartitionings, and engine changes, and a failed export can be
    * re-cut shard-by-shard. The uniform hash makes shards statistically
    * balanced in rows AND bytes without any shuffle at assignment time
    * (map-only); write with `partitionBy("shard")` to land one directory
    * per shard.
    */
  def shardAssign(df: DataFrame, idCol: String, nShards: Int,
      salt: String = ""): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    df.withColumn("shard",
      floor(unitHash(col(idCol), salt) * nShards).cast("int"))
  }

  /** Leakage-safe train/validation split: assignment by near-dup CLUSTER,
    * not by document. A plain per-doc hash split puts ~valFraction of each
    * near-dup cluster's members in val while their near-copies train — the
    * classic silent contamination that inflates every held-out metric.
    * Here the candidate-pair graph (e.g. [[Dedup.ngramJaccardPairs]] /
    * minhash/simhash pairs — any (id_a, id_b) frame) is collapsed with
    * [[Dedup.connectedComponents]], every document inherits its cluster's
    * min-id REPRESENTATIVE (docs in no pair are their own singleton
    * cluster), and the [[unitHash]] of the representative decides the
    * side — so a cluster moves as a unit and no pair ever straddles the
    * split. Same determinism contract as every op here: membership is a
    * pure function of (cluster representative, salt).
    *
    * Output: (idCol, rep, split) with split in {'train','val'}.
    *
    * Scale posture: the CC label table is bounded by 2x the PAIR count
    * (only paired docs carry labels — the df-capped candidate graph, not
    * the corpus), so at typical dup rates the labels side broadcasts and
    * the corpus-side join is map-only; singletons — the overwhelming bulk
    * at any scale — never shuffle at all. The split decision is one
    * codegen'd projection. The broadcast hint is SIZE-GATED, not taken on
    * faith: a 100 TB crawl at 30-50% duplication can push the paired-doc
    * label frame to billions of rows, where a forced broadcast fails the
    * job or OOMs the driver — past `maxLabelBroadcastRows` (default 2^20,
    * the [[Dedup.incrementalExactDedupBloom]] confirm-lane convention) the
    * join degrades to a plain shuffle equi-join instead. The count that
    * decides is cheap: [[Dedup.connectedComponents]] already materializes
    * its result via the iteration's checkpoints.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      valFraction: Double, salt: String = "",
      maxLabelBroadcastRows: Long = 1L << 20): DataFrame = {
    require(valFraction >= 0 && valFraction <= 1,
      "valFraction must be in [0,1]")
    val labels = Dedup.connectedComponents(pairs)
      .select(col("id").as("__cc_id"), col("comp").as("__cc_comp"))
    val labelsSide =
      if (labels.count() <= maxLabelBroadcastRows) broadcast(labels)
      else labels
    docs.join(labelsSide, col(idCol) === col("__cc_id"), "left")
      .select(col(idCol),
        coalesce(col("__cc_comp"), col(idCol)).as("rep"))
      .withColumn("split",
        when(unitHash(col("rep"), salt) < lit(valFraction), "val")
          .otherwise("train"))
  }

  def weightedTopK(df: DataFrame, idCol: String, weightCol: String,
      groupCol: String, k: Int, salt: String = ""): DataFrame = {
    require(k > 0, "k must be positive")
    val topk = udaf(new graft.functions.TopKAggregator(k))
    df.where(col(weightCol) > 0)
      .select(col(groupCol), col(idCol).cast("long").as("__id"),
        // unitHash can emit exactly 0 (md5 prefix 00000000, p=2^-32/id);
        // Spark's log returns NULL there, which would feed the
        // aggregator's non-nullable Double input — clamp to the smallest
        // positive double so the key is a finite ~-744.4 instead
        (log(greatest(unitHash(col(idCol), salt),
          lit(java.lang.Double.MIN_VALUE))) / col(weightCol)).as("__key"))
      .groupBy(col(groupCol))
      .agg(topk(col("__key"), col("__id")).as("__ids"))
      .select(col(groupCol), posexplode(col("__ids")).as(Seq("rank", idCol)))
      .select(col(groupCol), (col("rank") + 1).cast("long").as("rank"),
        col(idCol))
  }
}
