package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Conversations, Dedup, Fim, Packing, Sampling}

/** The END of the training-data pipeline: one plan from raw documents to
  * the training artifact a run actually consumes. Round-18 landed the
  * pieces (leakage-safe split, group-coherent packing, per-epoch FIM,
  * manifested layout); this composes them in the order a pretraining
  * export runs them, so a user gets the artifact with one call instead
  * of re-deriving the glue (and the glue IS semantics: split before
  * transform — val text must never influence a train example; transform
  * before packing — budgets must count the tokens the model will SEE,
  * sentinels included).
  *
  * Stages ([[pretrainAssignments]]):
  *   1. [[TrainingData.clean]] survivors (defaults — the q90 gate chain).
  *   2. [[Sampling.leakageSafeSplit]] over the survivors' own n-gram
  *      Jaccard candidate-pair graph: near-dup CLUSTERS move as units,
  *      so no near-copy of a val doc trains. This pair graph is built
  *      FRESH over the survivors rather than reusing clean()'s internal
  *      removal graph — deliberately: the two graphs answer different
  *      questions at different thresholds (removal kills >=0.5
  *      near-copies; the split must also bind the WEAK 0.02-0.5
  *      near-dups that survived removal), and the df-cap universe must
  *      be the shipped survivor set, not the pre-removal gated set — a
  *      shingle just over the df cap among gated docs can be a
  *      legitimate pair key among survivors. The second posting pass
  *      costs one df-capped index build over the (already heavily
  *      reduced) survivor set, on the spilled survivors — not a rescan
  *      of the raw corpus.
  *   3. TRAIN side only: [[Fim.transform]] with a per-epoch salt
  *      (distinct salts redraw holes per epoch), dropping
  *      `sentinel_clash` docs — their output would be ambiguous.
  *   4. Token counts OF THE OUTPUT: a transformed doc carries its
  *      original tokens plus exactly the three sentinels (empty
  *      segments add no whitespace tokens), so `tokens = n_tokens +
  *      (fmt = 'plain' ? 0 : 3)` — exact, no second tokenize pass.
  *   5. [[Packing.packRelated]]: group-coherent greedy packing into
  *      `budget`-token sequences, groups never splitting across shards.
  *
  * Scale posture: every stage keeps its own audited shape — the clean
  * gates are map-only over digests/postings, the split label table is
  * size-gated before broadcasting, FIM is a zero-exchange projection,
  * packing is one shard exchange + partition-local sort + forward pass.
  * The only NEW exchanges the composition adds are the id-equi joins
  * stitching stage outputs (survivor ids back to text, assignments back
  * to fmt/tokens) — hash joins on the id column, no skew (ids are
  * unique), no driver materialization anywhere. The survivor frame
  * feeds THREE plan branches (pair graph, split corpus side, train
  * join) and the FIM frame two, so both are [[graft.io.Spill]]ed once
  * (the clean() `cacheIntermediate` discipline — without it the whole
  * cleaning subplan re-executes per branch: measured 66 exchanges in
  * the un-spilled battery plan vs 3 in the audited tail, with each
  * stage's own audited subplan running exactly ONCE, eagerly, at spill
  * time).
  *
  * Reference scope: the scaffold has no training-data surface; this
  * extends the LLM-pipeline family per the project north star.
  */
object TrainingExport {

  private def spill(df: DataFrame): DataFrame =
    graft.io.Spill(df, "graft-export-")

  /** Per-document export assignment for ONE epoch of the train side:
    * `(idCol, fmt, tokens, group, shard, seq_id, seq_pos, oversize)`.
    * Deterministic end-to-end: every stage draws through
    * [[Sampling.unitHash]], so the artifact is a pure function of
    * (corpus, knobs, epochSalt) — re-runs, repartitionings, and external
    * engines (the DuckDB oracle replays the full chain) reproduce it
    * bit-for-bit.
    *
    * @param groupExpr packing-coherence group (domain, topic, near-dup
    *                  cluster rep) evaluated against `docs`' columns
    */
  def pretrainAssignments(docs: DataFrame, idCol: String, textCol: String,
      groupExpr: Column, valFraction: Double = 0.1,
      pairThreshold: Double = 0.02, epochSalt: String = "ep0",
      fimFraction: Double = 0.5, spmFraction: Double = 0.5,
      budget: Long = 4096L, nShards: Int = 256): DataFrame = {
    val (surv, split) = survivorSplit(docs, idCol, textCol, groupExpr,
      valFraction, pairThreshold)
    val train = surv.join(
      split.where(col("split") === "train").select(col(idCol)), Seq(idCol))
    epochSlice(train, idCol, textCol, epochSalt, fimFraction, spmFraction,
      budget, nShards)
  }

  /** Stages 1-2 shared by every export surface: clean survivors joined
    * back to (text, group), spilled (the frame feeds the pair graph, the
    * split corpus side, and the train/val joins), plus the leakage-safe
    * split over the survivors' own fresh pair graph (see the object doc
    * for why the graph is rebuilt rather than reused from clean()).
    */
  private def survivorSplit(docs: DataFrame, idCol: String,
      textCol: String, groupExpr: Column, valFraction: Double,
      pairThreshold: Double): (DataFrame, DataFrame) = {
    val survIds = TrainingData.clean(docs, idCol, textCol)
      .select(col(idCol))
    val surv = spill(survIds.join(
      docs.select(col(idCol), col(textCol), groupExpr.as("__grp")),
      Seq(idCol)))
    // the fresh pair graph re-tokenizes the spilled survivors, whose file
    // count mirrors their tiny byte size at bench scale — `surv` is a
    // spilled scan, so spread keeps the shingle pass parallel (identity
    // on well-split inputs)
    val pairs = Dedup.ngramJaccardPairs(graft.io.Layout.spread(surv),
      idCol, textCol, n = 3, threshold = pairThreshold)
    val split = Sampling.leakageSafeSplit(surv.select(col(idCol)), idCol,
      pairs, valFraction, salt = "split")
    (surv, split)
  }

  /** Stages 3-5 for ONE epoch of the train side: per-epoch FIM
    * (sentinel-clash docs routed out), exact output token counts, and
    * group-coherent packing. `train` carries (idCol, textCol, __grp).
    */
  private def epochSlice(train: DataFrame, idCol: String, textCol: String,
      epochSalt: String, fimFraction: Double, spmFraction: Double,
      budget: Long, nShards: Int): DataFrame = {
    // only the assignment columns spill — text_out is corpus-sized and
    // nothing downstream reads it (writePretrainCorpus re-derives the
    // text through the same deterministic transform). spread acts only
    // on a spilled `train` (epochAssignments'); pretrainAssignments'
    // `train` is the join surv ⋈ split, whose parallelism AQE manages,
    // so spread is the identity there
    val fimmed = spill(Fim.transform(graft.io.Layout.spread(train),
        idCol, textCol, fimFraction, spmFraction, epochSalt)
      .where(!col("sentinel_clash"))
      .withColumn("tokens", col("n_tokens") +
        when(col("fmt") === "plain", 0L).otherwise(3L))
      .join(train.select(col(idCol), col("__grp")), Seq(idCol))
      .select(col(idCol), col("fmt"), col("tokens"), col("__grp")))
    Packing.packRelated(fimmed, idCol, "tokens", "__grp", budget, nShards)
      .join(fimmed.select(col(idCol), col("fmt"), col("tokens")), Seq(idCol))
      .select(col(idCol), col("fmt"), col("tokens"), col("group"),
        col("shard"), col("seq_id"), col("seq_pos"), col("oversize"))
  }

  /** The VAL side of the export — the artifact the run's held-out
    * evaluation consumes: survivors assigned split='val', PLAIN text (no
    * FIM — evaluation measures the raw LM objective; transforming val
    * would evaluate the augmentation instead), whitespace token counts,
    * and the same group-coherent packing. Output adds `in_train`, the
    * leakage indicator (a left join against the train side's ids) —
    * false for every row BY CONSTRUCTION, and the oracle replay pins
    * exactly that: any doc assigned to both sides hash-mismatches.
    *
    * Scale posture: identical chain to [[pretrainAssignments]] minus the
    * FIM projection; the split frame is spilled because the val filter
    * and the train-overlap indicator both consume it.
    */
  def valAssignments(docs: DataFrame, idCol: String, textCol: String,
      groupExpr: Column, valFraction: Double = 0.1,
      pairThreshold: Double = 0.02, budget: Long = 4096L,
      nShards: Int = 256): DataFrame = {
    val (surv, split0) = survivorSplit(docs, idCol, textCol, groupExpr,
      valFraction, pairThreshold)
    val split = spill(split0.select(col(idCol), col("split")))
    val vals = surv.join(
      split.where(col("split") === "val").select(col(idCol)), Seq(idCol))
    val sized = spill(vals.select(col(idCol),
      graft.functions.TextFunctions.wsTokenCount(col(textCol))
        .cast("long").as("tokens"),
      col("__grp")))
    Packing.packRelated(sized, idCol, "tokens", "__grp", budget, nShards)
      .join(sized.select(col(idCol), col("tokens")), Seq(idCol))
      .join(split.where(col("split") === "train")
        .select(col(idCol), lit(true).as("__t")), Seq(idCol), "left")
      .select(col(idCol), col("tokens"), col("group"), col("shard"),
        col("seq_id"), col("seq_pos"), col("oversize"),
        coalesce(col("__t"), lit(false)).as("in_train"))
  }

  /** The MULTI-EPOCH export — what a real run consumes across E epochs:
    * the clean/split chain runs ONCE (the split must NOT vary by epoch —
    * a doc drifting from val to train between epochs is leakage), then
    * each salt redraws FIM holes and formats independently and re-packs.
    * Output is [[pretrainAssignments]]'s schema with a leading `epoch`
    * column (the salt). Epoch-invariance of the split is structural: the
    * split frame is computed once above the per-epoch loop, so every
    * epoch sees the identical train id set; distinct salts give distinct
    * draws ([[Fim.transform]]'s per-(id, salt) determinism), which the
    * export spec asserts (some doc's fmt differs across epochs).
    *
    * Scale posture: the expensive stages (clean gates, pair graph, CC)
    * are paid once; each epoch adds one map-only FIM projection plus
    * packing's shard exchange over the spilled train frame.
    */
  def epochAssignments(docs: DataFrame, idCol: String, textCol: String,
      groupExpr: Column, epochSalts: Seq[String],
      valFraction: Double = 0.1, pairThreshold: Double = 0.02,
      fimFraction: Double = 0.5, spmFraction: Double = 0.5,
      budget: Long = 4096L, nShards: Int = 256): DataFrame = {
    require(epochSalts.nonEmpty, "epochSalts must be non-empty")
    require(epochSalts.distinct.size == epochSalts.size,
      "epochSalts must be distinct — identical salts draw identical " +
        "holes and the epochs collapse to copies")
    val (surv, split) = survivorSplit(docs, idCol, textCol, groupExpr,
      valFraction, pairThreshold)
    // spilled: every epoch consumes the train frame twice (FIM + group
    // join) — E epochs would otherwise re-run the survivor join 2E times
    val train = spill(surv.join(
      split.where(col("split") === "train").select(col(idCol)),
      Seq(idCol)))
    // the epochs are independent given the spilled train frame; their
    // eager FIM spills run as concurrent Spark jobs (the q162 ranker
    // discipline) on the BOUNDED [[graft.core.Jobs]] pool — guide §2.6:
    // 2-4 in flight fills the stage tails; `ExecutionContext.global`
    // fanned out unbounded and dropped the caller's job group/description
    // (round-20 advisor item)
    graft.core.Jobs.parallel(docs.sparkSession.sparkContext,
        epochSalts) { salt =>
      epochSlice(train, idCol, textCol, salt, fimFraction, spmFraction,
          budget, nShards)
        .select(lit(salt).as("epoch"), col(idCol), col("fmt"),
          col("tokens"), col("group"), col("shard"), col("seq_id"),
          col("seq_pos"), col("oversize"))
    }.reduce(_.unionByName(_))
  }

  /** The SFT-side export twin of [[pretrainAssignments]]: conversation
    * events → [[Conversations.lossMaskSpans]] (newest-fitting-turns
    * budget walk + per-turn token offsets into the rendered transcript,
    * train = role membership) → per-conversation transcript widths
    * (`max(token_end)` — the exact token count of the assembled
    * transcript, from the same walk that produced the offsets, so the
    * packing budget counts precisely what the trainer will see) →
    * [[Packing.packRelated]] group-coherent packing of whole
    * conversations into `budget`-token sequences.
    *
    * Output: one row per KEPT TURN carrying both the loss-mask span and
    * its conversation's sequence assignment — `(keyCol, turn_no, role,
    * token_start, token_end, train, tokens, group, shard, seq_id,
    * seq_pos, oversize)`. A trainer batches by (shard, seq_id),
    * concatenates transcripts in seq_pos order, and masks loss outside
    * the train spans; conversations whose every turn overflowed
    * `tokenBudget` vanish (no kept turns — nothing to train on).
    *
    * Scale posture: the span walk is ONE key exchange (both windows
    * share it); the per-conversation rollup rides the same hash
    * partitioning; packing adds its one shard exchange + forward walk;
    * the spans frame feeds two branches and is spilled once. All
    * deterministic — same artifact on any cluster shape.
    */
  def sftAssignments(events: DataFrame, keyCol: String, tsCol: String,
      seqCol: String, roleCol: String, contentCol: String,
      tokenBudget: Long, trainRoles: Seq[String], groupExpr: Column,
      budget: Long, nShards: Int): DataFrame = {
    val spans = spill(Conversations.lossMaskSpans(events, keyCol, tsCol,
      seqCol, roleCol, contentCol, tokenBudget, trainRoles))
    val convs = spans.groupBy(col(keyCol))
      .agg(max(col("token_end")).as("tokens"))
      .withColumn("__grp", groupExpr)
    val pack = Packing.packRelated(convs, keyCol, "tokens", "__grp",
      budget, nShards)
    spans.join(
        pack.join(convs.select(col(keyCol), col("tokens")), Seq(keyCol)),
        Seq(keyCol))
      .select(col(keyCol), col("turn_no"), col("role"),
        col("token_start"), col("token_end"), col("train"),
        col("tokens"), col("group"), col("shard"), col("seq_id"),
        col("seq_pos"), col("oversize"))
  }

  /** One [[graft.io.Layout.writeManifest]] per shard directory, run as
    * CONCURRENT Spark jobs (the q162 ranker discipline, optimization
    * guide §2.6): each manifest is an independent file-list hash job
    * whose tasks leave most slots idle, so running them sequentially
    * pays nShards × the per-job fixed cost in wall clock. Returns the
    * manifested file count.
    */
  private def manifestShards(spark: SparkSession, outDir: String): Int = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(outDir))
      .filter(_.isDirectory).map(_.getPath.toString).toSeq
    // bounded pool (guide §2.6): a large nShards on global would flood
    // the scheduler with one job per shard all at once
    graft.core.Jobs.parallel(spark.sparkContext, dirs)(d =>
      graft.io.Layout.writeManifest(spark, d)).sum
  }

  /** Write the epoch's train corpus as the release artifact: assignment
    * columns + the FIM output text, parquet partitioned by shard
    * (sequences never cross shards, so a trainer reads shard
    * directories independently), plus [[graft.io.Layout.writeManifest]]
    * per shard directory — the (path, bytes, rows, md5) handshake a
    * consumer verifies before training. Returns the manifested file
    * count. Text is re-derived through the SAME deterministic transform
    * (same epoch salt), so it cannot drift from the assignment.
    */
  def writePretrainCorpus(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, groupExpr: Column, outDir: String,
      valFraction: Double = 0.1, pairThreshold: Double = 0.02,
      epochSalt: String = "ep0", fimFraction: Double = 0.5,
      spmFraction: Double = 0.5, budget: Long = 4096L,
      nShards: Int = 256): Int = {
    // spilled: the assignment frame feeds TWO consumers (the id filter
    // below and the final join) — left in-plan each would re-execute the
    // whole clean/split/FIM/pack chain
    val assign = spill(pretrainAssignments(docs, idCol, textCol,
      groupExpr, valFraction, pairThreshold, epochSalt, fimFraction,
      spmFraction, budget, nShards))
    // transform ONLY the exported subset: every clean-rejected or val
    // doc would otherwise pay tokenize+FIM cost just to be dropped by
    // the join (advisor r19 item 2). Determinism is unaffected — draws
    // depend only on (id, salt), never on which rows ride along.
    // NOT spread here: the joined frame feeds the shard-partitioned
    // corpus write, where extra partitions multiply output files (and
    // their manifest scans) faster than the FIM projection gains —
    // A/B-measured slower with a spread (9.1 s vs 7.7 s at sf0.1)
    val text = Fim.transform(
      docs.select(col(idCol), col(textCol))
        .join(assign.select(col(idCol)), Seq(idCol)),
      idCol, textCol, fimFraction, spmFraction, epochSalt)
    assign.join(text.select(col(idCol), col("text_out")), Seq(idCol))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    manifestShards(spark, outDir)
  }
}
