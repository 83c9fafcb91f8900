package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes over token columns — the in-engine TRAINABLE
  * classifier the C4/fastText-style quality and language filters run at
  * corpus scale. Two properties make it the right first classifier for
  * a SQL-native engine:
  *
  *   - TRAINING IS COUNTING: the fit is one exploded hash aggregate plus
  *     two tiny rollups — fully declarative, no iterative optimizer —
  *     so an external engine replays the training bit for bit (q123's
  *     DuckDB oracle re-derives the model AND the predictions), and the
  *     fit scales exactly like a word count;
  *   - THE MODEL IS A TABLE: (kind, label, token, logp) rows. Deploying
  *     a classifier is a parquet write; scoring joins it like any other
  *     dimension; model diffs/rollbacks are table diffs.
  *
  * Log-probabilities round to 6 decimals at train time; classify scales
  * them to integer MICROS at model read, sums longs (exact,
  * order-invariant, codegen-fast), and rounds the score to 4 decimals
  * in integer math — the battery's cross-engine determinism pin (`ln`
  * may differ in the last ulp across engines; the 6-decimal rounding
  * absorbs it, and the integer sum keeps thousand-token char-gram
  * scores off the .00005 rounding boundary that a double sum can land
  * on either side of per engine/partitioning).
  *
  * Scale shape: train = explode + one (label, token) hash aggregate
  * (shuffles counts, never text) + label-sized rollups; classify =
  * explode, a broadcast of the L-row label table, one equi-join against
  * the vocabulary-sized cond table, and two bounded aggregates. Nothing
  * is driver-held — L, V, and corpus size all stay distributed.
  */
object NaiveBayes {

  /** Fold a token array into `buckets` hash-bucket ids (as strings) —
    * the fastText hashing trick applied to the NB feature space: with
    * raw word features the (label, token) model table grows with corpus
    * VOCABULARY (unbounded on web-scale text — a 100 TB crawl's model
    * would outgrow the classify broadcast), while hashed features bound
    * it at label-count × `buckets` rows no matter the corpus. Collisions
    * merge token statistics (the standard accuracy-for-boundedness
    * trade; more buckets = fewer collisions). Same md5 unit hash as the
    * DSIR features ([[Sampling.unitHash]]), so external engines replay
    * bucket membership exactly. Apply the SAME buckets+salt at train and
    * classify time — the model table cannot reveal a mismatch.
    */
  def hashedTokens(toks: org.apache.spark.sql.Column, buckets: Int,
      salt: String = "nbh"): org.apache.spark.sql.Column = {
    require(buckets > 0, "buckets must be positive")
    transform(toks, t =>
      floor(Sampling.unitHash(t, salt) * buckets).cast("int").cast("string"))
  }

  /** Fit on `(labelCol, tokensCol)` rows; Laplace smoothing `alpha`.
    *
    * Returns the model table, kind ∈:
    *   - `prior`: log P(label) — one row per label, token NULL;
    *   - `cond`: log P(token | label) = ln((c + alpha)/(t_l + alpha*V));
    *   - `default`: the unseen-token mass ln(alpha/(t_l + alpha*V)) —
    *     one row per label, token NULL.
    */
  def train(docs: DataFrame, labelCol: String, tokensCol: String,
      alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, "alpha must be positive")
    val base = docs.select(col(labelCol).cast("string").as("label"),
      col(tokensCol).as("__toks"))
    modelFromCounts(
      base.groupBy(col("label")).agg(count(lit(1)).as("__docs")),
      // per-doc bags first (map-side, no exchange) so generate emits
      // distinct-token rows; the (label, token) agg then sums bag counts
      base.select(col("label"),
          explode(call_function("token_counts", col("__toks"))).as("__tc"))
        .groupBy(col("label"), col("__tc.token").as("token"))
        .agg(sum(col("__tc.n")).as("__c")),
      alpha)
  }

  /** The model arithmetic over already-aggregated counts — shared by
    * [[train]] (counts from one corpus pass) and [[trainIncremental]]
    * (counts folded across batch dirs). Counting is ASSOCIATIVE, so the
    * two entry points produce IDENTICAL models for the same underlying
    * docs (spec-pinned).
    */
  private def modelFromCounts(docCounts: DataFrame, tokCounts: DataFrame,
      alpha: Double): DataFrame = {
    val nDocs = docCounts.agg(sum(col("__docs")).as("__n"))
    val priors = docCounts
      .crossJoin(broadcast(nDocs))
      .select(col("label"), lit(null).cast("string").as("token"),
        round(log(col("__docs") / col("__n")), 6).as("logp"),
        lit("prior").as("kind"))
    // totals anchor on the PRIOR label set, not the token counts: a
    // label whose training docs are all token-free still needs its
    // default row (ln(alpha/(0 + alpha*V))) — otherwise classify's
    // label table would silently drop it and an empty test doc could
    // argmax a different label than the all-priors rule
    val totals = docCounts.select(col("label"))
      .join(tokCounts.groupBy(col("label")).agg(sum(col("__c")).as("__t")),
        Seq("label"), "left")
      .select(col("label"), coalesce(col("__t"), lit(0L)).as("__t"))
    // fail loud on a token-free corpus: V=0 with t=0 makes the default
    // row's ln(alpha/(0 + alpha*0)) a division by zero, which non-ANSI
    // Spark folds to a silent NULL logp that propagates to NULL classify
    // scores. Guard at the point of use (plan-level — no extra action).
    val vocab = tokCounts.select(col("token")).distinct()
      .agg(count(lit(1)).as("__v0"))
      .select(when(col("__v0") === 0, raise_error(lit(
          "NaiveBayes: empty vocabulary after counting — every training " +
            "doc is token-free; a token-free corpus is unsupported")))
        .otherwise(col("__v0")).cast("long").as("__v"))
    val conds = tokCounts.join(totals, Seq("label"))
      .crossJoin(broadcast(vocab))
      .select(col("label"), col("token"),
        round(log((col("__c") + lit(alpha)) /
          (col("__t") + lit(alpha) * col("__v"))), 6).as("logp"),
        lit("cond").as("kind"))
    val defaults = totals.crossJoin(broadcast(vocab))
      .select(col("label"), lit(null).cast("string").as("token"),
        round(log(lit(alpha) / (col("__t") + lit(alpha) * col("__v"))), 6)
          .as("logp"),
        lit("default").as("kind"))
    priors.unionByName(conds).unionByName(defaults)
  }

  /** Cross-run training — the model-maintenance member of the
    * incremental family: because the fit is counting and counting is
    * associative, the incremental model is EXACT, not approximate —
    * training batch-by-batch produces the identical model table to
    * [[train]] over the union of all batches (spec-pinned equality).
    * Each call appends this batch's count rows (kind `doc`: docs per
    * label; kind `tok`: (label, token) occurrences) to
    * `countsTablePath/batch=<id>` and returns the model derived from
    * ALL counts (history + this batch).
    *
    * The count table is a [[graft.io.BatchTable]] (a replayed batch
    * never double-counts its own first attempt); the batch counts spill
    * before the write. The accumulating dirs fold with [[compactCounts]]
    * (summed — the additive fold).
    * Public entry point: streaming-model maintenance (count table per batch).
    */
  def trainIncremental(docs: DataFrame, labelCol: String, tokensCol: String,
      countsTablePath: String, batchId: String = null,
      alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, "alpha must be positive")
    val bid = graft.io.BatchTable.batchId(batchId)
    val base = docs.select(col(labelCol).cast("string").as("label"),
      col(tokensCol).as("__toks"))
    val batchCounts = graft.io.Spill(
      base.groupBy(col("label")).agg(count(lit(1)).as("c"))
        .select(lit("doc").as("kind"), col("label"),
          lit(null).cast("string").as("token"), col("c"))
        .unionByName(
          base.select(col("label"),
              explode(call_function("token_counts", col("__toks"))).as("__tc"))
            .groupBy(col("label"), col("__tc.token").as("token"))
            .agg(sum(col("__tc.n")).as("c"))
            .select(lit("tok").as("kind"), col("label"), col("token"),
              col("c"))),
      "graft-nbc-")
    val all = graft.io.BatchTable.history(docs.sparkSession, countsTablePath,
        "kind STRING, label STRING, token STRING, c BIGINT", bid)
      .unionByName(batchCounts)
    val model = modelFromCounts(
      all.where(col("kind") === "doc")
        .groupBy(col("label")).agg(sum(col("c")).as("__docs")),
      all.where(col("kind") === "tok")
        .groupBy(col("label"), col("token")).agg(sum(col("c")).as("__c")),
      alpha)
    graft.io.BatchTable.overwrite(batchCounts, countsTablePath, bid)
    model
  }

  /** Fold the [[trainIncremental]] count table's batch dirs (summed per
    * (kind, label, token) — [[graft.io.BatchTable.compactSumFold]]).
    * Public entry point: streaming-model maintenance (folds the count table).
    */
  def compactCounts(spark: org.apache.spark.sql.SparkSession,
      countsTablePath: String, excludeBatch: String = null,
      targetFileBytes: Long = 128L << 20): Int =
    graft.io.BatchTable.compactSumFold(spark, countsTablePath,
      Seq("kind", "label", "token"), "c", excludeBatch, targetFileBytes)

  /** The full per-(doc, label) score frame `score(label) = prior +
    * Σ_token cond(label, token | default)`, rounded to 4 decimals —
    * one row per doc per model label. [[classify]] is this plus the
    * argmax; evaluation ([[Eval]]) consumes it directly (AUC and
    * calibration need the positive class's SCORE, not the argmax).
    * Docs with an empty or NULL token array score on priors alone.
    */
  def labelScores(docs: DataFrame, idCol: String, tokensCol: String,
      model: DataFrame, broadcastModel: Boolean = true): DataFrame = {
    // the model's logps are exact 6-decimal values (rounded at train
    // time), so the model-read projection scales them ONCE to integer
    // MICROS and every downstream product and sum is plain long
    // arithmetic — exact and partitioning/order-invariant like a DECIMAL
    // sum (a double sum of thousands of char-gram tokens can land on a
    // .00005 rounding boundary differently per engine/partitioning), but
    // codegen-fast (a decimal(28,6) sum measured 2.3x slower here)
    def micros(c: org.apache.spark.sql.Column) = round(c * 1e6).cast("long")
    val labels = broadcast(
      model.where(col("kind") === "prior")
        .select(col("label"), micros(col("logp")).as("__prior"))
        .join(model.where(col("kind") === "default")
          .select(col("label"), micros(col("logp")).as("__default")), Seq("label")))
    // reference models are vocabulary-bounded (the q125 broadcast
    // argument), so ship the cond table to the corpus instead of
    // shuffling |corpus tokens| x |labels| rows to it — the token stream
    // never leaves its partitions and the per-(doc,label) aggregate's
    // partial combine runs map-side. Pass broadcastModel = false for a
    // model too large to broadcast (falls back to a shuffle join).
    val conds0 = model.where(col("kind") === "cond")
      .select(col("label"), col("token"), micros(col("logp")).as("__cond"))
    val conds = if (broadcastModel) broadcast(conds0) else conds0
    // micros -> 4-decimal score: half-away-from-zero at the 4th decimal
    // IN INTEGER MATH ((|t|+50) div 100 on nonneg operands — the double
    // division below cannot cross an integer boundary for |t| < 2^53),
    // then ONE exact int->double conversion and one correctly-rounded
    // IEEE division — bit-identical across engines
    def score(t: org.apache.spark.sql.Column) = {
      val e4 = when(t < 0, -((-t + 50) / 100).cast("long"))
        .otherwise(((t + 50) / 100).cast("long"))
      (e4.cast("double") / 10000.0).as("score")
    }
    // bag-of-words first: collapse each doc to (token, count) BEFORE
    // exploding — char-gram docs repeat grams heavily (thousands of
    // occurrences, hundreds of distinct grams), so the generate
    // operator, the label fan-out and the cond join all move
    // distinct-gram rows, not occurrence rows, and per-doc counting
    // needs no exchange at all ([[graft.functions.TokenCounts]], one
    // hashmap per row). Σ_occurrences logp ≡ Σ_distinct count·logp, and
    // because the per-token logps are ALREADY exact 6-decimal values,
    // the micros projection above makes every count·logp product and
    // their sum plain LONG arithmetic — exact and partitioning/order-
    // invariant; a double sum of thousands of tokens can land on a
    // .00005 rounding boundary differently per engine/partitioning
    val scored = docs
      .select(col(idCol),
        explode(call_function("token_counts", col(tokensCol))).as("__tc"))
      .select(col(idCol), col("__tc.token").as("token"), col("__tc.n").as("__n"))
      .crossJoin(labels)
      .join(conds, Seq("label", "token"), "left")
      .groupBy(col(idCol), col("label"), col("__prior"))
      .agg(sum(col("__n") * coalesce(col("__cond"), col("__default"))).as("__s"))
      .select(col(idCol), col("label"), score(col("__prior") + col("__s")))
    val empties = docs
      .where(col(tokensCol).isNull || size(col(tokensCol)) === 0)
      .select(col(idCol)).crossJoin(labels)
      .select(col(idCol), col("label"), score(col("__prior")))
    scored.unionByName(empties)
  }

  /** Score every doc against every label and keep the argmax (see
    * [[labelScores]]); ties break to the lexicographically smallest
    * label (deterministic, oracle-replayable). Returns
    * (idCol, label, score).
    */
  def classify(docs: DataFrame, idCol: String, tokensCol: String,
      model: DataFrame, broadcastModel: Boolean = true): DataFrame =
    labelScores(docs, idCol, tokensCol, model, broadcastModel)
      .groupBy(col(idCol))
      .agg(min_by(struct(col("label"), col("score")),
        struct(-col("score"), col("label"))).as("__b"))
      .select(col(idCol), col("__b.label").as("label"),
        col("__b.score").as("score"))
}
