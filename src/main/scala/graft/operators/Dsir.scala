package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.words

/** Data Selection via Importance Resampling (DSIR, Xie et al. 2023) — the
  * published recipe for picking pretraining documents that LOOK LIKE a
  * small curated target corpus: fit two bag-of-hashed-n-gram unigram
  * models (target and raw), weight each raw document by the log-likelihood
  * ratio of its features, and draw a weighted sample without replacement
  * via Gumbel top-k. Hashed features (word unigrams + bigrams folded into
  * `buckets` buckets by the deterministic [[Sampling.unitHash]]) keep both
  * models a fixed `buckets`-row table no matter the corpus size — the
  * whole fit is two corpus scans ending in a `buckets`-row aggregate.
  *
  * Shape at 100 TB: feature explosion is map-only; each model is one hash
  * aggregate to `buckets` rows (tiny, broadcast back); per-document
  * weights are one doc-keyed aggregate with map-side partial sums (the
  * exchange carries (doc, partial-logw) rows, never text); selection is a
  * bounded global top-k (TakeOrdered — k rows per partition to the
  * driver, never a full sort materialization). Everything is a pure
  * function of (text, salt), so re-runs, repartitionings, and external
  * engines reproduce weights AND the sample exactly — no RNG state.
  */
object Dsir {

  /** Word unigrams + space-joined word bigrams of a MATERIALIZED token
    * array in one array — the paper's hashed n-gram feature set. Words
    * contain no spaces (`\W+` split), so bigram strings cannot collide
    * with unigrams. `ws` must be a bound attribute, not an inline
    * `words(text)` expression: higher-order functions are
    * CodegenFallback, so an inline split inside the lambda re-tokenizes
    * the document once per element — O(tokens²) per doc (measured 10 s
    * vs 0.3 s on the sf0.1 corpus).
    */
  private def featureArray(ws: Column): Column = {
    val bigs = when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1), i =>
        concat_ws(" ", element_at(ws, i), element_at(ws, i + 1))))
      .otherwise(array().cast("array<string>"))
    concat(ws, bigs)
  }

  /** One row per feature instance, folded to its hash bucket:
    * (doc_id, bucket), bucket = floor(unitHash(feature, salt) * buckets).
    * Collisions are part of the method (they only blur the ratio), so no
    * collision handling — the paper's hashed generative model.
    */
  def featureBuckets(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int, salt: String = "dsir"): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    docs.select(col(idCol).as("doc_id"), words(col(textCol)).as("__ws"))
      .select(col("doc_id"), explode(featureArray(col("__ws"))).as("__feat"))
      .select(col("doc_id"),
        floor(Sampling.unitHash(col("__feat"), salt) * buckets)
          .cast("int").as("bucket"))
  }

  /** The `buckets`-row log-likelihood-ratio table of two hashed-feature
    * frames ([[featureBuckets]] output): logr(b) = ln p_target(b) - ln
    * p_raw(b) under add-one smoothing over the full bucket range (absent
    * buckets still carry the smoothed floor, so every feature instance
    * scores). Each side is ONE hash aggregate to `buckets` rows; the
    * total feature masses ROLL UP from those count tables (one-row
    * frames, the sanctioned single-row broadcast), so neither corpus is
    * re-scanned for its total.
    *
    * `logr` is stored in MICRO-nats (round(ln-ratio × 1e6), BIGINT) —
    * the NB integer-micros discipline: per-document weights sum hundreds
    * of these, and a DOUBLE sum is partial-aggregation-order-dependent,
    * so it could land on the round-at-4 output boundary differently per
    * engine or partitioning. Long sums are exact and order-free; the one
    * double op left (÷1e6 at the end) is deterministic. A last-ulp ln
    * difference only matters if a bucket's ratio sits within ~1e-9 of a
    * .5-micro boundary — negligible over a `buckets`-row table, vs. a
    * per-document boundary exposure in the double-sum form.
    */
  def logRatio(fbTarget: DataFrame, fbRaw: DataFrame, buckets: Int): DataFrame = {
    val spark = fbTarget.sparkSession
    val spine = spark.range(buckets).select(col("id").cast("int").as("bucket"))
    val ct = fbTarget.groupBy(col("bucket")).agg(count(lit(1)).as("ct"))
    val cr = fbRaw.groupBy(col("bucket")).agg(count(lit(1)).as("cr"))
    val nt = ct.agg(coalesce(sum(col("ct")), lit(0L)).as("nt"))
    val nr = cr.agg(coalesce(sum(col("cr")), lit(0L)).as("nr"))
    spine.join(ct, Seq("bucket"), "left")
      .join(cr, Seq("bucket"), "left")
      .crossJoin(nt).crossJoin(nr) // one-row frames; broadcast by size
      .select(col("bucket"),
        round((log((coalesce(col("ct"), lit(0L)) + 1).cast("double")
            / (col("nt") + buckets))
          - log((coalesce(col("cr"), lit(0L)) + 1).cast("double")
            / (col("nr") + buckets))) * 1e6)
          .cast("long").as("logr"))
  }

  /** The fitted selection model as a persistable table: the
    * `buckets`-row (bucket, logr) frame of [[logRatio]] fitted from a
    * target corpus and a raw reference snapshot. Persist it and score
    * arbitrary later corpora with [[scoreAgainstRatio]] — the
    * deployment/streaming posture (a selection model is fitted once,
    * then applied; refitting per micro-batch would make per-doc
    * decisions depend on arrival batching).
    * Public entry point: streaming selection: fit once, score later batches
    * with [[scoreAgainstRatio]].
    */
  def fitRatio(rawReference: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int, salt: String = "dsir"): DataFrame =
    logRatio(featureBuckets(target, idCol, textCol, buckets, salt),
      featureBuckets(rawReference, idCol, textCol, buckets, salt), buckets)

  /** Shared scoring tail: per-doc sums of the micro-nat log-ratios
    * (exact long arithmetic — order- and partitioning-free) against a
    * ratio table, converted to nats once at the end, left-joined onto
    * the full id set so feature-free docs keep weight 1 (logw 0,
    * n_feats 0).
    */
  private def weightsFromBuckets(fb: DataFrame, ids: DataFrame,
      ratio: DataFrame): DataFrame = {
    val sums = fb.join(broadcast(ratio), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("logr")).as("__lwm"))
    ids.join(sums, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        (coalesce(col("__lwm"), lit(0L)) / 1e6).as("logw"))
  }

  /** Score `docs` against a PRECOMPUTED ratio table ([[fitRatio]] /
    * [[logRatio]] output): (doc_id, n_feats, logw). One feature pass +
    * the broadcast ratio join + one doc-keyed aggregate — map-only until
    * the per-doc sum, no model fit, so it runs per micro-batch against a
    * fixed persisted model with per-doc-deterministic results.
    *
    * The bucket count is DERIVED from the ratio table (one tiny count of
    * a model-sized frame — persist the ratio so this doesn't re-run an
    * unmaterialized fit), not taken as a parameter: a caller-supplied
    * count that disagreed with the fit would silently hash features into
    * buckets the table doesn't cover, dropping 3/4 of them into wrong
    * ratios with no error. `salt` must still match the fit — hash salts
    * are not recoverable from the table, which is why every entry point
    * shares the "dsir" default.
    */
  def scoreAgainstRatio(docs: DataFrame, idCol: String, textCol: String,
      ratio: DataFrame, salt: String = "dsir"): DataFrame = {
    val buckets = ratio.count().toInt
    require(buckets > 0, "ratio table is empty — not a fitRatio output")
    weightsFromBuckets(
      featureBuckets(docs, idCol, textCol, buckets, salt),
      docs.select(col(idCol).as("doc_id")), ratio)
  }

  /** Per-document importance log-weight of every `raw` document against
    * the `target` corpus: (doc_id, n_feats, logw), logw = sum over the
    * document's feature instances of the bucket log-ratio. Feature-free
    * documents (empty/short text) keep the paper's weight 1 (logw 0,
    * n_feats 0) rather than vanishing. `logw` is the raw double — round
    * at the consumer if it feeds a hash-compared result.
    *
    * The raw feature frame feeds two consumers (the raw bucket model and
    * the per-doc scoring join), so it spills ONCE — (doc_id, bucket) int
    * pairs in columnar parquet, far smaller than the text — and both
    * consumers scan that, instead of tokenizing + md5-hashing the raw
    * corpus twice. The id left-join re-reads only the pruned id column.
    */
  def importanceWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int, salt: String = "dsir"): DataFrame = {
    val fbRaw = graft.io.Spill(
      featureBuckets(raw, idCol, textCol, buckets, salt), "graft-dsir-")
    val lr = logRatio(featureBuckets(target, idCol, textCol, buckets, salt),
      fbRaw, buckets)
    weightsFromBuckets(fbRaw, raw.select(col(idCol).as("doc_id")), lr)
  }

  /** Weighted sample without replacement of `k` raw documents,
    * inclusion odds proportional to exp(importance weight): Gumbel top-k
    * (key = logw - ln(-ln u), u the [[Sampling.unitHash]] of the id with
    * `sampleSalt`) — the log-space Efraimidis-Spirakis draw of
    * [[Sampling.weightedTopK]], overflow-free for any logw magnitude
    * where exp(logw) itself would not be. The q100 subnormal floor keeps
    * a u of exactly 0 (md5 prefix 00000000) finite. Output: (rank,
    * doc_id, n_feats, logw rounded 4), rank 1-based by descending key.
    */
  def resample(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int, k: Int, salt: String = "dsir",
      sampleSalt: String = ""): DataFrame = {
    require(k > 0, "k must be positive")
    val u = greatest(Sampling.unitHash(col("doc_id"), sampleSalt),
      lit(java.lang.Double.MIN_VALUE))
    val keyed = importanceWeights(raw, target, idCol, textCol, buckets, salt)
      .select(col("doc_id"), col("n_feats"), col("logw"),
        (col("logw") - log(-log(u))).as("__key"))
      .orderBy(col("__key").desc, col("doc_id"))
      .limit(k) // TakeOrdered: bounded per-partition top-k, no global sort
    // k rows survive — the single-partition rank window is k-bounded
    keyed.select(
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("__key").desc, col("doc_id"))).as("rank"),
        col("doc_id"), col("n_feats"), round(col("logw"), 4).as("logw"))
      .orderBy(col("rank"))
  }
}
