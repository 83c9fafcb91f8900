package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, TextFunctions}
import graft.io.BatchTable

/** Deduplication operators for the training-data pipeline (SURVEY §2.6
  * north-star). Design posture for 100 TB:
  *
  *   - nothing collects to the driver; every method returns a DataFrame plan;
  *   - pairwise similarity NEVER uses an O(n^2) cross join — candidate pairs
  *     come from an inverted-index (posting-list) self-join or LSH band
  *     buckets, both of which shuffle on a key and scale horizontally;
  *   - exact dedup is a single hash-aggregate (map-side partial + final),
  *     the cheapest possible shape Catalyst offers.
  */
object Dedup {

  /** Exact duplicate groups on a normalized key: keeps the smallest id as the
    * canonical representative. One shuffle (hash aggregate on the key).
    *
    * The grouping key is the 16-byte md5 [[TextFunctions.fingerprint]] of the
    * normalized text, NOT the normalized text itself: the aggregate's
    * exchange then carries fixed-size digests instead of the corpus bytes —
    * at 100 TB that is the difference between shuffling ~gigabytes and
    * shuffling the whole corpus. md5 collisions (~2^-64 at billions of docs)
    * would merge two distinct texts; callers needing a guarantee can verify
    * survivors' texts post-hoc.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Exact dedup: one surviving row per normalized text (deterministic:
    * min-id representative, unlike dropDuplicates' arbitrary pick).
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.join(
      exactGroups(docs, idCol, textCol).select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")

  /** [[exactGroups]] with a caller-chosen keep POLICY: within each
    * normalized-text group the survivor maximizes `priority` (ties broken
    * by MIN id) instead of the unconditional min-id pick — the policy a
    * real corpus wants when duplicates span sources of different trust
    * (keep the curated or freshly-recrawled copy, not whichever landed
    * first). Same single digest-keyed hash aggregate as [[exactGroups]]:
    * the (max priority, min id) selection rides ONE packed long through
    * `max_by` — `priority * 2^40 - id` — which the DuckDB oracle (q106)
    * recomputes with the identical integer arithmetic via `arg_max`.
    * Requires `0 <= id < 2^40` and `0 <= priority < ~2^22`; ids beyond
    * the pack range need a two-aggregate form instead. NULL priorities
    * rank as 0 (lowest), so an all-NULL group still keeps its min-id
    * member.
    */
  def exactGroupsBy(docs: DataFrame, idCol: String, textCol: String,
      priority: Column): DataFrame =
    docs
      .groupBy(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .agg(
        // NULL priorities rank lowest (0) instead of silently vanishing
        // from max_by's ordering — an all-NULL group must still keep its
        // min-id member, never drop wholesale
        max_by(col(idCol),
          coalesce(priority.cast("long"), lit(0L)) * lit(1L << 40)
            - col(idCol)).as("keep_id"),
        count(lit(1)).as("dup_cnt"))

  /** [[exactDedup]] under the [[exactGroupsBy]] keep policy: one surviving
    * row per normalized text, survivor = highest-priority (then min-id)
    * member of its duplicate group.
    */
  def exactDedupBy(docs: DataFrame, idCol: String, textCol: String,
      priority: Column): DataFrame =
    docs.join(
      exactGroupsBy(docs, idCol, textCol, priority)
        .select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")

  /** [[exactDedup]] in ONE pass: row_number over the fingerprint, keep
    * rank 1 — one scan and one (sort-based) shuffle, where the semi-join
    * form scans the input twice and shuffles twice. Same surviving IDS
    * (min-id per normalized text; fixture-pinned) — with one multiplicity
    * caveat on dirty inputs: if the SAME id appears in several physical
    * rows, the join form keeps every row of a surviving id while this form
    * keeps exactly one (arbitrary among equal (fp, id) rows). Trade: the
    * window sorts within partitions while the join form stays hash-based —
    * on a corpus with a few enormous duplicate groups the hash aggregate's
    * map-side partial collapse can still win, which is why both forms
    * exist.
    */
  def exactDedupOnePass(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(TextFunctions.fingerprint(col(textCol)))
      .orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Cross-RUN exact dedup for continuous corpus ingestion: a persistent
    * fingerprint table at `fpTablePath` remembers every text ever accepted;
    * each call collapses in-batch duplicates (min-id representative),
    * anti-joins the batch against the remembered fingerprints, writes the
    * novel fingerprints, and returns only the novel documents. Feed it from
    * `foreachBatch` for streaming ingestion, passing the micro-batch id.
    *
    * RETRY SAFETY: the fingerprint table is a [[BatchTable]], so when
    * Structured Streaming retries a failed micro-batch, the replay does
    * not anti-join against its own first attempt's fingerprints (which
    * would silently drop the batch's documents forever: marked seen,
    * never emitted). A replay returns the identical novel set and
    * rewrites the same directory. Callers without a batch id get a
    * one-shot one.
    *
    * Order of operations inside a call: the novel set is materialized to a
    * session-temp table BEFORE the fingerprint write, so the returned plan
    * (a semi join against that materialization) cannot re-evaluate its
    * anti-join after the write no matter when the caller executes it. At
    * 100 TB the fingerprint table is 16 bytes/doc and the anti-join
    * shuffles digests, not text. One directory accrues per batch — fold
    * them periodically with [[compactFingerprints]] or the seen-scan
    * becomes a small-files bottleneck.
    *
    * BLOOM COEXISTENCE: if a `_bloom/` cache from
    * [[incrementalExactDedupBloom]] sits beside this table, this path
    * drops it BEFORE writing its batch directory — the plain path never
    * maintains the filter, so leaving it in place would let a later
    * bloom call route this batch's fingerprints (absent from the stale
    * filter) down the definitely-novel lane and re-admit true
    * duplicates. Clear-before-write keeps every crash window safe: a
    * crash after the clear but before the write leaves no filter (next
    * bloom call rebuilds from the history scan), never an
    * under-claiming one.
    */
  def incrementalExactDedup(docs: DataFrame, idCol: String, textCol: String,
      fpTablePath: String, batchId: String = null): DataFrame = {
    graft.io.BloomStore.clear(docs.sparkSession, fpTablePath)
    val bid = BatchTable.batchId(batchId)
    val novel = graft.io.Spill(
      batchReps(docs, idCol, textCol).join(
        BatchTable.history(docs.sparkSession, fpTablePath, "fp STRING", bid),
        Seq("fp"), "left_anti"),
      "graft-novel-")
    BatchTable.overwrite(novel.select(col("fp")), fpTablePath, bid)
    docs.join(novel.select(col(idCol)), Seq(idCol), "left_semi")
  }

  /** In-batch collapse of the incremental exact paths: one (fp, min id)
    * row per normalized text.
    */
  private def batchReps(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol), TextFunctions.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp")).agg(min(col(idCol)).as(idCol))

  /** [[incrementalExactDedup]] with a PERSISTED Bloom-filter fast path
    * for the common case: most of an incoming batch is NOVEL, yet the
    * plain path shuffles every batch fingerprint into an anti-join
    * against the whole history table, every batch. Here a filter over
    * the history lives beside the table ([[graft.io.BloomStore]],
    * `_bloom/gen-<n>`) and is MERGED forward with each batch's novel
    * fingerprints, so steady state touches the history only through the
    * confirm lane:
    *
    *   - batch rows the filter rejects are DEFINITELY novel — map-only,
    *     no history scan, no shuffle;
    *   - the filter-positive sliver (true duplicates + the fpp share of
    *     false positives) confirms exactly — broadcast back over one
    *     map-only history scan when it fits `maxConfirmBroadcastRows`
    *     (the history is never shuffled), the plain shuffle anti-join
    *     past that.
    *
    * Results are BIT-IDENTICAL to the plain path for any filter that
    * OVER-claims (contains at least every history fingerprint): extra
    * positives only route more rows to the confirm lane, which decides
    * exactly. A filter-NEGATIVE, by contrast, skips the confirm join
    * entirely — so an under-claiming filter silently re-admits true
    * duplicates. Correctness therefore rides on the filter never
    * under-claiming, which is enforced three ways
    * (see [[graft.io.BloomStore]]): [[incrementalExactDedup]] drops the
    * filter before growing the history outside this path (the two may
    * be interleaved on one table), and the filter gains the batch's
    * fingerprints BEFORE the batch directory is written (a crash
    * between leaves an over-claiming filter — routes a few extra rows
    * to the confirm lane, harmless), and a replayed micro-batch finds
    * its own first-attempt fps in the filter, confirms against a
    * history that EXCLUDES its own directory, and re-emits — the
    * [[BatchTable]] retry contract.
    *
    * Scale posture: the filter costs ~1.2·n·ln(1/fpp)/ln²2 bits (120 MB
    * per 10⁸ history fps at fpp=0.01), lives on the table's filesystem,
    * and ships to executors once per stage via the task-binary
    * broadcast. It is rebuilt from one digest-column scan only when
    * absent or saturated (inserted > expected: realized fpp would
    * drift); rebuild sizing doubles ahead of the observed count.
    * Histories whose filter would exceed `maxFilterBytes` fall back to
    * the plain anti-join — correct at any size; at that scale keep a
    * filter per history SHARD (date range, source) and call per shard.
    * Batch-directory layout and the materialize-before-write ordering
    * are exactly [[incrementalExactDedup]]'s.
    */
  def incrementalExactDedupBloom(docs: DataFrame, idCol: String,
      textCol: String, fpTablePath: String, batchId: String = null,
      fpp: Double = 0.01, maxFilterBytes: Long = 256L << 20,
      maxConfirmBroadcastRows: Long = 1L << 20): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val spark = docs.sparkSession
    val bid = BatchTable.batchId(batchId)
    val reps = batchReps(docs, idCol, textCol)
    val seen = BatchTable.history(spark, fpTablePath, "fp STRING", bid)
    def filterBytes(n: Long) =
      math.ceil(-n.max(1L) * math.log(fpp) / (math.log(2) * math.log(2)) / 8)

    // load the persisted filter; rebuild from ONE history scan when
    // absent, saturated, or unreadable (the filter is a CACHE — a torn
    // or corrupt artifact must cost a rebuild, not fail the batch);
    // None past the byte budget (plain path)
    val loaded = scala.util.Try(graft.io.BloomStore.load(spark, fpTablePath))
      .getOrElse(None)
      .filter { case (_, m) => m.inserted <= m.expected }
    val filterState: Option[(org.apache.spark.util.sketch.BloomFilter,
        graft.io.BloomStore.Meta)] = loaded.orElse {
      val seenCount = seen.count()
      if (seenCount == 0) {
        // empty history: seed an empty filter sized for growth so the
        // very next batch already has a cache to merge into
        if (filterBytes(1L << 16) > maxFilterBytes) None
        else Some((org.apache.spark.util.sketch.BloomFilter
            .create(1L << 16, fpp),
          graft.io.BloomStore.Meta(1L << 16, fpp, 0L)))
      } else {
        val expected = math.max(seenCount * 2, 1L << 16)
        if (filterBytes(expected) > maxFilterBytes) None
        else {
          val bf = seen.where(col("fp").isNotNull)
            .stat.bloomFilter("fp", expected, fpp)
          Some((bf, graft.io.BloomStore.Meta(expected, fpp, seenCount)))
        }
      }
    }

    val novelPlan = filterState match {
      case None => reps.join(seen, Seq("fp"), "left_anti")
      case Some((bloom, _)) =>
        // null fp (null text) never equi-joins as seen — route it down
        // the definitely-novel lane, exactly where the plain anti-join
        // path leaves it
        val mightBeSeen =
          udf((fp: String) => fp != null && bloom.mightContain(fp))
        val definite = reps.where(!mightBeSeen(col("fp")))
        val sliver = graft.io.Spill(
          reps.where(mightBeSeen(col("fp"))), "graft-sliver-")
        val sliverCount = sliver.count()
        val confirmed =
          if (sliverCount == 0) sliver // no history touch at all
          else if (sliverCount <= maxConfirmBroadcastRows) {
            // broadcast the sliver OVER the history (map-only semi scan,
            // the history side never shuffles), then subtract the
            // matches — both broadcasts bounded by the sliver
            val matched = seen.join(broadcast(sliver.select(col("fp"))),
              Seq("fp"), "left_semi").distinct() // <= sliver rows even
                // when a fp recurs across history batch dirs
            sliver.join(broadcast(matched), Seq("fp"), "left_anti")
          } else sliver.join(seen, Seq("fp"), "left_anti")
        definite.unionByName(confirmed)
    }
    val novel = graft.io.Spill(novelPlan, "graft-novel-")

    // SUPERSET-FIRST: the filter gains this batch's novel fps BEFORE
    // the batch directory exists — a crash between the two leaves an
    // over-claiming filter (safe), never an under-claiming one. The
    // update itself is one bounded aggregate over the batch-sized novel
    // frame, merged bit-wise (same expected/fpp => compatible layouts).
    filterState.foreach { case (bloom, meta) =>
      val novelNonNull = novel.where(col("fp").isNotNull)
      val added = novelNonNull.count()
      if (added > 0) {
        // meta.fpp (not the call's fpp) so the layouts stay compatible
        // with a filter persisted under different knobs
        val update = novelNonNull.stat.bloomFilter("fp", meta.expected,
          meta.fpp)
        bloom.mergeInPlace(update)
      }
      // an unchanged, already-persisted filter needs no new generation
      if (added > 0 || loaded.isEmpty)
        graft.io.BloomStore.save(spark, fpTablePath, bloom,
          meta.copy(inserted = meta.inserted + added))
    }
    BatchTable.overwrite(novel.select(col("fp")), fpTablePath, bid)
    docs.join(novel.select(col(idCol)), Seq(idCol), "left_semi")
  }

  /** Compact the [[incrementalExactDedup]] fingerprint table: every call
    * adds a `batch=<id>/` directory, so at daily-batch cadence the "seen"
    * scan degrades into a small-files read (per-file open/footer overhead
    * dominating 16-byte rows). Folds all batch directories except
    * `excludeBatch` into one distinct-fp directory sized to
    * `targetFileBytes` ([[BatchTable.compact]]). Duplicate fingerprints
    * across batch dirs never change results (the seen-set is a union),
    * so the fold is idempotent. Returns the number of parquet data files
    * under the table after compaction.
    *
    * The [[incrementalExactDedupBloom]] filter under `_bloom/` is left
    * untouched and stays VALID: compaction rewrites layout without
    * changing the fingerprint set, so the filter's superset contract
    * holds (spec-pinned in `IncrementalDedupSpec`).
    */
  def compactFingerprints(spark: org.apache.spark.sql.SparkSession,
      fpTablePath: String, excludeBatch: String = null,
      targetFileBytes: Long = 128L << 20): Int =
    BatchTable.compact(spark, fpTablePath, excludeBatch, targetFileBytes)(
      _.select(col("fp")).distinct())

  /** Compact the [[incrementalMinhashLsh]] signature table: fold the
    * accumulating `batch=<id>` dirs into one, keeping one (doc_id, sig)
    * row per document. Idempotent like [[compactFingerprints]] — the same
    * doc resubmitted across batches carries the same signature, so a
    * distinct-by-id fold never changes pairing results.
    */
  def compactSignatures(spark: org.apache.spark.sql.SparkSession,
      sigTablePath: String, excludeBatch: String = null,
      targetFileBytes: Long = 128L << 20): Int =
    BatchTable.compact(spark, sigTablePath, excludeBatch, targetFileBytes)(
      _.dropDuplicates("doc_id"))

  /** Cross-RUN [[duplicateSpans]] for continuous corpus ingestion: a
    * persistent table at `spanTablePath` accumulates per-window fingerprint
    * COUNTS (`fp, cnt`, one row per distinct window per batch); a window in
    * the incoming batch is duplicated when its in-batch count plus the
    * remembered count reaches `minCount`, so a boilerplate block first seen
    * last week flags today's recurrence even when today's batch contains it
    * once. Returns the batch's (idCol, dup_spans, dup_tokens) rows — with
    * an EMPTY history this is exactly [[duplicateSpans]] of the batch
    * (spec-pinned) — and appends the batch's window counts for future
    * calls. Feed it from `foreachBatch`, passing the micro-batch id.
    *
    * The table is a [[BatchTable]]; the result spills before the count
    * write.
    *
    * Table size: one row per distinct window per batch — order corpus
    * tokens, not corpus bytes, and the rows are 16-hex digests + a long.
    * Fold the accumulating directories with [[compactSpanCounts]] (sums
    * counts per fingerprint, unlike the distinct-fold of
    * [[compactFingerprints]]).
    */
  def incrementalDuplicateSpans(docs: DataFrame, idCol: String,
      textCol: String, spanTablePath: String, k: Int = 8, minCount: Int = 2,
      batchId: String = null): DataFrame = {
    val bid = BatchTable.batchId(batchId)
    val grams = windowGrams(docs, idCol, textCol, k)
    val batchCounts = grams.groupBy(col("fp")).agg(count(lit(1)).as("cnt"))
    val hist = BatchTable.history(docs.sparkSession, spanTablePath,
        "fp STRING, cnt BIGINT", bid)
      .groupBy(col("fp")).agg(sum(col("cnt")).as("cnt"))
    val dupFps = batchCounts.as("b")
      .join(hist.as("h"), Seq("fp"), "left")
      .where(col("b.cnt") + coalesce(col("h.cnt"), lit(0L)) >= minCount)
      .select(col("fp"))
    val hits = grams.join(dupFps, Seq("fp"), "left_semi")
      .select(col(idCol), col("pos"))
    val result = graft.io.Spill(spanAgg(hits, idCol, k), "graft-spans-")
    BatchTable.overwrite(batchCounts, spanTablePath, bid)
    result
  }

  /** Compact the [[incrementalDuplicateSpans]] count table: folds all
    * `batch=<id>/` directories — except the possibly-in-flight
    * `excludeBatch` — into one directory with counts SUMMED per
    * fingerprint ([[BatchTable.compactSumFold]]; a count table folds by
    * addition where [[compactFingerprints]]' seen-set folds by distinct).
    * Counts can read double only in the transient window between
    * fold-write and source delete, and that direction is the
    * conservative one for a dedup gate (inflated counts flag windows as
    * duplicated EARLIER — a little extra text dropped, never a duplicate
    * silently kept). Returns the number of parquet data files after
    * compaction.
    */
  def compactSpanCounts(spark: org.apache.spark.sql.SparkSession,
      spanTablePath: String, excludeBatch: String = null,
      targetFileBytes: Long = 128L << 20): Int =
    BatchTable.compactSumFold(spark, spanTablePath,
      Seq("fp"), "cnt", excludeBatch, targetFileBytes)

  /** All-pairs n-gram Jaccard >= threshold via an inverted-index join:
    * explode distinct shingles, self-join on the shingle (this is the only
    * shuffle that grows with corpus size), count co-occurrences = |A∩B|,
    * then |A∪B| = |A|+|B|-|A∩B|.
    *
    * Posting lists are capped by document frequency: a shingle shared by m
    * documents contributes m² rows to the self-join, so without a cap one
    * boilerplate shingle ("terms and conditions") makes the whole plan
    * quadratic in corpus size. Shingles with df > `maxDf` carry ~no Jaccard
    * signal and are dropped from the *intersection* count (union sizes stay
    * exact), bounding the join at C(maxDf,2) pairs per shingle; df = 1
    * shingles cannot co-occur and are dropped too, which removes the long
    * unique tail before the shuffle. `maxDf <= 0` disables the cap.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.02, maxDf: Int = 100): DataFrame = {
    val shingled = docs
      .select(col(idCol).as("doc_id"), TextFunctions.words(col(textCol)).as("w"))
      .where(size(col("w")) >= n)
      .select(col("doc_id"), TextFunctions.wordShingles(col("w"), n).as("sh"))
      .select(col("doc_id"), col("sh"), size(col("sh")).as("sh_size"))

    // Shuffle 8-byte shingle HASHES, not shingle strings (guide §2.3 —
    // round-20 verdict item 5): the shingle value never reaches the
    // output, it only decides df-grouping and the self-join, so every
    // exchange below carries xxhash64(shingle) instead of the n-word
    // string (~3-5x narrower at n = 3). Identical results whenever the
    // hash is injective over the corpus's distinct shingles — verified
    // exhaustively on all three fixture SFs (ShingleHashSpec);
    // at production scale a 64-bit birthday collision (~p = m^2/2^65)
    // perturbs one pair's jaccard by one intersection count, the same
    // epsilon class as the MinHash path. The DuckDB oracle keeps string
    // keys (DuckDB has no xxhash64): both replays are exact under
    // their own engine's injectivity, which the fixture check pins.
    val posting = shingled
      .select(col("doc_id"), col("sh_size"), explode(col("sh")).as("__s"))
      .select(col("doc_id"), col("sh_size"),
        xxhash64(col("__s")).as("shingle"))

    // document-frequency gate: df >= 2 (singletons never co-occur) and,
    // when capped, df <= maxDf (hot shingles would explode the self-join)
    val dfPred = if (maxDf > 0) col("df").between(2, maxDf) else col("df") >= 2
    val kept = posting.join(
      posting.groupBy("shingle").agg(count(lit(1)).as("df")).where(dfPred),
      Seq("shingle"))

    val inter = kept.as("a")
      .join(kept.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(
        col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sh_size").as("size_a"), col("b.sh_size").as("size_b"))
      .agg(count(lit(1)).as("inter"))

    inter
      .withColumn("jaccard",
        col("inter") / (col("size_a") + col("size_b") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** MinHash + LSH candidate pairs: k-hash signature, split into bands of
    * `rowsPerBand`, bucket-join on (band index, band hash). Only documents
    * sharing a band bucket ever meet — the classic sub-quadratic near-dup
    * path (MMDS ch.3). Returns distinct candidate pairs.
    */
  def minhashLshCandidates(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, rowsPerBand: Int = 1, seed: Long = 7L): DataFrame = {
    require(k % rowsPerBand == 0, "k must be divisible by rowsPerBand")
    val nBands = k / rowsPerBand
    val sig = minhashSigs(docs, col(idCol), textCol, n, k, seed)

    // band indexes are static, so the per-band slice bounds stay literal and
    // the whole signature->bands step remains a single codegen'd projection.
    // rowsPerBand == 1: the bucket IS the signature value (portable — the
    // DuckDB oracle recomputes it); wider bands compress via xxhash64.
    val bandStructs = (0 until nBands).map { b =>
      val bucket =
        if (rowsPerBand == 1) element_at(col("sig"), b + 1)
        else xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
      struct(lit(b).as("band"), bucket.as("bucket"))
    }
    val bands = sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    bandPairs(bands, None).distinct()
  }

  /** (doc_id, sig): the k-component MinHash signature over word
    * n-shingles of every document with at least `n` words.
    */
  private def minhashSigs(docs: DataFrame, id: Column, textCol: String,
      n: Int, k: Int, seed: Long): DataFrame =
    docs.select(id.as("doc_id"), TextFunctions.words(col(textCol)).as("w"))
      .where(size(col("w")) >= n)
      .select(col("doc_id"),
        GraftFunctions.minhash(TextFunctions.wordShingles(col("w"), n), k, seed).as("sig"))

  /** Candidate pairs of documents sharing a (band, bucket) posting — the
    * one candidate join of every banded near-dup path (MinHash LSH bands,
    * the 16-bit pigeonhole fingerprint bands). `bands` (doc_id, band,
    * bucket, ...) pairs with itself as (id_a < id_b); `hist`, when given,
    * pairs with `bands` on distinct ids, ordered into (least, greatest) —
    * both sides shuffle on (band, bucket), never all-pairs. Each `carry`
    * column rides along as `__a_<c>`/`__b_<c>`, one value per side (on
    * history rows the two are NOT ordered like id_a/id_b, so consumers
    * must be symmetric in them). Not de-duplicated: a pair sharing several
    * buckets appears once per bucket.
    */
  private def bandPairs(bands: DataFrame, hist: Option[DataFrame],
      carry: String*): DataFrame = {
    def pairs(a: DataFrame, b: DataFrame, cross: Boolean): DataFrame = {
      val (ia, ib) = (col("a.doc_id"), col("b.doc_id"))
      a.as("a").join(b.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            (if (cross) ia =!= ib else ia < ib))
        .select(Seq(
          (if (cross) least(ia, ib) else ia).as("id_a"),
          (if (cross) greatest(ia, ib) else ib).as("id_b")) ++
          carry.flatMap(c =>
            Seq(col(s"a.$c").as(s"__a_$c"), col(s"b.$c").as(s"__b_$c"))): _*)
    }
    val inBatch = pairs(bands, bands, cross = false)
    hist.fold(inBatch)(h => inBatch.unionByName(pairs(h, bands, cross = true)))
  }

  /** Cross-RUN [[minhashLshCandidates]] for continuous ingestion: a
    * persistent signature table at `sigTablePath` remembers every
    * previously-seen document's k-component MinHash signature, and the
    * incoming batch pairs against BOTH itself and that history — so a
    * near-duplicate of something accepted last week is caught today,
    * which per-batch LSH by construction cannot do. Returns candidate
    * pairs (id_a < id_b) with `est_jaccard` = matching signature
    * components / k (the standard MinHash estimate), optionally floored
    * at `minEstJaccard`. Against an EMPTY history this is exactly
    * [[minhashLshCandidates]] (rowsPerBand = 1) plus the estimate column
    * — q109's oracle replays that case with the full md5 hash family.
    *
    * Storage: only (doc_id, sig) rows — band postings are re-derived on
    * read by a map-side posexplode of the scanned signatures, so the
    * table carries k longs per document ever seen, not k posting rows,
    * and the candidate join still shuffles on (band, bucket) exactly as
    * the in-batch form does. Replay-safe through [[BatchTable]]; the
    * result is spilled before the signature write. A doc id resubmitted
    * across batches keeps one signature (identical text => identical sig;
    * conflicting text for one id is a caller data bug).
    */
  def incrementalMinhashLsh(docs: DataFrame, idCol: String, textCol: String,
      sigTablePath: String, n: Int = 3, k: Int = 16, seed: Long = 7L,
      minEstJaccard: Double = 0.0, batchId: String = null): DataFrame = {
    val bid = BatchTable.batchId(batchId)
    // materialize the batch signatures ONCE: the shingling + k-hash
    // MinHash projection would otherwise re-evaluate in every consumer
    // below (self-join x2, cross join, both estimate joins, the final
    // append — ~6 passes over the batch text)
    val sig = graft.io.Spill(
      minhashSigs(docs, col(idCol).cast("long"), textCol, n, k, seed),
      "graft-mhsig-")
    val histSig = BatchTable.history(docs.sparkSession, sigTablePath,
        "doc_id BIGINT, sig ARRAY<BIGINT>", bid)
      // a history written with a different k would silently zip-pad
      // with null in est_jaccard (scoring components 0, deflating
      // estimates) — fail loudly map-side instead
      .select(col("doc_id"),
        when(size(col("sig")) === k, col("sig"))
          .otherwise(raise_error(concat(
            lit(s"incrementalMinhashLsh: history sig length != k=$k at doc_id "),
            col("doc_id").cast("string"), lit(" (found "),
            size(col("sig")).cast("string"),
            lit(") — run with the k the table was built with")))).as("sig"))
    def toBands(s: DataFrame): DataFrame =
      s.select(col("doc_id"), posexplode(col("sig")).as(Seq("band", "bucket")))
    val allSigs = sig.unionByName(histSig).dropDuplicates("doc_id")
    val pairs = bandPairs(toBands(sig), Some(toBands(histSig))).distinct()
      .join(allSigs.select(col("doc_id").as("id_a"), col("sig").as("__sa")), Seq("id_a"))
      .join(allSigs.select(col("doc_id").as("id_b"), col("sig").as("__sb")), Seq("id_b"))
      .withColumn("est_jaccard",
        aggregate(
          zip_with(col("__sa"), col("__sb"),
            (x, y) => when(x === y, lit(1)).otherwise(lit(0))),
          lit(0), (acc, v) => acc + v).cast("double") / lit(k.toDouble))
      .where(col("est_jaccard") >= minEstJaccard)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
    val result = graft.io.Spill(pairs, "graft-mhinc-")
    BatchTable.overwrite(sig, sigTablePath, bid)
    result
  }

  /** SimHash near-dup pairs: 64-bit fingerprints, blocked on 16-bit bands
    * (any pair within Hamming distance <= 3 shares at least one of 4 exact
    * bands — pigeonhole), verified with an exact popcount filter.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    fingerprintPairs(
      docs.select(col(idCol).as("doc_id"),
        GraftFunctions.simhash64(TextFunctions.words(col(textCol))).as("fp")),
      maxHamming)

  /** Hamming near-dup pairs over ANY (doc_id, 64-bit fp) frame — the
    * banding machinery of [[simhashPairs]] factored out so other 64-bit
    * fingerprint families (e.g. perceptual image hashes,
    * [[Multimodal.imageHashPairs]]) reuse it: 16-bit pigeonhole bands
    * generate candidates (any pair within Hamming distance <= 3 shares
    * at least one of the 4 exact bands), an exact popcount filter
    * verifies. The exchange carries (doc_id, fp, band, bucket) only —
    * never payload bytes — so the posture holds at corpus scale.
    */
  def fingerprintPairs(fp: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingPairs(fp, None, maxHamming)

  /** The 16-bit pigeonhole band postings of a (doc_id, fp) frame — the
    * shared banding of [[simhashPairs]] and [[incrementalSimhash]] (any
    * pair within Hamming distance <= 3 shares at least one of the 4
    * exact bands).
    */
  private def simhashBands(fp: DataFrame): DataFrame = {
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("fp"), 16 * b).bitwiseAND(lit(0xFFFFL)).as("bucket"))
    }
    fp.select(col("doc_id"), col("fp"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("fp"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Distinct (id_a, id_b, hamming) pairs within `maxHamming` among the
    * `fp` frame's documents and, when `hist` is given, between them and
    * the history's: the band candidates of [[bandPairs]] verified by an
    * exact popcount.
    */
  private def hammingPairs(fp: DataFrame, hist: Option[DataFrame],
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4x16-bit banding guarantees candidate recall only for maxHamming <= 3 (pigeonhole)")
    bandPairs(simhashBands(fp), hist.map(simhashBands), "fp")
      .select(col("id_a"), col("id_b"),
        bit_count(col("__a_fp").bitwiseXOR(col("__b_fp"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Cross-RUN [[simhashPairs]]: the fingerprint-table discipline of
    * [[incrementalMinhashLsh]] with SimHash's 8-bytes-per-doc state — the
    * cheapest cross-run near-dup memory there is (one long per document
    * ever seen vs MinHash's k). The incoming batch pairs against itself
    * AND the persisted history on the 16-bit pigeonhole bands, verified
    * with the exact popcount <= maxHamming filter; against an EMPTY
    * history this is exactly [[simhashPairs]] (q113's oracle replays the
    * batch case). The table is a [[BatchTable]] (the result spills
    * before its write) and folds with [[compactSimhash]].
    */
  def incrementalSimhash(docs: DataFrame, idCol: String, textCol: String,
      fpTablePath: String, maxHamming: Int = 3,
      batchId: String = null): DataFrame =
    incrementalFingerprintPairs(
      docs.select(col(idCol).cast("long").as("doc_id"),
        GraftFunctions.simhash64(
          TextFunctions.words(col(textCol))).as("fp")),
      fpTablePath, maxHamming, batchId)

  /** Cross-run near-dup pairs for ANY 64-bit fingerprint family — the
    * [[incrementalSimhash]] machinery over a precomputed (doc_id, fp)
    * frame, shared by the perceptual ([[Multimodal.imageHash]]) and
    * acoustic ([[Multimodal.audioHash]]) fingerprints. Same contract:
    * pairs among the batch AND against everything ever seen; empty
    * history reduces to [[fingerprintPairs]].
    */
  def incrementalFingerprintPairs(fp0: DataFrame,
      fpTablePath: String, maxHamming: Int = 3,
      batchId: String = null): DataFrame = {
    val bid = BatchTable.batchId(batchId)
    val fp = graft.io.Spill(fp0.select(col("doc_id"), col("fp")),
      "graft-shfp-")
    val hist = BatchTable.history(fp0.sparkSession, fpTablePath,
      "doc_id BIGINT, fp BIGINT", bid)
    val result = graft.io.Spill(hammingPairs(fp, Some(hist), maxHamming),
      "graft-shinc-")
    BatchTable.overwrite(fp, fpTablePath, bid)
    result
  }

  /** Compact the [[incrementalSimhash]] fingerprint table (distinct by
    * doc_id; idempotent — same doc => same fingerprint).
    */
  def compactSimhash(spark: org.apache.spark.sql.SparkSession,
      fpTablePath: String, excludeBatch: String = null,
      targetFileBytes: Long = 128L << 20): Int =
    BatchTable.compact(spark, fpTablePath, excludeBatch, targetFileBytes)(
      _.dropDuplicates("doc_id"))

  /** Compact the [[incrementalSemanticDedup]] embedding-history table
    * (distinct by doc_id; idempotent — a doc resubmitted across batches
    * carries the same embedding row).
    */
  def compactEmbeddings(spark: org.apache.spark.sql.SparkSession,
      histTablePath: String, excludeBatch: String = null,
      targetFileBytes: Long = 128L << 20): Int =
    BatchTable.compact(spark, histTablePath, excludeBatch, targetFileBytes)(
      _.dropDuplicates("doc_id"))

  /** One-call maintenance for every incremental table a pipeline keeps:
    * runs the right fold for each path — fingerprints (distinct fp),
    * MinHash signatures / SimHash fingerprints / semantic embedding
    * histories (distinct doc_id), span counts (SUMMED per fp) — under ONE
    * shared [[BatchTable.compact]] discipline: `excludeBatch` (the possibly
    * mid-write batch id) is excluded from every fold, so a single call
    * site can service all tables between ingest runs without tracking
    * which table uses which fold. Returns table path -> post-compaction
    * parquet data-file count (the monitoring number: it should step DOWN
    * toward bytes/targetFileBytes after each call).
    */
  def compactAll(spark: org.apache.spark.sql.SparkSession,
      fingerprints: Seq[String] = Nil,
      signatures: Seq[String] = Nil,
      spanCounts: Seq[String] = Nil,
      simhash: Seq[String] = Nil,
      embeddings: Seq[String] = Nil,
      excludeBatch: String = null,
      targetFileBytes: Long = 128L << 20): Map[String, Int] = {
    def fold(paths: Seq[String],
        compact: (org.apache.spark.sql.SparkSession, String, String, Long) => Int) =
      paths.map(p => p -> compact(spark, p, excludeBatch, targetFileBytes))
    (fold(fingerprints, compactFingerprints) ++ fold(signatures, compactSignatures) ++
      fold(spanCounts, compactSpanCounts) ++ fold(simhash, compactSimhash) ++
      fold(embeddings, compactEmbeddings)).toMap
  }

  /** Embedding near-dup pairs blocked on random-hyperplane LSH buckets, for
    * data with no natural blocking column; the [[Similarity.lshPairs]] join
    * over [[Similarity.lshPostings]]. OR-amplified: a pair is a candidate
    * when it shares a bucket in ANY of `nTables` plane families (one table
    * recalls ~p^nPlanes of true pairs, ~0.2 on the fixture; the union
    * 1-(1-p^nPlanes)^nTables). Candidates are verified by exact cosine, so
    * precision is 1.0 and `nTables` is the recall dial.
    */
  def embeddingNearDupPairsLsh(embs: DataFrame, idCol: String, embCol: String,
      threshold: Double, nPlanes: Int = 4, nTables: Int = 8,
      dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else Similarity.inferDim(embs, embCol)
    val posted = Similarity.lshPostings(embs, idCol, embCol, nPlanes, nTables, d)
    def side(id: String, v: String) =
      posted.select(col(idCol).as(id), col(embCol).as(v), col("table"), col("bucket"))
    Similarity.lshPairs(side("id_a", "__va"), side("id_b", "__vb"), "id_a", "id_b",
      "sim", round(GraftFunctions.cosine_sim(col("__va"), col("__vb")), 4),
      col("id_a") < col("id_b") && col("sim") >= threshold)
  }

  /** Connected components over near-dup candidate pairs: every document is
    * labeled with the SMALLEST id transitively reachable through the pair
    * graph. This is the transitive-closure dedup semantics (a cluster of
    * mutual near-dups collapses to one representative) the greedy
    * drop-every-`id_b` pass in [[graft.pipelines.TrainingData]] approximates:
    * greedy keeps a doc whose only pair-partners are larger ids even when it
    * is transitively connected to a smaller survivor, so component survivors
    * are always a SUBSET of greedy survivors (stricter dedup).
    *
    * Algorithm: min-label propagation with POINTER JUMPING. Each pass,
    * every vertex takes the min of its own label, its neighbors' labels
    * (edge join + min aggregate), and then its label's OWN label (a
    * label-table self-join — "comp of my comp"). The jump halves the
    * remaining distance to the component minimum each pass, so convergence
    * is O(log diameter) passes, not O(diameter) — plain one-hop propagation
    * stalled on the fixture's widest component, whose diameter exceeds any
    * reasonable fixed pass budget. Per pass the label frame is
    * localCheckpoint'ed: without it the self-referencing plan doubles each
    * iteration and the driver, not the data, becomes the bottleneck.
    * Throws if `maxIter` passes do not reach the fixpoint (2^maxIter
    * diameter headroom — loud beats silently-wrong labels). Returns
    * (id, comp); docs with no pair never enter the graph (correct for
    * dedup: no pair ⇒ survivor).
    *
    * NOTE this is an eager, action-like builder: the fixed point cannot be
    * expressed as one lazy plan, so calling it RUNS the propagation jobs
    * (localCheckpoint + convergence probes) and the returned frame reads
    * the materialized labels. Plan-only consumers pay the computation at
    * construction.
    *
    * SIZE-GATED DRIVER FAST PATH (the [[graft.operators.Sampling]]
    * `maxLabelBroadcastRows` convention applied to the other end of the
    * same pipeline): a candidate-pair graph is df-capped/blocked by every
    * producer here, so its EDGE count is typically thousands-to-millions —
    * dwarfed by the corpus — while each distributed pass costs two
    * localCheckpoint materializations plus a convergence-probe join
    * (measured 5.2 s of orchestration for an 813-node battery graph
    * whose union-find answer is microseconds). When the edge list fits
    * under `maxDriverEdges` (long-typed ids only), it is collected
    * through a `limit(maxDriverEdges + 1)` — bounded on the driver BY
    * CONSTRUCTION, ~16 B/edge — and labeled with a path-compressing
    * min-root union-find; one more row than the cap abandons the collect
    * and runs the distributed loop unchanged. Identical labels by
    * construction (min transitively-reachable id), spec-pinned against
    * the distributed path on random graphs; pass `maxDriverEdges = 0` to
    * force the distributed loop.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
      maxDriverEdges: Int = 1 << 20): DataFrame = {
    val spark = pairs.sparkSession
    import org.apache.spark.sql.types.LongType
    val longIds = pairs.schema.fields.exists(f =>
        f.name == "id_a" && f.dataType == LongType) &&
      pairs.schema.fields.exists(f =>
        f.name == "id_b" && f.dataType == LongType)
    // The pair subplan (often an expensive shingle/join pipeline)
    // materializes exactly ONCE: the size probe, the driver fast path,
    // and BOTH union branches of the distributed edge frame all read this
    // checkpoint (round-20 advisor item — the previous limit-probe
    // executed the subplan and threw the work away on the over-cap path,
    // and the src/dst union re-ran it twice more inside one job).
    val pinned = pairs.select(col("id_a"), col("id_b")).localCheckpoint(true)
    if (maxDriverEdges > 0 && longIds) {
      val head = pinned.limit(maxDriverEdges + 1).collect()
      // a NULL id would NPE at primitive unboxing here while the
      // distributed loop silently drops null join keys — null presence
      // makes the graph ineligible for the driver labeler, not a crash
      if (head.length <= maxDriverEdges &&
          !head.exists(r => r.isNullAt(0) || r.isNullAt(1))) {
        val (ids, comps) = unionFindLabels(head)
        import spark.implicits._
        return spark.createDataset(ids.zip(comps).toSeq).toDF("id", "comp")
      }
    }
    // lazy over the checkpoint: each pass's join re-reads block-manager
    // rows instead of re-running the pair subplan
    val edges = pinned.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pinned.select(col("id_b").as("src"), col("id_a").as("dst")))
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val viaNeighbors = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("comp"),
          lit(null).cast(LongType).as("__old"))
      // the previous label rides the min aggregate as one extra long
      // column (__old; min over {old, null...} = old — every id has
      // exactly one labels row), so convergence is read off the
      // checkpointed result itself instead of a per-pass probe JOIN of
      // two label tables: at scale that join was a second full label
      // shuffle per pass (guide §2.4); here the probe is a filter scan
      // of block-manager rows. (Round 4 A/B-refuted threading the
      // label through the EDGE join — this threads it through the
      // label-side union only, which the same aggregate already
      // shuffles.)
      val merged = labels
        .select(col("id"), col("comp"), col("comp").as("__old"))
        .union(viaNeighbors)
        .groupBy(col("id"))
        .agg(min(col("comp")).as("comp"), min(col("__old")).as("__old"))
      // pointer jump: comp values are themselves vertex ids, so follow one
      // more hop through the (complete) label table and keep the smaller.
      // The jump side is re-projected under fresh names — a plain
      // .as(alias) self-join of the same plan instance trips attribute
      // dedup during planning
      val next = merged
        .join(merged.select(col("id").as("__jid"), col("comp").as("__jcomp")),
          col("comp") === col("__jid"))
        .select(col("id"), least(col("comp"), col("__jcomp")).as("comp"),
          (least(col("comp"), col("__jcomp")) =!= col("__old")).as("__chg"))
        .localCheckpoint(true)
      converged = next.where(col("__chg")).isEmpty
      labels = next.select(col("id"), col("comp"))
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: no fixpoint after $maxIter passes")
    labels
  }

  /** Driver-side min-root union-find over a bounded edge list — the
    * [[connectedComponents]] fast path's labeler. Roots are always the
    * component minimum (the larger root attaches under the smaller), so
    * after path compression each node's find() IS its label. Returns the
    * (ids, comps) column pair, one entry per distinct vertex, matching
    * the distributed loop's contract exactly.
    *
    * Primitive-array layout (sort-dedup the vertex ids, binary-search to
    * an int index, int parent array): the previous boxed
    * HashMap[Long, Long] held ~150-250 MB at the default 2^20-edge cap
    * (round-20 advisor item); this form is ~24 B/edge transient plus
    * ~12 B/vertex, and ids sort ascending so index order IS id order
    * (min root == min index).
    */
  private def unionFindLabels(
      edges: Array[org.apache.spark.sql.Row]): (Array[Long], Array[Long]) = {
    val m = edges.length
    val ea = new Array[Long](m); val eb = new Array[Long](m)
    var i = 0
    while (i < m) {
      val r = edges(i); ea(i) = r.getLong(0); eb(i) = r.getLong(1); i += 1
    }
    val all = new Array[Long](2 * m)
    System.arraycopy(ea, 0, all, 0, m)
    System.arraycopy(eb, 0, all, m, m)
    java.util.Arrays.sort(all)
    var n = 0; i = 0
    while (i < all.length) {
      if (n == 0 || all(n - 1) != all(i)) { all(n) = all(i); n += 1 }
      i += 1
    }
    val parent = new Array[Int](n)
    i = 0; while (i < n) { parent(i) = i; i += 1 }
    def find(x0: Int): Int = {
      var r = x0
      while (parent(r) != r) r = parent(r)
      var c = x0
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    i = 0
    while (i < m) {
      val ra = find(java.util.Arrays.binarySearch(all, 0, n, ea(i)))
      val rb = find(java.util.Arrays.binarySearch(all, 0, n, eb(i)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 1
    }
    val ids = new Array[Long](n); val comps = new Array[Long](n)
    i = 0
    while (i < n) { ids(i) = all(i); comps(i) = all(find(i)); i += 1 }
    (ids, comps)
  }

  /** Ids to DROP under component dedup: every component member except its
    * min-id representative (the drop-side twin of the greedy pass's
    * `id_b` set, for [[graft.pipelines.TrainingData]]'s anti-join).
    */
  def componentDropIds(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .where(col("id") =!= col("comp"))
      .select(col("id"))

  /** Duplicate-SPAN detection — substring-level dedup in the posture of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"): a k-token window whose exact text occurs at least `minCount`
    * times ANYWHERE in the corpus (across documents or repeated within one)
    * marks every token position it covers as duplicated; overlapping or
    * adjacent marked windows merge into maximal spans. Document-level dedup
    * ([[exactDedup]], [[minHashLshPairs]]) misses exactly this: boilerplate
    * headers, license blocks, and templated paragraphs embedded inside
    * otherwise-unique documents.
    *
    * Returns one row per document containing at least one duplicated
    * window: (idCol, dup_spans = merged span count, dup_tokens = tokens
    * covered by at least one duplicated window).
    *
    * 100 TB shape: the corpus-wide window count is ONE hash aggregate whose
    * exchange carries 16-hex-char md5-prefix fingerprints
    * ([[TextFunctions.gramFingerprints]]), never gram text; the join back is
    * a fingerprint semi-join; span merging needs no interval UDF — with
    * same-length sorted windows, coverage is the gaps-and-islands identity
    * `k for the first window, min(pos - prev_pos, k) after` and a new span
    * starts exactly when `pos - prev_pos > k`, so both reduce to one window
    * function over (doc, pos) and one aggregate, replicated verbatim by the
    * DuckDB oracle (q104).
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minCount: Int = 2): DataFrame =
    spanAgg(duplicateWindowPositions(docs, idCol, textCol, k, minCount),
      idCol, k)

  /** (idCol, pos, fp) of every k-token window, fingerprinted — the shared
    * gram builder of [[duplicateSpans]] and [[incrementalDuplicateSpans]].
    */
  private def windowGrams(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    docs.select(
      col(idCol),
      posexplode(TextFunctions.gramFingerprints(
        TextFunctions.words(col(textCol)), k)).as(Seq("pos", "fp")))

  /** The gaps-and-islands span merge over duplicated-window hits
    * (idCol, pos): with same-length sorted windows, a new span starts
    * exactly when `pos - prev_pos > k`, and coverage adds `k` for a span
    * head and `min(gap, k)` after. Oracle-pinned core shared by
    * [[duplicateSpans]] and [[incrementalDuplicateSpans]] (q104/q105
    * replicate this identity verbatim in DuckDB).
    */
  private def spanAgg(hits: DataFrame, idCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
    hits
      .withColumn("gap", col("pos") - lag("pos", 1).over(w))
      .groupBy(col(idCol))
      .agg(
        count(when(col("gap").isNull || col("gap") > k, 1)).as("dup_spans"),
        sum(when(col("gap").isNull || col("gap") >= k, k)
          .otherwise(col("gap"))).as("dup_tokens"))
  }

  /** (idCol, pos) of every k-token window occurring >= minCount times
    * corpus-wide; positions are 0-based over [[TextFunctions.words]].
    */
  private def duplicateWindowPositions(docs: DataFrame, idCol: String,
      textCol: String, k: Int, minCount: Int): DataFrame = {
    val grams = windowGrams(docs, idCol, textCol, k)
    val dup = grams.groupBy(col("fp"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .select(col("fp"))
    grams.join(dup, Seq("fp"), "left_semi").select(col(idCol), col("pos"))
  }

  /** The removal twin of [[duplicateSpans]]: rewrites each document's
    * NORMALIZED token stream ([[TextFunctions.words]]: lowercased, \W+
    * split) with every duplicated-window token removed, preserving the
    * survivors' order. Documents with no duplicated window pass through
    * with their normalized text intact, so
    * `size(words(out)) = size(words(in)) - dup_tokens` holds for every row
    * (spec-pinned).
    *
    * The per-document coverage test is an indexed-lambda filter over the
    * token array against the MERGED [start, end) span list — not the raw
    * window-position list, which for a boilerplate-heavy document holds
    * ~one entry per token and would make the lambda quadratic in document
    * length. Merging first (the same gaps-and-islands identity as
    * [[spanAgg]], expressed as a running span-id) bounds the inner scan at
    * the span count, and the left join keeps the clean majority out of the
    * lambda's way entirely.
    */
  def stripDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minCount: Int = 2): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
    val spans = duplicateWindowPositions(docs, idCol, textCol, k, minCount)
      .withColumn("gap", col("pos") - lag("pos", 1).over(w))
      .withColumn("span_id",
        sum(when(col("gap").isNull || col("gap") > k, 1).otherwise(0)).over(w))
      .groupBy(col(idCol), col("span_id"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + k).as("e"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("s"), col("e"))))
        .as("__dup_spans"))
    docs.join(spans, Seq(idCol), "left")
      .withColumn(textCol, {
        val ws = TextFunctions.words(col(textCol))
        when(col("__dup_spans").isNull, concat_ws(" ", ws))
          .otherwise(concat_ws(" ",
            filter(ws, (_, i) =>
              !exists(col("__dup_spans"),
                sp => i >= sp.getField("s") && i < sp.getField("e")))))
      })
      .drop("__dup_spans")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023 posture): blocked
    * cosine near-dup pairs above `threshold` -> connected components ->
    * keep ONE representative (the min id) per semantic cluster, return
    * the surviving rows. Composes three verified pieces —
    * [[embeddingNearDupPairs]] (keyed join, never all-pairs),
    * [[connectedComponents]] (pointer jumping, O(log d) passes), and a
    * digest-free anti-join on ids — so the only corpus-scale shuffles are
    * the block-keyed pair join and the id anti-join; docs in no pair
    * survive untouched without entering the component loop at all.
    */
  def semanticDedup(embs: DataFrame, idCol: String, embCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val pairs = embeddingNearDupPairs(embs, idCol, embCol, blockCol, threshold)
    val drop = connectedComponents(pairs.select(col("id_a"), col("id_b")))
      .where(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    embs.join(drop, Seq(idCol), "left_anti")
  }

  /** [[semanticDedup]] under a caller-chosen keep policy (the
    * [[exactGroupsBy]] pattern lifted to semantic clusters): within each
    * connected component the survivor maximizes `priority` (ties to min
    * id) — "keep the best-quality / freshest member of each semantic
    * cluster", where [[semanticDedup]]'s min-id pick is arbitrary.
    * Representative selection is one hash aggregate over the component
    * labels (the packed-long `max_by`, same arithmetic the q112 oracle
    * replays via `arg_max`); docs in no pair never enter the loop and
    * always survive. Same id/priority ranges as [[exactGroupsBy]].
    */
  def semanticDedupBy(embs: DataFrame, idCol: String, embCol: String,
      blockCol: String, threshold: Double, priority: Column): DataFrame = {
    val pairs = embeddingNearDupPairs(embs, idCol, embCol, blockCol, threshold)
    val labels = connectedComponents(pairs.select(col("id_a"), col("id_b")))
    val keep = labels
      .join(embs.select(col(idCol).as("id"), priority.cast("long").as("__p")),
        Seq("id"))
      .groupBy(col("comp"))
      .agg(max_by(col("id"),
        coalesce(col("__p"), lit(0L)) * lit(1L << 40) - col("id")).as("id"))
      .select(col("id"))
    // survivors = (docs in no pair) + (each component's chosen keeper):
    // drop every labeled doc that is not its component's pick
    val drop = labels.join(keep, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
    embs.join(drop, Seq(idCol), "left_anti")
  }

  /** Cross-run incremental [[semanticDedup]] — completes the incremental
    * family (exact / MinHash / SimHash / spans) for semantic clusters:
    * dedup a new batch against itself AND every previously-seen batch,
    * e.g. this month's crawl against last month's corpus.
    *
    * History stores (doc_id, block, emb as array<double>) per `batch=<id>`
    * dir — block-keyed exactly like the live operator, so the cross join
    * shuffles on the block key, never all-pairs, and the double widening
    * is IEEE-exact (cosine_sim computes in double regardless), keeping
    * cross-batch similarities bit-identical to in-batch ones.
    *
    * Semantics: connected components over (in-batch pairs ∪ cross-batch
    * pairs). A batch doc in a component containing ANY history doc drops —
    * its cluster already has a survivor emitted by a previous run, even
    * when the batch doc's id is smaller (min-id would re-emit the
    * cluster). Batch-only components keep the min id, so against an EMPTY
    * history this is exactly [[semanticDedup]] and q110's oracle applies
    * verbatim. Returns the surviving batch rows unchanged.
    *
    * Replay-safe through [[BatchTable]]; the result is spilled before the
    * history write. A doc id resubmitted across batches keeps its
    * first-seen embedding row per batch dir; the cross join's `doc_id`
    * inequality keeps it from self-pairing.
    */
  def incrementalSemanticDedup(embs: DataFrame, idCol: String, embCol: String,
      blockCol: String, threshold: Double, histTablePath: String,
      batchId: String = null): DataFrame =
    incrementalSemantic(embs, idCol, embCol, blockCol, threshold,
      histTablePath, batchId, col(embCol).cast("array<double>"),
      "emb ARRAY<DOUBLE>", GraftFunctions.cosine_sim)

  /** [[incrementalSemanticDedup]] with an int8-QUANTIZED history: the
    * cross-run table stores 1-byte-per-dim packed codes
    * ([[graft.functions.Int8Pack]]) instead of `array<double>` — ~8x
    * smaller history scans and block-join exchanges — and cross-batch
    * candidate scoring runs the integer-dot
    * [[graft.functions.CosineInt8]] kernel (cosine is invariant under
    * the per-vector quantization scale, so the table needs no scale
    * column and the scoring no dequantization; the same posture as the
    * int8 posting codec of the quantized ANN indexes, `Similarity.int8Codes`).
    *
    * In-batch pairs stay FLOAT-exact (the batch's own embeddings are in
    * hand), so against an empty history this is exactly [[semanticDedup]]
    * like the float-history form. Cross-batch similarities are quantized
    * approximations: near-threshold pairs can flip either way, so the
    * survivor set is spec-gated against the float-history path with a
    * symmetric-difference bound (`IncrementalDedupSpec`); an exact or
    * same-direction duplicate still scores int8 cosine 1.0 and is always
    * caught. The float form stays the oracle default (q117) — choose
    * this one when history-table size dominates pipeline cost. The two
    * forms' history schemas differ: never point them at one table path.
    * [[compactEmbeddings]] folds the accumulating dirs (distinct by
    * doc_id — the fold never reads vector payloads).
    */
  def incrementalSemanticDedupInt8(embs: DataFrame, idCol: String,
      embCol: String, blockCol: String, threshold: Double,
      histTablePath: String, batchId: String = null): DataFrame = {
    incrementalSemantic(embs, idCol, embCol, blockCol, threshold,
      histTablePath, batchId, Similarity.int8Codes(col(embCol)), "qb BINARY",
      GraftFunctions.cosine_int8)
  }

  /** The one body of the incremental semantic pair: the history table
    * holds (doc_id, block, <payload>) with `payload` stored under the
    * `payloadDdl` column, and `score` rates a history payload against a
    * batch payload for the cross-batch pairs. In-batch pairs are always
    * the float-exact [[embeddingNearDupPairs]].
    */
  private def incrementalSemantic(embs: DataFrame, idCol: String,
      embCol: String, blockCol: String, threshold: Double,
      histTablePath: String, batchId: String, payload: Column,
      payloadDdl: String, score: (Column, Column) => Column): DataFrame = {
    val bid = BatchTable.batchId(batchId)
    val p = payloadDdl.takeWhile(_ != ' ')
    // materialize once: the batch feeds the self-join (x2), the cross
    // join, the final anti-join, and the history append
    val batch = graft.io.Spill(embs, "graft-semb-")
    val bproj = batch.select(col(idCol).cast("long").as("doc_id"),
      col(blockCol).cast("string").as("block"), payload.as(p))
    val hist = BatchTable.history(embs.sparkSession, histTablePath,
      s"doc_id BIGINT, block STRING, $payloadDdl", bid)
    val inBatch = embeddingNearDupPairs(batch, idCol, embCol, blockCol, threshold)
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
    val cross = hist.as("h")
      .join(bproj.as("n"),
        col("h.block") === col("n.block") &&
          col("h.doc_id") =!= col("n.doc_id"))
      .where(round(score(col(s"h.$p"), col(s"n.$p")), 4) >= threshold)
      .select(least(col("h.doc_id"), col("n.doc_id")).as("id_a"),
        greatest(col("h.doc_id"), col("n.doc_id")).as("id_b"))
    val labels = connectedComponents(inBatch.unionByName(cross).distinct())
    // components touching history: every batch member drops (the cluster's
    // survivor was already emitted); batch-only components: keep min id
    val histComps = labels
      .join(hist.select(col("doc_id").as("id")).distinct(), Seq("id"))
      .select(col("comp")).distinct()
    val drop = labels.join(histComps, Seq("comp"), "left_semi")
      .select(col("id"))
      .unionByName(labels.join(histComps, Seq("comp"), "left_anti")
        .where(col("id") =!= col("comp")).select(col("id")))
    val result = graft.io.Spill(
      batch.join(drop, col(idCol).cast("long") === col("id"), "left_anti"),
      "graft-seminc-")
    BatchTable.overwrite(bproj, histTablePath, bid)
    result
  }

  /** Embedding-cosine near-duplicate pairs, blocked on a partition column
    * (label, LSH bucket, ...) so the pair join shuffles on the block key
    * instead of exploding into a cross product.
    */
  def embeddingNearDupPairs(embs: DataFrame, idCol: String, embCol: String,
      blockCol: String, threshold: Double): DataFrame =
    embs.as("a")
      .join(embs.as("b"),
        col(s"a.$blockCol") === col(s"b.$blockCol") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(
        col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        round(GraftFunctions.cosine_sim(col(s"a.$embCol"), col(s"b.$embCol")), 4).as("sim"))
      .where(col("sim") >= threshold)
}
