package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.TextFunctions
import graft.operators.Dedup

/** CONTINUOUS training-data prep — the q90 chain with the incremental
  * family swapped in, composed as one `foreachBatch` pipeline over
  * arrival epochs: the optional map-only literal-phrase blocklist
  * (stage 0, the same [[graft.operators.TextAnalysis.blocklistGate]]
  * the batch pipeline runs first), cross-run exact dedup
  * ([[Dedup.incrementalExactDedup]] — a text seen in ANY earlier epoch
  * never re-enters), the map-only language/quality gates of
  * [[TrainingData.clean]] (optionally the trained
  * [[graft.operators.NaiveBayes]] gate, word or char-gram features),
  * then cross-run near-dup removal
  * ([[Dedup.incrementalMinhashLsh]] — the batch pairs against itself AND
  * every previously accepted epoch's signatures), and optionally the
  * fixed-model gates: trigram-LM perplexity against precomputed tiers
  * ([[graft.operators.NgramLm.trigramTiers]]) and the DSIR
  * target-likeness floor against a fixed persisted ratio table
  * ([[graft.operators.Dsir.scoreAgainstRatio]]) — every model gate the
  * batch pipeline offers, each against a model fitted ONCE (per-epoch
  * refits would make decisions depend on arrival batching).
  *
  * EPOCH ≡ UNION: processing epochs one at a time produces exactly the
  * survivors of one call over the union of all epochs (spec-pinned in
  * `StreamingPrepSpec`), PROVIDED ids are monotonically increasing
  * across epochs — the natural shape for streaming ingestion (offsets,
  * arrival sequence). Under that precondition "drop the id_b of a pair"
  * is the same greedy keep-smallest decision whether the smaller doc
  * arrived in this epoch or an earlier one, and each gate is per-doc
  * deterministic, so the fold is exact (the associativity argument of
  * the incremental dedup family, composed end to end).
  *
  * Retry safety is inherited: every persistent table is a
  * [[graft.io.BatchTable]] keyed by the epoch, so a replayed micro-batch
  * (checkpoint restart mid-epoch) recomputes the identical survivor set
  * instead of anti-joining against its own first attempt. The survivor
  * write is the same per-epoch overwrite. At scale, fold the accruing
  * dirs with
  * [[Dedup.compactFingerprints]]/[[Dedup.compactSignatures]] on a
  * maintenance cadence.
  */
object StreamingPrep {

  /** Survivors of one epoch against the persistent state under
    * `tablesDir` (`fps` fingerprint table, `sigs` signature table).
    * Returns (idCol, textCol, lang_pred, n_words, quality).
    */
  def processBatch(batch: DataFrame, idCol: String, textCol: String,
      tablesDir: String, batchId: String,
      lang: String = "en", minQuality: Double = 0.26,
      nearDupThreshold: Double = 0.5, minhashK: Int = 16,
      nbModel: Option[DataFrame] = None,
      nbCharGrams: Option[(Int, Int)] = None,
      maxDupGramFrac: Double = 1.0,
      lmTiers: Option[graft.operators.NgramLm.TrigramTiers] = None,
      maxLmBits: Double = Double.MaxValue,
      dsirRatio: Option[DataFrame] = None,
      minDsirLogw: Double = 0.0,
      dsirSalt: String = "dsir",
      blocklistPhrases: Seq[String] = Nil,
      blocklistMaxHits: Long = 0,
      gopherGate: Boolean = false,
      compressionRatioBounds: Option[(Double, Double)] = None,
      fixEncoding: Boolean = false,
      maxControlFrac: Double = 0.2,
      c4MinLineWords: Option[Int] = None,
      bloomDedup: Boolean = false,
      lineage: Option[TrainingData.LineageRecorder] = None): DataFrame = {
    // 0-enc. optional Unicode/mojibake repair — the same map-only
    // [[graft.operators.Encoding]] chain as the batch pipeline's 0-enc,
    // at the same point: per-doc deterministic (epoch ≡ union holds),
    // and repaired text is what enters the fingerprint table, so a
    // mojibake twin of an accepted doc deduplicates instead of
    // re-entering
    val encFixed = if (!fixEncoding) batch else {
      val pre = batch.withColumn("__enc0",
          graft.operators.Encoding.normalizeConfusables(
            graft.operators.Encoding.repairMojibake(col(textCol))))
        .withColumn("__enc1",
          graft.operators.Encoding.stripControls(col("__enc0")))
      val keep = length(col("__enc0")) === 0 ||
        (length(col("__enc0")) - length(col("__enc1"))).cast("double") <=
          lit(maxControlFrac) * length(col("__enc0")).cast("double")
      lineage.foreach(_.where("encoding", pre, keep,
        lit(s"control_frac>$maxControlFrac")))
      pre.where(keep).withColumn(textCol, col("__enc1"))
        .drop("__enc0", "__enc1")
    }
    // 0-lines. optional C4 line-level cleaning — the same map-only
    // [[graft.operators.Lines]] rewrite + doc gate at the batch
    // pipeline's 0-lines point; per-doc deterministic, so epoch ≡
    // union holds and the REWRITTEN text is what fingerprints
    val c4Gated = c4MinLineWords.fold(encFixed) { mw =>
      val flagged = encFixed
        .withColumn("__c4_brace", col(textCol).contains("{"))
        .withColumn("__c4_lorem",
          lower(col(textCol)).contains("lorem ipsum"))
      val keep = !col("__c4_brace") && !col("__c4_lorem")
      lineage.foreach(_.where("c4_doc", flagged, keep,
        when(col("__c4_brace"), "contains_brace")
          .otherwise("contains_lorem_ipsum")))
      flagged.where(keep)
        .withColumn(textCol, array_join(
          filter(split(col(textCol), "\n"),
            l => graft.operators.Lines.c4LineKeep(l, mw)), "\n"))
        .drop("__c4_brace", "__c4_lorem")
    }
    // 0. optional literal-phrase blocklist — the same map-only
    // [[graft.operators.TextAnalysis.blocklistGate]] the batch pipeline
    // runs first, at the same point: per-doc deterministic, so it
    // commutes with the dedup fold (identical text gates identically)
    // and blocked docs never enter the fingerprint table
    val listed0 = if (blocklistPhrases.isEmpty) c4Gated
      else graft.operators.TextAnalysis.blocklistGate(
        c4Gated, idCol, textCol, blocklistPhrases, blocklistMaxHits)
    if (blocklistPhrases.nonEmpty) lineage.foreach(
      _.diff("blocklist", s"phrase_hits>$blocklistMaxHits", c4Gated,
        listed0))
    // 0a2. optional Gopher rule gate — same map-only
    // [[graft.operators.TextAnalysis.gopherPass]] filter at the same
    // point as the batch pipeline's stage 0a2; per-doc deterministic,
    // so epoch ≡ union holds unchanged and rule-failing docs never
    // enter the fingerprint table
    val listed1 = if (!gopherGate) listed0
      else listed0.where(
        graft.operators.TextAnalysis.gopherPass(col(textCol)))
    if (gopherGate) lineage.foreach(
      _.diff("gopher", "gopher_rules_fail", listed0, listed1))
    // 0a3. optional compression-ratio gate — same map-only deflate
    // predicate at the same point as the batch pipeline's stage 0a3;
    // per-doc deterministic, so epoch ≡ union holds unchanged and
    // over/under-compressible docs never enter the fingerprint table
    // single-eval [[graft.functions.DeflateRatioGate]] predicate — one
    // deflate per row, same rationale as the batch pipeline's stage 0a3
    val listed = compressionRatioBounds.fold(listed1) { case (lo, hi) =>
      val gated = listed1.where(graft.functions.GraftFunctions
        .deflate_ratio_in(col(textCol), lo, hi))
      lineage.foreach(_.diff("compression",
        s"ratio_outside_[$lo,$hi]", listed1, gated))
      gated
    }
    // 1. cross-run exact dedup: in-batch min-id collapse + anti-join
    // against every earlier epoch's fingerprints; `bloomDedup` routes
    // through the persisted-filter fast path (bit-identical survivors
    // by the [[Dedup.incrementalExactDedupBloom]] contract — the filter
    // only routes rows, and its superset-first ordering survives epoch
    // replays), which at continuous-ingestion cadence stops the epoch
    // cost growing with the fingerprint history
    val gatedDocs = listed.select(col(idCol), col(textCol))
    val novel = if (bloomDedup)
      Dedup.incrementalExactDedupBloom(gatedDocs, idCol, textCol,
        s"$tablesDir/fps", batchId)
    else Dedup.incrementalExactDedup(gatedDocs, idCol, textCol,
      s"$tablesDir/fps", batchId)
    lineage.foreach(
      _.diff("exact_dedup", "duplicate_text", listed, novel))
    // 2+3 (+2b, +2a'): THE shared gate of TrainingData.clean — one
    // definition, so batch and streaming survivor sets cannot silently
    // diverge. Under a model gate the projection spills before the
    // classify/join-back self-join (the spill-before-self-join
    // discipline); the gate output spills again for its two consumers
    // below (sig pass + anti-join).
    val gated = graft.io.Spill(
      TrainingData.langQualityGate(novel, idCol, textCol, lang, minQuality,
        maxDupGramFrac, nbModel, nbCharGrams,
        df => graft.io.Spill(df, "graft-sprep-g0-"), lineage),
      "graft-sprep-")
    // 4. cross-run near-dup removal among gated docs: greedy
    // keep-smallest — under monotonic epoch ids a cross-epoch pair's
    // id_b is always the NEW doc, so accepted history is never retracted
    val pairs = Dedup.incrementalMinhashLsh(
      gated.select(col(idCol), col(textCol)), idCol, textCol,
      s"$tablesDir/sigs", k = minhashK,
      minEstJaccard = nearDupThreshold, batchId = batchId)
    val deduped0 = gated.join(
      pairs.select(col("id_b").cast("long").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
    lineage.foreach(_.rows(pairs.groupBy(col("id_b"))
      .agg(min(col("id_a")).as("__of"))
      .select(col("id_b").cast("long").as(idCol),
        lit("near_dup").as("stage"),
        concat(lit("near_dup_of="), col("__of")).as("reason"))))
    // 4c. optional perplexity gate against FIXED precomputed trigram
    // tiers (`NgramLm.trigramTiers`, built ONCE by the caller OUTSIDE
    // any Spill.scoped region — the streaming mirror of
    // TrainingData.clean's stage 4c at lmOrder=3; training or tier
    // rollups per epoch would re-run model-sized work every micro-batch,
    // and per-epoch training would break epoch ≡ union). The survivor
    // frame feeds the scoring pass and the anti-join's left side, so it
    // spills before the fork. Anti-join against the OVER-threshold ids
    // so too-short-to-score docs pass through.
    val deduped = lmTiers.fold(deduped0) { tiers =>
      val gateIn = graft.io.Spill(deduped0, "graft-sprep-lm-")
      val tooSurprising = graft.operators.NgramLm.scoreBitsTiers(
          gateIn, idCol, textCol, tiers)
        .where(col("bits") > maxLmBits)
        .select(col("doc_id").as(idCol))
      val out = gateIn.join(tooSurprising, Seq(idCol), "left_anti")
      lineage.foreach(
        _.diff("perplexity", s"bits>$maxLmBits", gateIn, out))
      out
    }
    // 5. optional DSIR target-likeness floor against a FIXED persisted
    // ratio table ([[graft.operators.Dsir.fitRatio]] — fitting per epoch
    // would make per-doc decisions depend on arrival batching, breaking
    // epoch ≡ union; a fixed model keeps the gate per-doc deterministic,
    // the streaming mirror of TrainingData.clean's stage 4d). The
    // survivor frame feeds the feature fold, the id join, and the
    // semi-join back, so it spills before the fork.
    dsirRatio.fold(deduped) { r =>
      val gateIn = graft.io.Spill(deduped, "graft-sprep-dsir-")
      val keep = graft.operators.Dsir.scoreAgainstRatio(
          gateIn.select(col(idCol), col(textCol)), idCol, textCol,
          r, dsirSalt)
        .where(col("logw") >= minDsirLogw)
        .select(col("doc_id").as(idCol))
      val out = gateIn.join(keep, Seq(idCol), "left_semi")
      lineage.foreach(
        _.diff("dsir", s"logw<$minDsirLogw", gateIn, out))
      out
    }
  }

  /** Wire [[processBatch]] into a streaming query: each micro-batch's
    * survivors land in `outDir/batch=epoch-<id>` (an overwritten dir —
    * replay-idempotent), with the epoch id as the incremental tables'
    * batch id. Checkpointed: a restart resumes from unprocessed input.
    *
    * `lineageDir`: when set, each epoch's drop-reason lineage (the
    * [[TrainingData.LineageRecorder]] frame — same stage labels and
    * reasons as the batch pipeline's) is written to
    * `lineageDir/batch=epoch-<id>`, ALSO an overwritten per-epoch dir,
    * so a replayed micro-batch rewrites the identical lineage instead
    * of duplicating rows (the same retry discipline as the survivor
    * and state-table writes). Per-epoch survivors ∪ lineage partition
    * the epoch's input exactly once, and the union of per-epoch
    * lineage equals the one-shot lineage over the unioned input under
    * the monotonic-id precondition (spec-pinned in
    * `StreamingPrepSpec`).
    */
  def stream(input: DataFrame, idCol: String, textCol: String,
      tablesDir: String, outDir: String, checkpointDir: String,
      lang: String = "en", minQuality: Double = 0.26,
      nearDupThreshold: Double = 0.5, minhashK: Int = 16,
      nbModel: Option[DataFrame] = None,
      nbCharGrams: Option[(Int, Int)] = None,
      maxDupGramFrac: Double = 1.0,
      lmTiers: Option[graft.operators.NgramLm.TrigramTiers] = None,
      maxLmBits: Double = Double.MaxValue,
      dsirRatio: Option[DataFrame] = None,
      minDsirLogw: Double = 0.0,
      dsirSalt: String = "dsir",
      blocklistPhrases: Seq[String] = Nil,
      blocklistMaxHits: Long = 0,
      gopherGate: Boolean = false,
      compressionRatioBounds: Option[(Double, Double)] = None,
      fixEncoding: Boolean = false,
      maxControlFrac: Double = 0.2,
      c4MinLineWords: Option[Int] = None,
      bloomDedup: Boolean = false,
      lineageDir: Option[String] = None): StreamingQuery =
    input.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, epoch: Long) =>
        // scoped, NOT releaseAll: the epoch's internal spills die at
        // batch end, while Spill-persisted frames the CALLER passed in
        // (nbModel, lmTiers, dsirRatio) must survive into the next epoch
        graft.io.Spill.scoped {
          val rec = lineageDir.map(_ =>
            TrainingData.lineageRecorder(idCol))
          val bid = s"epoch-$epoch"
          graft.io.BatchTable.overwrite(
            processBatch(b, idCol, textCol, tablesDir, bid,
              lang, minQuality, nearDupThreshold, minhashK,
              nbModel, nbCharGrams, maxDupGramFrac,
              lmTiers, maxLmBits, dsirRatio, minDsirLogw, dsirSalt,
              blocklistPhrases, blocklistMaxHits, gopherGate,
              compressionRatioBounds,
              fixEncoding, maxControlFrac, c4MinLineWords, bloomDedup,
              rec),
            outDir, bid)
          // lineage AFTER the survivor write: the epoch's state-table
          // dirs exist by now and the history reads exclude this
          // epoch's own batch dir, so the recorded frames re-evaluate
          // to the same drops a replay would recompute
          lineageDir.foreach(ld =>
            graft.io.BatchTable.overwrite(rec.get.frame(b.sparkSession), ld, bid))
        }
        ()
      }.start()
}
