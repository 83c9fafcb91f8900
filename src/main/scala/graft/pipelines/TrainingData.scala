package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Dedup

/** The composed training-data cleaning pipeline — the north-star use case
  * end-to-end: every stage is one of the engine's operators, chained as a
  * single declarative plan so Catalyst sees (and optimizes) the whole
  * dataflow at once.
  *
  * Stages:
  *   1. exact dedup on normalized text (min-id representative) —
  *      [[Dedup.exactDedup]];
  *   2. language gate (n-gram marker argmax) — [[TextFunctions.langId]];
  *   3. quality gate (diversity + stopword + length score) —
  *      [[TextFunctions.qualityScore]];
  *   4. near-duplicate removal: df-capped n-gram Jaccard pairs
  *      ([[Dedup.ngramJaccardPairs]]); of each >= threshold pair the larger
  *      id is dropped (greedy keep-smallest — deterministic and cheap; a
  *      connected-component pass would keep strictly more docs at the cost
  *      of an iterative join);
  *   5. per-doc token accounting for the surviving corpus.
  *
  * Optional gates (off by default, so the q45 oracle semantics are the
  * five stages above): `htmlCol` runs [[graft.operators.Html.extract]]
  * BEFORE everything (0-pre — map-only, the crawled-corpus entry point:
  * chrome/script removal + text-density block filter, extracted main
  * text becomes `textCol` for every later stage), `fixEncoding` runs
  * the [[graft.operators.Encoding]] mojibake/confusable/control repair
  * right after it (0-enc — map-only; docs whose text was mostly
  * control/binary junk drop with reason "control_frac", so binary
  * garbage never reaches dedup), `c4MinLineWords` then applies the C4
  * line rules (0-lines — [[graft.operators.Lines]]: offending lines
  * are REMOVED from each doc, and brace/lorem docs drop entirely with
  * reason "contains_brace"/"contains_lorem_ipsum"),
  * `blocklistPhrases` drops docs whose literal-phrase
  * occurrence total exceeds `blocklistMaxHits` BEFORE every other stage
  * (0a — [[graft.operators.TextAnalysis.blocklistGate]], map-only, so
  * blocked docs consume no domain-cap budget and never pay dedup),
  * `stripSpansK` removes corpus-duplicated k-token
  * spans from each survivor's normalized text after exact dedup (1b —
  * [[Dedup.stripDuplicateSpans]], the RefinedWeb exact-substring pass),
  * `langModel` swaps the n-gram-marker language heuristic for a trained
  * [[graft.operators.NaiveBayes]] model table's prediction (2a' — the
  * C4-style trained-filter posture; the model is data, so re-gating
  * with a better classifier is a table swap, at the cost of the NB
  * scoring joins instead of a map-only projection),
  * `maxDupGramFrac` adds the Gopher-style repetition
  * gate after quality (2b — map-only, rides the same projection),
  * `minQualityQuantile` tightens the quality gate ADAPTIVELY on top of
  * the fixed floor — keep only docs at/above the q-quantile of quality
  * among the gated survivors (3b —
  * [[graft.operators.Profile.groupQuantileFloor]]; a broadcast threshold
  * join, no corpus shuffle; since the pipeline gates to ONE language,
  * this is a global quantile within it — the per-LANGUAGE adaptation is
  * the operator's direct multilingual use), and
  * `decontaminateProbes` drops survivors containing a benchmark doc
  * after near-dup removal (4b — [[graft.operators.TextAnalysis.decontaminate]]),
  * and `dsirTarget` floors survivors on their DSIR importance log-weight
  * against a curated target corpus (4d — [[graft.operators.Dsir]], the
  * "keep data that looks like the target" selection pass).
  *
  * Scale shape: stages 1-3 and 5 are map-only or single hash-aggregate;
  * stage 4 is the inverted-index join (sub-quadratic, df-capped). Nothing
  * collects; the output is a plan over the input DataFrame.
  *
  * The gated subset feeds five plan branches (pair join sides, df count,
  * anti-join, final projection); DataFrame self-references duplicate the
  * subtree, so `cacheIntermediate` (default on) materializes the gated set
  * once to a session-temp parquet directory and every branch scans the
  * materialized columnar rows instead of re-running dedup + regex scoring
  * five times. A spill file beats `.persist()` here because the returned
  * value is a lazy plan: a persist could only be released after the caller
  * materializes it, so the cached blocks leaked for the session lifetime
  * (round-2 verdict); the temp directory is deleted on JVM exit and holds
  * compressed parquet, not executor memory. At 100 TB this is exactly the
  * "write the gated set to an intermediate table" pattern. Pass false when
  * the caller manages its own intermediate storage.
  */
object TrainingData {

  private def spill(df: DataFrame): DataFrame = graft.io.Spill(df, "graft-gated-")

  /** Drop-reason lineage: pass one of these to [[clean]] and every gate
    * records `(doc_id, stage, reason)` for the docs it drops — "why did
    * doc X drop, at which stage" WITHOUT re-running the pipeline. The
    * drops are recorded from the SAME DataFrames the pipeline gates on
    * (one definition — the audit cannot silently diverge from the
    * pipeline), as lazy plans: predicate gates record the NEGATED
    * filter over their input frame (map-only, rides the same scan);
    * join-based gates (dedup, decontamination, ...) record a
    * before-minus-after id anti-join. [[frame]] unions them.
    *
    * Every doc of the input lands in exactly one place: the survivor
    * output or ONE lineage row (first-failing gate wins — pinned by
    * `TrainingDataSpec`'s partition property). Cost: evaluating the
    * lineage frame re-runs gate predicates over stage inputs; under
    * `cacheIntermediate` the expensive prefixes are the same spilled
    * parquet the pipeline itself scans, so the audit adds map-side
    * filter passes plus the anti-joins — turn it on for audit runs,
    * not permanently on the hot path (it's opt-in for that reason).
    */
  final class LineageRecorder private[pipelines] (val idCol: String) {
    private val drops = scala.collection.mutable.Buffer.empty[DataFrame]

    /** Predicate gate: docs of `frame` failing `keep` dropped here. */
    private[pipelines] def where(stage: String, frame: DataFrame,
        keep: Column, reason: Column): Unit =
      drops += frame.where(!keep)
        .select(col(idCol), lit(stage).as("stage"), reason.as("reason"))

    /** Join gate: ids in `before` missing from `after` dropped here. */
    private[pipelines] def diff(stage: String, reason: String,
        before: DataFrame, after: DataFrame): Unit =
      drops += before.select(col(idCol))
        .join(after.select(col(idCol)), Seq(idCol), "left_anti")
        .select(col(idCol), lit(stage).as("stage"), lit(reason).as("reason"))

    /** Pre-built (id, stage, reason) rows from a gate that knows more
      * (e.g. near-dup keeper ids).
      */
    private[pipelines] def rows(df: DataFrame): Unit = drops += df

    /** The audit frame: one `(idCol, stage, reason)` row per dropped
      * doc, every stage recorded so far. Call after [[clean]] returns.
      */
    def frame(spark: org.apache.spark.sql.SparkSession): DataFrame =
      if (drops.isEmpty) {
        import org.apache.spark.sql.types._
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField(idCol, LongType),
            StructField("stage", StringType),
            StructField("reason", StringType))))
      } else drops.reduce(_ unionByName _)
  }

  def lineageRecorder(idCol: String): LineageRecorder =
    new LineageRecorder(idCol)

  /** `componentDedup = false` (default): greedy keep-smallest — drop the
    * larger id of each >= threshold pair (cheap, one anti-join; keeps a doc
    * whose only partners are larger ids even when transitively connected to
    * a smaller survivor). `true`: transitive-closure dedup — drop every
    * component member except its min id ([[Dedup.connectedComponents]]);
    * strictly-stricter survivors at the cost of the iterative label
    * propagation.
    */
  def clean(docsIn: DataFrame, idCol: String, textCol: String,
      lang: String = "en", minQuality: Double = 0.26,
      nearDupThreshold: Double = 0.5, maxDf: Int = 100,
      cacheIntermediate: Boolean = true,
      componentDedup: Boolean = false,
      maxDupGramFrac: Double = 1.0,
      decontaminateProbes: Option[DataFrame] = None,
      contaminationThreshold: Double = 0.8,
      maxLmBits: Option[Double] = None,
      lmReference: Option[DataFrame] = None,
      lmOrder: Int = 2,
      stripSpansK: Option[Int] = None,
      stripSpansMinCount: Int = 2,
      minQualityQuantile: Option[Double] = None,
      urlCol: Option[String] = None,
      robotsTable: Option[DataFrame] = None,
      robotsAgent: String = "*",
      domainBlocklist: Seq[String] = Nil,
      maxPerDomain: Long = Long.MaxValue,
      dedupByUrl: Boolean = false,
      langModel: Option[DataFrame] = None,
      langModelCharGrams: Option[(Int, Int)] = None,
      dsirTarget: Option[DataFrame] = None,
      minDsirLogw: Double = 0.0,
      dsirBuckets: Int = 1024,
      dsirSalt: String = "dsir",
      blocklistPhrases: Seq[String] = Nil,
      blocklistMaxHits: Long = 0,
      gopherGate: Boolean = false,
      compressionRatioBounds: Option[(Double, Double)] = None,
      htmlCol: Option[String] = None,
      htmlMinTextChars: Int = 20,
      htmlMaxLinkDensity: Double = 0.5,
      fixEncoding: Boolean = false,
      maxControlFrac: Double = 0.2,
      c4MinLineWords: Option[Int] = None,
      lineage: Option[LineageRecorder] = None): DataFrame = {
    require(!dedupByUrl || urlCol.isDefined,
      "dedupByUrl requires urlCol")
    require(robotsTable.isEmpty || urlCol.isDefined,
      "robotsTable requires urlCol")
    // 0-par. Every stage below stage 1's dedup exchange is map-only
    // per-document CPU (quality features, tokenize, gates) running at
    // the SCAN's parallelism — a corpus arriving as one small file (the
    // bench fixture shape) serialized the whole gate chain onto one
    // core (profiled: 1-task stages of seconds each). Layout.spread is
    // the identity whenever the input's own splits already meet the
    // session parallelism, so production scans pay nothing.
    val docsSpread = graft.io.Layout.spread(docsIn)
    // 0-pre. optional HTML extraction — the true FIRST stage when the
    // corpus arrives as crawled HTML: [[graft.operators.Html.extract]]
    // strips chrome/scripts and keeps text-dense blocks (map-only, no
    // shuffle), and the extracted main text BECOMES textCol for every
    // gate below — so boilerplate never reaches dedup, scoring, or the
    // near-dup index. Docs extracting to empty text fall out at the
    // stage-2 size(w) > 0 gate like span-stripped ones do.
    val docs = htmlCol.fold(docsSpread) { h =>
      graft.operators.Html.extract(docsSpread, h,
          htmlMinTextChars, htmlMaxLinkDensity)
        .withColumn(textCol, col(s"${h}_text"))
        .drop(s"${h}_text", "n_blocks", "n_kept", h)
    }
    // 0-enc .. 0a3: the map-only per-document gates, in the order and
    // with the lineage labels the streaming pipeline shares
    val ruleGated = docGates(docs, idCol, textCol, fixEncoding,
      maxControlFrac, c4MinLineWords, blocklistPhrases, blocklistMaxHits,
      gopherGate, compressionRatioBounds, lineage)
    // 0-rb. optional robots.txt gate ([[graft.operators.Robots]], the
    // q192 battery's RFC 9309 subset) — the EARLIEST URL decision:
    // a disallowed fetch should consume no domain-cap budget and never
    // reach dedup or scoring. `robotsTable` is a (host, body) frame;
    // its parsed rule table broadcasts (crawl robots universes are
    // host-bounded — pre-aggregate per host upstream if not), and the
    // per-doc decision is map-only, so epoch ≡ union would hold if the
    // streaming twin ever gains URL columns
    val polite = robotsTable.fold(ruleGated) { rt =>
      graft.operators.Robots.gate(ruleGated, urlCol.get,
          broadcast(graft.operators.Robots.parse(rt, "host", "body",
            robotsAgent)))
        .where(col("allowed")).drop("allowed")
    }
    if (robotsTable.isDefined) lineage.foreach(
      _.diff("robots", "robots_disallowed", ruleGated, polite))
    // 0. optional URL/domain gate (the C4 blocklist + RefinedWeb
    // per-domain cap) — runs before dedup and scoring (only the 0a
    // phrase blocklist and the robots gate precede it, so blocked docs
    // don't consume domain-cap budget); the domain blocklist is a
    // pushed-down scan filter, the cap windows only over-cap domains
    // ([[graft.operators.Urls.domainGate]])
    val sourced = urlCol.fold(polite)(u =>
      graft.operators.Urls.domainGate(polite, u, idCol,
        domainBlocklist, maxPerDomain))
    if (urlCol.isDefined) lineage.foreach(
      _.diff("domain", "domain_blocked_or_over_cap", polite, sourced))
    // 0b. optional URL-keyed dedup: refetches of the SAME page under
    // crawl-noise URL variants (fragments, utm_* params, case, default
    // ports) collapse onto one doc — min id per canonical URL
    // ([[graft.operators.Urls.canonicalUrl]]) — BEFORE text dedup, so a
    // refetch whose dynamic content differs slightly still drops here
    // instead of surviving to the (more expensive) near-dup stage. Docs
    // with a NULL url pass through unkeyed (nothing to collapse on).
    val urlDeduped = if (!dedupByUrl) sourced else {
      val keyed = sourced.withColumn("__cu",
        graft.operators.Urls.canonicalUrl(col(urlCol.get)))
      val winners = keyed.where(col("__cu").isNotNull)
        .groupBy(col("__cu")).agg(min(col(idCol).cast("long")).as("__keep"))
        .select(col("__keep"))
      keyed.where(col("__cu").isNull)
        .unionByName(keyed.join(winners,
          col(idCol).cast("long") === col("__keep"), "left_semi"))
        .drop("__cu")
    }
    if (dedupByUrl) lineage.foreach(
      _.diff("url_dedup", "duplicate_canonical_url", sourced, urlDeduped))
    // 1. exact dedup
    val unique = Dedup.exactDedup(urlDeduped.select(col(idCol), col(textCol)), idCol, textCol)
    lineage.foreach(_.diff("exact_dedup", "duplicate_text", urlDeduped, unique))

    // 1b. optional duplicate-SPAN strip (the RefinedWeb exact-substring
    // pass): corpus-duplicated k-token windows are removed from each
    // survivor's NORMALIZED token stream before any scoring, so boilerplate
    // shared across documents neither inflates near-dup similarity nor
    // poisons quality/repetition features. Documents stripped to zero
    // tokens fall out at the stage-2 size(w) > 0 gate.
    val spanStripped = stripSpansK.fold(unique)(k =>
      Dedup.stripDuplicateSpans(unique, idCol, textCol, k, stripSpansMinCount))

    // 2+3 (+2b, +2a'): the shared language/quality/repetition gate —
    // ONE definition for the batch and streaming pipelines
    // ([[langQualityGate]]), so the two survivor sets cannot silently
    // diverge when a gate predicate changes
    val gatedPlan = langQualityGate(spanStripped, idCol, textCol, lang,
      minQuality, maxDupGramFrac, langModel, langModelCharGrams,
      df => if (cacheIntermediate) spill(df) else df, lineage)
    // 3b. optional adaptive floor on top of the fixed one — applied AFTER
    // the spill so floorBy's threshold aggregate and join-back both scan
    // the materialized parquet instead of re-running dedup + scoring
    // (the exact re-evaluation the spill exists to prevent). Since stage
    // 2 already gates to ONE language, this is a global quantile within
    // the selected language; the per-group form only engages when
    // [[graft.operators.Profile.groupQuantileFloor]] is used directly on
    // a multilingual frame.
    val fixedGated = if (cacheIntermediate) spill(gatedPlan) else gatedPlan
    val gated = minQualityQuantile.fold(fixedGated)(q =>
      graft.operators.Profile.groupQuantileFloor(
        fixedGated, "lang_pred", "quality", q))
    if (minQualityQuantile.isDefined) lineage.foreach(
      _.diff("quality_quantile",
        s"quality_below_${minQualityQuantile.get}_quantile",
        fixedGated, gated))

    // 4. near-dup removal among survivors (the pair build re-tokenizes
    // the gated spill, whose file count reflects its tiny byte size —
    // spread it so the shingle pass is not single-core at bench scale;
    // identity on well-split inputs)
    val pairs = Dedup.ngramJaccardPairs(
      graft.io.Layout.spread(gated.select(col(idCol), col(textCol))),
      idCol, textCol,
      n = 3, threshold = nearDupThreshold, maxDf = maxDf)
    val dupIds =
      if (componentDedup) Dedup.componentDropIds(pairs).select(col("id").as(idCol))
      else pairs.select(col("id_b").as(idCol)).distinct()
    val deduped = gated.join(dupIds, Seq(idCol), "left_anti")
    lineage.foreach { rec =>
      if (componentDedup) rec.diff("near_dup", "near_duplicate", gated, deduped)
      else rec.rows(pairs.groupBy(col("id_b"))
        .agg(min(col("id_a")).as("__of"))
        .select(col("id_b").as(idCol), lit("near_dup").as("stage"),
          concat(lit("near_dup_of="), col("__of")).as("reason")))
    }

    // 4b. optional benchmark decontamination: drop survivors containing a
    // probe doc (probe postings broadcast — see TextAnalysis scaladoc)
    val survivors = decontaminateProbes.fold(deduped)(probes =>
      graft.operators.TextAnalysis.decontaminate(
        deduped, probes, idCol, textCol, n = 3,
        threshold = contaminationThreshold))
    if (decontaminateProbes.isDefined) lineage.foreach(
      _.diff("decontaminate", "contains_benchmark_probe", deduped, survivors))

    // 4c. optional perplexity gate (the CCNet pattern): drop survivors
    // whose mean bits-per-bigram under a bigram LM exceeds maxLmBits.
    // The model trains on lmReference when given (CCNet's
    // clean-reference setup) or on the survivors themselves (outlier
    // filtering). Anti-join against the OVER-threshold ids so documents
    // too short to score (< 2 tokens) pass through rather than vanish.
    // lmOrder selects the model: 2 = add-one bigram (self-training
    // default), 3 = stupid-backoff trigram (the CCNet/KenLM-class form —
    // sharper on unseen-context text, same two-aggregate training cost;
    // pair it with lmReference, since self-training never backs off).
    require(lmOrder == 2 || lmOrder == 3,
      s"lmOrder must be 2 (bigram) or 3 (backoff trigram), got $lmOrder")
    val lmGated = maxLmBits.fold(survivors) { bits =>
      val corpus = lmReference.getOrElse(
        survivors.select(col(idCol), col(textCol)))
      val vocab = graft.operators.NgramLm.vocabSize(corpus, textCol)
      val scored =
        if (lmOrder == 3) graft.operators.NgramLm.scoreBitsTrigram(
          survivors, idCol, textCol,
          graft.operators.NgramLm.trainTrigram(corpus, textCol), vocab)
        else graft.operators.NgramLm.scoreBits(survivors, idCol, textCol,
          graft.operators.NgramLm.train(corpus, textCol), vocab)
      val tooSurprising = scored
        .where(col("bits") > bits)
        .select(col("doc_id").as(idCol))
      val out = survivors.join(tooSurprising, Seq(idCol), "left_anti")
      lineage.foreach(_.diff("perplexity", s"bits>$bits", survivors, out))
      out
    }

    // 4d. optional DSIR target-likeness gate ([[graft.operators.Dsir]],
    // Xie et al. 2023): keep survivors whose hashed-n-gram importance
    // log-weight against `dsirTarget` (a frame carrying the same id and
    // text columns — the curated corpus the cleaned data should resemble)
    // is at least `minDsirLogw`. A floor rather than the paper's top-k
    // draw because a pipeline stage must be per-doc decidable; the
    // resampling form stays available as [[graft.operators.Dsir.resample]]
    // over the pipeline output. Feature-free docs carry logw 0 (weight 1),
    // so the default floor of 0 passes them. The survivor frame feeds the
    // weight scorer twice (the spilled feature fold + the pruned-id join)
    // plus the semi-join back, so under cacheIntermediate it spills BEFORE
    // the fork — the same spill-before-self-join discipline as the model
    // language gate above.
    val dsirGated = dsirTarget.fold(lmGated) { tgt =>
      val gateIn = if (cacheIntermediate) spill(lmGated) else lmGated
      val keep = graft.operators.Dsir.importanceWeights(
          gateIn.select(col(idCol), col(textCol)), tgt,
          idCol, textCol, dsirBuckets, dsirSalt)
        .where(col("logw") >= minDsirLogw)
        .select(col("doc_id").as(idCol))
      val out = gateIn.join(keep, Seq(idCol), "left_semi")
      lineage.foreach(_.diff("dsir", s"logw<$minDsirLogw", gateIn, out))
      out
    }

    // 5. token accounting
    dsirGated.select(col(idCol), col("lang_pred"), col("n_words"), col("quality"),
      TextFunctions.wsTokenCount(col(textCol)).as("ws_tokens"),
      TextFunctions.bpeTokenCount(col(textCol)).as("bpe_tokens"))
  }

  /** The map-only per-document gates both pipelines run before exact
    * dedup, in this order: encoding repair (`fixEncoding`), the C4 line
    * rewrite and doc gate (`c4MinLineWords`), the literal-phrase
    * blocklist, the Gopher rules and the compression-ratio band. Each is
    * off at its default and records its drops under its own lineage
    * stage. Every gate is per-doc deterministic, so a doc drops or
    * survives the same way whichever batch it arrives in: exact-dup
    * groups drop or survive together, and [[StreamingPrep.processBatch]]'s
    * epoch ≡ union argument holds through all of them. Running them
    * first means a gated doc consumes no domain-cap budget and never pays
    * dedup or scoring.
    */
  private[pipelines] def docGates(docs: DataFrame, idCol: String,
      textCol: String, fixEncoding: Boolean, maxControlFrac: Double,
      c4MinLineWords: Option[Int], blocklistPhrases: Seq[String],
      blocklistMaxHits: Long, gopherGate: Boolean,
      compressionRatioBounds: Option[(Double, Double)],
      lineage: Option[LineageRecorder]): DataFrame = {
    // 0-enc. Unicode/mojibake repair ([[graft.operators.Encoding]], the
    // ftfy posture): repair → confusables → control strip BEFORE
    // language-id and quality scoring, so mojibake ("CafÃ©") doesn't
    // poison the n-gram markers or fragment token statistics. Docs whose
    // text was mostly control/binary junk (the strip removed more than
    // `maxControlFrac` of the repaired chars) drop with reason
    // "control_frac" — binary garbage should never reach dedup
    val encFixed = if (!fixEncoding) docs else {
      val pre = docs.withColumn("__enc0",
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
    // 0-lines. C4 line-level cleaning ([[graft.operators.Lines]]):
    // REWRITES each doc to its rule-passing lines and drops the C4
    // doc-level offenders (code braces, lorem ipsum) with attribution;
    // docs whose every line fails fall out at the stage-2 tokenize gate
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
    // 0a. literal-phrase blocklist (the LDNOOBW gate,
    // [[graft.operators.TextAnalysis.blocklistGate]])
    val listed = if (blocklistPhrases.isEmpty) c4Gated
      else graft.operators.TextAnalysis.blocklistGate(
        c4Gated, idCol, textCol, blocklistPhrases, blocklistMaxHits)
    if (blocklistPhrases.nonEmpty) lineage.foreach(
      _.diff("blocklist", s"phrase_hits>$blocklistMaxHits", c4Gated,
        listed))
    // 0a2. Gopher rule gate ([[TextAnalysis.gopherPass]], the q178
    // battery's NAMED bounds as one filter)
    val ruled = if (!gopherGate) listed
      else listed.where(
        graft.operators.TextAnalysis.gopherPass(col(textCol)))
    if (gopherGate) lineage.foreach(
      _.diff("gopher", "gopher_rules_fail", listed, ruled))
    // 0a3. compression-ratio gate ([[TextAnalysis]]'s deflate signal
    // inlined as one predicate): keep docs whose deflate/raw byte ratio
    // lies in [min, max] — below-min is template/boilerplate repetition
    // the n-gram gates can miss (structure wider than any gram window),
    // above-max is non-text junk. Empty texts pass (no bytes to judge —
    // the stage-2 tokenize gate owns them). Heuristic thresholds: place
    // them in the distribution's bulk, never knife-edge (the signal is
    // JVM-zlib dependent). The predicate is the single-eval
    // [[graft.functions.DeflateRatioGate]] so each row deflates exactly
    // once — a struct-field predicate would replicate the
    // CodegenFallback deflate per reference (up to 3x/row)
    compressionRatioBounds.fold(ruled) { case (lo, hi) =>
      val gated = ruled.where(graft.functions.GraftFunctions
        .deflate_ratio_in(col(textCol), lo, hi))
      lineage.foreach(_.diff("compression",
        s"ratio_outside_[$lo,$hi]", ruled, gated))
      gated
    }
  }

  /** Stages 2+3 (+2b, +2a') as ONE definition shared by [[clean]] and
    * [[StreamingPrep.processBatch]]: language gate (heuristic argmax, or
    * the trained NaiveBayes model's prediction when `langModel` is set —
    * the C4-style trained-filter posture), quality floor, and the
    * Gopher-style duplicate-bigram repetition gate (`maxDupGramFrac`,
    * 1.0 = disabled) — all map-only, one tokenizer pass (words computed
    * once, shared by every predicate).
    *
    * The model gate runs AFTER the map-only filters (docs they drop
    * never pay the scoring joins — same survivors, the predicates are
    * independent per-doc). `lang_pred` (the heuristic label) is still
    * projected for reporting. The classify branch and the join-back
    * branch are a SELF-join of the gated projection, so `spillFn` is
    * applied BEFORE the fork (the spill-before-self-join discipline) —
    * pass identity only when the caller accepts double evaluation.
    * `langModelCharGrams = Some((minN, maxN))` scores the model on char
    * n-grams of the surviving text instead of the word tokens — the
    * fastText-posture lang-id pairing for a model trained with
    * [[TextFunctions.charGrams]]; tokenization MUST match how the
    * supplied model was fitted, which is why it is the caller's explicit
    * choice rather than sniffed from the model table.
    *
    * Output: (idCol, textCol, lang_pred, n_words, quality).
    */
  private[pipelines] def langQualityGate(docs: DataFrame, idCol: String,
      textCol: String, lang: String, minQuality: Double,
      maxDupGramFrac: Double, langModel: Option[DataFrame],
      langModelCharGrams: Option[(Int, Int)],
      spillFn: DataFrame => DataFrame,
      lineage: Option[LineageRecorder] = None): DataFrame = {
    // the repetition gate's per-row bigram hashmap only runs when the
    // gate can actually drop something: at the disabled default (1.0)
    // the predicate is a tautology (1 - distinct/n <= 1 always), but
    // Catalyst cannot eliminate the repetition_stats call behind it,
    // so every document would pay dead per-row work
    val repEnabled = maxDupGramFrac < 1.0
    val repCol =
      if (repEnabled)
        Seq(graft.functions.GraftFunctions.repetition_stats(col("w"), 2).as("__r"))
      else Nil
    // filters apply in SEQUENCE (Catalyst's CombineFilters fuses them
    // back into one predicate, so the physical plan is the conjunction
    // it always was) — sequencing gives the lineage recorder a frame
    // per gate, so "first failing gate" is well-defined
    val feat = docs
      .select(col(idCol), col(textCol),
        TextFunctions.langId(col(textCol)).as("lang_pred"),
        TextFunctions.words(col(textCol)).as("w"))
    lineage.foreach(_.where("tokenize", feat,
      size(col("w")) > 0, lit("no_tokens")))
    val nonEmpty = feat
      .where(size(col("w")) > 0)
      .select(Seq(col(idCol), col(textCol), col("lang_pred"), col("w"),
        size(col("w")).cast("long").as("n_words"),
        TextFunctions.qualityScore(col("w"), col(textCol)).as("quality"))
        ++ repCol: _*)
    val afterLang = if (langModel.isDefined) nonEmpty else {
      lineage.foreach(_.where("language", nonEmpty,
        col("lang_pred") === lang, concat(lit("lang="), col("lang_pred"))))
      nonEmpty.where(col("lang_pred") === lang)
    }
    lineage.foreach(_.where("quality", afterLang,
      col("quality") >= minQuality, lit(s"quality<$minQuality")))
    val afterQuality = afterLang.where(col("quality") >= minQuality)
    val gatedPlan0 =
      if (repEnabled) {
        val keepRep = col("__r.n_grams") === 0 ||
          (lit(1.0) - col("__r.distinct_grams") / col("__r.n_grams")) <=
            maxDupGramFrac
        lineage.foreach(_.where("repetition", afterQuality, keepRep,
          lit(s"dup_bigram_frac>$maxDupGramFrac")))
        afterQuality.where(keepRep).drop("__r")
      } else afterQuality
    langModel.fold(gatedPlan0.drop("w")) { m =>
      val gateIn = spillFn(gatedPlan0)
      val nbToks = langModelCharGrams.fold(col("w")) { case (minN, maxN) =>
        TextFunctions.charGrams(col(textCol), minN, maxN) }
      val keep = graft.operators.NaiveBayes.classify(
          gateIn.select(col(idCol), nbToks.as("__nbw")), idCol, "__nbw", m)
        .where(col("label") === lang).select(col(idCol))
      val out = gateIn.join(keep, Seq(idCol), "left_semi").drop("w")
      lineage.foreach(_.diff("model_language", s"model_lang!=$lang",
        gateIn, out))
      out
    }
  }
}
