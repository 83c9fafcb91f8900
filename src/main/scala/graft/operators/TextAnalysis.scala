package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Document-level text analysis (SURVEY §2.6 north-star): language ID,
  * quality scoring, token counting, fingerprinting. All per-row, codegen'd
  * expressions — map-only plans with zero shuffles, so throughput scales
  * linearly with executors at any corpus size.
  */
object TextAnalysis {

  def languageId(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), langId(col(textCol)).as("lang_pred"))

  def quality(docs: DataFrame, idCol: String, textCol: String,
      carry: Seq[String] = Nil): DataFrame =
    docs
      .select(col(idCol) +: carry.map(col) :+ col(textCol)
        :+ words(col(textCol)).as("w"): _*)
      .where(size(col("w")) > 0)
      .select(col(idCol) +: carry.map(col)
        :+ size(col("w")).cast("long").as("n_words")
        :+ qualityScore(col("w"), col(textCol)).as("quality"): _*)

  /** [[quality]] with the stopword term matched to each document's OWN
    * predicted language (multilingual corpora; English-only weighting
    * under-scores well-formed non-English prose).
    */
  def qualityByLang(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), col(textCol),
        langId(col(textCol)).as("lang_pred"), words(col(textCol)).as("w"))
      .where(size(col("w")) > 0)
      .select(col(idCol), col("lang_pred"),
        size(col("w")).cast("long").as("n_words"),
        qualityScoreByLang(col("w"), col(textCol), col("lang_pred")).as("quality"))

  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      wsTokenCount(col(textCol)).as("ws_tokens"),
      bpeTokenCount(col(textCol)).as("bpe_tokens"))

  /** The Gopher rule battery (Rae et al. 2021, Table A1 — the named
    * per-document quality gates production pipelines actually run,
    * beside the composite [[quality]] score): word-count bounds, mean
    * word length bounds, symbol-to-word ratio (`#`/ellipsis), bullet-
    * and ellipsis-line ratios, alphabetic-word ratio, and the
    * ≥2-stopwords requirement. One map-only projection — every metric
    * is HOF arithmetic inside the row, each ratio ONE correctly-rounded
    * integer division (rounded to 6), `pass` the conjunction of the
    * published bounds. Documents with zero words fail with NULL
    * metrics rather than a divide error.
    */
  /** The q178 `pass` conjunction as ONE map-only column — the form
    * [[graft.pipelines.TrainingData.clean]]'s optional gopher gate
    * filters on without a join. Single source of truth: [[gopherRules]]
    * derives its `pass` column from this expression.
    */
  def gopherPass(text: Column): Column = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val w = words(text)
    val lines = org.apache.spark.sql.functions.split(text, "\n")
    val nW = size(w).cast("long")
    val nLines = size(lines).cast("long")
    // every threshold compares FIXED-POINT MICROS against an integer —
    // pure long arithmetic end to end (graft.functions.FixedPoint), so
    // a ratio landing exactly on a rule boundary decides identically
    // in both engines (round(double, 6) does not — the r16 class);
    // zero-word docs guard each division (ANSI integral div throws)
    def microsOf(num: Column, den: Column) =
      graft.functions.FixedPoint.micros(num, den)
    val wchars = aggregate(w, lit(0L), (acc, x) => acc + length(x))
    val symbols = (regexp_count(text, lit("#")) +
      regexp_count(text, lit("\\.\\.\\."))).cast("long")
    val bullets = size(filter(lines, l => ltrim(l).rlike("^[-*•]")))
      .cast("long")
    val ellip = size(filter(lines, l => rtrim(l).rlike("\\.\\.\\.$")))
      .cast("long")
    val alpha = size(filter(w, x => x.rlike("[a-z]"))).cast("long")
    val nStops = size(array_intersect(array_distinct(w),
      lit(stops.toArray))).cast("long")
    nW >= 50 && nW <= 100000 &&
      when(nW > 0, microsOf(wchars, nW).between(3000000L, 10000000L) &&
        microsOf(symbols, nW) <= 100000L &&
        microsOf(alpha, nW) >= 800000L).otherwise(false) &&
      microsOf(bullets, nLines) <= 900000L && // split yields >= 1 line
      microsOf(ellip, nLines) <= 300000L &&
      nStops >= 2
  }

  def gopherRules(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val w = col("__w"); val lines = col("__lines")
    // fixed-point micros, never round(double, 6) — see [[gopherPass]]
    def ratio(num: Column, den: Column) =
      graft.functions.FixedPoint.ratio6(num, den)
    docs
      .select(col(idCol), col(textCol).as("__t"),
        words(col(textCol)).as("__w"),
        split(col(textCol), "\n").as("__lines"))
      .select(col(idCol), col("__t"),
        size(w).cast("long").as("n_words"),
        aggregate(w, lit(0L), (acc, x) => acc + length(x)).as("__wchars"),
        (regexp_count(col("__t"), lit("#")) +
          regexp_count(col("__t"), lit("\\.\\.\\."))).cast("long")
          .as("__symbols"),
        size(filter(lines, l => ltrim(l).rlike("^[-*•]")))
          .cast("long").as("__bullets"),
        size(filter(lines, l => rtrim(l).rlike("\\.\\.\\.$")))
          .cast("long").as("__ellip"),
        size(lines).cast("long").as("__nlines"),
        size(filter(w, x => x.rlike("[a-z]"))).cast("long").as("__alpha"),
        size(array_intersect(array_distinct(w),
          lit(stops.toArray))).cast("long").as("n_stopwords"))
      .select(col(idCol), col("n_words"),
        when(col("n_words") > 0, ratio(col("__wchars"), col("n_words")))
          .as("mean_word_len"),
        when(col("n_words") > 0, ratio(col("__symbols"), col("n_words")))
          .as("symbol_ratio"),
        ratio(col("__bullets"), col("__nlines")).as("bullet_ratio"),
        ratio(col("__ellip"), col("__nlines")).as("ellipsis_ratio"),
        when(col("n_words") > 0, ratio(col("__alpha"), col("n_words")))
          .as("alpha_ratio"),
        col("n_stopwords"),
        gopherPass(col("__t")).as("pass"))
  }

  /** Per-group tokenizer health: fertility (BPE tokens per whitespace
    * word) and compression (chars per BPE token), the standard check that
    * a tokenizer serves every language/source in a multilingual corpus
    * rather than fragmenting the low-resource ones. Exact integer sums in
    * one map-only projection + one hash aggregate per group; the two
    * ratios are fixed-point half-up micros of those exact sums
    * ([[graft.functions.FixedPoint]] — a corpus-sized token-sum ratio
    * can land exactly on a 6-decimal half, where round(double, 6)
    * diverges across engines). Groups with zero whitespace tokens
    * yield NULL fertility rather than a crash.
    */
  def tokenizerFertility(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame =
    docs.select(col(groupCol),
        wsTokenCount(col(textCol)).cast("long").as("__ws"),
        bpeTokenCount(col(textCol)).cast("long").as("__bpe"),
        length(col(textCol)).cast("long").as("__chars"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__bpe")).as("bpe_tokens"),
        sum(col("__ws")).as("ws_tokens"),
        when(sum(col("__ws")) > 0, graft.functions.FixedPoint.ratio6(
          sum(col("__bpe")), sum(col("__ws")))).as("fertility"),
        when(sum(col("__bpe")) > 0, graft.functions.FixedPoint.ratio6(
          sum(col("__chars")), sum(col("__bpe")))).as("chars_per_token"))

  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), fingerprint(col(textCol)).as("fp"))

  /** Boilerplate detector: n-word shingles whose document frequency is at
    * least `minDf` — license headers, navigation chrome, "terms and
    * conditions" blocks surface as shingles shared by many documents. The
    * same posting-list aggregation [[Dedup.ngramJaccardPairs]] caps its
    * join with; here the hot tail IS the answer. One explode + one hash
    * aggregate; the exchange carries (shingle, partial count) pairs.
    */
  def hotShingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minDf: Long = 10): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("__w"))
      .where(size(col("__w")) >= n)
      .select(col("doc_id"), explode(wordShingles(col("__w"), n)).as("shingle"))
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)

  /** Per-(doc, term) statistics for a fixed query-term set: term frequency
    * in the document, the term's document frequency across the corpus, and
    * the document length — the exact-integer inputs every lexical scorer
    * (TF-IDF, BM25) consumes. One explode + two hash aggregates; the
    * df side is a tiny per-term table broadcast back onto the tf rows.
    */
  def termStats(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "at least one term")
    val tokens = docs
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("__w"))
      .select(col("doc_id"), size(col("__w")).cast("long").as("doc_len"),
        explode(col("__w")).as("term"))
      .where(col("term").isin(terms: _*))
    val tf = tokens.groupBy(col("doc_id"), col("doc_len"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("term"))
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("doc_len"))
  }

  /** Per-document token-distribution entropy in bits — the gibberish /
    * degenerate-repetition signal the ratio heuristics miss: random
    * character soup maxes entropy, a document stuck repeating one token
    * drives it to 0, natural prose sits in between. Two hash aggregates
    * ((doc, token) counts, then per-doc), linear in corpus tokens, using
    * H = log2(n) - Σ c·log2(c) / n so one grouping level computes both
    * the total and the sum. The per-term values quantize to NANO-unit
    * longs BEFORE summing — `round(c·log2(c)·1e9)` — so the aggregate
    * is ORDER-INVARIANT (a raw double sum depends on partition merge
    * order, i.e. nondeterministic run to run) and the engines' last-ulp
    * log2 differences (measured: Spark and DuckDB log2 disagree in the
    * last ulp on ~28% of integer inputs, ~1e-12 relative) vanish under
    * the ~1e-3-of-a-nano rounding slack. One double division + the
    * final round(4) remain, same contract as the q98 perplexity scorer.
    * Documents with no tokens are absent.
    */
  def tokenEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), explode(words(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(round(col("c").cast("double") *
          log2(col("c").cast("double")) * 1e9).cast("long")).as("__slc9"))
      .select(col("doc_id"), col("n_tokens"),
        round(log2(col("n_tokens").cast("double"))
          - col("__slc9").cast("double") /
            (col("n_tokens").cast("double") * 1e9), 4).as("entropy_bits"))

  /** BM25 relevance of each document to the query `terms` (the one
    * [[Postings.bm25Term]] score, k1/b standard defaults). Built on
    * [[termStats]]; the only doubles are the final scoring arithmetic,
    * so keep exact comparisons to the integer stats and treat scores as
    * ranking keys.
    * Public entry point: reference scorer that `Bm25Spec` checks the BM25
    * arithmetic on.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // Corpus stats (N, avgdl) as a ONE-ROW aggregate broadcast into the
    // plan — no driver-side count()/collect() round-trips, so the whole
    // scorer stays one lazy plan. The conditionless join against the
    // single stats row plans as a BroadcastNestedLoopJoin over one row.
    val stats = docs
      .select(sizeOrNull(words(col(textCol))).cast("double").as("l"))
      .agg(count(lit(1)).cast("double").as("n"), avg(col("l")).as("avgdl"))
    termStats(docs, idCol, textCol, terms)
      .join(broadcast(stats))
      .withColumn("score", Postings.bm25Term(k1, b))
      .groupBy(col("doc_id"))
      .agg(sum(col("score")).as("bm25"), count(lit(1)).as("terms_hit"))
  }

  // ---- batched lexical retrieval ----------------------------------------
  // One ranker set over two posting sources: each entry point below runs
  // a [[Postings]] ranker over the [[Corpus]] source (the posting
  // projection of `docs`, tokenized in this plan), and its
  // `LexicalIndex.*Indexed` twin runs the same ranker over the persisted
  // [[Index]] source — identical results (spec-pinned). An entry point
  // only builds the corpus its ranker needs: a spill restricted to the
  // query terms (one consumer set), a full spill shared by the ranker's
  // vocabulary/df folds, or the in-plan positional projection. Plans,
  // scoring and determinism contracts are documented on the rankers.

  /** Batched BM25 top-k: for EVERY query (an id column + a term-array
    * column) the k highest-BM25 documents in one plan — the shape of
    * dedup- and decontamination-by-retrieval, kNN-LM/RAG training-pair
    * construction and counterfactual-document mining. Eager: the query
    * terms' tf rows plus one stats sentinel per doc spill once at call
    * time. Output (query_id, rank, doc_id).
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTermsCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qterms = Postings.bm25QueryTerms(queries, queryIdCol, queryTermsCol)
    Postings.bm25TopK(Corpus.spilledFor(docs, idCol, textCol, qterms),
      qterms, k, k1, b)
  }

  /** "More like this": for every SEED document, the k documents ranked
    * by BM25 over the seed's own top-`mTerms` tf-idf terms —
    * query-by-example retrieval with no embedding model (grow a mixture
    * from exemplars, find near-topic docs for an eval holdout). One
    * spilled corpus feeds the corpus-wide df, the seed keyword fold and
    * the ranking.
    */
  def moreLikeThis(docs: DataFrame, idCol: String, textCol: String,
      seeds: DataFrame, seedIdCol: String, mTerms: Int, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val corpus = Corpus.spilled(docs, idCol, textCol)
    Postings.moreLikeThis(corpus, corpus.tfOf(seeds, seedIdCol), mTerms, k,
      k1, b)
  }

  /** Boolean-filtered batched BM25: every query carries `must` (all
    * required), `should` (score-only) and `mustNot` (any disqualifies)
    * term arrays — the +term/-term surface of a search engine folded
    * onto the one BM25 scorer. The spill restricts to ALL role terms.
    */
  def bm25TopKBool(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, mustCol: String,
      shouldCol: String, mustNotCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val roles = Postings.boolQueryRoles(queries, queryIdCol, mustCol,
      shouldCol, mustNotCol)
    Postings.bm25TopKBool(Corpus.spilledFor(docs, idCol, textCol, roles),
      roles, k, k1, b)
  }

  /** Batched quoted-phrase top-k (a STRING phrase column): documents
    * with the most exact word-sequence occurrences — the "find documents
    * containing this exact quote" shape of decontamination and
    * attribution audits, where bag-of-words BM25 also returns
    * adjacency-less matches. Output (query_id, rank, doc_id, n_hits).
    */
  def phraseTopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, phraseCol: String,
      k: Int): DataFrame =
    Postings.phraseTopK(Corpus.positional(docs, idCol, textCol),
      Postings.phraseQueries(queries, queryIdCol, phraseCol), k)

  /** Batched proximity top-k (a STRING terms column): documents holding
    * every distinct query term within a `slop`-word window, tightest
    * first — between bag-of-words BM25 and exact phrases. Output
    * (query_id, rank, doc_id, span).
    */
  def proximityTopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, termsCol: String,
      slop: Int, k: Int): DataFrame =
    Postings.proximityTopK(Corpus.positional(docs, idCol, textCol),
      Postings.proximityQueryTerms(queries, queryIdCol, termsCol), slop, k)

  /** Batched windowed-passage top-k: documents ranked by their
    * query-term-densest `window`-word passage, winning start returned —
    * RAG context selection (a long document with one dense paragraph
    * ranks by the paragraph). Output (query_id, rank, doc_id, n_hits,
    * start).
    */
  def passageTopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, termsCol: String,
      window: Int, k: Int): DataFrame =
    Postings.passageTopK(Corpus.positional(docs, idCol, textCol),
      Postings.proximityQueryTerms(queries, queryIdCol, termsCol), window, k)

  /** Typo-tolerant batched BM25: each query term expands to every
    * corpus-vocabulary term within Levenshtein `maxDist` (itself
    * included) — "tabl" finds table-bearing documents. Same output as
    * [[bm25TopK]]; ONE spilled corpus serves the vocabulary, the tf
    * rows and the stats.
    */
  def bm25TopKFuzzy(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTermsCol: String,
      k: Int, maxDist: Int = 1, k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    Postings.bm25TopKFuzzy(Corpus.spilled(docs, idCol, textCol),
      Postings.bm25QueryTerms(queries, queryIdCol, queryTermsCol), k,
      maxDist, k1, b)

  /** Batched search-facet counts: how the documents matching ANY query
    * term distribute over a facet attribute (language, source, ...) —
    * the aggregation panel beside a search result page. The facet rides
    * the tokenize projection, so matching needs no join back to the
    * corpus. Output (query_id, facet, n_docs).
    */
  def facetCounts(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, termsCol: String,
      facetCol: String): DataFrame =
    Postings.facetCounts(
      Corpus(docs.select(col(idCol).cast("long").as("doc_id"),
        col(facetCol).as("facet"),
        explode(array_distinct(words(col(textCol)))).as("term"))),
      Postings.proximityQueryTerms(queries, queryIdCol, termsCol)
        .select(col("query_id"), col("term")), identity)

  /** Significant terms of each query's match set: the vocabulary
    * OVER-REPRESENTED among documents matching ANY query term — "what
    * characterizes these docs", mined from the text where a facet panel
    * needs a facet column. Output (query_id, rank, term, score).
    */
  def significantTerms(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, termsCol: String,
      k: Int, minFgCount: Int = 1): DataFrame =
    Postings.significantTerms(Corpus.spilled(docs, idCol, textCol),
      Postings.proximityQueryTerms(queries, queryIdCol, termsCol)
        .select(col("query_id"), col("term")), k, minFgCount)

  /** [[passageTopK]] with the winning passage's TEXT attached — the
    * retrieve-then-quote step of a RAG pipeline. Output adds `snippet`.
    */
  def passageSnippets(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, termsCol: String,
      window: Int, k: Int): DataFrame =
    Postings.passageSnippets(Corpus.positional(docs, idCol, textCol), docs,
      idCol, textCol,
      Postings.proximityQueryTerms(queries, queryIdCol, termsCol), window, k)

  /** Top-k characteristic terms per document by tf-idf — keyword/topic
    * tagging for corpus profiling, mixture design and search facets.
    * Score = tf x ln(N/df): ubiquitous terms fall out of the top-k
    * without a stopword list. Output (doc_id, rank, term, score).
    */
  def tfidfKeywords(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    Postings.tfidfKeywords(Corpus.spilled(docs, idCol, textCol), k)

  // ---- blocklist phrase filtering --------------------------------------

  /** See [[graft.functions.TextFunctions.normalizedPhrases]] — moved
    * there so [[graft.functions.TextFunctions.phraseHits]] (the public
    * Column API) normalizes its own phrase list instead of silently
    * zero-matching un-normalized input.
    */
  private def normalizedPhrases(phrases: Seq[String]): Seq[Seq[String]] =
    graft.functions.TextFunctions.normalizedPhrases(phrases)

  /** Per-(doc, phrase) occurrence counts for a blocklist of word
    * sequences (the LDNOOBW-style phrase filter every public pretraining
    * pipeline runs). Matching is at word granularity through the [[words]]
    * convention — punctuation and case cannot hide a hit — and counts are
    * ALL start positions, so self-overlapping phrases ("a a" in "a a a")
    * count each occurrence. Docs with no hits are absent.
    *
    * Shape at 100 TB: one positional-shingle explode per DISTINCT phrase
    * length (not per phrase), a broadcast join against the phrase table
    * — thousands of phrases stay one map-side hash probe where the
    * regex-alternation idiom ([[Pii]]'s tool, right for patterns, wrong
    * for big literal lists) degrades with every added phrase — then one
    * (doc, phrase) count aggregate; the exchange carries matched
    * (doc, phrase) hits only, never text.
    */
  def blocklistHits(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String]): DataFrame = {
    val norm = normalizedPhrases(phrases)
    val lens = norm.map(_.length).distinct.sorted
    import docs.sparkSession.implicits._
    val phraseDf = broadcast(norm.map(_.mkString(" ")).toDF("phrase"))
    val toks = docs.select(col(idCol).as("doc_id"), words(col(textCol)).as("__w"))
    lens.map(n => toks.select(col("doc_id"),
        explode(positionalShingles(col("__w"), n)).as("shingle")))
      .reduce(_ unionByName _)
      .join(phraseDf, col("shingle") === col("phrase"))
      .groupBy(col("doc_id"), col("phrase"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Survivors of the blocklist gate: documents whose TOTAL phrase
    * occurrence count is at most `maxHits` (0 = any hit drops). Map-only
    * — the per-doc total folds over higher-order filters against the
    * broadcast-literal phrase arrays (the [[Pii.flagged]] posture), so
    * the gate runs at scan speed with zero shuffles and composes into
    * the cleaning pipelines like the other per-document gates. Totals
    * agree with [[blocklistHits]] by construction (spec-pinned).
    */
  def blocklistGate(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String], maxHits: Long = 0): DataFrame = {
    require(maxHits >= 0, "maxHits must be >= 0")
    require(!docs.columns.contains("__blw"),
      "blocklistGate binds a temporary __blw column; rename the input's")
    // ONE imperative pass per document (PhraseHits: hash-set probe per
    // start position per distinct phrase length) — the interpreted
    // filter/array_contains HOF form is linear in the phrase list per
    // position, the wrong trade inside the hot pipeline gates
    // null text -> null token array -> null hits; a doc with no text has
    // nothing to match, so it PASSES (it falls to later gates, not this
    // one)
    val total = coalesce(phraseHits(col("__blw"),
      normalizedPhrases(phrases).map(_.mkString(" "))), lit(0L))
    docs.withColumn("__blw", words(col(textCol)))
      .where(total <= maxHits)
      .drop("__blw")
  }

  /** Gopher-style repetition quality stats per document: duplicate-n-gram
    * fraction (1 - distinct/total over the POSITIONAL n-gram multiset) and
    * top-n-gram share (count of the most frequent n-gram / total) — the
    * signals that flag looping/boilerplate text an LLM pipeline drops.
    *
    * Repetition is a per-document function, so the whole operator is ONE
    * map-only projection over the imperative
    * [[graft.functions.RepetitionStats]] expression — zero shuffles, where
    * the naive explode → groupBy(doc, gram) → re-aggregate plan shuffles
    * every gram of the corpus twice. Documents shorter than n words are
    * dropped (no gram multiset to measure).
    */
  def repetition(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 2): DataFrame = {
    require(n >= 1, "gram width must be >= 1")
    docs
      .select(col(idCol), words(col(textCol)).as("__w"))
      .where(size(col("__w")) >= n)
      .select(col(idCol),
        graft.functions.GraftFunctions.repetition_stats(col("__w"), n).as("__r"))
      .select(col(idCol),
        col("__r.n_grams").as("n_grams"),
        // exact (n - distinct)/n and top/n in fixed-point micros --
        // integer ratios, the round(double, 6) r16 divergence class
        graft.functions.FixedPoint.ratio6(
          (col("__r.n_grams") - col("__r.distinct_grams")).cast("long"),
          col("__r.n_grams").cast("long")).as("dup_gram_frac"),
        graft.functions.FixedPoint.ratio6(
          col("__r.top_count").cast("long"),
          col("__r.n_grams").cast("long")).as("top_gram_share"))
  }

  /** Deflate compression-ratio quality signal: (idCol, raw_bytes,
    * deflate_bytes, compression_ratio) where the ratio is
    * deflate/raw in exact fixed-point micros — the zlib heuristic the
    * Dolma/RefinedWeb-class cleaners run beside the Gopher gates: a
    * LOW ratio marks template/boilerplate repetition (compresses too
    * well — complementary to [[repetition]], which only sees n-gram
    * structure), a ratio near or above 1 marks non-text junk. Empty
    * texts are dropped (no bytes to measure). One map-only projection
    * through [[graft.functions.DeflateStats]] — zero shuffles, scan
    * speed at any corpus size. The byte counts are heuristic (JVM zlib
    * build dependent), so this family is spec-pinned, not
    * oracle-replayed; gate thresholds should sit in the bulk of the
    * distribution, never knife-edge.
    * Public entry point: spec-pinned signal; zlib byte counts depend on the JVM
    * build, so no oracle-replayed row runs it.
    */
  def compressionSignal(docs: DataFrame, idCol: String, textCol: String,
      level: Int = 6): DataFrame =
    docs.select(col(idCol),
        graft.functions.GraftFunctions
          .deflate_stats(col(textCol), level).as("__d"))
      .where(col("__d.raw_bytes") > 0)
      .select(col(idCol),
        col("__d.raw_bytes").as("raw_bytes"),
        col("__d.deflate_bytes").as("deflate_bytes"),
        graft.functions.FixedPoint.ratio6(
          col("__d.deflate_bytes"), col("__d.raw_bytes"))
          .as("compression_ratio"))

  /** Benchmark decontamination, pair-report form: corpus documents whose
    * distinct n-gram shingles CONTAIN at least `threshold` of a probe
    * (benchmark) document's shingles. Containment — |corpus ∩ probe| /
    * |probe| — is the right asymmetric metric here: a long training
    * document that embeds a whole benchmark item must flag even though
    * its Jaccard similarity is tiny.
    *
    * Scale shape: the probe side (benchmark suites — MBs, not TBs) is
    * broadcast as an inverted index, so the 100 TB corpus side is scanned
    * map-only; only MATCHED (corpus_id, probe_id) pairs enter the one
    * aggregation shuffle. `excludeSelfIds` drops same-id pairs for the
    * probes-drawn-from-corpus case (as in the battery query q83); leave
    * it false when probe and corpus ids are different namespaces.
    */
  def contaminationPairs(corpus: DataFrame, probes: DataFrame,
      idCol: String, textCol: String, n: Int = 3, threshold: Double = 0.8,
      excludeSelfIds: Boolean = false): DataFrame = {
    def shingled(df: DataFrame) = df
      .select(col(idCol), words(col(textCol)).as("__w"))
      .where(size(col("__w")) >= n)
      .select(col(idCol), wordShingles(col("__w"), n).as("__sh"))
    val probePost = shingled(probes)
      .select(col(idCol).as("probe_id"), size(col("__sh")).as("probe_size"),
        explode(col("__sh")).as("shingle"))
    val corpusPost = shingled(corpus)
      .select(col(idCol).as("corpus_id"), explode(col("__sh")).as("shingle"))
    val pairs =
      if (excludeSelfIds)
        corpusPost.join(broadcast(probePost), Seq("shingle"))
          .where(col("corpus_id") =!= col("probe_id"))
      else corpusPost.join(broadcast(probePost), Seq("shingle"))
    pairs
      .groupBy(col("corpus_id"), col("probe_id"), col("probe_size"))
      .agg(count(lit(1)).as("overlap"))
      .select(col("corpus_id"), col("probe_id"),
        col("overlap").cast("long").as("overlap"),
        col("probe_size").cast("long").as("probe_size"),
        graft.functions.FixedPoint.ratio6(
          col("overlap").cast("long"), col("probe_size").cast("long"))
          .as("containment"))
      .where(col("containment") >= threshold)
  }

  /** [[contaminationPairs]] applied: the corpus minus every document that
    * contains a probe — the decontamination step run before training.
    */
  def decontaminate(corpus: DataFrame, probes: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      threshold: Double = 0.8): DataFrame =
    corpus.join(
      contaminationPairs(corpus, probes, idCol, textCol, n, threshold)
        .select(col("corpus_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS scheme): hash every k-word shingle IN POSITION ORDER, then keep
    * the minimum hash of each sliding window of `win` consecutive gram
    * hashes. Any shared run of >= win+k-1 words between two documents is
    * guaranteed to contribute at least one common fingerprint, while only
    * ~1/win of the gram hashes are kept — the local-similarity complement
    * to [[fingerprint]]'s whole-document digest.
    *
    * Gram hashes are the first 16 hex chars of md5 — fixed-width lowercase
    * hex, so the lexicographic min IS the numeric min and the DuckDB oracle
    * recomputes the selection identically. (A Rabin-Karp rolling hash
    * computes the same positional gram hashes incrementally; that is an
    * executor-side constant-factor optimization the cross-engine-portable
    * md5 stands in for.) Plan is map-only: explode of a per-row computed
    * array, zero shuffles before any downstream grouping.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, win: Int = 4): DataFrame = {
    require(k >= 1 && win >= 1, "k and win must be >= 1")
    docs
      .select(col(idCol), words(col(textCol)).as("__ws"))
      .where(size(col("__ws")) >= k + win - 1)
      .select(col(idCol), explode(
        graft.functions.GraftFunctions.winnow_fingerprints(
          col("__ws"), k, win)).as("fp"))
  }

  /** Declarative higher-order twin of [[winnowFingerprints]] — the
    * specification the imperative [[graft.functions.WinnowFingerprints]]
    * expression is property-pinned against (`WinnowingSpec`). Interpreted
    * lambda evaluation makes it the SLOW form; never put it in a hot path.
    * Public entry point: reference twin that `WinnowingSpec` compares against.
    */
  def winnowFingerprintsHof(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, win: Int = 4): DataFrame = {
    require(k >= 1 && win >= 1, "k and win must be >= 1")
    val toks = docs
      .select(col(idCol), words(col(textCol)).as("__ws"))
      .where(size(col("__ws")) >= k + win - 1)
    // 0-based gram starts; Column(idx) array extraction is 0-based
    val grams = transform(
      sequence(lit(0), size(col("__ws")) - k),
      i => substring(md5(concat_ws(" ",
        (0 until k).map(o => col("__ws")(i + o)): _*)), 1, 16))
    // 1-based window starts; slice() is 1-based
    val mins = transform(
      sequence(lit(1), size(col("__gh")) - (win - 1)),
      j => array_min(slice(col("__gh"), j, lit(win))))
    toks.select(col(idCol), grams.as("__gh"))
      .select(col(idCol), explode(array_distinct(mins)).as("fp"))
  }
}
