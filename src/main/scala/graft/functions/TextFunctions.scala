package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders (SURVEY §2.6 north-star: language ID,
  * quality scoring, token counting, fingerprinting) composed purely from
  * codegen'd built-ins — no UDFs, so every helper stays inside
  * WholeStageCodegen and pushes through Catalyst untouched.
  *
  * Every function here has an exact ANSI-SQL twin runnable by the DuckDB
  * oracle; arithmetic is written in a fixed left-to-right shape so Double
  * results are bit-identical across engines.
  */
object TextFunctions {

  /** Lowercased word tokens; the reference's tokenizer (reference:
    * `streams/WordCountTopology.java:31` — `toLowerCase().split("\\W+")`),
    * minus empty tokens that a leading separator produces.
    */
  def words(text: Column): Column =
    filter(split(lower(text), "\\W+"), w => w =!= "")

  /** Character n-grams for n in [minN, maxN] over the whitespace-collapsed
    * lowercase text — the fastText-posture tokenizer for language ID:
    * char grams don't fragment on short or low-resource text the way
    * word unigrams do, and spaces inside grams carry word-boundary
    * signal. Non-distinct (bag-of-grams counts feed the Naive Bayes
    * fit), order n-major then position (positional within each n).
    * NULL text stays NULL; shorter-than-minN text yields an empty array.
    * Normalization is composed built-ins evaluated ONCE per row; the
    * gram loop is the imperative [[CharGrams]] expression (the
    * transform(sequence(...)) form re-ran the normalization subtree per
    * gram position — see its Scaladoc). The DuckDB twin replays it with
    * list comprehensions.
    */
  def charGrams(text: Column, minN: Int = 2, maxN: Int = 4): Column = {
    require(minN >= 1 && maxN >= minN, "need 1 <= minN <= maxN")
    val s = trim(regexp_replace(lower(text), "\\s+", " "))
    call_function("char_grams", s, lit(minN), lit(maxN))
  }

  /** Distinct n-word shingles; callers must pre-filter size(words) >= n.
    * Imperative [[WordShingles]] expression — the equivalent
    * `array_distinct(transform(sequence(...), ...))` is evaluated
    * interpreted and dominated the dedup pipeline (see its Scaladoc).
    */
  def wordShingles(ws: Column, n: Int): Column =
    call_function("word_shingles", ws, lit(n))

  /** ALL-POSITION n-word shingles (occurrence counting, the blocklist
    * contract); imperative [[PositionalShingles]] — same interpreted-HOF
    * argument as [[wordShingles]]. Short inputs yield an empty array.
    */
  def positionalShingles(ws: Column, n: Int): Column =
    call_function("positional_shingles", ws, lit(n))

  /** Total occurrences of any of `phrases` in a word array; one
    * imperative pass over distinct phrase lengths with hash-set probes
    * ([[PhraseHits]]). Phrases are [[normalizedPhrases]]-normalized here
    * — a caller passing "Bad, Phrase!" or double-spaced text previously
    * got silent zero matches because the expression probes exact
    * space-joined token strings; normalization is idempotent, so
    * already-normalized callers ([[graft.operators.TextAnalysis
    * .blocklistGate]]) are unchanged.
    */
  def phraseHits(ws: Column, phrases: Seq[String]): Column =
    call_function("phrase_hits", ws,
      typedlit(normalizedPhrases(phrases).map(_.mkString(" "))))

  /** Phrases normalized through the [[words]] convention so
    * "Fast, TABLE!" matches the tokens of "fast table"; de-duplicated,
    * empty-after-normalization rejected. Locale.ROOT lowering: document
    * text is lowered by Spark's locale-independent `lower()`, and the
    * JVM-default `toLowerCase` would silently mismatch it on tr/az/lt
    * locales (dotless-i) — the [[UrlCanonicalize]] convention.
    */
  def normalizedPhrases(phrases: Seq[String]): Seq[Seq[String]] = {
    require(phrases.nonEmpty, "at least one phrase")
    val norm = phrases
      .map(p => p.toLowerCase(java.util.Locale.ROOT)
        .split("\\W+").filter(_.nonEmpty).toSeq)
    norm.zip(phrases).foreach { case (ws, p) =>
      require(ws.nonEmpty, s"phrase '$p' is empty after tokenization")
    }
    norm.distinct
  }

  /** Null-safe array length: NULL array -> NULL. `size(null)` is NULL
    * only under ANSI mode; with `spark.sql.ansi.enabled=false` it
    * returns -1, which would silently count null-text docs into avgdl
    * denominators and fold -1s into corpus length totals. [[graft.core
    * .Engine]] pins ANSI on, but the BM25/index stats folds must not
    * hinge oracle parity on a session flag (the QuantizationSpec
    * posture).
    */
  def sizeOrNull(arr: Column): Column =
    when(arr.isNull, lit(null).cast("int")).otherwise(size(arr))

  /** Per-row positional token bag (`array<struct<token, pos>>`); see
    * [[TokenPositions]]. tf is `size(pos)`.
    */
  def tokenPositions(ws: Column): Column =
    call_function("token_positions", ws)

  /** Count of phrase start positions given per-offset position lists;
    * see [[PhraseStartCount]].
    */
  def phraseStartCount(entries: Column): Column =
    call_function("phrase_start_count", entries)

  /** Minimal window span covering every query term given per-term
    * position lists; see [[MinWindowSpan]].
    */
  def minWindowSpan(entries: Column): Column =
    call_function("min_window_span", entries)

  /** Densest fixed-width window over a query-term position multiset;
    * see [[BestWindow]].
    */
  def bestWindow(positions: Column, window: Int): Column =
    call_function("best_window", positions, lit(window))

  /** Positional (non-distinct) k-gram md5-prefix fingerprints; see
    * [[GramFingerprints]]. `posexplode` recovers (position, fingerprint).
    */
  def gramFingerprints(ws: Column, k: Int): Column =
    call_function("gram_fingerprints", ws, lit(k))

  /** Whitespace tokens (array<string>, empty tokens dropped) — THE
    * whitespace-tokenization definition: chunking, packing token counts,
    * and their DuckDB oracles all transcribe this one semantics, so it
    * must not fork.
    */
  def wsTokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** Whitespace token count (BIGINT). */
  def wsTokenCount(text: Column): Column =
    size(wsTokens(text)).cast("long")

  /** BPE pre-tokenizer: letter runs, digit runs, single punctuation. */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Real BPE token count: pre-tokenize with [[BpeTokenPattern]], then
    * greedy merges-table encoding per word ([[Bpe]]); the DuckDB oracle
    * replays the identical merge rules.
    */
  def bpeTokenCount(text: Column): Column =
    GraftFunctions.bpe_token_count(text)

  /** Document fingerprint: md5 of whitespace-normalized lowercase text. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " "))

  /** Stopword-marker regexes per language for the n-gram language ID
    * heuristic. Word-boundary anchored; both Java regex and RE2 (DuckDB)
    * support `\b`.
    */
  val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|a|of|to|and|in|is)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht)\\b",
    "fr" -> "\\b(le|les|et|est|que|une)\\b",
    "es" -> "\\b(el|los|y|es|por|una)\\b")

  def markerHits(text: Column, pattern: String): Column =
    size(regexp_extract_all(lower(text), lit(pattern), lit(0))).cast("long")

  /** Language-ID: argmax of marker-hit counts with fixed priority order,
    * 'und' when nothing matches.
    */
  def langId(text: Column): Column = {
    val Seq(en, de, fr, es) = LangMarkers.map { case (_, p) => markerHits(text, p) }
    when(en >= de && en >= fr && en >= es && en > 0, "en")
      .when(de >= fr && de >= es && de > 0, "de")
      .when(fr >= es && fr > 0, "fr")
      .when(es > 0, "es")
      .otherwise("und")
  }

  /** Quality score in [0,1]: lexical diversity + stopword share + length
    * credit — `0.5·(distinct/n) + 0.3·(hits/n) + 0.2·min(1, n/250)`,
    * computed EXACTLY as one fixed-point long division
    * ([[graft.functions.FixedPoint]]): over the common denominator
    * `1250·n` the numerator is the integer
    * `(5·distinct + 3·hits)·125 + min(n, 250)·n`, so the half-up
    * 6-decimal value is bit-identical across engines — the oracle
    * replays the same integers (`round(double, 6)` on the summed
    * ratios was the r16 divergence class). Callers must pre-filter
    * size(words) > 0. Size contract: n·2.5·10⁹ must fit a long —
    * per-document word counts < ~2·10⁶, with hits ≤ chars.
    *
    * `stopPattern` is the stopword-marker regex used for the stopword-share
    * term; the default is the English marker set (the battery's historical
    * behavior). For a multilingual corpus use [[qualityScoreByLang]] so each
    * document is scored against ITS OWN language's stopwords — English-only
    * weighting systematically under-scores well-formed non-English prose.
    */
  def qualityScore(ws: Column, text: Column,
      stopPattern: String = LangMarkers.head._2): Column =
    qualityFixedPoint(ws, markerHits(text, stopPattern))

  /** [[qualityScore]] with the stopword term matched to a per-row language
    * column (as produced by [[langId]]): a French document's stopword share
    * counts French markers, not English ones. Unknown language ('und')
    * contributes zero stopword share — its quality rests on diversity and
    * length alone.
    */
  def qualityScoreByLang(ws: Column, text: Column, lang: Column): Column = {
    val hits = LangMarkers.foldRight(lit(0L): Column) { case ((l, p), acc) =>
      when(lang === l, markerHits(text, p)).otherwise(acc)
    }
    qualityFixedPoint(ws, hits)
  }

  private def qualityFixedPoint(ws: Column, hits: Column): Column = {
    val n = size(ws).cast("long")
    val num = (size(array_distinct(ws)).cast("long") * 5 + hits * 3) *
      125L + least(n, lit(250L)) * n
    graft.functions.FixedPoint.ratio6(num, n * 1250L)
  }
}
