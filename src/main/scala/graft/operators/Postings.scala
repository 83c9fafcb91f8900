package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{sizeOrNull, words}

/** A lexical posting source — what every ranker in [[Postings$]] reads:
  * (doc_id, doc_len, term, tf[, pos]) rows, one per distinct (doc, term),
  * doc ids as longs. Two sources serve IDENTICAL rows:
  *   - [[Corpus]]: the posting projection of a docs frame, tokenized in
  *     the caller's plan;
  *   - [[Index]]: a persisted [[LexicalIndex]], read without touching
  *     corpus text.
  * So each ranker is written once, and the one-shot
  * `TextAnalysis.<ranker>` and indexed `LexicalIndex.<ranker>Indexed`
  * entry points only pick the source (one-shot ≡ indexed is
  * spec-pinned).
  */
sealed trait Postings {

  /** The (doc_id, doc_len, term, tf[, pos]) rows holding `terms` (a
    * `term` column). An index answers exactly (bucket-pruned scan plus a
    * term semi-join); a corpus answers with its rows as built, so a
    * ranker's source must hold no more than it means to score — narrow
    * a shared corpus with [[restrict]] first (extra rows stay correct,
    * every consumer joins the query terms, but cost a df rollup and
    * scoring over the whole vocabulary).
    */
  def scan(terms: DataFrame): DataFrame

  /** This source narrowed to `terms`' postings (stats unchanged): a
    * corpus semi-joins its rows in-plan; an index already narrows every
    * [[scan]].
    */
  def restrict(terms: DataFrame): Postings

  /** Rows that MAY hold `terms`, carrying each posting's ascending word
    * positions (`pos`) — a superset the caller narrows with its own term
    * join; fails loud on a source that stored no positions.
    */
  def positions(terms: DataFrame): DataFrame

  /** Every posting row (the full vocabulary). */
  def all: DataFrame

  /** One (n, avgdl) corpus-stats row: n counts every document (null text
    * included), avgdl averages the non-null doc lengths — the semantics
    * of `agg(count, avg(sizeOrNull(words(text))))`.
    */
  def stats: DataFrame
}

/** The posting projection of a docs frame. Each caller builds it the way
  * its consumers need ([[Corpus.spilledFor]], [[Corpus.spilled]],
  * [[Corpus.positional]]); `rows` may also carry per-doc columns riding
  * the tokenize projection (the facet panel's facet). Spilled forms add
  * ONE `term = NULL` sentinel row per document holding its doc_len, so
  * the corpus stats ride the same single tokenize pass as the tf rows.
  */
final case class Corpus(rows: DataFrame) extends Postings {
  def scan(terms: DataFrame): DataFrame = all
  def positions(terms: DataFrame): DataFrame = all
  def all: DataFrame = rows.where(col("term").isNotNull)
  def stats: DataFrame = rows.where(col("term").isNull)
    .agg(count(lit(1)).cast("double").as("n"),
      avg(col("doc_len").cast("double")).as("avgdl"))

  /** The null-safe semi-join keeps the term=NULL stats sentinels a plain
    * `left_semi` on `term` would drop. The broadcast side keeps duplicate
    * terms (a semi-join only probes), sparing a shuffle in every plan
    * that reads the stats.
    */
  def restrict(terms: DataFrame): Corpus = {
    val keep = terms.select(col("term").as("__kt"))
      .unionByName(terms.sparkSession.range(1)
        .select(lit(null).cast("string").as("__kt")))
    Corpus(rows.join(broadcast(keep), col("term") <=> col("__kt"),
      "left_semi"))
  }

  /** The (doc_id, doc_len, term, tf) rows of the `seeds` documents. */
  def tfOf(seeds: DataFrame, seedIdCol: String): DataFrame =
    all.join(
      broadcast(seeds.select(col(seedIdCol).cast("long").as("doc_id"))),
      Seq("doc_id"), "left_semi")
}

object Corpus {

  /** Every posting row plus the stats sentinels, spilled once so several
    * rankers (and the vocabulary/df folds) share one tokenize pass.
    */
  def spilled(docs: DataFrame, idCol: String, textCol: String): Corpus =
    Corpus(graft.io.Spill(withLens(docs, idCol, textCol), "graft-corpus-"))

  /** [[spilled]] restricted at spill time to `terms` — the spill holds
    * query-matching rows and the sentinels, never text; it answers only
    * for those terms.
    */
  def spilledFor(docs: DataFrame, idCol: String, textCol: String,
      terms: DataFrame): Corpus =
    Corpus(graft.io.Spill(
      Corpus(withLens(docs, idCol, textCol)).restrict(terms).rows,
      "graft-bm25tf-"))

  /** The positional projection, left in-plan: its one consumer (the
    * candidate join) prunes it at scan speed, so a spill would only add
    * a write.
    */
  def positional(docs: DataFrame, idCol: String, textCol: String): Corpus =
    Corpus(Postings.project(docs, idCol, textCol, positional = true))

  /** [[Postings.project]]'s tf rows plus the per-doc sentinel (doc_len
    * under `sizeOrNull`: NULL for null text — null-text and zero-token
    * docs emit a sentinel and nothing else). Map-only.
    */
  private def withLens(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        words(col(textCol)).as("__w"))
      .select(col("doc_id"),
        sizeOrNull(col("__w")).cast("long").as("doc_len"),
        explode(concat(
          coalesce(call_function("token_counts", col("__w")),
            array().cast("array<struct<token:string,n:bigint>>")),
          array(struct(lit(null).cast("string").as("token"),
            lit(0L).as("n"))))).as("__tc"))
      .select(col("doc_id"), col("doc_len"),
        col("__tc.token").as("term"), col("__tc.n").as("tf"))
}

/** The persisted [[LexicalIndex]] at `path`. Its meta is read once, here
  * (failing loud on a non-index path); scans prune to the terms' bucket
  * directories (the bucket list is a bounded driver collect,
  * |buckets| <= min(|terms|, nBuckets) — the [[Similarity.queryBuckets]]
  * discipline); [[stats]] folds the per-batch delta rows.
  */
final case class Index(spark: SparkSession, path: String) extends Postings {
  private val (nBuckets, positional) = LexicalIndex.readMeta(spark, path)

  private def pruned(terms: DataFrame): DataFrame = {
    val buckets = terms
      .select(LexicalIndex.termBucket(col("term"), nBuckets).as("tb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    all.where(col("tb").isin(buckets: _*))
  }

  def scan(terms: DataFrame): DataFrame =
    pruned(terms).join(broadcast(terms.select(col("term")).distinct()),
      Seq("term"), "left_semi")

  def restrict(terms: DataFrame): Index = this

  def positions(terms: DataFrame): DataFrame = {
    if (!positional)
      throw new IllegalStateException(
        s"$path is not a positional index - phrase, proximity and " +
          "passage retrieval need word positions; rebuild it with " +
          "LexicalIndex.write(..., positional = true)")
    pruned(terms)
  }

  def all: DataFrame = LexicalIndex.readPostings(spark, path)

  /** n_len (not n_docs) is the avgdl divisor — see [[LexicalIndex]]. */
  def stats: DataFrame = LexicalIndex.readStats(spark, path)
    .agg(sum(col("n_docs")).cast("double").as("n"),
      (sum(col("total_len")).cast("double")
        / sum(coalesce(col("n_len"), col("n_docs"))).cast("double"))
        .as("avgdl"))
}

/** The lexical rankers, each written once over a [[Postings]] source.
  *
  * Shared contracts:
  *   - exchanges carry integer (query, doc, term-stat) rows, never text;
  *     query-side frames broadcast;
  *   - scores are exact integer micros (6-decimal rounding where the one
  *     `ln` sits, then order-invariant integer sums — a double sum would
  *     land on ranking boundaries differently per partitioning), ranked
  *     through the bounded [[Similarity.rankTopKPerQuery]] top-k with the
  *     ascending-doc-id tiebreak (the q95 contract);
  *   - a query matching nothing yields no rows, so a query can return
  *     fewer than k.
  */
object Postings {

  /** BM25 defaults (Robertson/Walker). */
  val K1 = 1.2
  val B = 0.75

  /** Map-only (doc_id, doc_len, term, tf[, pos]) projection — the ONE
    * tokenize + TokenCounts-bag semantics the index writes and the
    * corpus sources read. Positional: the
    * [[graft.functions.TokenPositions]] bag adds each term's ascending
    * word positions (tf = size(pos)).
    */
  private[operators] def project(docs: DataFrame, idCol: String,
      textCol: String, positional: Boolean): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      words(col(textCol)).as("__w"))
    val len = size(col("__w")).cast("long").as("doc_len")
    if (!positional)
      toks.select(col("doc_id"), len,
          explode(call_function("token_counts", col("__w"))).as("__tc"))
        .select(col("doc_id"), col("doc_len"),
          col("__tc.token").as("term"), col("__tc.n").as("tf"))
    else
      toks.select(col("doc_id"), len,
          explode(graft.functions.TextFunctions.tokenPositions(col("__w")))
            .as("__tp"))
        .select(col("doc_id"), col("doc_len"),
          col("__tp.token").as("term"),
          size(col("__tp.pos")).cast("long").as("tf"),
          col("__tp.pos").as("pos"))
  }

  // ---- query frames ----------------------------------------------------

  /** (query_id, term): ids cast to long, terms de-duplicated per query
    * (no k3 query-tf saturation).
    */
  def bm25QueryTerms(queries: DataFrame, queryIdCol: String,
      queryTermsCol: String): DataFrame =
    queries.select(col(queryIdCol).cast("long").as("query_id"),
      explode(array_distinct(col(queryTermsCol))).as("term"))

  /** (query_id, term, role) with role ∈ must/should/not, deduped per
    * (query, term, role). A query with an empty must∪should scoring set
    * fails loud — nothing ranks an all-negative query.
    */
  def boolQueryRoles(queries: DataFrame, queryIdCol: String,
      mustCol: String, shouldCol: String, mustNotCol: String): DataFrame = {
    def role(c: String, r: String) = queries
      .select(col(queryIdCol).cast("long").as("query_id"),
        explode(array_distinct(col(c))).as("term"))
      .withColumn("role", lit(r))
    // coalesce each size: size(NULL) is NULL, and NULL + n < 1 is NULL,
    // so null must AND should arrays would bypass the check
    val unscored = queries
      .select(col(queryIdCol).cast("long").as("query_id"),
        (coalesce(size(array_distinct(col(mustCol))), lit(0))
          + coalesce(size(array_distinct(col(shouldCol))), lit(0)))
          .as("__n"))
      .where(col("__n") < 1).select(col("query_id")).limit(1).collect()
    require(unscored.isEmpty,
      s"query ${unscored.headOption.map(_.getLong(0)).getOrElse(-1L)} " +
        "has no must or should terms - an all-negative query ranks nothing")
    role(mustCol, "must")
      .unionByName(role(shouldCol, "should"))
      .unionByName(role(mustNotCol, "not"))
  }

  /** (query_id, __pt terms, __n length) phrases, normalized through
    * [[words]]; a phrase empty after tokenization fails loud (one bounded
    * driver check).
    */
  def phraseQueries(queries: DataFrame, queryIdCol: String,
      phraseCol: String): DataFrame = {
    val qp = queries.select(col(queryIdCol).cast("long").as("query_id"),
        words(col(phraseCol)).as("__pt"))
      .select(col("query_id"), col("__pt"), size(col("__pt")).as("__n"))
    requireNonEmpty(qp, "a phrase")
    qp
  }

  /** (query_id, __n, off, term): terms normalized through [[words]],
    * de-duplicated per query in first-occurrence order (a repeated term
    * adds no constraint), offsets 0..n-1; empty queries fail loud.
    */
  def proximityQueryTerms(queries: DataFrame, queryIdCol: String,
      termsCol: String): DataFrame = {
    val qp = queries.select(col(queryIdCol).cast("long").as("query_id"),
        array_distinct(words(col(termsCol))).as("__t"))
      .select(col("query_id"), col("__t"), size(col("__t")).as("__n"))
    requireNonEmpty(qp, "a terms string")
    qp.select(col("query_id"), col("__n"),
      posexplode(col("__t")).as(Seq("off", "term")))
  }

  private def requireNonEmpty(qp: DataFrame, what: String): Unit = {
    val empties = qp.where(col("__n") < 1).select(col("query_id"))
      .limit(1).collect()
    require(empties.isEmpty,
      s"query ${empties.headOption.map(_.getLong(0)).getOrElse(-1L)} has " +
        s"$what that is empty after tokenization")
  }

  // ---- shared scoring pieces -------------------------------------------

  /** The one BM25 term score over columns (n, df, tf, doc_len, avgdl):
    * Robertson-Spärck Jones idf with the +1 floor (common terms never
    * score negative) times the k1/b tf saturation.
    */
  private[operators] def bm25Term(k1: Double, b: Double): Column =
    log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
      (col("tf") * lit(k1 + 1)) /
      (col("tf") + lit(k1) *
        (lit(1 - b) + lit(b) * col("doc_len") / col("avgdl")))

  /** Per-(term, doc) BM25 micros of `tf` rows: df rolled up over the rows
    * themselves, the one-row stats broadcast.
    */
  private def bm25Micros(tf: DataFrame, stats: DataFrame, k1: Double,
      b: Double): DataFrame =
    tf.join(broadcast(tf.groupBy(col("term"))
        .agg(count(lit(1)).as("df"))), Seq("term"))
      .join(broadcast(stats))
      .select(col("term"), col("doc_id"),
        round(round(bm25Term(k1, b), 6) * 1e6).cast("long").as("__sm"))

  /** Top-k terms per doc by tf x ln(N/df) micros (idf rounded to 6,
    * ascending-term tiebreak), folded per doc inside ONE aggregate.
    * `df` comes from the caller — more-like-this scores seed docs
    * against corpus-wide df.
    */
  private def tfidfRank(tf: DataFrame, df: DataFrame, stats: DataFrame,
      k: Int): DataFrame =
    tf.join(df, Seq("term"))
      .join(broadcast(stats.select(col("n"))))
      .select(col("doc_id"), col("term"),
        round(round(log(col("n") / col("df")), 6) * col("tf") * 1e6)
          .cast("long").as("__sm"))
      .groupBy(col("doc_id"))
      .agg(slice(sort_array(collect_list(
        struct((-col("__sm")).as("m"), col("term")))), 1, k).as("__top"))
      .select(col("doc_id"), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col("doc_id"), (col("__r") + 1).cast("long").as("rank"),
        col("__t.term").as("term"),
        ((-col("__t.m")).cast("double") / lit(1e6)).as("score"))

  /** Rank (query_id, doc_id, ...) candidates by `sim` through the bounded
    * top-k and rejoin `out` onto the k-bounded rank frame. The candidates
    * spill once — (query, candidate-doc) integers, probe-sized.
    */
  private def rankCandidates(cands: DataFrame, sim: Column, k: Int,
      out: Column*): DataFrame = {
    val c = graft.io.Spill(cands, "graft-cands-")
    Similarity.rankTopKPerQuery(
        c.select(col("query_id"), col("doc_id"),
          sim.cast("double").as("sim")), "doc_id", k)
      .join(c, Seq("query_id", "doc_id"))
      .select(Seq(col("query_id"), col("rank"), col("doc_id")) ++ out: _*)
  }

  /** Per-(query, doc) (off, pos) entry lists of docs holding ALL `__n`
    * query offsets (a distinct offset joins exactly once, so the entry
    * count pins it).
    */
  private def allOffsets(src: Postings, qterms: DataFrame): DataFrame =
    src.positions(qterms).join(broadcast(qterms), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"), col("__n"))
      .agg(collect_list(struct(col("off"), col("pos"))).as("__e"))
      .where(size(col("__e")) === col("__n"))

  // ---- rankers ---------------------------------------------------------

  /** Batched BM25 top-k: for every (query_id, term) query, the k
    * highest-BM25 documents; per-term micros sum per (query, doc). `src`
    * should hold only the query terms' postings (a corpus spilled for
    * them, an index, or a shared corpus narrowed with
    * [[Postings.restrict]]): the df rollup and scoring run over whatever
    * it holds.
    */
  def bm25TopK(src: Postings, qterms: DataFrame, k: Int, k1: Double,
      b: Double): DataFrame = {
    require(k > 0, "k must be positive")
    Similarity.rankTopKPerQuery(
      bm25Micros(src.scan(qterms), src.stats, k1, b)
        .join(broadcast(qterms), Seq("term"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("__sm")).as("__m"))
        .select(col("query_id"), col("doc_id"),
          col("__m").cast("double").as("sim")),
      "doc_id", k)
  }

  /** Boolean-filtered BM25 over [[boolQueryRoles]]: candidates holding
    * every must term and no mustNot term rank by the standard score over
    * their matched must∪should terms. The must gate is a counter inside
    * the per-(query, doc) score aggregate (matched-must count == the
    * query's must count — no extra pass); the mustNot gate is one
    * anti-join of (query, doc) id pairs. A term listed both must and
    * mustNot yields the empty set. `src` holds the role terms' postings
    * (the [[bm25TopK]] contract).
    */
  def bm25TopKBool(src: Postings, roles: DataFrame, k: Int, k1: Double,
      b: Double): DataFrame = {
    require(k > 0, "k must be positive")
    // mustNot terms are scanned too: their matches disqualify
    val tf = src.scan(roles)
    // scoring terms with their must flag (must AND should counts once,
    // as must)
    val sroles = roles.where(col("role") =!= "not")
      .groupBy(col("query_id"), col("term"))
      .agg(max(when(col("role") === "must", 1L).otherwise(0L))
        .as("__is_must"))
    val nMust = sroles.where(col("__is_must") === 1)
      .groupBy(col("query_id")).agg(count(lit(1)).as("__n_must"))
    val pairs = bm25Micros(tf, src.stats, k1, b)
      .join(broadcast(sroles), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__sm")).as("__m"),
        sum(col("__is_must")).as("__must_hit"))
      .join(broadcast(nMust), Seq("query_id"), "left")
      .where(col("__must_hit") === coalesce(col("__n_must"), lit(0L)))
    val excluded = tf.select(col("doc_id"), col("term"))
      .join(broadcast(roles.where(col("role") === "not")
        .select(col("query_id"), col("term"))), Seq("term"))
      .select(col("query_id"), col("doc_id")).distinct()
    Similarity.rankTopKPerQuery(
      pairs.join(excluded, Seq("query_id", "doc_id"), "left_anti")
        .select(col("query_id"), col("doc_id"),
          col("__m").cast("double").as("sim")),
      "doc_id", k)
  }

  /** Typo-tolerant BM25: each query term expands to every vocabulary
    * term within Levenshtein `maxDist` ([[fuzzyExpandTerms]]), then the
    * expanded sets rank through [[bm25TopK]]. The expanded frame spills:
    * it feeds several consumers (the semi-join broadcast, the scoring
    * join, an index's bucket collect), and left in-plan each would re-run
    * the whole expansion (at depth 2 the dominant cost, measured 5x the
    * expansion itself). At 100 TB maintain the vocabulary as a side table
    * rather than folding it per query.
    */
  def bm25TopKFuzzy(src: Postings, qterms: DataFrame, k: Int,
      maxDist: Int, k1: Double, b: Double): DataFrame = {
    val expanded = graft.io.Spill(fuzzyExpandTerms(
      src.all.select(col("term")).distinct(), qterms, maxDist),
      "graft-fuzzy-exp-")
    bm25TopK(src.restrict(expanded), expanded, k, k1, b)
  }

  /** Expand (query_id, term) rows to every `vocab` term within
    * Levenshtein distance `maxDist` (0, 1 or 2) — the SymSpell scheme:
    * every dist<=d pair shares a variant reachable by <= d character
    * deletes from each side (the term itself counts), so candidates come
    * from one equi-join of the exploded variant sets (the tiny query side
    * broadcasts, the vocabulary side stays map-only) and the exact
    * `levenshtein` filter drops the shared-variant false positives
    * ("ab"/"ba") — never a vocabulary x query-term distance sweep.
    */
  private[operators] def fuzzyExpandTerms(vocab: DataFrame,
      qterms: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 2,
      "deletion-variant expansion covers Levenshtein distance <= 2 " +
        "(depth-3 variant sets explode cubically for marginal recall)")
    if (maxDist == 0)
      return qterms.join(vocab, Seq("term")).select("query_id", "term")
    // all single-character deletes of every string in `ts` (flattened);
    // zero-length sources contribute nothing (sequence(1, 0) is invalid)
    def dels(ts: Column): Column =
      flatten(transform(filter(ts, t => length(t) >= 1), t =>
        transform(sequence(lit(1), length(t)),
          i => concat(t.substr(lit(1), i - 1),
            t.substr(i + 1, length(t) - i)))))
    // Depth 1: L+1 variants per term; depth 2: O(L^2/2), paid only when
    // the caller asks for dist 2. `dedup` guards the final
    // O(|variants|^2) array_distinct: worth it on the tiny broadcast
    // side, a measured 5x slowdown on the V-sized vocabulary side (15G
    // string compares at |V|=1e6, depth 2), where duplicate variants
    // merely add equi-join probes the post-join distinct absorbs. d1
    // stays deduped before the second delete round in both cases — that
    // distinct is 11x11 and BOUNDS the depth-2 set.
    def variants(t: Column, dedup: Boolean): Column = {
      val d1 = dels(array(t))
      val all = if (maxDist >= 2)
        concat(array(t), d1, dels(array_distinct(d1)))
      else concat(array(t), d1)
      if (dedup) array_distinct(all) else all
    }
    val qv = qterms
      .select(col("query_id"), col("term").as("__qterm"),
        explode(variants(col("term"), dedup = true)).as("__v"))
    val vv = vocab.select(col("term"),
      explode(variants(col("term"), dedup = false)).as("__v"))
    vv.join(broadcast(qv), Seq("__v"))
      .select(col("query_id"), col("__qterm"), col("term")).distinct()
      .where(levenshtein(col("__qterm"), col("term")) <= maxDist)
      .select(col("query_id"), col("term")).distinct()
  }

  /** More like this: for every seed document (its (doc_id, doc_len, term,
    * tf) rows in `seedTf`), the k documents ranked by BM25 over the
    * seed's top-`mTerms` tf-idf terms (corpus-wide idf). The seed itself
    * is excluded and later ranks close up, so ranks stay dense 1..k.
    * The keyword frame (seeds x m) and the ranked frame (seeds x k+1)
    * each feed several broadcast consumers, so both spill (tiny integer
    * frames; in-plan they re-planned per consumer, measured 74
    * exchanges).
    */
  def moreLikeThis(src: Postings, seedTf: DataFrame, mTerms: Int, k: Int,
      k1: Double, b: Double): DataFrame = {
    require(mTerms > 0, "mTerms must be positive")
    require(k > 0, "k must be positive")
    // corpus-wide df of (at least) the seed terms
    val df = src.scan(seedTf.select(col("term")))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val keywords = graft.io.Spill(tfidfRank(seedTf, df, src.stats, mTerms),
      "graft-mlt-kw-")
    val qterms = keywords.select(col("doc_id").as("query_id"), col("term"))
    val res = graft.io.Spill(bm25TopK(src.restrict(qterms), qterms, k + 1,
      k1, b), "graft-mlt-res-")
    val selfRank = res.where(col("query_id") === col("doc_id"))
      .select(col("query_id"), col("rank").as("__sr"))
    res.where(col("query_id") =!= col("doc_id"))
      .join(broadcast(selfRank), Seq("query_id"), "left")
      .select(col("query_id"),
        when(col("__sr").isNotNull && col("rank") > col("__sr"),
          col("rank") - 1).otherwise(col("rank")).as("rank"),
        col("doc_id"))
      .where(col("rank") <= k)
  }

  /** Quoted-phrase top-k over [[phraseQueries]]: the k documents with
    * the most exact word-sequence occurrences of the phrase. Candidates
    * hold every phrase offset's term; [[graft.functions.PhraseStartCount]]
    * verifies adjacency over their position lists (all terms present but
    * never adjacent is not a match). Output (query_id, rank, doc_id,
    * n_hits).
    */
  def phraseTopK(src: Postings, qp: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val qterms = qp.select(col("query_id"), col("__n"),
      posexplode(col("__pt")).as(Seq("off", "term")))
    rankCandidates(allOffsets(src, qterms)
        .select(col("query_id"), col("doc_id"),
          graft.functions.TextFunctions.phraseStartCount(col("__e"))
            .as("n_hits"))
        .where(col("n_hits") > 0),
      col("n_hits"), k, col("n_hits"))
  }

  /** Proximity top-k over [[proximityQueryTerms]]: the k documents whose
    * minimal word window covering one occurrence of EVERY query term
    * ([[graft.functions.MinWindowSpan]]) spans <= `slop`, tightest
    * first — "these terms, near each other, any order". Output
    * (query_id, rank, doc_id, span).
    */
  def proximityTopK(src: Postings, qterms: DataFrame, slop: Int,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    require(slop >= 0, "slop must be >= 0")
    rankCandidates(allOffsets(src, qterms)
        .select(col("query_id"), col("doc_id"),
          graft.functions.TextFunctions.minWindowSpan(col("__e"))
            .as("span"))
        .where(col("span") <= slop),
      -col("span"), k, col("span"))
  }

  /** Windowed-passage top-k over [[proximityQueryTerms]]: documents
    * ranked by their query-term-densest `window`-word passage (most
    * occurrences, earliest window on ties — the two-pointer
    * [[graft.functions.BestWindow]] sweep), any single occurrence making
    * a candidate. Output (query_id, rank, doc_id, n_hits, start).
    */
  def passageTopK(src: Postings, qterms: DataFrame, window: Int,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    require(window >= 1, "window must be >= 1")
    rankCandidates(src.positions(qterms).join(broadcast(qterms), Seq("term"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(flatten(collect_list(col("pos"))).as("__ps"))
        .select(col("query_id"), col("doc_id"),
          graft.functions.TextFunctions.bestWindow(col("__ps"), window)
            .as("__bw"))
        .select(col("query_id"), col("doc_id"),
          col("__bw.n_hits").as("n_hits"), col("__bw.start").as("start")),
      col("n_hits"), k, col("n_hits"), col("start").cast("long").as("start"))
  }

  /** [[passageTopK]] with the winning passage's text: the queries x k
    * ranked frame BROADCASTS onto the corpus tokenize scan and slices
    * `window` words from the winning start (clamped at the doc tail) —
    * one more map-only pass, never a corpus shuffle. An inverted index
    * cannot rebuild a word window without reading every bucket, so the
    * corpus frame is always the text source.
    */
  def passageSnippets(src: Postings, docs: DataFrame, idCol: String,
      textCol: String, qterms: DataFrame, window: Int, k: Int): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        words(col(textCol)).as("__w"))
      .join(broadcast(passageTopK(src, qterms, window, k)), Seq("doc_id"))
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_hits"), col("start"),
        concat_ws(" ", slice(col("__w"),
          (col("start") + 1).cast("int"), lit(window))).as("snippet"))

  /** Search-facet counts: per (query, facet), the documents matching ANY
    * query term — counted once per query however many terms matched
    * (one distinct, one count aggregate). `withFacet` puts the `facet`
    * column on the match rows: identity when the corpus rows carry it,
    * a doc-id join for an index (facets are per-doc attributes living
    * beside the corpus, not in the term-keyed layout).
    */
  def facetCounts(src: Postings, qterms: DataFrame,
      withFacet: DataFrame => DataFrame): DataFrame =
    withFacet(src.scan(qterms).join(broadcast(qterms), Seq("term")))
      .select(col("query_id"), col("doc_id"), col("facet")).distinct()
      .groupBy(col("query_id"), col("facet"))
      .agg(count(lit(1)).as("n_docs"))

  /** Significant terms of each query's match set (docs holding ANY query
    * term): the over-represented vocabulary by log df-lift
    * ln((fg/nMatched)/(df/N)) in micros (term-ascending tiebreak), the
    * query's own terms excluded. `minFgCount` is the ES-style minimum
    * foreground count, applied BEFORE the df join and scoring (1 keeps
    * everything). The foreground needs every matched doc's full term
    * list, so this reads all postings; the per-query top-k is the
    * bounded [[graft.functions.TopKTermsAggregator]] — the candidate set
    * can be the whole vocabulary. Output (query_id, rank, term, score).
    */
  def significantTerms(src: Postings, qterms: DataFrame, k: Int,
      minFgCount: Int): DataFrame = {
    require(k > 0, "k must be positive")
    require(minFgCount >= 1, "minFgCount must be >= 1")
    val dterms = src.all.select(col("doc_id"), col("term"))
    val matched = dterms.join(broadcast(qterms), Seq("term"))
      .select(col("query_id"), col("doc_id")).distinct()
    val nm = matched.groupBy(col("query_id"))
      .agg(count(lit(1)).as("__nm"))
    val df = dterms.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val fg = matched.join(dterms, Seq("doc_id"))
      .groupBy(col("query_id"), col("term")).agg(count(lit(1)).as("__fg"))
      .where(col("__fg") >= minFgCount)
    val topk = udaf(new graft.functions.TopKTermsAggregator(k))
    fg.join(broadcast(qterms), Seq("query_id", "term"), "left_anti")
      .join(broadcast(nm), Seq("query_id"))
      .join(df, Seq("term"))
      .join(broadcast(src.stats.select(col("n"))))
      .select(col("query_id"), col("term"),
        round(round(log((col("__fg").cast("double") * col("n"))
          / (col("__nm").cast("double") * col("__df").cast("double"))),
          6) * 1e6).cast("long").as("__sm"))
      .groupBy(col("query_id"))
      .agg(topk(col("__sm"), col("term")).as("__top"))
      .select(col("query_id"),
        posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col("query_id"), (col("__r") + 1).cast("long").as("rank"),
        col("__t._2").as("term"),
        (col("__t._1").cast("double") / lit(1e6)).as("score"))
  }

  /** Top-k characteristic terms per document by tf-idf. The df rollup
    * joins back on `term` as a shuffled equi-join (vocabulary can exceed
    * broadcast thresholds at web scale). Output (doc_id, rank, term,
    * score).
    */
  def tfidfKeywords(src: Postings, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val tf = src.all.select(col("doc_id"), col("term"), col("tf"))
    tfidfRank(tf, tf.groupBy(col("term")).agg(count(lit(1)).as("df")),
      src.stats, k)
  }
}
