package graft.battery

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.TextAnalysis

import Fixtures._
import OracleSql._

/** Classifier and evaluation rows: NaiveBayes over word, hashed and
  * char-gram features, and the report, AUC, kappa, AP, calibration and
  * Brier metrics.
  */
object ClassifyRows {
  /** The q183/q184 eval-score fixture: label-correlated scores on the
    * k/128 grid — exactly representable doubles, so binning
    * (`floor(s·nBins)`) and row micro-quantization (`round(s·10⁶)`,
    * which lands on x.5 halves both engines round identically away
    * from zero) are bit-identical cross-engine. en docs score in
    * [0.25, 0.99], the rest in [0, 0.74] — overlapping, so the AUC is
    * informative rather than degenerate.
    */
  private def evalScores(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(
      (col("lang") === "en").as("y"),
      (when(col("lang") === "en", (col("doc_id") * 13) % 96 + 32)
        .otherwise((col("doc_id") * 13) % 96)
        .cast("double") / 128.0).as("s"))

  /** Shared NB fit+classify oracle scaffold (q123 word unigrams, q127
    * char 2-4-grams): `tokCtes` must define `tr(doc_id, lang, w)` (the
    * even-doc training half) and `te(doc_id, w)` (the odd scoring half)
    * with `w` the token LIST; the rest — priors, Laplace conds, default
    * mass, score sum, lexicographic-tie argmax — is tokenizer-independent
    * and replays `NaiveBayes.train`/`classify` exactly. The chain ends
    * in `scall(doc_id, label, score)` (the full `labelScores` frame)
    * and `pred(doc_id, label, score)` (the argmax) so evaluation
    * oracles (q172/q173) compose on top.
    */
  private def nbPredCtes(tokCtes: String): String =
    s"""$tokCtes,
         n AS (SELECT count(*) AS n FROM tr),
         pri AS (
           SELECT lang AS label, round(ln(count(*) / (SELECT n FROM n)), 6)
             AS prior
           FROM tr GROUP BY lang),
         cnt AS (
           SELECT label, token, count(*) AS c FROM (
             SELECT lang AS label, unnest(w) AS token FROM tr)
           GROUP BY label, token),
         tot AS (
           SELECT p.label, coalesce(sum(c.c), 0) AS t
           FROM pri p LEFT JOIN cnt c USING (label) GROUP BY p.label),
         voc AS (SELECT count(DISTINCT token) AS v FROM cnt),
         cond AS (
           SELECT label, token,
             CAST(round(round(ln((c + 1.0) / (t + 1.0 * (SELECT v FROM voc))), 6)
               * 1000000) AS BIGINT) AS lp_u
           FROM cnt JOIN tot USING (label)),
         dflt AS (
           SELECT label,
             CAST(round(round(ln(1.0 / (t + 1.0 * (SELECT v FROM voc))), 6)
               * 1000000) AS BIGINT) AS dlp_u
           FROM tot),
         priu AS (
           SELECT label, CAST(round(prior * 1000000) AS BIGINT) AS prior_u
           FROM pri),
         sc AS (
           SELECT tt.doc_id, d.label,
             p.prior_u + CAST(sum(coalesce(c.lp_u, d.dlp_u)) AS BIGINT) AS t
           FROM (SELECT doc_id, unnest(w) AS token FROM te) tt
           CROSS JOIN dflt d
           JOIN priu p ON p.label = d.label
           LEFT JOIN cond c ON c.label = d.label AND c.token = tt.token
           GROUP BY tt.doc_id, d.label, p.prior_u),
         scall AS (
           SELECT doc_id, label,
             CASE WHEN t < 0 THEN -((-t + 50) // 100)
                  ELSE (t + 50) // 100 END / 10000.0 AS score
           FROM sc
           UNION ALL
           SELECT te.doc_id, p.label,
             CASE WHEN p.prior_u < 0 THEN -((-p.prior_u + 50) // 100)
                  ELSE (p.prior_u + 50) // 100 END / 10000.0 AS score
           FROM te CROSS JOIN priu p WHERE len(te.w) = 0),
         best AS (
           SELECT doc_id, label, score,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, label) AS rn
           FROM scall),
         pred AS (SELECT doc_id, label, score FROM best WHERE rn = 1)"""

  private def nbClassifyOracle(tokCtes: String): String =
    s"""WITH ${nbPredCtes(tokCtes)}
         SELECT doc_id, label, score FROM pred ORDER BY doc_id"""

  /** The q123 word-unigram tokenizer CTEs (even half trains, odd half
    * scores) — shared by the classify oracle and the q172/q173
    * evaluation oracles.
    */
  private val nbWordTokCtes: String =
    """tr AS (
           SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '\W+'),
               w -> w <> '') AS w
           FROM documents WHERE doc_id % 2 = 0),
         te AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\W+'),
               w -> w <> '') AS w
           FROM documents WHERE doc_id % 2 = 1)"""

  /** `documents` as the NB rows' word features `(doc_id, lang, w)`. */
  private def nbWordDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"), col("lang"),
      graft.functions.TextFunctions.words(col("text")).as("w"))

  /** The NB rows' train/held-out split of `docs(doc_id, lang, tokCol)`:
    * the model fit on the even doc_ids, and the odd ones to score. The
    * model is a TABLE: spilled once under `spillPrefix` (the deployment
    * shape — a persisted model parquet) so classify's three model
    * consumers scan it instead of re-running the fit per subtree.
    */
  private def nbModel(docs: DataFrame, tokCol: String,
      spillPrefix: String): (DataFrame, DataFrame) = {
    val model = graft.io.Spill(graft.operators.NaiveBayes.train(
      docs.where(col("doc_id") % 2 === 0), "lang", tokCol), spillPrefix)
    (model, docs.where(col("doc_id") % 2 === 1))
  }

  /** The q173/q181 ranking frame: each held-out doc's NB en-vs-rest
    * margin `m` (score_en minus the best other score) with `y` = its
    * true lang is en.
    */
  private def enMargin(s: SparkSession, d: String,
      spillPrefix: String): DataFrame = {
    val (model, held) = nbModel(nbWordDocs(s, d), "w", spillPrefix)
    graft.operators.NaiveBayes.labelScores(held, "doc_id", "w", model)
      .groupBy(col("doc_id"))
      .agg((max(when(col("label") === "en", col("score"))) -
        max(when(col("label") =!= "en", col("score")))).as("m"))
      .join(t(s, d, "documents")
        .select(col("doc_id"), (col("lang") === "en").as("y")), "doc_id")
  }

  /** [[nbPredCtes]] over the word tokens plus the en-vs-rest margin
    * `mg(doc_id, m)` — the oracle twin of [[enMargin]].
    */
  private def enMarginCtes: String =
    s"""${nbPredCtes(nbWordTokCtes)},
         mg AS (
           SELECT doc_id,
             max(CASE WHEN label = 'en' THEN score END) -
             max(CASE WHEN label <> 'en' THEN score END) AS m
           FROM scall GROUP BY doc_id)"""

  /** The q183/q184 score fixture CTE — the oracle twin of
    * [[evalScores]]: the same k/128-grid label-correlated scores.
    */
  private val evalScoreCte: String =
    """sc AS (
           SELECT (lang = 'en') AS y,
             CAST(CASE WHEN lang = 'en' THEN (doc_id * 13) % 96 + 32
                  ELSE (doc_id * 13) % 96 END AS DOUBLE) / 128.0 AS s
           FROM documents)"""

  def rows: Seq[Row] = Seq(
    // trainable multinomial Naive Bayes, fit AND scored declaratively:
    // train on the even-doc_id half (label = lang), classify the odd
    // half. Training is counting, so the oracle re-derives the model
    // (priors/conds/defaults with Laplace smoothing) and every
    // prediction. The fixture's lang is independent of its text by
    // construction, so this validates the COMPUTATION end to end;
    // separability/accuracy is NaiveBayesSpec's generated-corpus job
    Row("q123_nb_classify", (s, d) => {
            val (model, held) = nbModel(nbWordDocs(s, d), "w", "graft-nb-")
      graft.operators.NaiveBayes.classify(held, "doc_id", "w", model)
        .orderBy(col("doc_id"))
    },
            // the NB fit re-derived as counting: priors/conds/defaults with
      // Laplace alpha=1, log-probs rounded to 6 at train and scores to 4
      // at classify (the cross-engine ln pin); unseen test tokens take the
      // per-label default mass; argmax = highest rounded score, ties to
      // the smallest label
      nbClassifyOracle(nbWordTokCtes)),

    // the same NB fit+classify over HASHED word features — the fastText
    // hashing trick: the model table is bounded at labels x buckets rows
    // no matter the corpus vocabulary, so the classify broadcast stays
    // fixed-size at any corpus scale (raw word features grow with web
    // vocabulary). Same plan; only the token fold differs
    Row("q132_nb_hashed", (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
        graft.operators.NaiveBayes.hashedTokens(
          graft.functions.TextFunctions.words(col("text")), 512, "nbh")
          .as("w"))
      val (model, held) = nbModel(docs, "w", "graft-nbh-")
      graft.operators.NaiveBayes.classify(held, "doc_id", "w", model)
        .orderBy(col("doc_id"))
    },
      // q123's fit+classify with the md5 bucket fold (512 buckets, salt
      // 'nbh') applied to the word list in BOTH halves
      nbClassifyOracle(
      s"""tr AS (
           SELECT doc_id, lang,
             list_transform(
               list_filter(string_split_regex(lower(text), '\\W+'),
                 w -> w <> ''),
               t -> CAST(${md5BucketSql("t", "nbh", 512)} AS VARCHAR)) AS w
           FROM documents WHERE doc_id % 2 = 0),
         te AS (
           SELECT doc_id,
             list_transform(
               list_filter(string_split_regex(lower(text), '\\W+'),
                 w -> w <> ''),
               t -> CAST(${md5BucketSql("t", "nbh", 512)} AS VARCHAR)) AS w
           FROM documents WHERE doc_id % 2 = 1)""")),

    // the same NB fit+classify over CHAR 2-4-GRAM features — the
    // fastText-posture language-ID tokenizer: char grams don't fragment
    // on short/low-resource text the way word unigrams do. Same
    // counting-is-training plan; only the tokenizer expression differs
    Row("q127_nb_chargram", (s, d) => {
      // gram generation is the CPU-heavy stage and the battery scan is
      // ONE small file (one task); spread the ~300-byte text rows once
      // before tokenizing — at scale the input's own splits provide
      // this parallelism and the repartition drops out. The partition
      // count must be EXPLICIT: a keyless repartition(col) is re-coalesced
      // by AQE to the ~1 MB advisory size — one task at this input size,
      // which serialized the gram stage (profiled: every stage 1 task).
      // An explicit user count is exempt from AQE coalescing; derived
      // from the session's parallelism, not a local[32] constant.
      val docs = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), col("lang"),
          graft.functions.TextFunctions.charGrams(col("text")).as("g"))
      val (model, held) = nbModel(docs, "g", "graft-nbg-")
      graft.operators.NaiveBayes.classify(held, "doc_id", "g", model)
        .orderBy(col("doc_id"))
    },
      // q123's fit+classify with the char 2-4-gram tokenizer CTE swapped
      // in: whitespace-collapsed lowercase text, positional substrings per
      // n concatenated n-major — the exact TextFunctions.charGrams order
      nbClassifyOracle(
      """norm AS (
           SELECT doc_id, lang,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s
           FROM documents),
         grams AS (
           SELECT doc_id, lang,
             CASE WHEN s IS NULL THEN NULL ELSE
               list_concat(list_concat(
                 [substr(s, CAST(x AS INTEGER), 2) FOR x IN range(1, len(s))],
                 [substr(s, CAST(x AS INTEGER), 3) FOR x IN range(1, len(s) - 1)]),
                 [substr(s, CAST(x AS INTEGER), 4) FOR x IN range(1, len(s) - 2)])
             END AS w
           FROM norm),
         tr AS (SELECT doc_id, lang, w FROM grams WHERE doc_id % 2 = 0),
         te AS (SELECT doc_id, w FROM grams WHERE doc_id % 2 = 1)""")),

    // binned ROC-AUC — the CORPUS-SCALE discrimination path (one
    // nBins-bounded hash aggregate + an nBins-row cumulative window,
    // no global sort — q173's exact path is the judged-holdout
    // sibling): 128 bins over the exactly-representable k/128 score
    // fixture, so every distinct score owns its bin and binned ≡ exact
    // by the doubled-rank algebra; this row pins the bin walk,
    // cumulative counts, and micros finish cross-engine
    Row("q183_auc_binned", (s, d) =>
      graft.operators.Eval.rocAucBinned(evalScores(s, d), "y", "s",
        0.0, 1.0, 128),
      // q183: the binned-AUC algebra replayed — clamped floor binning on
      // the exactly-representable k/128 fixture, cumulative
      // negatives-below per bin, the trapezoidal doubled-rank sum, and
      // the identical half-up micros finish
      s"""WITH $evalScoreCte,
         b AS (
           SELECT least(greatest(CAST(floor(s * 128) AS BIGINT), 0), 127)
               AS bin,
             CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
             CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
           FROM sc GROUP BY 1),
         c AS (
           SELECT p, nn, sum(nn) OVER (ORDER BY bin) - nn AS cnb FROM b),
         ag AS (
           SELECT CAST(sum(p) AS BIGINT) AS n_pos,
             CAST(sum(nn) AS BIGINT) AS n_neg,
             CAST(sum(p * (2 * cnb + nn)) AS BIGINT) AS s2
           FROM c)
         SELECT n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             CAST((s2 * 2000000 + 2 * n_pos * n_neg)
               // (4 * n_pos * n_neg) AS DOUBLE) / 1e6 END AS auc
         FROM ag"""),

    // reliability-diagram calibration over the same score fixture:
    // per-bin (n, mean_score, pos_rate) with the mean over
    // row-quantized score micros and both ratios single fixed-point
    // long divisions — "is 0.9 confident right 90% of the time"
    Row("q184_calibration", (s, d) =>
      graft.operators.Eval.calibrationBins(evalScores(s, d), "y", "s",
        0.0, 1.0, 16),
      // q184: per-bin counts, the row-level micro quantization
      // (round(s*1e6) — identical IEEE product, half-away-from-zero in
      // both engines), and the two fixed-point divisions
      s"""WITH $evalScoreCte,
         q AS (
           SELECT least(greatest(CAST(floor(s * 16) AS BIGINT), 0), 15)
               AS bin,
             CAST(round(s * 1000000) AS BIGINT) AS sm, y
           FROM sc),
         g AS (
           SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(sm) AS BIGINT) AS ss,
             CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
           FROM q GROUP BY bin)
         SELECT bin, n,
           CAST((CASE WHEN ss < 0 THEN -1 ELSE 1 END)
             * ((abs(ss) * 2 + n) // (2 * n)) AS DOUBLE) / 1e6
             AS mean_score,
           CAST((pos * 2000000 + n) // (2 * n) AS DOUBLE) / 1e6
             AS pos_rate
         FROM g ORDER BY bin"""),

    // Brier score over the q183/q184 score frame — the third
    // calibration-family metric (mean squared score-outcome gap); one
    // hash aggregate of per-row micro-long squares, fixed-point finish
    Row("q187_brier", (s, d) =>
      graft.operators.Eval.brierScore(evalScores(s, d), "y", "s"),
      // q187: per-row micro gap (round(s*1e6) — identical IEEE product,
      // half-away-from-zero in both engines, the q184 quantization) minus
      // the 0/1e6 label, one integer sum of squares, one half-up
      // fixed-point division
      s"""WITH $evalScoreCte,
         g AS (
           SELECT CAST(round(s * 1000000) AS BIGINT)
             - CASE WHEN y THEN 1000000 ELSE 0 END AS g
           FROM sc)
         SELECT CAST(count(*) AS BIGINT) AS n,
           CAST((CAST(sum(g * g) AS BIGINT) * 2 + count(*) * 1000000)
             // (2 * count(*) * 1000000) AS DOUBLE) / 1e6 AS brier
         FROM g"""),

    // classifier evaluation over the q123 NB language model: the
    // per-label classification report (precision/recall/F1 from one
    // label-bounded pair aggregate) — the audit a model gate must pass
    // before it may drop terabytes
    Row("q172_nb_report", (s, d) => {
      val docs = nbWordDocs(s, d)
            val (model, held) = nbModel(docs, "w", "graft-nbe-")
      val pred = graft.operators.NaiveBayes.classify(held, "doc_id", "w",
        model)
      graft.operators.Eval.classificationReport(
        pred.join(docs.select(col("doc_id"), col("lang")), "doc_id"),
        "lang", "label")
    },
      // q172: the per-label classification report over q123's
      // predictions vs the true labels — counts from one (truth, pred)
      // GROUP BY, every ratio HALF-UP MICROS IN LONG ARITHMETIC
      // ((num*2e6 + den) // (2*den), then one exact /1e6) mirroring
      // Eval.micros exactly; F1 via its count identity 2tp/(2tp+fp+fn),
      // never the p/r composition. round(double,6) is banned here: the
      // engines' double rounding diverges on boundary ratios (r16)
      s"""WITH ${nbPredCtes(nbWordTokCtes)},
         truth AS (
           SELECT d.lang AS t, p.label AS pr
           FROM pred p JOIN documents d USING (doc_id)),
         pairs AS (SELECT t, pr, count(*) AS n FROM truth GROUP BY t, pr),
         byt AS (
           SELECT t AS label, CAST(sum(n) AS BIGINT) AS support,
             CAST(sum(CASE WHEN pr = t THEN n ELSE 0 END) AS BIGINT)
               AS tp
           FROM pairs GROUP BY t),
         byp AS (
           SELECT pr AS label, CAST(sum(n) AS BIGINT) AS fp
           FROM pairs WHERE pr <> t GROUP BY pr),
         rep AS (
           SELECT coalesce(byt.label, byp.label) AS label,
             coalesce(support, 0) AS support, coalesce(tp, 0) AS tp,
             coalesce(fp, 0) AS fp,
             coalesce(support, 0) - coalesce(tp, 0) AS fn
           FROM byt FULL JOIN byp ON byt.label = byp.label)
         SELECT label, support, tp, fp, fn,
           CASE WHEN tp + fp > 0
             THEN CAST((tp * 2000000 + (tp + fp)) // (2 * (tp + fp))
               AS DOUBLE) / 1e6 ELSE 0.0
             END AS precision,
           CASE WHEN support > 0
             THEN CAST((tp * 2000000 + support) // (2 * support)
               AS DOUBLE) / 1e6 ELSE 0.0
             END AS recall,
           CASE WHEN 2 * tp + fp + fn > 0
             THEN CAST((2 * tp * 2000000 + (2 * tp + fp + fn))
               // (2 * (2 * tp + fp + fn)) AS DOUBLE) / 1e6
             ELSE 0.0 END AS f1
         FROM rep ORDER BY label"""),

    // exact tie-corrected AUC of the en-vs-rest NB margin (labelScores
    // exposes the full per-label frame; margin = score_en - best other)
    // — the threshold-free discrimination audit beside q172's report
    Row("q173_en_margin_auc", (s, d) => {
      graft.operators.Eval.rocAuc(enMargin(s, d, "graft-nba-"),
        "y", "m")
    },
      // q173: exact tie-corrected Mann-Whitney AUC of the en-vs-rest NB
      // margin (score_en - best other score; both 4-decimal doubles from
      // identical integer micros, so the margins — and therefore the
      // ranks — are bit-identical across engines)
      s"""WITH $enMarginCtes,
         lab AS (
           SELECT m.m, (d.lang = 'en') AS y
           FROM mg m JOIN documents d USING (doc_id)),
         rk AS (
           SELECT y,
             2 * rank() OVER (ORDER BY m) +
               count(*) OVER (PARTITION BY m) - 1 AS r2
           FROM lab),
         ag AS (
           SELECT CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos,
             CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
             CAST(sum(CASE WHEN y THEN r2 ELSE 0 END) AS BIGINT) AS s2
           FROM rk)
         SELECT n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             CAST(((s2 - n_pos * (n_pos + 1)) * 2000000
                 + 2 * n_pos * n_neg) // (4 * n_pos * n_neg)
               AS DOUBLE) / 1e6 END AS auc
         FROM ag"""),

    // judge agreement: Cohen's kappa between the q33 heuristic lang-id
    // and the q123 NB model on the held-out half — the measured answer
    // to "can the cheap gate substitute for the learned one"
    Row("q179_lang_kappa", (s, d) => {
      val docs = nbWordDocs(s, d)
            val (model, held) = nbModel(docs, "w", "graft-nbk-")
      val pred = graft.operators.NaiveBayes.classify(held, "doc_id", "w",
        model)
        .select(col("doc_id"), col("label"))
      val heur = TextAnalysis.languageId(
        t(s, d, "documents").where(col("doc_id") % 2 === 1),
        "doc_id", "text")
      graft.operators.Eval.cohenKappa(heur.join(pred, "doc_id"),
        "lang_pred", "label")
    },
      // q179: both raters replayed (the q33 heuristic rule + the q123 NB
      // chain), kappa from the label-bounded pair table with the same
      // three correctly-rounded divisions
      s"""WITH ${nbPredCtes(nbWordTokCtes)},
         heur AS (
           ${langIdSql("documents WHERE doc_id % 2 = 1")}),
         pk AS (
           SELECT h.lang_pred AS a, p.label AS b, count(*) AS n
           FROM heur h JOIN pred p USING (doc_id) GROUP BY 1, 2),
         tk AS (
           SELECT CAST(sum(n) AS BIGINT) AS n,
             CAST(coalesce(sum(CASE WHEN a = b THEN n END), 0) AS BIGINT)
               AS d
           FROM pk),
         rka AS (SELECT a, CAST(sum(n) AS BIGINT) AS ra FROM pk GROUP BY a),
         rkb AS (SELECT b, CAST(sum(n) AS BIGINT) AS rb FROM pk GROUP BY b),
         pek AS (
           SELECT CAST(coalesce(sum(ra * rb), 0) AS BIGINT) AS pn
           FROM rka JOIN rkb ON rka.a = rkb.b)
         SELECT tk.n AS n,
           CAST((tk.d * 2000000 + tk.n) // (2 * tk.n) AS DOUBLE) / 1e6
             AS po,
           CAST((pek.pn * 2000000 + tk.n * tk.n) // (2 * tk.n * tk.n)
             AS DOUBLE) / 1e6 AS pe,
           CASE WHEN tk.n * tk.n - pek.pn > 0 THEN
             CAST((CASE WHEN tk.d * tk.n - pek.pn < 0 THEN -1 ELSE 1 END)
               * ((abs(tk.d * tk.n - pek.pn) * 2000000
                   + (tk.n * tk.n - pek.pn))
                 // (2 * (tk.n * tk.n - pek.pn))) AS DOUBLE) / 1e6
             END AS kappa
         FROM tk, pek"""),

    // exact average precision (the PR-curve area, q173's
    // precision-oriented sibling — AP weights the top of the ranking
    // where ROC-AUC counts all pair inversions equally): same NB
    // en-margin ranking, fixed-point integer precision@k terms
    Row("q181_avg_precision", (s, d) => {
      graft.operators.Eval.averagePrecision(enMargin(s, d, "graft-nbp-"),
        "y", "m", tieCol = "doc_id")
    },
      // q181: the q173 margin ranking by (margin DESC, doc_id), each
      // precision@k term as the same fixed-point floor division
      s"""WITH $enMarginCtes,
         lab AS (
           SELECT m.doc_id, m.m, (d.lang = 'en') AS y
           FROM mg m JOIN documents d USING (doc_id)),
         rk AS (
           SELECT y,
             row_number() OVER (ORDER BY m DESC, doc_id) AS k,
             sum(CASE WHEN y THEN 1 ELSE 0 END)
               OVER (ORDER BY m DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pk
           FROM lab),
         ag AS (
           SELECT CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos,
             count(*) AS n_ranked,
             CAST(coalesce(sum(CASE WHEN y
               THEN (pk * 1000000000000) // k ELSE 0 END), 0) AS BIGINT)
               AS ts
           FROM rk)
         SELECT n_pos, n_ranked,
           CASE WHEN n_pos > 0 THEN
             CAST((ts * 2 + n_pos * 1000000) // (n_pos * 2000000)
               AS DOUBLE) / 1e6 END AS ap
         FROM ag""")
  )
}
