package graft.battery

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, TextFunctions}
import graft.operators.{Dedup, TextAnalysis}

import Fixtures._
import OracleSql._

/** Training-data pipeline rows: the composed clean chain and its drop
  * lineage, splits, sampling, mixing, DSIR, packing, FIM, SFT and
  * preference data, and the export artifacts.
  */
object PipelineRows {
  /** The reward-scored candidate frame shared by q177 and q204 (the
    * shared-helper discipline — the two preference surfaces must rank
    * the identical candidates): exact 1e4-scaled cosine top-8 per
    * probe, probes every 100th embedding.
    */
  private def prefScored(s: SparkSession, d: String): DataFrame = {
    val embs = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val probes = embs.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
    val topk = udaf(new graft.functions.TopKScoredAggregator(8))
    embs.join(broadcast(probes), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(round(graft.functions.GraftFunctions.cosine_sim(
          col("embedding"), col("__qv")), 4) * 1e4)
          .cast("long").as("__sm"))
      .groupBy(col("query_id"))
      .agg(topk(col("__sm"), col("vec_id")).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t._2").as("cand_id"),
        col("t._1").as("score"))
  }

  /** Shared token-id CTE chain for the BPE-id oracles (q96, q97):
    * embedded vocab, word split in document order, per-word token
    * sequences from the BPE recursion flattened in word order, then
    * position-indexed ids through the vocab (UNK=1). `truncate` bounds
    * the positions (q96's fixed window); None keeps every token (q97).
    * One definition so a fix to the word-order or UNK logic can't land
    * in one oracle and not the other.
    */
  private def bpeIdCtes(truncate: Option[Int]): String = {
    val vocabValues = graft.functions.Bpe.Vocab.zipWithIndex.map {
      case (t, i) => s"(${i + 2}, '${t.replace("'", "''")}')"
    }.mkString(", ")
    val bound = truncate.map(n => s"least(len(toks), $n)").getOrElse("len(toks)")
    s"""__vocab(id, tok) AS (VALUES $vocabValues),
       wlist AS (
         SELECT doc_id, regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') AS ws
         FROM documents),
       wpos AS (
         SELECT doc_id, unnest(range(1, len(ws)+1)) AS p, ws
         FROM wlist WHERE len(ws) > 0),
       w2 AS (SELECT doc_id, p, ws[p] AS w FROM wpos),
       seq AS (
         SELECT doc_id, flatten(list(wt.toks ORDER BY p)) AS toks
         FROM w2 JOIN __bpe_word_tokens wt USING (w)
         GROUP BY doc_id),
       tpos AS (
         SELECT doc_id, unnest(range(1, $bound+1)) AS tp, toks
         FROM seq),
       tid AS (
         SELECT x.doc_id, x.tp, CAST(coalesce(v.id, 1) AS INTEGER) AS id
         FROM (SELECT doc_id, tp, toks[tp] AS t FROM tpos) x
         LEFT JOIN __vocab v ON v.tok = x.t)"""
  }

  /** [[graft.pipelines.TrainingData.clean]]-with-defaults gate chain, shared
    * VERBATIM by the q45, q90, q168 and q199 oracles (the shared-helper
    * discipline: the gate chain cannot drift between the replays).
    * Normalize-dedup min-id `uniq`, language-ID scores and the exact
    * fixed-point quality in `scored` (plus `scoredExtra`: `""` or a column
    * with a leading space and a trailing comma), the en/0.26 `gated`, and
    * the 3-shingle df-capped pair chain ending in `inter`.
    */
  private def cleanInterCtes(scoredExtra: String): String =
    s"""uniq AS (
           SELECT doc_id, text FROM documents
           WHERE doc_id IN (
             SELECT min(doc_id) FROM documents
             GROUP BY regexp_replace(lower(text), '\\s+', ' ', 'g'))),
         feat AS (
           SELECT doc_id, text,
             $wordsSql AS w,
             $langHitsSql
           FROM uniq),
         scored AS (
           SELECT doc_id, text, w,
             $langPredSql,$scoredExtra
             ${qualitySql()}
           FROM feat WHERE len(w) > 0),
         gated AS (
           SELECT * FROM scored WHERE lang_pred = 'en' AND quality >= 0.26),
         dd AS (
           SELECT doc_id, $shinglesSql AS sh
           FROM gated WHERE len(w) >= 3),
         ${shingleInterCtes("", tight = true)}"""

  /** [[cleanInterCtes]] plus the Jaccard-0.5 near-dup drops `removed(id_b)`. */
  private def cleanRemovedCtes(scoredExtra: String): String =
    s"""${cleanInterCtes(scoredExtra)},
         removed AS (
           SELECT DISTINCT id_b FROM inter WHERE $jaccardSql >= 0.5)"""

  /** [[cleanRemovedCtes]] ending in the survivors `surv(doc_id, text)`. */
  private def cleanSurvivorCtes: String =
    s"""${cleanRemovedCtes("")},
         surv AS (
           SELECT g.doc_id, g.text FROM gated g
           WHERE g.doc_id NOT IN (SELECT id_b FROM removed))"""

  /** The export chain's stages 1-2, shared VERBATIM by the q199/q201/
    * q202/q203 oracles (the shared-helper discipline — the split cannot
    * drift between the train-side, val-side, artifact, and multi-epoch
    * replays): [[cleanSurvivorCtes]] + the sp_-prefixed pair/CC chain
    * over `surv` (q193's graph arithmetic) + the 0.2-valFraction
    * unit-hash split of the representative. Ends in
    * `spl(doc_id, text, split)` and `tr(doc_id, text)` (the train side).
    */
  private def exportSplitCtes: String =
    cleanSurvivorCtes + ",\n         " +
      nearDupCcCtesOver("surv", "sp_") + """,
         lab AS (SELECT id, min(comp) AS comp FROM sp_cc GROUP BY id),
         spl AS (
           SELECT s.doc_id, s.text,
             CASE WHEN CAST(('0x' || substr(md5(
                 CAST(coalesce(l.comp, s.doc_id) AS VARCHAR) || 'split'),
                 1, 8)) AS UBIGINT) / 4294967296.0 < 0.2
               THEN 'val' ELSE 'train' END AS split
           FROM surv s LEFT JOIN lab l ON s.doc_id = l.id),
         tr AS (SELECT doc_id, text FROM spl WHERE split = 'train')"""

  /** One epoch's FIM draw over `tr` (q194's md5 arithmetic at `salt`,
    * sentinel-clash docs excluded) + exact output sizes + the d(%37)
    * battery group, CTE names prefixed with `p` so epochs coexist in one
    * oracle (q203). Ends in `${p}sized(doc_id, fmt, tokens, grp)`.
    */
  private def fimSizedCtes(salt: String, p: String): String =
    s"""${p}ft AS (
           SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
           FROM tr),
         ${p}fm AS (
           SELECT doc_id, len(w) AS n,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                 || '${salt}fim'), 1, 8)) AS UBIGINT) / 4294967296.0 >= 0.5
               THEN 'plain'
               WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                 || '${salt}spm'), 1, 8)) AS UBIGINT) / 4294967296.0 < 0.5
               THEN 'spm' ELSE 'psm' END AS fmt
           FROM ${p}ft
           WHERE len(list_filter(w,
             x -> x IN ('<PRE>', '<SUF>', '<MID>'))) = 0),
         ${p}sized AS (
           SELECT doc_id, fmt,
             CAST(n + CASE WHEN fmt = 'plain' THEN 0 ELSE 3 END
               AS BIGINT) AS tokens,
             'd' || CAST(doc_id % 37 AS VARCHAR) AS grp
           FROM ${p}fm)"""

        /** The q196/q200 synthetic conversations over `documents`: doc_id % 40
    * is the conversation, doc_id its clock and sequence, even doc_ids
    * speak as the user and odd ones as the assistant.
    */
  private def conversations(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(
      (col("doc_id") % 40).as("conv"),
      col("doc_id").as("ts"), col("doc_id").as("seq"),
      when(col("doc_id") % 2 === 0, "user").otherwise("assistant")
        .as("role"),
      col("text"))

  /** The q194 FIM split of the token list `w` (length `n`) at the
    * uniform draws `uc1`/`uc2`: prefix, middle and suffix slices.
    */
  private val fimSliceSql: String =
    """w[1:c1] AS pre,
             w[c1+1:c1 + CAST(floor(uc2 * (n - c1 + 1)) AS INT)] AS mid,
             w[c1 + CAST(floor(uc2 * (n - c1 + 1)) AS INT) + 1:n] AS suf"""

  /** The q194 FIM rendering: plain text at `ufim >= 0.5`, else SPM or
    * PSM sentinel order by `uspm`.
    */
  private val fimTextOutSql: String =
    """CASE WHEN ufim >= 0.5 THEN text
             WHEN uspm < 0.5 THEN array_to_string(
               ['<SUF>'] || suf || ['<PRE>'] || pre || ['<MID>'] || mid, ' ')
             ELSE array_to_string(
               ['<PRE>'] || pre || ['<SUF>'] || suf || ['<MID>'] || mid, ' ')
             END AS text_out"""

  /** The q85 greedy 256-token pack walk over `base(shard, doc_id, tokens,
    * rn)` (rn = doc_id order within the shard), ending in
    * `packed(shard, doc_id, tokens, rn, seq_id, cum, seq_pos)`; callers
    * prepend `WITH RECURSIVE`.
    */
  private val greedyPackCte: String =
    """packed AS (
           SELECT shard, doc_id, tokens, rn,
             CAST(0 AS BIGINT) AS seq_id, tokens AS cum, CAST(0 AS BIGINT) AS seq_pos
           FROM base WHERE rn = 1
           UNION ALL
           SELECT b.shard, b.doc_id, b.tokens, b.rn,
             CASE WHEN p.cum + b.tokens <= 256 THEN p.seq_id ELSE p.seq_id + 1 END,
             CASE WHEN p.cum + b.tokens <= 256 THEN p.cum + b.tokens ELSE b.tokens END,
             CASE WHEN p.cum + b.tokens <= 256 THEN p.seq_pos + 1 ELSE CAST(0 AS BIGINT) END
           FROM packed p JOIN base b ON b.shard = p.shard AND b.rn = p.rn + 1)"""

  /** q197's recursive greedy pack walk over `src(<id>[, extras], tokens,
    * grp)` — md5 group-bucket shard, (grp, id) order — prefixed so
    * several walks coexist (q203's epochs). Ends in `${p}packed(shard,
    * grp, <id>[, extras], tokens, r, seq_id, cum, seq_pos)`.
    */
  private def packWalkCtes(src: String, p: String, extras: Seq[String],
      budget: Int, nShards: Int, id: String = "doc_id"): String = {
    val e = extras.map(", " + _).mkString
    val be = extras.map(c => s", b.$c").mkString
    s"""${p}psh AS MATERIALIZED (
           SELECT $id$e, tokens, grp,
             CAST(floor(CAST(('0x' || substr(md5(grp || 'pack'), 1, 8))
               AS UBIGINT) / 4294967296.0 * $nShards) AS BIGINT) AS shard
           FROM $src),
         ${p}prn AS MATERIALIZED (
           SELECT *, row_number() OVER (PARTITION BY shard
                          ORDER BY grp, $id) AS r
           FROM ${p}psh),
         ${p}packed AS (
           SELECT shard, grp, $id$e, tokens, r,
             CAST(0 AS BIGINT) AS seq_id, tokens AS cum,
             CAST(0 AS BIGINT) AS seq_pos
           FROM ${p}prn WHERE r = 1
           UNION ALL
           SELECT b.shard, b.grp, b.$id$be, b.tokens, b.r,
             CASE WHEN p.cum + b.tokens <= $budget THEN p.seq_id
               ELSE p.seq_id + 1 END,
             CASE WHEN p.cum + b.tokens <= $budget THEN p.cum + b.tokens
               ELSE b.tokens END,
             CASE WHEN p.cum + b.tokens <= $budget THEN p.seq_pos + 1
               ELSE CAST(0 AS BIGINT) END
           FROM ${p}packed p JOIN ${p}prn b
             ON b.shard = p.shard AND b.r = p.r + 1)"""
  }

  /** The reward-scored candidate frame shared VERBATIM by the q177 and
    * q204 oracles (probe rows every 100th embedding, exact 1e4-scaled
    * cosines, top-8 per probe). Ends in `top(query_id, cand_id, sm)`.
    */
  private def prefScoredCtes: String =
    """p AS (
           SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id % 100 = 0),
         sc AS (
           SELECT p.query_id, c.vec_id AS cand_id,
             CAST(round(round(list_cosine_similarity(c.embedding, p.qv), 4)
               * 10000) AS BIGINT) AS sm
           FROM embeddings c JOIN p ON c.vec_id <> p.query_id),
         rk AS (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY sm DESC, cand_id) AS r
           FROM sc),
         top AS (SELECT query_id, cand_id, sm FROM rk WHERE r <= 8)"""

  /** The q194 text-assembly replay over `tr` at `salt` — cuts, segments,
    * and sentinel-joined PSM/SPM output — for the artifact round-trip
    * oracle (q202). Ends in `${p}txt(doc_id, text_out)`.
    */
  private def fimTextCtes(salt: String, p: String): String =
    s"""${p}tu AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '${salt}c1'), 1, 8)) AS UBIGINT) / 4294967296.0 AS uc1,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '${salt}c2'), 1, 8)) AS UBIGINT) / 4294967296.0 AS uc2,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '${salt}fim'), 1, 8)) AS UBIGINT) / 4294967296.0 AS ufim,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '${salt}spm'), 1, 8)) AS UBIGINT) / 4294967296.0 AS uspm
           FROM tr),
         ${p}tc AS (
           SELECT *, len(w) AS n,
             CAST(floor(uc1 * (len(w) + 1)) AS INT) AS c1
           FROM ${p}tu),
         ${p}tseg AS (
           SELECT doc_id, text, ufim, uspm,
             $fimSliceSql
           FROM ${p}tc),
         ${p}txt AS (
           SELECT doc_id,
             $fimTextOutSql
           FROM ${p}tseg)"""

  /** The q196 loss-mask replay shared VERBATIM with the q200 SFT-export
    * oracle: the synthetic conversation frame, newest-fitting-turns
    * budget walk (descending window), and ascending offset walk over the
    * `role: content` rendering widths, window sums cast AS BIGINT (the
    * q172 HUGEINT lesson). Ends in `spans(conv, turn_no, role,
    * token_start, token_end, train)`.
    */
  private def lossMaskSpanCtes: String =
    """ev AS (
           SELECT doc_id % 40 AS conv, doc_id AS ts, doc_id AS seq,
             CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END
               AS role,
             text
           FROM documents),
         tokd AS (
           SELECT conv, ts, seq, role,
             len(list_filter(string_split_regex(text, '\s+'),
               x -> x <> '')) AS tk,
             len(list_filter(string_split_regex(role || ': ' || text,
               '\s+'), x -> x <> '')) AS w
           FROM ev),
         marked AS (
           SELECT *,
             sum(tk) OVER (PARTITION BY conv ORDER BY ts DESC, seq DESC
               ROWS UNBOUNDED PRECEDING) <= 200 AS keep
           FROM tokd),
         kept AS (SELECT * FROM marked WHERE keep),
         spans AS (
           SELECT conv,
             CAST(row_number() OVER wa - 1 AS BIGINT) AS turn_no, role,
             CAST(sum(w) OVER wa - w AS BIGINT) AS token_start,
             CAST(sum(w) OVER wa AS BIGINT) AS token_end,
             role = 'assistant' AS train
           FROM kept
           WINDOW wa AS (PARTITION BY conv ORDER BY ts, seq
             ROWS UNBOUNDED PRECEDING))"""

  /** DSIR weight CTEs shared by q130 and q131: hashed-n-gram features
    * (unigrams + space-joined bigrams, the q98 tokenizer), md5 unit-hash
    * bucket fold (salt 'dsir', 256 buckets), add-one-smoothed target/raw
    * bucket models over the doc_id % 7 split, per-doc log-ratio sums.
    * Ends in a `w(doc_id, n_feats, logw)` CTE over all raw docs.
    */
  private def dsirWeightCtes: String =
    s"""toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\W+'), w -> w <> '') AS ws
           FROM documents),
         feats AS (
           SELECT doc_id, unnest(ws) AS feat FROM toks
           UNION ALL
           SELECT doc_id, ws[i] || ' ' || ws[i+1] AS feat
           FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
                 FROM toks WHERE len(ws) >= 2)),
         fb AS (
           SELECT doc_id, ${md5BucketSql("feat", "dsir", 256)} AS bucket
           FROM feats),
         tb AS (SELECT bucket, count(*) AS ct FROM fb
                WHERE doc_id % 7 = 0 GROUP BY 1),
         rb AS (SELECT bucket, count(*) AS cr FROM fb
                WHERE doc_id % 7 <> 0 GROUP BY 1),
         nt AS (SELECT count(*) AS nt FROM fb WHERE doc_id % 7 = 0),
         nr AS (SELECT count(*) AS nr FROM fb WHERE doc_id % 7 <> 0),
         lr AS (
           SELECT s.bucket,
             CAST(round((ln((coalesce(tb.ct, 0) + 1.0) / (nt.nt + 256))
               - ln((coalesce(rb.cr, 0) + 1.0) / (nr.nr + 256))) * 1000000)
               AS BIGINT) AS logr
           FROM (SELECT unnest(range(0, 256)) AS bucket) s
           LEFT JOIN tb USING (bucket) LEFT JOIN rb USING (bucket)
           CROSS JOIN nt CROSS JOIN nr),
         sums AS (
           SELECT f.doc_id, count(*) AS n_feats, sum(lr.logr) AS logw_m
           FROM fb f JOIN lr USING (bucket)
           WHERE f.doc_id % 7 <> 0 GROUP BY 1),
         w AS (
           SELECT d.doc_id, coalesce(s.n_feats, 0) AS n_feats,
             coalesce(s.logw_m, 0) / 1000000.0 AS logw
           FROM (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) d
           LEFT JOIN sums s USING (doc_id))"""

  /** DuckDB twin of q96: replay the BPE state machine ([[bpeOracleCtes]]),
    * derive per-position token ids ([[bpeIdCtes]] truncated to 24), pad
    * with 0.
    */
  private def q96Oracle: String = {
    s"""WITH RECURSIVE $bpeOracleCtes,
       ${bpeIdCtes(truncate = Some(24))},
       ids AS (
         SELECT doc_id, list_resize(list(id ORDER BY tp), 24, CAST(0 AS INTEGER)) AS ids
         FROM tid GROUP BY doc_id)
       SELECT d.doc_id,
         array_to_string(
           coalesce(i.ids, list_resize(CAST([] AS INTEGER[]), 24, CAST(0 AS INTEGER))),
           ' ') AS ids
       FROM documents d LEFT JOIN ids i ON d.doc_id = i.doc_id
       ORDER BY d.doc_id"""
  }

  /** DuckDB twin of q97: per-doc id sequences (the q96 machinery, no
    * truncation), packing over the REAL BPE token counts (the q85
    * recursion, MATERIALIZED feeder), then order-preserving group concat.
    */
  private def q97Oracle: String = {
    s"""WITH RECURSIVE $bpeOracleCtes,
       ${bpeIdCtes(truncate = None)},
       docids AS MATERIALIZED (
         SELECT doc_id, list(id ORDER BY tp) AS ids FROM tid GROUP BY doc_id),
       base AS MATERIALIZED (
         SELECT doc_id % 8 AS shard, doc_id, bpe_tokens AS tokens,
           row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
         FROM __bpe_doc_counts),
       $greedyPackCte
       SELECT p.shard, p.seq_id, CAST(count(*) AS BIGINT) AS n_docs,
         array_to_string(flatten(list(d.ids ORDER BY p.seq_pos)), ' ') AS ids
       FROM packed p JOIN docids d USING (doc_id)
       GROUP BY p.shard, p.seq_id
       ORDER BY p.shard, p.seq_id"""
  }

  def rows: Seq[Row] = Seq(
    // the final training artifact: pack documents by REAL BPE token
    // budget, then materialize each training sequence's concatenated id
    // stream (order = pack order). Group concat is order-deterministic
    // via array_sort(collect_list(struct(seq_pos, ids))) — collect_list
    // alone is partitioning-dependent
    Row("q97_pack_ids", (s, d) => {
      // encode ONCE and derive the count as size(ids) — token count ==
      // id-sequence length by construction (BpeSpec pins it), and the
      // greedy merge loop is the dominant per-row cost, so recomputing
      // it per consuming branch would double the query's work
      val docs = t(s, d, "documents")
        .withColumn("shard", col("doc_id") % 8)
        .withColumn("ids", GraftFunctions.bpe_ids(col("text")))
        .withColumn("tokens", size(col("ids")).cast("long"))
        .where(col("tokens") > 0) // zero-token docs have nothing to pack
      val assign = graft.operators.Packing.packGreedy(docs, "doc_id",
        "tokens", "shard", budget = 256L)
      val ids = docs.select(col("doc_id"), col("ids"))
      assign.join(ids, "doc_id")
        .groupBy(col("shard"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          flatten(transform(
            array_sort(collect_list(struct(col("seq_pos"), col("ids")))),
            x => x.getField("ids"))).as("id_arr"))
        // battery canonical form: the id sequence as a space-joined
        // string — the driver's row-sort can't hash array cells
        // (CORRECTNESS_r08 q97 err); API users get arrays from
        // Packing/bpe_ids directly
        .select(col("shard"), col("seq_id"), col("n_docs"),
          array_join(col("id_arr").cast("array<string>"), " ").as("ids"))
        .orderBy(col("shard"), col("seq_id"))
    },
      q97Oracle),

    // text -> tensor prep: fixed-length BPE id sequences (UNK=1, PAD=0)
    // per doc — the step that feeds training; map-only imperative
    // expression, oracle replays tokenization, vocab lookup, truncation,
    // and padding exactly
    Row("q96_encode_ids", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          // battery canonical form (space-joined string): the driver's
          // pandas row-sort can't hash array cells; bpe_encode_ids
          // stays array-returning for API users
          array_join(GraftFunctions.bpe_encode_ids(col("text"), 24)
            .cast("array<string>"), " ").as("ids"))
        .orderBy(col("doc_id")),
      q96Oracle),

    // ---- composed training-data cleaning pipeline (north-star E2E) ----
    Row("q45_training_pipeline", (s, d) =>
      graft.pipelines.TrainingData.clean(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      // composed pipeline twin: exact dedup -> lang/quality gates -> df-capped
      // n-gram near-dup removal (drop larger id of each >= 0.5 pair) -> tokens
      s"""WITH RECURSIVE $bpeOracleCtes,
         ${cleanRemovedCtes(" CAST(len(w) AS BIGINT) AS n_words,")}
         SELECT g.doc_id AS doc_id, g.lang_pred, g.n_words, g.quality,
           CAST(len(${wsTokensSql("g.text")}) AS BIGINT) AS ws_tokens,
           CAST(coalesce(c.bpe_tokens, 0) AS BIGINT) AS bpe_tokens
         FROM gated g LEFT JOIN __bpe_doc_counts c ON g.doc_id = c.doc_id
         WHERE g.doc_id NOT IN (SELECT id_b FROM removed)
         ORDER BY doc_id"""),

    // ---- deterministic train/val/test split: membership is a pure hash of
    // the id (binary-exact cumulative bounds 0.5/0.75), so the oracle
    // recomputes the exact same assignment ----
    Row("q76_hash_split", (s, d) =>
      graft.operators.Sampling.hashSplit(t(s, d, "documents"), "doc_id",
        Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("cnt"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("split")),
      // unit hash: first 8 md5 hex chars / 2^32 — exact dyadic rational,
      // identical in both engines; bounds 0.5/0.75 are binary-exact
      """SELECT CASE WHEN u < 0.5 THEN 'train'
                     WHEN u < 0.75 THEN 'val'
                     ELSE 'test' END AS split,
           count(*) AS cnt, CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM (SELECT doc_id,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS UBIGINT) / 4294967296.0 AS u
               FROM documents)
         GROUP BY 1 ORDER BY split"""),

    // ---- stratified deterministic sampling: per-language keep fractions
    // (binary-exact: 0.25/1.0/0.5, default 0.125), membership a pure hash
    // of doc_id — oracle recomputes language AND membership ----
    Row("q77_stratified", (s, d) =>
      graft.operators.Sampling.stratifiedHashSample(
        t(s, d, "documents").select(col("doc_id"),
          TextFunctions.langId(col("text")).as("lang_pred")),
        "doc_id", "lang_pred",
        Map("en" -> 0.25, "de" -> 1.0, "fr" -> 0.5), defaultFraction = 0.125)
        .groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("cnt"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang_pred")),
      // language via the q33 marker battery, membership via the q76 unit
      // hash; per-stratum fractions are binary-exact doubles
      s"""WITH lang AS (
           ${langIdSql("documents")})
         SELECT lang_pred, count(*) AS cnt, CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM lang
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                 AS UBIGINT) / 4294967296.0
               < CASE lang_pred WHEN 'en' THEN 0.25 WHEN 'de' THEN 1.0
                                WHEN 'fr' THEN 0.5 ELSE 0.125 END
         GROUP BY lang_pred ORDER BY lang_pred"""),

    // benchmark decontamination (pair report): corpus docs containing
    // >= 80% of a probe doc's distinct 3-gram shingles; probes drawn
    // deterministically from the corpus (doc_id % 17) so self-pairs are
    // excluded. Probe postings broadcast; corpus side stays map-only.
    Row("q83_decontaminate", (s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.contaminationPairs(docs,
        docs.where(col("doc_id") % 17 === 0), "doc_id", "text",
        n = 3, threshold = 0.8, excludeSelfIds = true)
        .orderBy(col("corpus_id"), col("probe_id"))
    },
      s"""WITH t AS (
           SELECT doc_id, $wordsSql AS w
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM t WHERE len(w) >= 3),
         probe AS (
           SELECT doc_id AS probe_id, len(sh) AS probe_size, unnest(sh) AS shingle
           FROM sh WHERE doc_id % 17 = 0),
         corp AS (SELECT doc_id AS corpus_id, unnest(sh) AS shingle FROM sh),
         pairs AS (
           SELECT corpus_id, probe_id, probe_size, count(*) AS overlap
           FROM corp JOIN probe USING (shingle)
           WHERE corpus_id <> probe_id
           GROUP BY 1, 2, 3)
         SELECT corpus_id, probe_id, CAST(overlap AS BIGINT) AS overlap,
           CAST(probe_size AS BIGINT) AS probe_size,
           CAST((overlap * 2000000 + probe_size) // (2 * probe_size)
             AS DOUBLE) / 1e6 AS containment
         FROM pairs WHERE CAST((overlap * 2000000 + probe_size)
           // (2 * probe_size) AS DOUBLE) / 1e6 >= 0.8
         ORDER BY corpus_id, probe_id"""),

    // greedy sequential sequence packing (token-budget training sequences
    // per shard): the assignment is a pure function of (shard, id order,
    // ws token counts) — one shard exchange + a partition-local forward
    // pass — so the oracle replays it exactly with a recursive CTE
    Row("q85_seq_pack", (s, d) =>
      graft.operators.Packing.packGreedy(
        t(s, d, "documents")
          .withColumn("shard", col("doc_id") % 8)
          .withColumn("tokens", TextFunctions.wsTokenCount(col("text"))),
        "doc_id", "tokens", "shard", budget = 256L)
        .orderBy(col("doc_id")),
      s"""WITH RECURSIVE base AS MATERIALIZED (
           SELECT doc_id % 8 AS shard, doc_id,
             CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS tokens,
             row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
           FROM documents),
         $greedyPackCte
         SELECT doc_id, shard, seq_id, seq_pos, tokens > 256 AS oversize
         FROM packed ORDER BY doc_id"""),

    // temperature mixing (alpha=0.5 flattens the source distribution;
    // up-weighted sources repeat with mix_copy) — per-source aggregate
    // pins counts, kept mass, and the exact copy multiset
    Row("q107_temperature_mix", (s, d) =>
      graft.operators.Mixing.mixByTemperature(
          t(s, d, "documents"), "doc_id", "source", "n_chars",
          alpha = 0.5, totalBudget = 180000, salt = "t")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("n_chars")).cast("long").as("kept_chars"),
          sum(col("doc_id") * col("mix_copy")).cast("long").as("copy_id_sum"))
        .orderBy(col("source")),
      """WITH tot AS (
           SELECT source, CAST(sum(n_chars) AS BIGINT) AS n
           FROM documents GROUP BY source),
         p AS (SELECT source, n, pow(CAST(n AS DOUBLE), 0.5) AS pw FROM tot),
         r AS (
           SELECT source,
             round(least(180000.0 * pw / (SELECT sum(pw) FROM p)
                 / CAST(n AS DOUBLE), 10.0), 12) AS rate
           FROM p),
         c AS (
           SELECT d.source, d.doc_id, d.n_chars, r.rate, u.mix_copy
           FROM documents d JOIN r USING (source),
             LATERAL (SELECT unnest(range(1,
               CAST(ceil(r.rate) AS BIGINT) + 1)) AS mix_copy) u
           WHERE r.rate > 0),
         kept AS (
           SELECT * FROM c
           WHERE mix_copy <= floor(rate)
              OR CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 't'), 1, 8))
                   AS UBIGINT) / 4294967296.0 < rate - floor(rate))
         SELECT source, count(*) AS cnt,
           CAST(sum(n_chars) AS BIGINT) AS kept_chars,
           CAST(sum(doc_id * mix_copy) AS BIGINT) AS copy_id_sum
         FROM kept GROUP BY source ORDER BY source"""),

    // deterministic shard plan: per-shard row/byte balance of the
    // hash-assigned export shards — the pre-export check; assignment is
    // map-only, the report is one tiny aggregate
    Row("q116_shard_plan", (s, d) =>
      graft.operators.Sampling.shardAssign(
          t(s, d, "documents"), "doc_id", nShards = 8, salt = "ex")
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("chars"),
          min(col("doc_id")).as("min_id"))
        .orderBy(col("shard")),
      s"""SELECT ${md5BucketSql("CAST(doc_id AS VARCHAR)", "ex", 8)} AS shard,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars,
           min(doc_id) AS min_id
         FROM documents GROUP BY 1 ORDER BY shard"""),

    // DSIR importance weights (Xie et al. 2023): hashed-n-gram bucket
    // models of a curated target slice (doc_id % 7 == 0) vs the raw rest,
    // per-doc log-likelihood-ratio sums — the published "select data that
    // looks like the target" scorer; every bucket count, smoothed
    // probability and log term replays in the oracle
    Row("q130_dsir_weights", (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Dsir.importanceWeights(
          docs.where(col("doc_id") % 7 =!= 0),
          docs.where(col("doc_id") % 7 === 0),
          "doc_id", "text", buckets = 256, salt = "dsir")
        .select(col("doc_id"), col("n_feats"),
          round(col("logw"), 4).as("logw"))
        .orderBy(col("doc_id"))
    },
      s"""WITH $dsirWeightCtes
         SELECT doc_id, n_feats, round(logw, 4) AS logw
         FROM w ORDER BY doc_id"""),

    // DSIR resampling: Gumbel top-k over the q130 weights — the weighted
    // without-replacement draw (q100's A-ES in log space) that turns
    // importance weights into the selected training subset
    Row("q131_dsir_select", (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Dsir.resample(
          docs.where(col("doc_id") % 7 =!= 0),
          docs.where(col("doc_id") % 7 === 0),
          "doc_id", "text", buckets = 256, k = 40,
          salt = "dsir", sampleSalt = "gum")
        .orderBy(col("rank"))
    },
      // q130's weight CTEs + the q100 Gumbel draw (salt 'gum', subnormal
      // floor on u) -> top-40 by descending key
      s"""WITH $dsirWeightCtes,
         keyed AS (
           SELECT doc_id, n_feats, logw,
             logw - ln(-ln(greatest(
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'gum'), 1, 8))
                 AS UBIGINT) / 4294967296.0,
               CAST(4.9e-324 AS DOUBLE)))) AS key
           FROM w)
         SELECT CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS INTEGER)
             AS rank,
           doc_id, n_feats, round(logw, 4) AS logw
         FROM keyed ORDER BY key DESC, doc_id LIMIT 40"""),

    // perplexity-bucketed mixing (DoReMi-lite / CCNet head-middle-tail):
    // q98's self-scored LM bits cut into 3 equal-mass buckets at exact
    // quantiles, each bucket thinned to its own token budget by the
    // deterministic unit hash — head budget exceeds its mass (the
    // pass-through branch), middle and tail thin
    Row("q128_ppl_mix", (s, d) => {
      // the scored frame feeds three consumers (quantile cuts, bucket
      // totals, the kept-rows join) — spill it once so they scan parquet
      // instead of re-running the whole q98 scoring subplan each
      val scored = graft.io.Spill(graft.operators.NgramLm.selfScoreBits(
        t(s, d, "documents"), "doc_id", "text"), "graft-pplmix-")
      graft.operators.Mixing.mixByPerplexityBuckets(scored, "doc_id",
          "bits", "n_bigrams", budgets = Seq(100000L, 2500L, 500L),
          salt = "ppl")
        .select(col("doc_id"), col("ppl_bucket"), col("n_bigrams"),
          col("bits"))
        .orderBy(col("doc_id"))
    },
      // q98's scoring CTEs + exact tercile cuts (quantile_cont ≡ Spark's
      // percentile, rounded at 9 — the q108 pin) + per-bucket totals + the
      // q115/q116 md5 unit hash with salt 'ppl'
      s"""WITH ${bigramBitsCtes("rows_")},
         sc AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             $meanBitsSql
           FROM rows_ GROUP BY doc_id),
         cuts AS (
           SELECT round(quantile_cont(bits, 1.0 / 3), 9) AS c1,
             round(quantile_cont(bits, 2.0 / 3), 9) AS c2
           FROM sc),
         bk AS (
           SELECT s.doc_id, s.n_bigrams, s.bits,
             (CASE WHEN s.bits > c.c1 THEN 1 ELSE 0 END
              + CASE WHEN s.bits > c.c2 THEN 1 ELSE 0 END) AS ppl_bucket
           FROM sc s CROSS JOIN cuts c),
         tot AS (
           SELECT ppl_bucket, CAST(sum(n_bigrams) AS BIGINT) AS total
           FROM bk GROUP BY 1),
         fr AS (
           SELECT b.doc_id, b.ppl_bucket, b.n_bigrams, b.bits,
             CASE WHEN t.total <= b.bud THEN 1.0
                  ELSE CAST(b.bud AS DOUBLE) / CAST(t.total AS DOUBLE)
             END AS frac
           FROM (SELECT bk.*, CASE ppl_bucket WHEN 0 THEN 100000
                   WHEN 1 THEN 2500 ELSE 500 END AS bud FROM bk) b
           JOIN tot t USING (ppl_bucket))
         SELECT doc_id, CAST(ppl_bucket AS INTEGER) AS ppl_bucket,
           n_bigrams, bits
         FROM fr
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'ppl'), 1, 8))
             AS UBIGINT) / 4294967296.0 < frac
         ORDER BY doc_id"""),

    // T5-style span corruption: deterministic per-(id, salt, position)
    // md5 draws select ~rate of each doc's tokens as merged 3-token
    // spans — numbered sentinels in the input, removed tokens after
    // their sentinels in the target, trailing close sentinel; one
    // map-only imperative projection, oracle replays draws, coverage,
    // island numbering, and assembly in window SQL
    // the SFT-side export twin of q199: the q196 conversations through
    // loss-mask span assembly, per-conversation transcript widths from
    // the SAME budget walk, then whole conversations packed
    // group-coherently into training sequences — one row per kept turn
    // carrying both its loss-mask span and its conversation's sequence
    // assignment (the artifact an SFT trainer batches by (shard,
    // seq_id), masking loss outside the train spans)
    Row("q200_sft_export", (s, d) => {
      graft.pipelines.TrainingExport.sftAssignments(conversations(s, d),
          "conv", "ts", "seq", "role", "text", tokenBudget = 200L,
          Seq("assistant"),
          concat(lit("g"), (col("conv") % 7).cast("string")),
          budget = 256L, nShards = 4)
        .orderBy(col("conv"), col("turn_no"))
    },
      // q200: the q196 span CTEs verbatim (shared helper), conv widths =
      // max(token_end) per conv, then q197's recursive greedy pack walk
      // over the md5 group-bucket shard and (group, conv) order; the
      // final join hangs every kept turn's span on its conversation's
      // sequence assignment
      s"""WITH RECURSIVE $lossMaskSpanCtes,
         cv AS (
           SELECT conv, max(token_end) AS tokens,
             'g' || CAST(conv % 7 AS VARCHAR) AS grp
           FROM spans GROUP BY conv),
         ${packWalkCtes("cv", "", Seq.empty, 256, 4, id = "conv")}
         SELECT s.conv, s.turn_no, s.role, s.token_start, s.token_end,
           s.train, p.tokens, p.grp AS "group", p.shard, p.seq_id,
           p.seq_pos, p.tokens > 256 AS oversize
         FROM spans s JOIN packed p ON s.conv = p.conv
         ORDER BY s.conv, s.turn_no"""),

    // the END-TO-END pretraining export (the q90 pattern extended to
    // the full round-18 training surface): clean() survivors ->
    // leakage-safe split over the survivors' own pair graph -> train
    // side -> per-epoch FIM (sentinel-clash docs routed out) -> exact
    // output token counts -> group-coherent packing. One plan, one
    // oracle replaying the whole chain through the shared CTE helpers
    // (cleanSurvivorCtes ≡ q90, the pair/CC chain ≡ q193, the FIM
    // draws ≡ q194, the recursive pack walk ≡ q197)
    Row("q199_training_export", (s, d) =>
      graft.pipelines.TrainingExport.pretrainAssignments(
        t(s, d, "documents"), "doc_id", "text",
        concat(lit("d"), (col("doc_id") % 37).cast("string")),
        valFraction = 0.2, pairThreshold = 0.02, epochSalt = "ep0",
        fimFraction = 0.5, spmFraction = 0.5, budget = 256L, nShards = 8)
        .orderBy(col("doc_id")),
      // q199: the full export chain replayed — clean survivors (the q90
      // helper verbatim), the sp_-prefixed pair/CC chain over `surv`
      // (q193's graph arithmetic), train = rep unit-hash >= 0.2, FIM
      // format draws (q194's md5 arithmetic, salt ep0) with the
      // sentinel-clash exclusion, output tokens = n + 3 for transformed
      // docs (the three sentinels are the only added whitespace tokens),
      // then q197's recursive greedy walk (group d(doc_id%37), 8 shards,
      // budget 256)
      ("WITH RECURSIVE " + exportSplitCtes + ",\n         " +
        fimSizedCtes("ep0", "") + ",\n         " +
        packWalkCtes("sized", "", Seq("fmt"), 256, 8) + """
         SELECT doc_id, fmt, tokens, grp AS "group", shard, seq_id,
           seq_pos, tokens > 256 AS oversize
         FROM packed ORDER BY doc_id""")),

    // the VAL side of q199's export — survivors assigned split='val',
    // plain text (evaluation measures the raw objective, so no FIM),
    // whitespace token widths, the same group-coherent packing;
    // `in_train` is the leakage indicator (left join against the train
    // ids), false for every row by construction AND pinned by the
    // oracle replay — any doc on both sides hash-mismatches
    Row("q201_val_export", (s, d) =>
      graft.pipelines.TrainingExport.valAssignments(
        t(s, d, "documents"), "doc_id", "text",
        concat(lit("d"), (col("doc_id") % 37).cast("string")),
        valFraction = 0.2, pairThreshold = 0.02, budget = 256L,
        nShards = 8)
        .orderBy(col("doc_id")),
      // q201: the export chain's shared split replay, VAL side — plain
      // text (no FIM), whitespace token widths, the same recursive pack
      // walk; in_train replays the leakage indicator (doc_id IN tr) so a
      // doc assigned to both sides hash-mismatches on EITHER engine
      ("WITH RECURSIVE " + exportSplitCtes + """,
         vsz AS (
           SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
               x -> x <> '')) AS BIGINT) AS tokens,
             'd' || CAST(doc_id % 37 AS VARCHAR) AS grp
           FROM spl WHERE split = 'val'),
         """ + packWalkCtes("vsz", "", Seq.empty, 256, 8) + """
         SELECT doc_id, tokens, grp AS "group", shard, seq_id, seq_pos,
           tokens > 256 AS oversize,
           doc_id IN (SELECT doc_id FROM tr) AS in_train
         FROM packed ORDER BY doc_id""")),

    // the written artifact round-tripped (the q189 ORC pattern applied
    // to the export writer): writePretrainCorpus to a temp dir —
    // shard-partitioned parquet + per-shard _MANIFEST.json — then read
    // BACK from disk; assignments and re-derived text_out must
    // hash-match the oracle's full in-SQL replay of the same chain
    Row("q202_export_artifact", (s, d) => {
      val dir = graft.io.Spill.tempDir("graft-export-art-") + "/corpus"
      graft.pipelines.TrainingExport.writePretrainCorpus(s,
        t(s, d, "documents"), "doc_id", "text",
        concat(lit("d"), (col("doc_id") % 37).cast("string")), dir,
        valFraction = 0.2, pairThreshold = 0.02, epochSalt = "ep0",
        fimFraction = 0.5, spmFraction = 0.5, budget = 256L, nShards = 8)
      s.read.parquet(dir)
        .select(col("doc_id"), col("fmt"), col("tokens"), col("group"),
          col("shard").cast("long").as("shard"), col("seq_id"),
          col("seq_pos"), col("oversize"), col("text_out"))
        .orderBy(col("doc_id"))
    },
      // q202: the q199 assignment replay JOINED to the q194-style text
      // assembly at the same salt — the artifact writer's parquet output
      // (read back from disk on the Spark side) must hash-match the
      // in-plan chain column for column, text_out included
      ("WITH RECURSIVE " + exportSplitCtes + ",\n         " +
        fimSizedCtes("ep0", "") + ",\n         " +
        packWalkCtes("sized", "", Seq("fmt"), 256, 8) + ",\n         " +
        fimTextCtes("ep0", "") + """
         SELECT p.doc_id, p.fmt, p.tokens, p.grp AS "group", p.shard,
           p.seq_id, p.seq_pos, p.tokens > 256 AS oversize, t.text_out
         FROM packed p JOIN txt t USING (doc_id)
         ORDER BY p.doc_id""")),

    // TWO epochs of the q199 export in one plan: the clean/split chain
    // runs once (the split MUST NOT vary by epoch — structural here and
    // in the oracle, so drift hash-mismatches), each salt redraws FIM
    // holes and re-packs; TrainingExportSpec asserts the draws actually
    // differ between the epochs
    Row("q203_epoch_export", (s, d) =>
      graft.pipelines.TrainingExport.epochAssignments(
        t(s, d, "documents"), "doc_id", "text",
        concat(lit("d"), (col("doc_id") % 37).cast("string")),
        epochSalts = Seq("ep0", "ep1"), valFraction = 0.2,
        pairThreshold = 0.02, fimFraction = 0.5, spmFraction = 0.5,
        budget = 256L, nShards = 8)
        .orderBy(col("epoch"), col("doc_id")),
      // q203: TWO epochs of the q199 chain in one oracle — the shared
      // split CTE runs once (epoch-invariance is structural on both
      // engines: a split that varied by salt would hash-mismatch), then
      // each salt's FIM draw + pack walk under its own CTE prefix
      ("WITH RECURSIVE " + exportSplitCtes + ",\n         " +
        fimSizedCtes("ep0", "e0") + ",\n         " +
        packWalkCtes("e0sized", "e0", Seq("fmt"), 256, 8) + ",\n         " +
        fimSizedCtes("ep1", "e1") + ",\n         " +
        packWalkCtes("e1sized", "e1", Seq("fmt"), 256, 8) + """
         SELECT 'ep0' AS epoch, doc_id, fmt, tokens, grp AS "group",
           shard, seq_id, seq_pos, tokens > 256 AS oversize
         FROM e0packed
         UNION ALL
         SELECT 'ep1', doc_id, fmt, tokens, grp AS "group", shard,
           seq_id, seq_pos, tokens > 256 AS oversize
         FROM e1packed
         ORDER BY epoch, doc_id""")),

    Row("q198_span_corrupt", (s, d) =>
      graft.operators.Fim.spanCorrupt(t(s, d, "documents"),
          "doc_id", "text", rate = 0.25, spanLen = 3, salt = "sc")
        .orderBy(col("doc_id")),
      // q198: the corruption replayed position-by-position — the start
      // draw is the same md5 unit hash over 'sc:id:i' against the SAME
      // IEEE division 0.25/3 (never a decimal literal of it), span
      // coverage via a rolling spanLen-window max over the start flags,
      // islands (merged spans) via the corrupted-run-start running sum,
      // both renderings assembled with ordered string_agg, close
      // sentinel appended from the island count
      """WITH tok AS (
           SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '')
               AS w,
             strpos(text, '<extra_id_') > 0 AS clash
           FROM documents),
         pos AS (
           SELECT doc_id, w[CAST(i AS INT) + 1] AS t, i
           FROM (SELECT doc_id, w, unnest(range(0, len(w))) AS i
                 FROM tok)),
         draw AS (
           SELECT doc_id, t, i,
             CAST(('0x' || substr(md5('sc:' || CAST(doc_id AS VARCHAR)
               || ':' || CAST(i AS VARCHAR)), 1, 8)) AS UBIGINT)
               / 4294967296.0 < 0.25 / 3 AS st
           FROM pos),
         cov AS (
           SELECT doc_id, t, i,
             max(CAST(st AS INT)) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 1 AS corr
           FROM draw),
         isl AS (
           SELECT doc_id, t, i, corr,
             corr AND NOT coalesce(lag(corr) OVER (PARTITION BY doc_id
               ORDER BY i), FALSE) AS isl_start
           FROM cov),
         num AS (
           SELECT doc_id, t, i, corr, isl_start,
             sum(CASE WHEN isl_start THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY i) - 1 AS k
           FROM isl),
         agg AS (
           SELECT doc_id,
             string_agg(CASE WHEN NOT corr THEN t
                 WHEN isl_start THEN '<extra_id_' || CAST(k AS VARCHAR)
                   || '>' END, ' ' ORDER BY i)
               FILTER (WHERE corr = FALSE OR isl_start) AS input,
             string_agg(CASE WHEN isl_start THEN '<extra_id_'
                 || CAST(k AS VARCHAR) || '> ' || t ELSE t END, ' '
               ORDER BY i) FILTER (WHERE corr) AS tgt,
             CAST(max(k) + 1 AS BIGINT) AS n_spans
           FROM num GROUP BY doc_id)
         SELECT tok.doc_id, CAST(len(tok.w) AS BIGINT) AS n_tokens,
           coalesce(agg.n_spans, 0) AS n_spans,
           tok.clash AS sentinel_clash,
           coalesce(agg.input, '') AS input,
           coalesce(agg.tgt || ' ', '') || '<extra_id_'
             || CAST(coalesce(agg.n_spans, 0) AS VARCHAR) || '>'
             AS target
         FROM tok LEFT JOIN agg ON tok.doc_id = agg.doc_id
         ORDER BY tok.doc_id"""),

    // group-coherent packing: the q85 greedy walk re-ordered so a
    // domain never splits across shards (shard = unit-hash bucket of
    // the GROUP) and same-domain docs pack adjacently — the
    // in-context-pretraining layout; the oracle replays the walk with
    // the q85 recursive CTE over the (group, id) order
    Row("q197_pack_related", (s, d) =>
      graft.operators.Packing.packRelated(
        t(s, d, "documents")
          .withColumn("domain",
            concat(lit("d"), (col("doc_id") % 37).cast("string")))
          .withColumn("tokens", TextFunctions.wsTokenCount(col("text"))),
        "doc_id", "tokens", "domain", budget = 256L, nShards = 8)
        .orderBy(col("doc_id")),
      // q197: q85's recursive greedy replay with two ordering changes —
      // shard from the md5 unit-hash bucket of the GROUP (the q116 fold
      // arithmetic over grp || 'pack') and rn over (grp, doc_id)
      """WITH RECURSIVE base AS MATERIALIZED (
           SELECT doc_id, 'd' || CAST(doc_id % 37 AS VARCHAR) AS grp,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
               x -> x <> '')) AS BIGINT) AS tokens
           FROM documents),
         sh AS MATERIALIZED (
           SELECT doc_id, grp, tokens,
             CAST(floor(CAST(('0x' || substr(md5(grp || 'pack'), 1, 8))
               AS UBIGINT) / 4294967296.0 * 8) AS BIGINT) AS shard
           FROM base),
         rn AS MATERIALIZED (
           SELECT *, row_number() OVER (PARTITION BY shard
             ORDER BY grp, doc_id) AS r
           FROM sh),
         packed AS (
           SELECT shard, grp, doc_id, tokens, r,
             CAST(0 AS BIGINT) AS seq_id, tokens AS cum,
             CAST(0 AS BIGINT) AS seq_pos
           FROM rn WHERE r = 1
           UNION ALL
           SELECT b.shard, b.grp, b.doc_id, b.tokens, b.r,
             CASE WHEN p.cum + b.tokens <= 256 THEN p.seq_id
               ELSE p.seq_id + 1 END,
             CASE WHEN p.cum + b.tokens <= 256 THEN p.cum + b.tokens
               ELSE b.tokens END,
             CASE WHEN p.cum + b.tokens <= 256 THEN p.seq_pos + 1
               ELSE CAST(0 AS BIGINT) END
           FROM packed p JOIN rn b
             ON b.shard = p.shard AND b.r = p.r + 1)
         SELECT doc_id, grp AS "group", shard, seq_id, seq_pos,
           tokens > 256 AS oversize
         FROM packed ORDER BY doc_id"""),

    // SFT loss-mask spans over synthetic conversations: per-kept-turn
    // token offsets into the assembled transcript (same budget walk as
    // the assembler — two windows, one key exchange) with train =
    // assistant turns only
    Row("q196_loss_mask", (s, d) => {
      graft.operators.Conversations.lossMaskSpans(conversations(s, d),
          "conv", "ts", "seq", "role", "text", tokenBudget = 200L,
          Seq("assistant"))
        .orderBy(col("conv"), col("turn_no"))
    },
      // q196: the budget walk (descending suffix-sum window) and the
      // offset walk (ascending running sum over the full `role: content`
      // rendering widths) replayed verbatim; window sums cast AS BIGINT
      // (the q172 HUGEINT lesson)
      ("WITH " + lossMaskSpanCtes + """
         SELECT conv, turn_no, role, token_start, token_end, train
         FROM spans ORDER BY conv, turn_no""")),

    // best-of-N rejection-sampling selection: each synthetic prompt's
    // argmax candidate (ties to the smallest id) via ONE
    // max(struct(score, -cand)) hash aggregate — no window, no
    // self-join; prompts whose best clears minScore only
    Row("q195_best_of_n", (s, d) => {
      val scored = t(s, d, "documents").select(
        (col("doc_id") % 50).as("q"),
        col("doc_id").as("cand"),
        ((col("doc_id") * 37) % 1000).as("score"))
      graft.operators.Preferences.bestOfN(scored, "q", "cand", "score",
          minScore = 500L)
        .orderBy(col("query_id"))
    },
      // q195: the argmax-with-tiebreak replayed as a rank-1 window
      // (score DESC, cand ASC) — semantically identical to the engine's
      // max(struct(score, -cand)) aggregate — plus the minScore floor
      """WITH sc AS (
           SELECT doc_id % 50 AS q, doc_id AS cand,
             (doc_id * 37) % 1000 AS score
           FROM documents),
         rk AS (
           SELECT q, cand, score,
             row_number() OVER (PARTITION BY q
               ORDER BY score DESC, cand ASC) AS rn,
             count(*) OVER (PARTITION BY q) AS n_cands
           FROM sc)
         SELECT q AS query_id, cand AS best_id, score AS best_score,
           CAST(n_cands AS BIGINT) AS n_cands
         FROM rk WHERE rn = 1 AND score >= 500
         ORDER BY query_id"""),

    // fill-in-the-middle training transform: ~half the docs rewritten
    // as PSM/SPM infilling examples (token-level cuts uniform over
    // valid pairs, both cuts and the format pure unit-hash functions of
    // (doc_id, salt)) — one map-only codegen projection; the oracle
    // replays cuts, slices, and sentinel assembly from the same md5
    // arithmetic
    Row("q194_fim", (s, d) =>
      graft.operators.Fim.transform(t(s, d, "documents"),
          "doc_id", "text", fimFraction = 0.5, spmFraction = 0.5,
          salt = "fimq")
        .orderBy(col("doc_id")),
      // q194: the FIM rewrite replayed from the same md5 unit-hash
      // arithmetic (k/2^32 and the products are IEEE-exact in both
      // engines): cut1 = floor(u_c1*(n+1)), cut2 = cut1 +
      // floor(u_c2*(n-cut1+1)), token-array slices re-joined around the
      // sentinels; format from the u_fim/u_spm draws
      s"""WITH tok AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
           FROM documents),
         u AS (
           SELECT doc_id, text, w, len(w) AS n,
             len(list_filter(w,
               x -> x IN ('<PRE>', '<SUF>', '<MID>'))) > 0 AS clash,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'fimqc1'), 1, 8)) AS UBIGINT) / 4294967296.0 AS uc1,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'fimqc2'), 1, 8)) AS UBIGINT) / 4294967296.0 AS uc2,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'fimqfim'), 1, 8)) AS UBIGINT) / 4294967296.0 AS ufim,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'fimqspm'), 1, 8)) AS UBIGINT) / 4294967296.0 AS uspm
           FROM tok),
         cuts AS (
           SELECT *, CAST(floor(uc1 * (n + 1)) AS INT) AS c1
           FROM u),
         segs AS (
           SELECT doc_id, text, n, clash, ufim, uspm,
             $fimSliceSql
           FROM cuts)
         SELECT doc_id,
           CASE WHEN ufim >= 0.5 THEN 'plain'
             WHEN uspm < 0.5 THEN 'spm' ELSE 'psm' END AS fmt,
           CAST(n AS BIGINT) AS n_tokens,
           clash AS sentinel_clash,
           $fimTextOutSql
         FROM segs ORDER BY doc_id"""),

    // leakage-safe train/val split: assignment by near-dup CLUSTER (the
    // q52 component graph), not by document — every member of a cluster
    // inherits the min-id representative's unit-hash side, so no
    // near-dup pair straddles train/val (the silent held-out
    // contamination a per-doc hash split commits). Labels bounded by
    // the pair graph broadcast over the corpus subset; singletons are
    // their own cluster and never shuffle
    Row("q193_leakage_split", (s, d) => {
      val subset = t(s, d, "documents").where(col("doc_id") % 5 === 0)
      graft.operators.Sampling.leakageSafeSplit(
        subset.select(col("doc_id")), "doc_id",
        Dedup.ngramJaccardPairs(subset, "doc_id", "text",
          n = 3, threshold = 0.02),
        valFraction = 0.2, salt = "split")
        .orderBy(col("doc_id"))
    },
      // q193: the q52 component CTEs verbatim (shared helper — the pair
      // graph cannot drift between the two oracles), folded to min-label
      // per id, left-joined onto the subset so unpaired docs are their
      // own singleton cluster; the split side is the unit-hash of the
      // REPRESENTATIVE (first 8 md5 hex chars over 2^32 — exact doubles
      // both engines) against the 0.2 threshold
      s"""WITH RECURSIVE $nearDupCcCtes,
         lab AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id)
         SELECT d.doc_id, coalesce(l.comp, d.doc_id) AS rep,
           CASE WHEN CAST(('0x' || substr(md5(
               CAST(coalesce(l.comp, d.doc_id) AS VARCHAR) || 'split'),
               1, 8)) AS UBIGINT) / 4294967296.0 < 0.2
             THEN 'val' ELSE 'train' END AS split
         FROM documents d LEFT JOIN lab l ON d.doc_id = l.id
         WHERE d.doc_id % 5 = 0
         ORDER BY d.doc_id"""),

    // SFT conversation assembly: event rows -> one transcript row per
    // user, most-recent turns kept under a 120-token budget (content
    // synthesized from event fields with integer-only value rendering
    // so both engines produce identical strings). ONE exchange: the
    // suffix-sum window and the per-key fold share the partitioning
    Row("q175_sft_assemble", (s, d) => {
      val ev = t(s, d, "events").select(col("user_id"), col("ts"),
        col("event_id"), col("event_type"),
        concat(col("event_type"), lit(" v"),
          round(col("value") * 100).cast("long").cast("string"),
          lit(" "), col("props")).as("content"))
      graft.operators.Conversations.assemble(ev, "user_id", "ts",
          "event_id", "event_type", "content", 120L)
        .select(col("user_id"), col("n_turns"), col("n_kept"),
          col("tokens_kept"), md5(col("transcript")).as("transcript_md5"))
        .orderBy(col("user_id"))
    },
      // q175: the suffix-sum truncation replayed as the same descending
      // running window (monotone suffix sums make the keep set the
      // maximal recent suffix), transcript re-rendered oldest-first
      """WITH ev AS (
           SELECT user_id, ts, event_id, event_type,
             event_type || ' v' ||
               CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR) ||
               ' ' || props AS content
           FROM events),
         tk AS (
           SELECT *, CAST(len(list_filter(
             string_split_regex(content, '\s+'), x -> x <> ''))
             AS BIGINT) AS tok
           FROM ev),
         mk AS (
           SELECT *, sum(tok) OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 120
             AS keep
           FROM tk)
         SELECT user_id, count(*) AS n_turns,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN keep THEN tok ELSE 0 END) AS BIGINT)
             AS tokens_kept,
           md5(coalesce(string_agg(event_type || ': ' || content,
             chr(10) ORDER BY ts, event_id) FILTER (WHERE keep), ''))
             AS transcript_md5
         FROM mk GROUP BY user_id ORDER BY user_id"""),

    // corpus snapshot diff: documents vs a deterministically perturbed
    // "next release" (drops, edits, additions) — per-doc
    // added/removed/changed/unchanged status; the join exchanges
    // (id, md5) rows, never text
    Row("q176_corpus_diff", (s, d) => {
      val old = t(s, d, "documents").select(col("doc_id"), col("text"))
      val neu = old.where(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 5, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(old.where(col("doc_id") % 19 === 2)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.operators.CorpusDiff.diff(old, neu, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // q176: the same perturbation, statuses from one full join of
      // (id, md5) sides
      """WITH neu AS (
           SELECT doc_id,
             text || CASE WHEN doc_id % 13 = 5 THEN ' v2' ELSE '' END
               AS text
           FROM documents WHERE doc_id % 17 <> 3
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents
           WHERE doc_id % 19 = 2),
         o AS (SELECT doc_id, md5(text) AS oh FROM documents),
         n AS (SELECT doc_id, md5(text) AS nh FROM neu),
         j AS (SELECT doc_id, oh, nh FROM o FULL JOIN n USING (doc_id))
         SELECT doc_id,
           CASE WHEN oh IS NULL THEN 'added'
                WHEN nh IS NULL THEN 'removed'
                WHEN oh <> nh THEN 'changed'
                ELSE 'unchanged' END AS status
         FROM j ORDER BY doc_id"""),

    // RLHF/DPO preference pairs from a reward-scored candidate frame:
    // exact-cosine top-8 per probe (1e4-scaled integer scores), pairs
    // gated at gap >= 500 (0.05 cosine), capped at 3 per prompt by
    // largest gap — the margin filter + per-prompt cap of real
    // preference-data builders
    Row("q177_preference_pairs", (s, d) =>
      graft.operators.Preferences.preferencePairs(prefScored(s, d),
          "query_id", "cand_id", "score", minGap = 500L, maxPairs = 3)
        .orderBy(col("query_id"), col("pair_no")),
      // q177: exact-cosine candidate ranking (the q95 4-decimal
      // contract), the same gap gate, per-prompt cap, and tiebreaks
      ("WITH " + prefScoredCtes + """,
         pp AS (
           SELECT a.query_id, a.cand_id AS chosen_id,
             b.cand_id AS rejected_id, a.sm - b.sm AS gap
           FROM top a JOIN top b ON a.query_id = b.query_id
             AND a.cand_id <> b.cand_id
           WHERE a.sm - b.sm >= 500),
         sel AS (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY gap DESC, chosen_id, rejected_id) AS pair_no
           FROM pp)
         SELECT query_id, CAST(pair_no AS BIGINT) AS pair_no, chosen_id,
           rejected_id, gap
         FROM sel WHERE pair_no <= 3
         ORDER BY query_id, pair_no""")),

    // the DPO-export pair beside q177's all-qualifying-pairs surface:
    // each prompt's single (argmax, argmin) reward pair from the SAME
    // scored frame, gap-gated — ONE hash aggregate (max/min of
    // (score, ∓cand) structs), no self-join, no window
    Row("q204_dpo_pairs", (s, d) =>
      graft.operators.Preferences.bestWorstPairs(prefScored(s, d),
          "query_id", "cand_id", "score", minGap = 500L)
        .orderBy(col("query_id")),
      // q204: the q177 scored-frame CTEs verbatim (shared helper), then
      // the one-pair-per-prompt tail — argmax/argmin with the smallest-id
      // tiebreak replayed as rank-1 windows, gap-gated at 500
      ("WITH " + prefScoredCtes + """,
         best AS (
           SELECT query_id, cand_id AS chosen_id, sm AS bs,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sm DESC, cand_id) AS r
           FROM top),
         worst AS (
           SELECT query_id, cand_id AS rejected_id, sm AS ws,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sm ASC, cand_id) AS r
           FROM top),
         nc AS (
           SELECT query_id, CAST(count(*) AS BIGINT) AS n_cands
           FROM top GROUP BY query_id)
         SELECT b.query_id, b.chosen_id, w.rejected_id,
           b.bs - w.ws AS gap, nc.n_cands
         FROM best b
         JOIN worst w ON b.query_id = w.query_id AND w.r = 1
         JOIN nc ON b.query_id = nc.query_id
         WHERE b.r = 1 AND b.bs - w.ws >= 500
         ORDER BY b.query_id""")),

    // drop-reason lineage for the default cleaning pipeline: every
    // gate of q45's clean() records (doc_id, stage, reason) for the
    // docs it drops — recorded from the SAME frames the pipeline gates
    // on (one definition), predicate gates as negated filters
    // (map-only), join gates as anti-joins. Survivors ∪ lineage
    // partitions the input exactly once (spec-pinned); the oracle
    // recomputes every stage's drop set + first-fail attribution
    Row("q168_drop_lineage", (s, d) => {
      val rec = graft.pipelines.TrainingData.lineageRecorder("doc_id")
      graft.pipelines.TrainingData.clean(t(s, d, "documents"),
        "doc_id", "text", lineage = Some(rec))
      rec.frame(s).orderBy(col("doc_id"))
    },
      // q168: q45's stage CTEs, re-pointed at the DROPPED side of each
      // gate — exact-dup complement, empty-token docs, lang/quality
      // first-fail split, and the greedy near-dup drops with their
      // min-partner keeper in the reason
      s"""WITH ${cleanInterCtes("")},
         nd AS (
           SELECT id_b AS doc_id, min(id_a) AS of_id FROM inter
           WHERE $jaccardSql >= 0.5 GROUP BY id_b)
         SELECT doc_id, stage, reason FROM (
           SELECT d.doc_id, 'exact_dedup' AS stage, 'duplicate_text' AS reason
             FROM documents d
             WHERE d.doc_id NOT IN (SELECT doc_id FROM uniq)
           UNION ALL
           SELECT doc_id, 'tokenize', 'no_tokens' FROM feat WHERE len(w) = 0
           UNION ALL
           SELECT doc_id, 'language', 'lang=' || lang_pred
             FROM scored WHERE lang_pred <> 'en'
           UNION ALL
           SELECT doc_id, 'quality', 'quality<0.26'
             FROM scored WHERE lang_pred = 'en' AND quality < 0.26
           UNION ALL
           SELECT doc_id, 'near_dup', 'near_dup_of=' || CAST(of_id AS VARCHAR)
             FROM nd)
         ORDER BY doc_id"""),

    // deterministic global shuffle: reproducible training order via a
    // range-partitioned sort on the unit hash — no RNG state, identical
    // permutation cross-engine and cross-run
    Row("q115_corpus_shuffle", (s, d) =>
      graft.operators.Sampling.deterministicShuffle(
          t(s, d, "documents").select(col("doc_id"), col("lang")),
          "doc_id", salt = "ep0"),
      """SELECT doc_id, lang,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'ep0'), 1, 8))
             AS UBIGINT) / 4294967296.0 AS shuffle_key
         FROM documents ORDER BY shuffle_key, doc_id"""),

    // weighted sampling without replacement (A-ES): 5 docs per language,
    // inclusion odds proportional to n_chars, membership a pure hash —
    // the bounded top-k aggregate carries 5 pairs per group per task;
    // oracle replays the hash, key, and ranking exactly
    Row("q100_weighted_sample", (s, d) =>
      graft.operators.Sampling.weightedTopK(
        t(s, d, "documents"), "doc_id", "n_chars", "lang", k = 5)
        .orderBy(col("lang"), col("rank")),
      """SELECT lang, rank, doc_id FROM (
           SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id) AS rank
           FROM (SELECT lang, doc_id,
                   ln(greatest(
                        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                          AS UBIGINT) / 4294967296.0,
                        CAST(4.9e-324 AS DOUBLE))) / n_chars AS key
                 FROM documents WHERE n_chars > 0))
         WHERE rank <= 5 ORDER BY lang, rank"""),

    // column profiling (the know-your-data pass): one scan, all
    // aggregates in a single agg, map-only stack unpivot; exact distinct
    // counts so the oracle replays every cell
    Row("q92_profile", (s, d) =>
      graft.operators.Profile.profile(t(s, d, "documents"),
        Seq("doc_id", "lang", "source", "n_chars"))
        .orderBy(col("col_name")),
      """WITH p AS (
           SELECT 'doc_id' AS col_name, count(*) - count(doc_id) AS n_nulls,
             count(DISTINCT doc_id) AS n_distinct,
             CAST(min(doc_id) AS VARCHAR) AS min_v, CAST(max(doc_id) AS VARCHAR) AS max_v
           FROM documents
           UNION ALL
           SELECT 'lang', count(*) - count(lang), count(DISTINCT lang),
             CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR) FROM documents
           UNION ALL
           SELECT 'source', count(*) - count(source), count(DISTINCT source),
             CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR) FROM documents
           UNION ALL
           SELECT 'n_chars', count(*) - count(n_chars), count(DISTINCT n_chars),
             CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM documents)
         SELECT col_name, (SELECT count(*) FROM documents) AS n_rows,
           CAST(n_nulls AS BIGINT) AS n_nulls,
           CAST(n_distinct AS BIGINT) AS n_distinct, min_v, max_v
         FROM p ORDER BY col_name"""),

    // corpus mixing to per-source token budgets: ONE tiny per-source
    // aggregate broadcast onto a map-only hash filter (no corpus
    // shuffle); membership is the q76 unit hash, so the oracle replays
    // totals, fractions, AND membership exactly
    Row("q91_source_mix", (s, d) =>
      graft.operators.Mixing.mixToTokenBudget(
        t(s, d, "documents"), "doc_id", "source", "n_chars",
        budgets = Map("src0" -> 999999999L, "src1" -> 4000L),
        defaultBudget = 2000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("kept_chars"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy(col("source")),
      """WITH tot AS (
           SELECT source, CAST(sum(n_chars) AS BIGINT) AS total
           FROM documents GROUP BY source),
         f AS (
           SELECT source, total,
             CASE source WHEN 'src0' THEN 999999999
                         WHEN 'src1' THEN 4000
                         ELSE 2000 END AS budget
           FROM tot),
         kept AS (
           SELECT d.source, d.doc_id, d.n_chars
           FROM documents d JOIN f USING (source)
           WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                   AS UBIGINT) / 4294967296.0
             < (CASE WHEN f.total <= f.budget THEN 1.0
                     ELSE CAST(f.budget AS DOUBLE) / CAST(f.total AS DOUBLE) END))
         SELECT source, count(*) AS cnt,
           CAST(sum(n_chars) AS BIGINT) AS kept_chars,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM kept GROUP BY source ORDER BY source"""),

    // end-to-end training-data PREP: the q45 cleaning pipeline's
    // survivors -> fixed-size chunking -> greedy sequence packing, one
    // declarative plan from raw corpus to training sequences. Chunk key
    // cid = doc_id*1e6 + chunk_id keeps packing order == (doc, chunk)
    // order so the oracle replays the whole chain exactly (unique while
    // chunk_id < 1e6, i.e. docs under 24M ws tokens at stride 24 — far
    // beyond any real document; a collision would make the order
    // non-total and the assignment engine-dependent).
    Row("q90_prep_e2e", (s, d) => {
      val docs = t(s, d, "documents")
      val survivors = graft.pipelines.TrainingData.clean(docs, "doc_id", "text")
        .select(col("doc_id"))
      val chunks = graft.operators.Chunking.chunk(
        survivors.join(docs.select(col("doc_id"), col("text")), Seq("doc_id")),
        "doc_id", "text", size = 24, stride = 24)
        .select((col("doc_id") * 1000000L + col("chunk_id")).as("cid"),
          (col("doc_id") % 4).as("shard"),
          col("n_tokens").as("tokens"))
      graft.operators.Packing.packGreedy(chunks, "cid", "tokens", "shard",
        budget = 96L)
        .orderBy(col("cid"))
    },
      ("WITH RECURSIVE " + cleanSurvivorCtes + """,
         tok AS (
           SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS wt
           FROM surv),
         ch AS (
           SELECT doc_id, unnest(range(0, len(wt), 24)) AS start, wt
           FROM tok WHERE len(wt) > 0),
         chunks AS (
           SELECT doc_id * 1000000 + (start // 24) AS cid, doc_id % 4 AS shard,
             CAST(len(wt[start+1 : start+24]) AS BIGINT) AS tokens
           FROM ch),
         base AS MATERIALIZED (
           SELECT shard, cid, tokens,
             row_number() OVER (PARTITION BY shard ORDER BY cid) AS rn
           FROM chunks),
         packed AS (
           SELECT shard, cid, tokens, rn,
             CAST(0 AS BIGINT) AS seq_id, tokens AS cum, CAST(0 AS BIGINT) AS seq_pos
           FROM base WHERE rn = 1
           UNION ALL
           SELECT b.shard, b.cid, b.tokens, b.rn,
             CASE WHEN p.cum + b.tokens <= 96 THEN p.seq_id ELSE p.seq_id + 1 END,
             CASE WHEN p.cum + b.tokens <= 96 THEN p.cum + b.tokens ELSE b.tokens END,
             CASE WHEN p.cum + b.tokens <= 96 THEN p.seq_pos + 1 ELSE CAST(0 AS BIGINT) END
           FROM packed p JOIN base b ON b.shard = p.shard AND b.rn = p.rn + 1)
         SELECT cid, shard, seq_id, seq_pos, tokens > 96 AS oversize
         FROM packed ORDER BY cid"""))
  )
}
