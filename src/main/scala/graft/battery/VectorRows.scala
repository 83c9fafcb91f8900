package graft.battery

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.Similarity

import Fixtures._
import OracleSql._

/** Dense retrieval rows: exact and LSH/PQ vector search, quantization,
  * hard negatives, MMR, the ANN recall audit and bitext margin mining.
  */
object VectorRows {
  /** Deterministic synthetic PQ codebook for q121 — m=4 subspaces x
    * ksub=8 centroids x dsub=16 dims over the 64-dim embeddings; every
    * centroid is integer arithmetic / 8 (a dyadic rational, exact in
    * double), so the DuckDB oracle rebuilds it bit-identically in SQL.
    */
  private val syntheticPqCodebook: Seq[Seq[Seq[Double]]] =
    (0 until 4).map(sub => (0 until 8).map(cid => (0 until 16).map(d =>
      (((sub * 13 + cid * 31 + d * 7) % 17) - 8) / 8.0)))

  /** The bitext rows' two "languages": the even embeddings as sources,
    * the odd ones as targets.
    */
  private def bitextSides(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val embs = t(s, d, "embeddings")
    (embs.where(col("vec_id") % 2 === 0), embs.where(col("vec_id") % 2 =!= 0))
  }

  /** The shared `posted` CTE prefix for the LSH oracles (q32, q95): every
    * vector's per-table sign-LSH bucket, derived in SQL from the SAME
    * hyperplane family the engine uses.
    */
  private def lshPostedCte: String = {
    val nPlanes = 4; val nTables = 12; val dim = 64; val seed = 11L
    val fams = graft.functions.HashFamilies.planeFamilies(nTables, nPlanes, dim, seed)
    def planeList(p: Array[Double]) =
      p.map(_.toString).mkString("[", ", ", "]")
    val bucketExprs = fams.zipWithIndex.map { case (fam, tbl) =>
      val terms = fam.zipWithIndex.map { case (p, j) =>
        s"(CASE WHEN list_dot_product(v, ${planeList(p)}) > 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString("\n             + ")
      s"($terms) AS b$tbl"
    }.mkString(",\n           ")
    val bucketList = (0 until nTables).map(tbl => s"b$tbl").mkString("[", ", ", "]")
    s"""emb AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        bucketed AS (
          SELECT vec_id, v,
           $bucketExprs
          FROM emb),
        posted AS (
          SELECT vec_id, v, unnest(range(0, $nTables)) AS tbl,
            unnest($bucketList) AS bucket
          FROM bucketed)"""
  }

  /** [[lshPostedCte]] plus the q95 candidate pairs `<name>(query_id,
    * vec_id, sim)`: every `vec_id % 50 = 0` probe against each vector
    * sharing one of its buckets, max cosine over the colliding tables.
    */
  private def lshProbeCtes(name: String): String =
    s"""$lshPostedCte,
        q AS (SELECT vec_id AS query_id, tbl, bucket, v AS qv
              FROM posted WHERE vec_id % 50 = 0),
        $name AS (
          SELECT q.query_id, p.vec_id,
            max(round(list_cosine_similarity(p.v, q.qv), 4)) AS sim
          FROM posted p JOIN q ON p.tbl = q.tbl AND p.bucket = q.bucket
          WHERE p.vec_id <> q.query_id
          GROUP BY 1, 2)"""

  /** The q95 ranking tail over `pairs(query_id, vec_id, sim)`: the top 5
    * per query by sim desc with the ascending vec_id tiebreak.
    */
  private val pairsRankTail: String =
    """ranked AS (
          SELECT query_id, vec_id,
            row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, vec_id) AS rank
          FROM pairs)
        SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  /** DuckDB twin of q32: recomputes the sign-LSH bucketing with the SAME
    * LCG hyperplanes as [[graft.functions.HyperplaneBuckets]] (embedded as
    * double literals — both sides derive from
    * `HashFamilies.planeFamilies(12, 4, 64, 11L)`; `Double.toString` emits
    * the shortest round-tripping form, so DuckDB parses back the identical
    * bit pattern). Per table the bucket is the 4-bit dot-product sign
    * pattern; candidates share the query's bucket in ANY table
    * (OR-amplification), ranked by exact cosine. The embedding width is
    * pinned to the fixture's 64 — a width change breaks loudly (dimension
    * mismatch on the Spark side, wrong-length dot product here).
    */
  private def q32Oracle: String =
    s"""WITH $lshPostedCte,
        q AS (SELECT tbl, bucket, v AS qv FROM posted WHERE vec_id = 0)
        SELECT p.vec_id, max(round(list_cosine_similarity(p.v, q.qv), 4)) AS sim
        FROM posted p JOIN q ON p.tbl = q.tbl AND p.bucket = q.bucket
        WHERE p.vec_id <> 0
        GROUP BY p.vec_id
        ORDER BY sim DESC, vec_id LIMIT 10"""

  private def q95Oracle: String =
    s"""WITH ${lshProbeCtes("pairs")},
        $pairsRankTail"""

  /** q140 replay: the exact top-10 candidates, the pairwise candidate
    * cosine matrix, then the MMR greedy UNROLLED into five pick stages —
    * each stage excludes prior picks, scores
    * lam*rel_m - (1e6-lam)*max(sim_m to picks), and takes the
    * row_number=1 winner with the ascending-id tiebreak, exactly the
    * integer comparisons MmrSelect makes.
    */
  private def q140Oracle: String = {
    val lam = 500000L
    val stages = (2 to 5).map { t =>
      s"""scored$t AS (
          SELECT c.query_id, c.id,
            $lam * c.rel_m - ${1000000L - lam} * (
              SELECT max(s.sim_m) FROM msims s
              JOIN picks${t - 1} p
                ON p.query_id = s.query_id AND p.id = s.id_b
              WHERE s.query_id = c.query_id AND s.id_a = c.id) AS score
          FROM mcand c
          WHERE NOT EXISTS (SELECT 1 FROM picks${t - 1} p
            WHERE p.query_id = c.query_id AND p.id = c.id)),
        pick$t AS (
          SELECT query_id, id, $t AS rank FROM (
            SELECT query_id, id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, id) AS rn
            FROM scored$t)
          WHERE rn = 1),
        picks$t AS (SELECT * FROM picks${t - 1} UNION ALL SELECT * FROM pick$t)"""
    }.mkString(",\n        ")
    s"""WITH epairs AS (
          ${probeCosineSql("id")}),
        mcand AS (
          SELECT query_id, id,
            CAST(round(sim * 1000000) AS BIGINT) AS rel_m
          FROM (
            SELECT query_id, id, sim,
              row_number() OVER (PARTITION BY query_id
                ORDER BY sim DESC, id) AS rank
            FROM epairs)
          WHERE rank <= 10),
        msims AS (
          SELECT a.query_id, a.id AS id_a, b.id AS id_b,
            CAST(round(round(list_cosine_similarity(
              CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])),
              4) * 1000000) AS BIGINT) AS sim_m
          FROM mcand a JOIN mcand b
            ON a.query_id = b.query_id AND a.id <> b.id
          JOIN embeddings ea ON ea.vec_id = a.id
          JOIN embeddings eb ON eb.vec_id = b.id),
        picks1 AS (
          SELECT query_id, id, 1 AS rank FROM (
            SELECT query_id, id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY rel_m DESC, id) AS rn
            FROM mcand)
          WHERE rn = 1),
        $stages
        SELECT query_id, CAST(rank AS BIGINT) AS rank, id AS vec_id
        FROM picks5 ORDER BY query_id, rank"""
  }

  /** Recall audit replay: the q95 LSH candidate list and the exact
    * cosine reference list, left-joined per (query, id), counted.
    */
  private def q138Oracle: String =
    s"""WITH ${lshProbeCtes("lpairs")},
                cand AS (
          ${topBySimSql("query_id, vec_id", "lpairs", "vec_id", 5)}),
        epairs AS (
          ${probeCosineSql("vec_id")}),
        ref AS (
          ${topBySimSql("query_id, vec_id", "epairs", "vec_id", 5)})
        SELECT r.query_id, CAST(count(*) AS BIGINT) AS n_ref,
          CAST(count(c.vec_id) AS BIGINT) AS n_hit,
          CAST((count(c.vec_id) * 2000000 + count(*)) // (2 * count(*))
            AS DOUBLE) / 1e6 AS recall
        FROM ref r LEFT JOIN cand c
          ON c.query_id = r.query_id AND c.vec_id = r.vec_id
        GROUP BY r.query_id ORDER BY r.query_id"""

  /** Shared margin-mining tail (q163 exact sweep, q164 LSH candidates):
    * the caller supplies the candidate CTE chain ending in
    * `c(src_id, tgt_id, c)` with exact 1e4-scaled cosine longs; the
    * tail replays [[graft.operators.Similarity.marginTail]] — window
    * top-4 neighborhoods both directions over the candidates, the one
    * double-division margin chain rounded to 6, forward-best per src
    * at margin >= 1.0.
    */
  private def bitextMarginOracle(candCtes: String): String =
    s"""WITH ${bitextMarginCtes("", candCtes)}
       SELECT src_id, tgt_id, margin FROM best WHERE r = 1
       ORDER BY src_id"""

  /** The margin tail CTE chain with a NAME PREFIX, so q166 can host
    * the exact and the LSH chains side by side in one statement; ends
    * in `${p}best(src_id, tgt_id, margin, r)`.
    */
  private def bitextMarginCtes(p: String, candCtes: String): String =
    s"""$candCtes,
       ${p}fwd AS (
         SELECT src_id, tgt_id, c,
           row_number() OVER (PARTITION BY src_id
             ORDER BY c DESC, tgt_id) AS r
         FROM ${p}c),
       ${p}fnn AS (SELECT src_id, sum(c) AS sx, count(*) AS nx
         FROM ${p}fwd WHERE r <= 4 GROUP BY 1),
       ${p}bwd AS (
         SELECT tgt_id, c,
           row_number() OVER (PARTITION BY tgt_id
             ORDER BY c DESC, src_id) AS r
         FROM ${p}c),
       ${p}bnn AS (SELECT tgt_id, sum(c) AS sy, count(*) AS ny
         FROM ${p}bwd WHERE r <= 4 GROUP BY 1),
       ${p}cand AS (
         SELECT f.src_id, f.tgt_id,
           fn.sx * bn.ny + bn.sy * fn.nx AS idenom,
           CASE WHEN fn.sx * bn.ny + bn.sy * fn.nx > 0 THEN
             CAST((CASE WHEN f.c < 0 THEN -1 ELSE 1 END)
               * ((abs(2 * f.c * fn.nx * bn.ny) * 2000000
                   + (fn.sx * bn.ny + bn.sy * fn.nx))
                 // (2 * (fn.sx * bn.ny + bn.sy * fn.nx)))
               AS DOUBLE) / 1e6 END AS margin
         FROM ${p}fwd f JOIN ${p}fnn fn USING (src_id)
           JOIN ${p}bnn bn USING (tgt_id)
         WHERE f.r <= 4),
       ${p}best AS (
         SELECT src_id, tgt_id, margin,
           row_number() OVER (PARTITION BY src_id
             ORDER BY margin DESC, tgt_id) AS r
         FROM ${p}cand WHERE idenom > 0 AND margin >= 1.0)"""

  /** The exact-sweep candidate chain ending in `${p}c`. */
  private def bitextExactCand(p: String): String =
    s"""${p}s AS (SELECT vec_id AS src_id, embedding
         FROM embeddings WHERE vec_id % 2 = 0),
       ${p}t AS (SELECT vec_id AS tgt_id, embedding
         FROM embeddings WHERE vec_id % 2 <> 0),
       ${p}c AS (
         SELECT s.src_id, t.tgt_id,
           CAST(round(round(list_cosine_similarity(
             CAST(t.embedding AS DOUBLE[]), CAST(s.embedding AS DOUBLE[])),
             4) * 10000) AS BIGINT) AS c
         FROM ${p}s s CROSS JOIN ${p}t t)"""

  /** The LSH-collision candidate chain (q32's hyperplane buckets)
    * ending in `${p}c`; embeds `posted`, so use at most once per
    * statement.
    */
  private def bitextLshCand(p: String): String =
    s"""$lshPostedCte,
       ${p}c AS (
         SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
           max(CAST(round(round(list_cosine_similarity(t.v, s.v), 4)
             * 10000) AS BIGINT)) AS c
         FROM posted s JOIN posted t
           ON s.tbl = t.tbl AND s.bucket = t.bucket
         WHERE s.vec_id % 2 = 0 AND t.vec_id % 2 <> 0
         GROUP BY 1, 2)"""

  def rows: Seq[Row] = Seq(
    // ---- similarity search (north star) ----
    Row("q31_cosine_topk", (s, d) =>
      Similarity.bruteForceTopK(t(s, d, "embeddings"),
        "vec_id", "embedding", queryId = 0L, k = 10),
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
             CAST(qv AS DOUBLE[])), 4) AS sim
         FROM embeddings, q WHERE vec_id <> 0
         ORDER BY sim DESC, vec_id LIMIT 10"""),

    Row("q32_ann_lsh", (s, d) => // full oracle: q32Oracle re-derives the buckets
      Similarity.lshTopK(t(s, d, "embeddings"),
        "vec_id", "embedding", queryId = 0L, k = 10),
      q32Oracle),

    // batched ANN (candidate generation): k nearest corpus neighbors for
    // EVERY query at once — LSH bucket equi-join (never all-pairs), one
    // cosine per surviving pair, pair-dedupe, bounded top-k aggregate
    // per query; ranking on the 4dp sim with id tiebreak so the oracle
    // replays buckets, pairs, and ranks exactly
    Row("q95_batch_ann", (s, d) => {
      val embs = t(s, d, "embeddings")
      Similarity.batchLshTopK(embs, embs.where(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      q95Oracle),

    // metadata-filtered vector search: exact top-k among docs passing a
    // lang filter (semi-join pre-filter -> guaranteed k, exact recall);
    // the query vector comes from the unfiltered table
    Row("q93_filtered_ann", (s, d) =>
      Similarity.filteredTopK(t(s, d, "embeddings"),
        t(s, d, "documents").where(col("lang") === "de"),
        "vec_id", "doc_id", "embedding", queryId = 0L, k = 10),
      """WITH allowed AS (SELECT DISTINCT doc_id FROM documents WHERE lang = 'de'),
         q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
             CAST(qv AS DOUBLE[])), 4) AS sim
         FROM embeddings e JOIN allowed a ON e.vec_id = a.doc_id, q
         WHERE vec_id <> 0
         ORDER BY sim DESC, vec_id LIMIT 10"""),

    // symmetric int8 embedding quantization (the 1-byte/dim ANN storage
    // path): every step is IEEE-exact (double widening, one division, one
    // multiply-add, floor), so the oracle recomputes the identical codes —
    // per-vector code sum and saturation count hash-match bit-for-bit
    Row("q87_quantize_int8", (s, d) =>
      graft.operators.Quantization.quantize(t(s, d, "embeddings"), "embedding")
        .select(col("vec_id"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
          size(filter(col("q"), x => abs(x) === 127)).cast("long").as("n_sat"))
        .orderBy(col("vec_id")),
      """WITH t AS (
           SELECT vec_id,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs,
             embedding
           FROM embeddings),
         s AS (
           SELECT vec_id, embedding,
             CASE WHEN maxabs IS NULL OR maxabs = 0 THEN 0.0
                  ELSE 127.0 / maxabs END AS scale
           FROM t),
         q AS (
           SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS INTEGER)) AS q
           FROM s)
         SELECT vec_id,
           CAST(list_sum(q) AS BIGINT) AS q_sum,
           CAST(len(list_filter(q, x -> abs(x) = 127)) AS BIGINT) AS n_sat
         FROM q ORDER BY vec_id"""),

    // embedding-space drift: centroid cosine between two slices — each
    // slice collapses to dim rows in one decimal-exact hash aggregate
    // (cos of sums == cos of means, scale-invariant), one-row output
    Row("q103_embedding_drift", (s, d) => {
      val embs = t(s, d, "embeddings")
      graft.operators.Drift.embeddingCentroidCos(
        embs.where(col("vec_id") % 2 === 0),
        embs.where(col("vec_id") % 2 === 1), "embedding")
    },
      """WITH ea AS (SELECT embedding FROM embeddings WHERE vec_id % 2 = 0),
         eb AS (SELECT embedding FROM embeddings WHERE vec_id % 2 = 1),
         da AS (
           SELECT i AS dim, sum(CAST(embedding[i] AS DECIMAL(38,12))) AS sa
           FROM (SELECT embedding, unnest(range(1, len(embedding)+1)) AS i FROM ea)
           GROUP BY i),
         db AS (
           SELECT i AS dim, sum(CAST(embedding[i] AS DECIMAL(38,12))) AS sb
           FROM (SELECT embedding, unnest(range(1, len(embedding)+1)) AS i FROM eb)
           GROUP BY i),
         mm AS (
           SELECT
             CAST(CAST(sa AS VARCHAR) AS DOUBLE)
               / (SELECT count(*) FROM ea) AS ma,
             CAST(CAST(sb AS VARCHAR) AS DOUBLE)
               / (SELECT count(*) FROM eb) AS mb
           FROM da JOIN db USING (dim)),
         dots AS (
           SELECT sum(CAST(round(ma * mb * 1e12) AS BIGINT)) AS ab,
             sum(CAST(round(ma * ma * 1e12) AS BIGINT)) AS aa,
             sum(CAST(round(mb * mb * 1e12) AS BIGINT)) AS bb
           FROM mm)
         SELECT (SELECT count(*) FROM ea) AS n_a,
           (SELECT count(*) FROM eb) AS n_b,
           round(CAST(ab AS DOUBLE)
             / sqrt(CAST(aa AS DOUBLE) * CAST(bb AS DOUBLE)), 6)
             AS centroid_cos
         FROM dots"""),

    // PQ (product-quantization) ADC ranking: vectors compressed to m=4
    // one-byte codes, ranked against an uncompressed query by m table
    // lookups per row. The codebook here is SYNTHETIC integer arithmetic
    // (/8 keeps every centroid an exact dyadic double) so the oracle
    // re-derives codebook, codes, distance table, and ranking from pure
    // SQL; TRAINED codebooks (k-means per subspace) are PqSpec's domain.
    // Query vector = vec 0's raw embedding (one-row driver edge, the
    // q31/ivfTopK posture)
    Row("q121_pq_adc", (s, d) => {
      val embs = t(s, d, "embeddings")
      val qv = embs.where(col("vec_id") === 0L)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      graft.operators.Quantization.pqAdcTopK(
        graft.operators.Quantization.pqEncode(
          embs, "embedding", syntheticPqCodebook),
        "vec_id", "pq", syntheticPqCodebook, qv, k = 10, excludeId = 0L)
    },
      // codebook, codes, query distance table, and ADC ranking re-derived
      // in pure SQL: the synthetic centroids are dyadic (k/8, exact in
      // double), per-subspace distances round to 4 decimals before the
      // argmin (ties -> lowest cid, the PqEncode rule), the distance table
      // is vec 0's own per-subspace distance row
      """WITH cb AS (
           SELECT t1.sub, t2.cid, t3.d,
             ((((t1.sub*13 + t2.cid*31 + t3.d*7) % 17) - 8) / 8.0) AS c
           FROM range(0,4) t1(sub), range(0,8) t2(cid), range(0,16) t3(d)),
         dists AS (
           SELECT e.vec_id, cb.sub, cb.cid,
             round(sum((CAST(e.embedding[cb.sub*16 + cb.d + 1] AS DOUBLE) - cb.c)
                     * (CAST(e.embedding[cb.sub*16 + cb.d + 1] AS DOUBLE) - cb.c)), 4)
               AS dist
           FROM embeddings e, cb
           GROUP BY e.vec_id, cb.sub, cb.cid),
         codes AS (
           SELECT vec_id, sub, cid FROM (
             SELECT vec_id, sub, cid,
               row_number() OVER (PARTITION BY vec_id, sub
                 ORDER BY dist, cid) AS rn
             FROM dists) r WHERE rn = 1),
         dt AS (SELECT sub, cid, dist FROM dists WHERE vec_id = 0)
         SELECT c.vec_id, round(sum(dt.dist), 4) AS dist
         FROM codes c JOIN dt ON c.sub = dt.sub AND c.cid = dt.cid
         WHERE c.vec_id <> 0
         GROUP BY c.vec_id
         ORDER BY dist, c.vec_id LIMIT 10"""),

    // hard-negative mining (contrastive training data): for each anchor
    // (the q95 probe split), the exact top-5 most-similar corpus vectors
    // with a DIFFERENT label — near-but-wrong examples; anchors
    // broadcast, the corpus scan stays map-only, the exchange carries
    // <= k pairs per anchor per map task
    Row("q133_hard_negatives", (s, d) => {
      val embs = t(s, d, "embeddings")
      graft.operators.Similarity.hardNegatives(
          embs.where(col("vec_id") % 50 =!= 0),
          embs.where(col("vec_id") % 50 === 0),
          "vec_id", "embedding", "label", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      // q95's rank/tiebreak conventions over the exact label-mismatch
      // cosine sweep (anchors = the % 50 probe split)
      s"""WITH pairs AS (
           SELECT p.vec_id AS query_id, c.vec_id AS vec_id,
             round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
               CAST(p.embedding AS DOUBLE[])), 4) AS sim
           FROM embeddings c JOIN embeddings p
             ON p.vec_id % 50 = 0 AND c.vec_id % 50 <> 0
               AND c.label <> p.label),
         $pairsRankTail"""),

    // margin-based bitext mining (CCMatrix ratio criterion): even
    // embeddings as language A, odd as language B; each source's best
    // target by cos normalized with both vectors' top-4 neighborhood
    // means — hub vectors demoted, pairs below margin 1.0 dropped.
    // The source side broadcasts over a map-only target scan (the
    // batchExactTopK posture), neighborhoods through the bounded
    // scored top-k aggregate
    Row("q163_bitext_margin", (s, d) => {
      val (src, tgt) = bitextSides(s, d)
      graft.operators.Similarity.marginMinePairs(src, tgt,
          "vec_id", "embedding", k = 4, minMargin = 1.0)
        .orderBy(col("src_id"))
    },
      // replays the margin miner: exact 1e4-scaled cosines, window top-4
      // neighborhoods both directions, the one double-division margin
      // chain, forward-best per src above the threshold
      bitextMarginOracle(bitextExactCand(""))),

    // the same mining over LSH-bucketed candidates (q32's hyperplane
    // family): pairs are scored only where they share a sign bucket in
    // ANY table — the collision-bounded 100 TB path; neighborhoods are
    // candidate-restricted, so margins drift only where candidates
    // were lost (shared tail, exact-equality-under-full-recall
    // spec-pinned)
    Row("q164_bitext_lsh", (s, d) => {
      val (src, tgt) = bitextSides(s, d)
      graft.operators.Similarity.marginMinePairsLsh(src, tgt,
          "vec_id", "embedding", k = 4, minMargin = 1.0,
          nPlanes = 4, nTables = 12, dim = 64, seed = 11L)
        .orderBy(col("src_id"))
    },
      // the LSH twin: the q32 hyperplane-bucket CTE generates the
      // candidate pairs (max over colliding tables of the identical
      // cosine — the engine's dedup idiom), then the SAME margin tail
      bitextMarginOracle(bitextLshCand(""))),

    // the same mining against the PERSISTED target index (q135's
    // build-row pattern: the row pins the write + pruned-read
    // machinery; the oracle is q164's — identical candidates and tail
    // by construction, indexed ≡ one-shot spec-pinned)
    Row("q165_bitext_indexed", (s, d) => {
      val (src, tgt) = bitextSides(s, d)
      val dir = graft.io.Spill.tempDir("graft-bitext-") + "/lsh"
      graft.operators.Similarity.writeLshIndex(tgt, "vec_id", "embedding",
        dir, nPlanes = 4, nTables = 12, dim = 64, seed = 11L)
      graft.operators.Similarity.marginMinePairsIndexed(s, dir,
          src, "vec_id", "embedding",
          k = 4, minMargin = 1.0, nPlanes = 4, nTables = 12, dim = 64,
          seed = 11L)
        .orderBy(col("src_id"))
    },
      // q165 serves IDENTICAL pairs from the persisted index (same plane
      // family, candidates and tail by construction) — q164's oracle
      bitextMarginOracle(bitextLshCand(""))),

    // the mining-quality audit (q138's recall-audit posture applied to
    // bitext): the exact sweep's pairs as gold, the LSH miner's as the
    // candidate, scored by the xSIM-style corpus error rate — the
    // measured answer to "what did the bucketing cost me"
    Row("q166_bitext_audit", (s, d) => {
      val (src, tgt) = bitextSides(s, d)
      graft.operators.Similarity.miningErrorRate(
        graft.operators.Similarity.marginMinePairsLsh(src, tgt,
          "vec_id", "embedding", k = 4, minMargin = 1.0,
          nPlanes = 4, nTables = 12, dim = 64, seed = 11L),
        graft.operators.Similarity.marginMinePairs(src, tgt,
          "vec_id", "embedding", k = 4, minMargin = 1.0))
    },
      // q166: both chains side by side — the exact sweep's pairs are the
      // gold, the LSH miner's are the candidate, scored by the xSIM-style
      // error rate (missing = error, unjudged ignored)
      s"""WITH ${bitextMarginCtes("e", bitextExactCand("e"))},
         ${bitextMarginCtes("l", bitextLshCand("l"))},
         em AS (SELECT src_id, tgt_id FROM ebest WHERE r = 1),
         lm AS (SELECT src_id, tgt_id FROM lbest WHERE r = 1)
         SELECT CAST(count(*) AS BIGINT) AS n_gold,
           CAST(sum(CASE WHEN lm.tgt_id = em.tgt_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_correct,
           CAST(sum(CASE WHEN lm.tgt_id IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_missing,
           CAST(((count(*) - sum(CASE WHEN lm.tgt_id = em.tgt_id
               THEN 1 ELSE 0 END)) * 2000000 + count(*))
             // (2 * count(*)) AS DOUBLE) / 1e6 AS error_rate
         FROM em LEFT JOIN lm USING (src_id)"""),

    // MMR-diversified retrieval: the exact top-10 per probe re-ranked
    // by greedy maximal marginal relevance (lambda=0.5) down to 5 —
    // per-query candidates collect into one row, the imperative
    // MmrSelect pass picks with integer-micro scores and the q95
    // tiebreaks, and the oracle replays the greedy unrolled
    Row("q140_mmr_diverse", (s, d) => {
      val embs = t(s, d, "embeddings")
      val probes = embs.where(col("vec_id") % 50 === 0)
      val cands = Similarity.batchExactTopK(
          embs, probes, "vec_id", "embedding", k = 10)
        .join(embs.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .join(broadcast(probes.select(col("vec_id").as("query_id"),
          col("embedding").as("__qv"))), Seq("query_id"))
        .select(col("query_id"), col("vec_id"),
          GraftFunctions.cosine_sim(col("embedding"), col("__qv")).as("rel"),
          col("embedding"))
      Similarity.mmrSelect(cands, "vec_id", "rel", "embedding",
          k = 5, lambda = 0.5)
        .orderBy(col("query_id"), col("rank"))
    },
      q140Oracle),

    // ANN recall audit: q95's LSH ranking measured against the exact
    // cosine sweep, per probe — the index-quality metric the drift/refit
    // loop protects, as a battery row ("measure, don't guess"); both
    // lists are queries x k rows so the audit is a tiny join + agg
    Row("q138_ann_recall", (s, d) => {
      val embs = t(s, d, "embeddings")
      val probes = embs.where(col("vec_id") % 50 === 0)
      graft.operators.RankFusion.rankingRecall(
          Similarity.batchLshTopK(embs, probes, "vec_id", "embedding", k = 5),
          Similarity.batchExactTopK(embs, probes, "vec_id", "embedding", k = 5),
          "vec_id")
        .orderBy(col("query_id"))
    },
      q138Oracle)
  )
}
