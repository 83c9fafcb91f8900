package graft.battery

import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, TextFunctions}
import graft.operators.{Dedup, TextAnalysis}

import Fixtures._
import OracleSql._

/** Dedup rows: exact, n-gram, MinHash, SimHash, span, embedding and
  * semantic dedup, one-shot and incremental against persisted history.
  */
object DedupRows {
  /** md5-hash-family CTE scaffold shared by q28 and q109: per-doc shingle
    * sets, hashed base values, the 16-column signature, and the
    * rowsPerBand=1 band postings.
    */
  private def minhashSigCtes: String = {
    val coeffs = graft.functions.HashFamilies.coefficients(16, 7L)
    val p = graft.functions.HashFamilies.Prime
    val sigCols = coeffs.zipWithIndex
      .map { case ((a, b), j) => s"min(($a * h + $b) % $p) AS s$j" }
      .mkString(",\n             ")
    val sigList = coeffs.indices.map(j => s"s$j").mkString("[", ", ", "]")
    s"""${shingleDocsCte("", "documents WHERE doc_id % 5 = 0")},
        base AS (
          SELECT doc_id,
            CAST(('0x' || substr(md5(unnest(sh)), 1, 16)) AS UBIGINT) % $p AS h
          FROM dd),
        sig AS (
          SELECT doc_id,
             $sigCols
          FROM base GROUP BY doc_id),
        bands AS (
          SELECT doc_id, unnest($sigList) AS bucket,
            unnest(range(0, ${coeffs.length})) AS band
          FROM sig)"""
  }

  /** DuckDB twin of q28: recomputes the md5-based minhash signatures with
    * the SAME LCG coefficients as [[graft.functions.MinHashSignature]]
    * (embedded below as literals — both sides derive from
    * `HashFamilies.coefficients(16, 7L)`), buckets band-wise (rowsPerBand=1:
    * bucket = signature value) and joins for candidate pairs.
    */
  private def q28Oracle: String =
    s"""WITH $minhashSigCtes
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ORDER BY id_a, id_b"""

  /** DuckDB twin of q109 (first batch against an EMPTY signature table ≡
    * the in-batch operator): q28's candidate pairs plus the MinHash
    * similarity estimate — matching signature components / 16.
    */
  private def q109Oracle: String = {
    val matchSum = (0 until 16)
      .map(j => s"CASE WHEN sa.s$j = sb.s$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $minhashSigCtes,
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
        SELECT p.id_a, p.id_b, ($matchSum) / 16.0 AS est_jaccard
        FROM pairs p JOIN sig sa ON sa.doc_id = p.id_a
          JOIN sig sb ON sb.doc_id = p.id_b
        ORDER BY id_a, id_b"""
  }

  /** The q110 component labelling: same-label pairs at 4-decimal cosine
    * >= 0.4 and their min-label closure `cc(id, comp)`; callers prepend
    * `WITH RECURSIVE`.
    */
  private val semanticCcCtes: String =
    s"""pairs AS MATERIALIZED (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                   CAST(b.embedding AS DOUBLE[])), 4) >= 0.4),
         ${closureCtes("")}"""

  /** DuckDB twin of q110 AND q117: blocked cosine pairs, recursive
    * component labeling, min-id anti-join. One definition for both — the
    * incremental operator against an empty history must be EXACTLY the
    * in-batch semanticDedup, so a semantics fix can't land in one oracle
    * and not the other.
    */
  private def semanticDedupOracle: String =
    s"""WITH RECURSIVE $semanticCcCtes,
         drp AS (
           SELECT id FROM (SELECT id, min(comp) AS comp FROM cc GROUP BY id)
           WHERE id <> comp)
         SELECT e.vec_id, e.label FROM embeddings e
         WHERE e.vec_id NOT IN (SELECT id FROM drp)
         ORDER BY e.vec_id"""

  /** DuckDB twin of q104 AND q105: duplicate-span detection — identical
    * tokenization, md5-prefix window fingerprints, corpus-wide count
    * threshold, and the gaps-and-islands span merge. Shared because q105's
    * first-batch-against-empty-history semantics are exactly the batch
    * operator. Oracle positions are 1-based vs Spark's 0-based posexplode;
    * only position DIFFERENCES enter the span identity, so the shift
    * cancels.
    */
  private val q104Oracle: String =
    s"""WITH $toksCte,
       grams AS (
         SELECT doc_id, i AS pos,
           substr(md5(array_to_string(w[i:i+7], ' ')), 1, 16) AS fp
         FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(w) - 6, 1))) AS i)),
       dup AS (SELECT fp FROM grams GROUP BY fp HAVING count(*) >= 2),
       hits AS (
         SELECT doc_id, pos,
           pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS gap
         FROM grams SEMI JOIN dup USING (fp))
       SELECT doc_id,
         CAST(count(CASE WHEN gap IS NULL OR gap > 8 THEN 1 END) AS BIGINT) AS dup_spans,
         CAST(sum(CASE WHEN gap IS NULL OR gap >= 8 THEN 8 ELSE gap END) AS BIGINT) AS dup_tokens
       FROM hits GROUP BY doc_id ORDER BY doc_id"""

  /** md5-vote SimHash CTE scaffold shared by q29 and q113: per-token
    * hashes, the 64 bit votes, and the folded UBIGINT fingerprint.
    */
  private def simhashFpCtes: String = {
    val votes = (0 until 64)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS c$j")
      .mkString(",\n             ")
    val fp = (0 until 64)
      .map { j =>
        val pow = java.lang.Long.toHexString(1L << j)
        s"CASE WHEN c$j > 0 THEN CAST('0x$pow' AS UBIGINT) ELSE CAST('0x0' AS UBIGINT) END"
      }
      .mkString(" + ")
    s"""h AS (
          SELECT doc_id,
            CAST(('0x' || substr(md5(unnest(
              $wordsSql)), 1, 16))
              AS UBIGINT) AS h
          FROM documents),
        c AS (
          SELECT doc_id,
             $votes
          FROM h GROUP BY doc_id),
        f AS (SELECT doc_id, $fp AS fp FROM c)"""
  }

  /** DuckDB twin of q29: per-word md5-derived 64-bit hash, per-bit +1/-1
    * votes, sign -> bit, fingerprint compared as unsigned 16-hex-char text
    * (both engines lowercase, zero-padded).
    */
  private def q29Oracle: String =
    s"""WITH $simhashFpCtes
        SELECT doc_id, lpad(lower(hex(fp)), 16, '0') AS fp
        FROM f ORDER BY doc_id"""

  /** DuckDB twin of q113 (first batch against an EMPTY fingerprint table
    * ≡ the in-batch operator): q29's fingerprints banded on 16-bit
    * pigeonhole slices, band-joined, exact-popcount verified.
    */
  private def q113Oracle: String =
    s"""WITH $simhashFpCtes,
        bands AS (
          SELECT doc_id, fp, u.b AS band,
            (fp >> (16 * u.b)) & 65535 AS bucket
          FROM f, LATERAL (SELECT unnest(range(0, 4)) AS b) u),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
            bit_count(xor(a.fp, b.fp)) AS hamming
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bucket = b.bucket
              AND a.doc_id < b.doc_id)
        SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming
        FROM pairs WHERE hamming <= 3 ORDER BY id_a, id_b"""

  def rows: Seq[Row] = Seq(
    // ---- dedup family (north star) ----
    Row("q26_dedup_exact", (s, d) =>
      Dedup.exactGroups(t(s, d, "documents"), "doc_id", "text")
        .select(col("keep_id"), col("dup_cnt")).orderBy(col("keep_id")),
      // md5-digest grouping key, matching Dedup.exactGroups' 16-byte shuffle key
      """SELECT min(doc_id) AS keep_id, count(*) AS dup_cnt FROM documents
         GROUP BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))
         ORDER BY keep_id"""),

    Row("q27_dedup_ngram", (s, d) =>
      Dedup.ngramJaccardPairs(
        t(s, d, "documents").where(col("doc_id") % 5 === 0),
        "doc_id", "text", n = 3, threshold = 0.02)
        .orderBy(col("id_a"), col("id_b")),
      // posting-list form with the same df-cap (2..100) as Dedup.ngramJaccardPairs
      s"""WITH ${shingleDocsCte("", "documents WHERE doc_id % 5 = 0")},
         ${shingleInterCtes("")}
         SELECT id_a, id_b, $jaccardSql AS jaccard
         FROM inter WHERE $jaccardSql >= 0.02
         ORDER BY id_a, id_b"""),

    Row("q28_dedup_minhash", (s, d) => // oracle recomputes the md5 hash family
      Dedup.minhashLshCandidates(
        t(s, d, "documents").where(col("doc_id") % 5 === 0),
        "doc_id", "text", n = 3, k = 16, rowsPerBand = 1)
        .orderBy(col("id_a"), col("id_b")),
      q28Oracle),

    Row("q29_simhash", (s, d) => // fingerprints as unsigned hex (portable)
      t(s, d, "documents")
        .select(col("doc_id"),
          format_string("%016x",
            GraftFunctions.simhash64(TextFunctions.words(col("text")))).as("fp"))
        .orderBy(col("doc_id")),
      q29Oracle),

    Row("q30_dedup_embedding", (s, d) =>
      Dedup.embeddingNearDupPairs(t(s, d, "embeddings"),
        "vec_id", "embedding", blockCol = "label", threshold = 0.4)
        .orderBy(col("id_a"), col("id_b")),
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             CAST(b.embedding AS DOUBLE[])), 4) AS sim
         FROM embeddings a JOIN embeddings b
           ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             CAST(b.embedding AS DOUBLE[])), 4) >= 0.4
         ORDER BY id_a, id_b"""),

    Row("q36_fingerprint", (s, d) =>
      TextAnalysis.fingerprints(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
         FROM documents ORDER BY doc_id"""),

    // ---- transitive-closure near-dup grouping: min-reachable-id label per
    // doc over the q27 candidate pair graph (iterative label propagation;
    // oracle recomputes it with a recursive CTE) ----
    Row("q52_dedup_components", (s, d) =>
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(
          t(s, d, "documents").where(col("doc_id") % 5 === 0),
          "doc_id", "text", n = 3, threshold = 0.02))
        .orderBy(col("id")),
      // q27's candidate pairs -> undirected edges -> recursive min-label
      // reachability; min(comp) per id is the component's smallest member
      s"""WITH RECURSIVE $nearDupCcCtes
         SELECT id, min(comp) AS comp FROM cc GROUP BY id ORDER BY id"""),

    // ---- cheap-filter -> exact-verify: the n-gram candidate pairs get an
    // exact edit-distance check (the standard two-stage near-dup pattern:
    // sub-quadratic candidate generation, exact metric only on survivors) ----
    Row("q63_edit_distance", (s, d) => {
      val docs = t(s, d, "documents").where(col("doc_id") % 5 === 0)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.02)
      pairs
        .join(docs.select(col("doc_id").as("id_a"), col("text").as("ta")), Seq("id_a"))
        .join(docs.select(col("doc_id").as("id_b"), col("text").as("tb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          levenshtein(col("ta"), col("tb")).as("edit_dist"))
        .orderBy(col("id_a"), col("id_b"))
    },
      // q27's candidate CTE + exact levenshtein on each surviving pair
      s"""WITH ${shingleDocsCte("", "documents WHERE doc_id % 5 = 0", " text,")},
         ${shingleInterCtes("")},
         pairs AS (
           SELECT id_a, id_b FROM inter WHERE $jaccardSql >= 0.02)
         SELECT p.id_a, p.id_b,
           CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist
         FROM pairs p
         JOIN dd a ON a.doc_id = p.id_a
         JOIN dd b ON b.doc_id = p.id_b
         ORDER BY id_a, id_b"""),

    // ---- cross-run incremental dedup, first batch against an empty
    // fingerprint table: novel set == exact-dedup survivors (the oracle);
    // the persistent-table path itself (in-batch collapse + anti-join +
    // fingerprint write) is what executes ----
    Row("q73_dedup_incr", (s, d) => {
      // child path must NOT pre-exist: an existing-but-empty dir reads as a
      // schema-less parquet table, not the PATH_NOT_FOUND first-batch case
      val fpDir = java.nio.file.Files.createTempDirectory("graft-fp-")
        .resolve("fp_table").toString
      Dedup.incrementalExactDedup(t(s, d, "documents"), "doc_id", "text", fpDir)
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
      // first-batch novel set == exact-dedup survivors (min-id per normalized text)
      """SELECT min(doc_id) AS doc_id FROM documents
         GROUP BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))
         ORDER BY doc_id"""),

    // ---- winnowing (MOSS) fingerprints: positional k-gram hashes, min per
    // sliding window — the local-similarity fingerprint (q36 is the
    // whole-document digest); oracle recomputes hash + selection exactly ----
    Row("q74_winnow", (s, d) =>
      TextAnalysis.winnowFingerprints(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("fp")),
      // k=3, win=4: grams i in [1, len(w)-2]; windows j in [1, len(gh)-3],
      // gh[j:j+3] is the inclusive 4-element slice; fixed-width lowercase hex
      // makes list_min == numeric min, matching Spark's array_min
      s"""WITH t AS (
           SELECT doc_id,
             $wordsSql AS w
           FROM documents),
         g AS (
           SELECT doc_id, list_transform(range(1, len(w) - 1),
             i -> substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 16)) AS gh
           FROM t WHERE len(w) >= 6),
         f AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(gh) - 2),
             j -> list_min(gh[j:j+3]))) AS fps
           FROM g)
         SELECT doc_id, unnest(fps) AS fp FROM f ORDER BY doc_id, fp"""),

    // ---- boilerplate detector: shingles shared by many documents (the
    // posting-list df tail the dedup cap drops is the ANSWER here) ----
    Row("q78_boilerplate", (s, d) =>
      TextAnalysis.hotShingles(t(s, d, "documents"), "doc_id", "text",
        n = 3, minDf = 5)
        .orderBy(col("df").desc, col("shingle")),
      // distinct shingles per doc (as in q27's dd CTE), df = document count
      s"""WITH dd AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM (
             SELECT doc_id,
               $wordsSql AS w
             FROM documents)
           WHERE len(w) >= 3)
         SELECT shingle, count(*) AS df
         FROM (SELECT doc_id, unnest(sh) AS shingle FROM dd)
         GROUP BY shingle HAVING count(*) >= 5
         ORDER BY df DESC, shingle"""),

    // duplicate-SPAN detection (substring-level dedup, Lee et al. 2022):
    // corpus-wide 8-token-window counts carried as md5-prefix fingerprints,
    // semi-join back, spans merged by the gaps-and-islands identity the
    // oracle replicates verbatim — catches boilerplate embedded inside
    // otherwise-unique documents that document-level dedup misses
    Row("q104_dup_spans", (s, d) =>
      graft.operators.Dedup.duplicateSpans(
        t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      // positions are 1-based here vs Spark's 0-based posexplode — only
      // position DIFFERENCES enter the span identity, so the shift cancels
      q104Oracle),

    // cross-run duplicate-span detection: first batch against an empty
    // count table ≡ the batch operator, so q104's oracle applies verbatim
    // — pins the incremental path's counting, join-back, and span merge
    Row("q105_dup_spans_incr", (s, d) => {
      val spanDir = graft.io.Spill.tempDir("graft-spans-") + "/counts"
      graft.operators.Dedup.incrementalDuplicateSpans(
        t(s, d, "documents"), "doc_id", "text", spanDir)
        .orderBy(col("doc_id"))
    },
      // first batch against an empty count table ≡ the batch operator
      q104Oracle),

    // policy dedup: corpus unioned with a simulated recrawl (same texts,
    // shifted ids, source='recrawl'); even-id recrawl copies carry higher
    // priority and win their group, odd-id ones tie and lose to min-id —
    // both branches of the packed max_by selection exercised
    Row("q106_dedup_priority", (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val recrawl = docs.select(
        (col("doc_id") + lit(10000000L)).as("doc_id"),
        col("text"), lit("recrawl").as("source"))
      graft.operators.Dedup.exactGroupsBy(
          docs.unionByName(recrawl), "doc_id", "text",
          when(col("source") === "recrawl" && col("doc_id") % 2 === 0, 2)
            .otherwise(1))
        .select(col("keep_id"), col("dup_cnt"))
        .orderBy(col("keep_id"))
    },
      // 1099511627776 = 2^40, the same pack base the engine's max_by uses
      """WITH all_docs AS (
           SELECT doc_id, text, source FROM documents
           UNION ALL
           SELECT doc_id + 10000000, text, 'recrawl' FROM documents)
         SELECT arg_max(doc_id,
             (CASE WHEN source = 'recrawl' AND doc_id % 2 = 0
                   THEN 2 ELSE 1 END) * 1099511627776 - doc_id) AS keep_id,
           count(*) AS dup_cnt
         FROM all_docs
         GROUP BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))
         ORDER BY keep_id"""),

    // policy variant of q110: keep each semantic cluster's highest-
    // priority member (mock freshness = vec_id % 7) instead of min id
    Row("q112_semantic_dedup_by", (s, d) =>
      graft.operators.Dedup.semanticDedupBy(t(s, d, "embeddings"),
          "vec_id", "embedding", blockCol = "label", threshold = 0.4,
          priority = col("vec_id") % 7)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id")),
      // q110's labeling with the q106 packed arg_max keeper per component
      s"""WITH RECURSIVE $semanticCcCtes,
         lbl AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id),
         keepers AS (
           SELECT comp,
             arg_max(id, (id % 7) * 1099511627776 - id) AS id
           FROM lbl GROUP BY comp),
         drp AS (
           SELECT l.id FROM lbl l
           WHERE l.id NOT IN (SELECT id FROM keepers))
         SELECT e.vec_id, e.label FROM embeddings e
         WHERE e.vec_id NOT IN (SELECT id FROM drp)
         ORDER BY e.vec_id"""),

    // SemDeDup end-to-end: blocked cosine pairs -> connected components
    // -> min-id representative per semantic cluster -> survivors
    Row("q110_semantic_dedup", (s, d) =>
      graft.operators.Dedup.semanticDedup(t(s, d, "embeddings"),
          "vec_id", "embedding", blockCol = "label", threshold = 0.4)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id")),
      // q30's pair derivation + q52's recursive component labeling + an
      // anti-join; pairs MATERIALIZED per the recursive-oracle rule
      semanticDedupOracle),

    // cross-run semantic dedup: first batch against an empty embedding
    // history ≡ the in-batch semanticDedup — pins the incremental path's
    // history projection, cross-join shape, and component/anti-join tail
    // to q110's oracle verbatim (cross-batch catches are spec-pinned in
    // IncrementalDedupSpec)
    Row("q117_semantic_incr", (s, d) => {
      val histDir = graft.io.Spill.tempDir("graft-semh-") + "/emb"
      graft.operators.Dedup.incrementalSemanticDedup(t(s, d, "embeddings"),
          "vec_id", "embedding", blockCol = "label", threshold = 0.4,
          histTablePath = histDir)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    },
      // empty history: the incremental path must reproduce q110 exactly
      semanticDedupOracle),

    // Bloom-accelerated cross-run exact dedup: every third document
    // seeds the fingerprint history, then the FULL corpus arrives as a
    // second batch routed through the history's Bloom filter — rows the
    // filter rejects are definitely novel and skip the confirm
    // anti-join entirely (map-only); the novel set is bit-identical to
    // the plain path because the filter only ROUTES rows, never decides
    // membership alone. High fpp forces real traffic down the confirm
    // lane at battery scale
    Row("q188_bloom_dedup", (s, d) => {
      val fpDir = java.nio.file.Files.createTempDirectory("graft-fpb-")
        .resolve("fp_table").toString
      val docs = t(s, d, "documents")
      Dedup.incrementalExactDedup(docs.where(col("doc_id") % 3 === 0),
        "doc_id", "text", fpDir, "seed") // fp write is eager in the call
      Dedup.incrementalExactDedupBloom(docs, "doc_id", "text", fpDir,
          "probe", fpp = 0.1)
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
      // q188: the Bloom filter only routes rows between the map-only
      // novel lane and the exact confirm join, so the novel set is the
      // plain seen-set anti-join the oracle computes (null-safe via LEFT
      // JOIN, not NOT IN)
      """WITH fp AS (
           SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS f,
             doc_id
           FROM documents),
         seed AS (SELECT DISTINCT f FROM fp WHERE doc_id % 3 = 0),
         reps AS (SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY f)
         SELECT r.doc_id FROM reps r LEFT JOIN seed s ON r.f = s.f
         WHERE s.f IS NULL ORDER BY doc_id"""),

    // semantic decontamination: corpus vectors too close to a benchmark
    // vector (probes = vec_id % 50 == 0, the q95 split) — the embedding
    // complement of q83's n-gram containment
    Row("q114_semantic_decontam", (s, d) => {
      val embs = t(s, d, "embeddings")
      graft.operators.Similarity.embeddingContaminationPairs(
          embs.where(col("vec_id") % 50 =!= 0),
          embs.where(col("vec_id") % 50 === 0),
          "vec_id", "embedding", threshold = 0.4)
        .orderBy(col("corpus_id"), col("probe_id"))
    },
      """SELECT c.vec_id AS corpus_id, p.vec_id AS probe_id,
           round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
             CAST(p.embedding AS DOUBLE[])), 4) AS sim
         FROM embeddings c JOIN embeddings p
           ON c.vec_id % 50 <> 0 AND p.vec_id % 50 = 0
         WHERE round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
             CAST(p.embedding AS DOUBLE[])), 4) >= 0.4
         ORDER BY corpus_id, probe_id"""),

    // cross-run SimHash: 8 bytes of history state per doc — first batch
    // against an empty fingerprint table ≡ the in-batch operator
    Row("q113_simhash_incr", (s, d) => {
      val fpDir = graft.io.Spill.tempDir("graft-shfp-") + "/fps"
      graft.operators.Dedup.incrementalSimhash(
        t(s, d, "documents"), "doc_id", "text", fpDir)
        .orderBy(col("id_a"), col("id_b"))
    },
      q113Oracle),

    // cross-run near-dup: first batch against an empty signature table ≡
    // the in-batch LSH operator plus the component-match estimate — pins
    // the incremental path's signatures, banding, pairing, and estimate
    Row("q109_minhash_incr", (s, d) => {
      val sigDir = graft.io.Spill.tempDir("graft-mhsig-") + "/sigs"
      graft.operators.Dedup.incrementalMinhashLsh(
        t(s, d, "documents").where(col("doc_id") % 5 === 0),
        "doc_id", "text", sigDir)
        .orderBy(col("id_a"), col("id_b"))
    },
      q109Oracle)
  )
}
