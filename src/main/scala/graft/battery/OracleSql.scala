package graft.battery

/** DuckDB oracle fragments shared by more than one battery family. */
object OracleSql {
  /** The word tokenizer over `text` ([[graft.functions.TextFunctions.words]]):
    * lower-cased, split on `\W+`, empty strings dropped.
    */
  private[battery] val wordsSql: String =
    """list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')"""

  /** `toks(doc_id, w)`: every document's [[wordsSql]] tokens. */
  private[battery] val toksCte: String =
    s"""toks AS (
         SELECT doc_id,
           $wordsSql AS w
         FROM documents)"""

  /** The LM rows' tokens `toks(doc_id, ws)` ([[wordsSql]] as `ws`). */
  private[battery] val lmToksCte: String =
    """toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\W+'), w -> w <> '') AS ws
           FROM documents)"""

  /** The q98 add-one bigram LM over [[lmToksCte]] — bigrams `big`,
    * counts `cb`/`cu`, vocabulary `v` — ending in the per-bigram bits
    * `<name>(doc_id, bits)`.
    */
  private[battery] def bigramBitsCtes(name: String): String =
    s"""$lmToksCte,
         big AS (
           SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
           FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
                 FROM toks WHERE len(ws) >= 2)),
         cb AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY 1, 2),
         cu AS (SELECT w1, sum(cb) AS cu FROM cb GROUP BY 1),
         v AS (SELECT count(DISTINCT w) AS v
               FROM (SELECT unnest(ws) AS w FROM toks)),
         $name AS (
           SELECT b.doc_id, -log2((cb.cb + 1.0) / (cu.cu + v.v)) AS bits
           FROM big b JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v)"""

  /** An LM row's per-doc mean of `bits`, rounded to 4 decimals in integer
    * arithmetic (the cross-engine log pin).
    */
  private[battery] val meanBitsSql: String =
    """CAST((sum(CAST(round(bits * 1e6) AS BIGINT)) * 2
               + count(*) * 100) // (count(*) * 200) AS DOUBLE) / 1e4
             AS bits"""

  /** `sh(doc_id, shingle)`: every 2- and 3-word shingle of `toks`, the
    * positional phrase occurrences the q136 phrase counting joins on.
    */
  private[battery] val phraseShinglesCte: String =
    """sh AS (
         SELECT doc_id,
           unnest(list_transform(range(1, len(w)),
             i -> w[i] || ' ' || w[i+1])) AS shingle
         FROM toks WHERE len(w) >= 2
         UNION ALL
         SELECT doc_id,
           unnest(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
         FROM toks WHERE len(w) >= 3)"""

  /** Whitespace-split tokens of `expr`, empty strings dropped. */
  private[battery] def wsTokensSql(expr: String): String =
    s"list_filter(string_split_regex($expr, '\\s+'), x -> x <> '')"

  /** The q33 stopword-hit features over `text`, `s_en` first. */
  private[battery] val langHits: Seq[String] = Seq(
    "en" -> "the|a|of|to|and|in|is", "de" -> "der|die|das|und|ist|nicht",
    "fr" -> "le|les|et|est|que|une", "es" -> "el|los|y|es|por|una")
    .map { case (l, ws) =>
      s"len(regexp_extract_all(lower(text), '\\b($ws)\\b')) AS s_$l" }

  /** [[langHits]] as one select list. */
  private[battery] val langHitsSql: String = langHits.mkString(",\n             ")

  /** The q33 decision over the hit features: the most hits wins, ties go
    * en > de > fr > es, no hit at all is `und`.
    */
  private[battery] val langPredSql: String =
    """CASE
             WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
             WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
             WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
             WHEN s_es > 0 THEN 'es'
             ELSE 'und' END AS lang_pred"""

  /** `SELECT doc_id, lang_pred` of the q33 language ID over `source`. */
  private[battery] def langIdSql(source: String): String =
    s"""SELECT doc_id,
           $langPredSql
         FROM (
           SELECT doc_id,
             $langHitsSql
           FROM $source)"""

  /** The q34 quality score in integer micros over `w`, with `stop` as the
    * stopword-hit term (exact fixed-point arithmetic in both engines).
    */
  private[battery] def qualityMicrosSql(stop: String): String =
    s"""(((5 * len(list_distinct(w)) + 3 * $stop) * 125
                 + least(len(w), 250) * len(w)) * 2000000
                 + 1250 * len(w)) // (2500 * len(w))"""

  /** [[qualityMicrosSql]] as the `quality` double. */
  private[battery] def qualitySql(stop: String = "(s_en)"): String =
    s"""CAST(${qualityMicrosSql(stop)} AS DOUBLE)
                 / 1e6 AS quality"""

  /** Distinct word 3-shingles of the token list `w`. */
  private[battery] val shinglesSql: String =
    """list_distinct(list_transform(range(1, len(w)-1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))"""

  /** `${p}dd(doc_id, [carry,] sh)`: the 3-shingle sets of `source`'s
    * documents with at least three words. `carry` is `""` or a column list
    * with a leading space and a trailing comma.
    */
  private[battery] def shingleDocsCte(p: String, source: String,
      carry: String = ""): String =
    s"""${p}dd AS (
           SELECT doc_id,$carry
             $shinglesSql AS sh
           FROM (
             SELECT doc_id,$carry
               $wordsSql AS w
             FROM $source)
           WHERE len(w) >= 3)"""

  /** The df-capped [2,100] shingle postings of `${p}dd` and their pair
    * intersections, ending in `${p}inter(id_a, id_b, size_a, size_b, inter)`
    * ([[graft.operators.Dedup.ngramJaccardPairs]]'s candidate chain). A
    * `tight` postings CTE keeps its SELECT on the opening line, as the
    * clean-chain replays spell it.
    */
  private[battery] def shingleInterCtes(p: String, tight: Boolean = false): String =
    s"""${p}posting AS ${if (tight) "(" else "(\n           "}SELECT doc_id,
             len(sh) AS sh_size, unnest(sh) AS shingle FROM ${p}dd),
         ${p}kept AS (
           SELECT p.doc_id, p.sh_size, p.shingle FROM ${p}posting p
           JOIN (SELECT shingle, count(*) AS df FROM ${p}posting GROUP BY 1) d
             USING (shingle)
           WHERE d.df BETWEEN 2 AND 100),
         ${p}inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sh_size AS size_a, b.sh_size AS size_b, count(*) AS inter
           FROM ${p}kept a JOIN ${p}kept b
             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4)"""

  /** The Jaccard similarity of an `inter` row. */
  private[battery] val jaccardSql: String =
    "CAST(inter AS DOUBLE) / (size_a + size_b - inter)"

  /** Undirected `${p}edges` over `${p}pairs(id_a, id_b)` and the recursive
    * min-label closure `${p}cc(id, comp)`; callers prepend `WITH RECURSIVE`
    * and take `min(comp)` per id.
    */
  private[battery] def closureCtes(p: String): String =
    s"""${p}edges AS (
           SELECT id_a AS src, id_b AS dst FROM ${p}pairs
           UNION ALL SELECT id_b, id_a FROM ${p}pairs),
         ${p}cc AS (
           SELECT src AS id, src AS comp FROM ${p}edges
           UNION
           SELECT e.src AS id, c.comp FROM ${p}edges e JOIN ${p}cc c ON e.dst = c.id)"""
  /** DuckDB replay of [[graft.functions.Bpe]] — merge rules embedded as
    * VALUES from the SAME Scala constant, applied in rank order with
    * `replace()` to fixpoint per rank (a recursive CTE over the DISTINCT
    * pre-tokens; state advances to the next rank only when a pass changes
    * nothing). For a well-formed merges table this in-order replay equals
    * the engine's min-rank greedy loop — the invariant `Bpe`'s constructor
    * asserts and `BpeSpec` property-checks. Tokens are tracked as a
    * space-separated string with sentinel spaces, so ` l r ` -> ` lr `
    * substitution can never match across pre-token or token boundaries.
    *
    * Yields CTEs: `__bpe_words(doc_id, w)`, `__bpe_word_tokens(w, toks)`,
    * `__bpe_doc_counts(doc_id, bpe_tokens)`. Callers prepend
    * `WITH RECURSIVE`.
    */
  private[battery] def bpeOracleCtes: String = {
    val mergeValues = graft.functions.Bpe.Merges.zipWithIndex
      .map { case ((l, r), i) => s"(${i + 1}, ' $l $r ', ' $l$r ')" }
      .mkString(", ")
    s"""__bpe_merges(rank, pat, rep) AS (VALUES $mergeValues),
         __bpe_words AS (
           SELECT doc_id,
             unnest(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS w
           FROM documents),
         __bpe_state AS (
           SELECT w, 1 AS rank,
             ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s
           FROM (SELECT DISTINCT w FROM __bpe_words)
           UNION ALL
           SELECT w, CASE WHEN r2 <> s THEN rank ELSE rank + 1 END AS rank, r2 AS s
           FROM (SELECT b.w, b.rank, b.s, replace(b.s, m.pat, m.rep) AS r2
                 FROM __bpe_state b JOIN __bpe_merges m ON m.rank = b.rank)),
         __bpe_word_tokens AS (
           SELECT w, string_split(trim(s), ' ') AS toks
           FROM __bpe_state WHERE rank = ${graft.functions.Bpe.Merges.size + 1}),
         __bpe_doc_counts AS (
           SELECT doc_id, CAST(sum(len(toks)) AS BIGINT) AS bpe_tokens
           FROM __bpe_words JOIN __bpe_word_tokens USING (w) GROUP BY doc_id)"""
  }

  /** The q52 near-dup connected-components CTE chain (shared verbatim by
    * the q193 leakage-split oracle so the pair graph and the recursive
    * min-label reachability cannot drift between the two): 3-shingles of
    * the `doc_id % 5 = 0` subset, df-capped [2,100] posting lists,
    * Jaccard >= 0.02 candidate pairs, undirected edges, recursive
    * min-label closure ending in `cc(id, comp)`. Callers prepend
    * `WITH RECURSIVE` and aggregate `min(comp)` per id themselves.
    */
  private[battery] def nearDupCcCtes: String =
    nearDupCcCtesOver("documents WHERE doc_id % 5 = 0", "")

  /** The same pair-graph + closure chain over an arbitrary (doc_id, text)
    * source, CTE names prefixed with `p` so it can coexist with the
    * clean-survivor chain's own posting-list CTEs in one oracle (q199).
    * Ends in `${p}cc(id, comp)`.
    */
  private[battery] def nearDupCcCtesOver(source: String, p: String): String =
    s"""${shingleDocsCte(p, source)},
         ${shingleInterCtes(p)},
         ${p}pairs AS (
           SELECT id_a, id_b FROM ${p}inter WHERE $jaccardSql >= 0.02),
         ${closureCtes(p)}"""

  /** DuckDB md5 unit-hash bucket fold of a SQL expression — the SQL twin
    * of `floor(Sampling.unitHash(x, salt) * buckets)` cast to INTEGER,
    * shared by every bucket-folding oracle (q116 shards, q130 DSIR
    * features, q132 hashed NB features) so the fold arithmetic cannot
    * drift between oracles or between a tr/te CTE pair.
    */
  private[battery] def md5BucketSql(expr: String, salt: String, buckets: Int): String =
    s"CAST(floor(CAST(('0x' || substr(md5($expr || '$salt'), 1, 8)) " +
      s"AS UBIGINT) / 4294967296.0 * $buckets) AS INTEGER)"

      /** The exact-cosine candidate rows `(query_id, <id>, sim)`: every
    * `vec_id % 50 = 0` probe against every other embedding, cosine
    * rounded to 4 decimals.
    */
  private[battery] def probeCosineSql(id: String): String =
    s"""SELECT p.vec_id AS query_id, c.vec_id AS $id,
           round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
             CAST(p.embedding AS DOUBLE[])), 4) AS sim
         FROM embeddings c JOIN embeddings p
           ON p.vec_id % 50 = 0 AND c.vec_id <> p.vec_id"""

  /** `SELECT <cols>` over the top-`k` rows per query of
    * `pairs(query_id, <id>, sim)`, ranked by sim desc with the ascending
    * id tiebreak (the q95 convention).
    */
  private[battery] def topBySimSql(cols: String, pairs: String, id: String,
      k: Int): String =
    s"""SELECT $cols FROM (
           SELECT query_id, $id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, $id) AS rank
           FROM $pairs)
         WHERE rank <= $k"""

  /** BM25 corpus statistics `stats(n, avgdl)` over `toks`. */
  private[battery] val bm25StatsCte: String =
    """stats AS (
         SELECT CAST(count(*) AS DOUBLE) AS n,
           avg(CAST(len(w) AS DOUBLE)) AS avgdl
         FROM toks)"""

  /** The BM25 term rows `corpus(doc_id, doc_len, term)` over `toks`. */
  private[battery] val bm25CorpusCte: String =
    """corpus AS (
         SELECT doc_id, CAST(len(w) AS BIGINT) AS doc_len, unnest(w) AS term
         FROM toks)"""

  /** The BM25 term score (k1 = 1.2, b = 0.75) of tf row `tf` with df row
    * `df`, rounded to 6 decimals and carried as exact integer micros `sm`.
    */
  private[battery] def bm25MicrosSql(tf: String, df: String): String =
    s"""CAST(round(round(
             ln((stats.n - $df.df + 0.5) / ($df.df + 0.5) + 1.0)
               * ($tf.tf * 2.2)
               / ($tf.tf + 1.2 * (0.25 + 0.75 * $tf.doc_len / stats.avgdl)),
             6) * 1000000) AS BIGINT) AS sm"""

  /** The q134 scorer scaffold with a caller-supplied `q` CTE body
    * (query_id, term) — the fuzzy battery rows swap in a
    * vocabulary-expanded term set while every scoring CTE stays
    * byte-identical to the exact path's.
    */
  private[battery] def bm25RankedCtesWith(qBody: String): String =
    s"""$toksCte,
       $bm25StatsCte,
       q AS (
         $qBody),
       $bm25CorpusCte,
       tf AS (
         SELECT doc_id, doc_len, term, count(*) AS tf
         FROM corpus
         WHERE term IN (SELECT DISTINCT term FROM q)
         GROUP BY doc_id, doc_len, term),
       df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       sm AS (
         SELECT tf.term, tf.doc_id,
           ${bm25MicrosSql("tf", "df")}
         FROM tf JOIN df USING (term) CROSS JOIN stats),
       pairs AS (
         SELECT q.query_id, sm.doc_id, sum(sm.sm) AS m
         FROM sm JOIN q USING (term)
         GROUP BY q.query_id, sm.doc_id),
       ranked AS (
         SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY m DESC, doc_id) AS rank
         FROM pairs)"""
}
