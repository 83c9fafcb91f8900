package graft.battery

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, TextFunctions}
import graft.operators.TextAnalysis

import Fixtures._
import OracleSql._

/** Text analysis rows: language ID, quality, tokenizers (BPE,
  * WordPiece, unigram), n-gram LMs, sentences, HTML/WARC extraction,
  * encoding repair, C4 lines, Gopher rules, URLs and robots.txt.
  */
object TextRows {
  /** Deterministically PUNCTUATED `text` for the sentence rows
    * (q171/q180): the raw fixture is punctuation-free word soup, so
    * terminator runs, ellipses, and abbreviation traps are synthesized
    * per (doc_id, word position) — identically in the DuckDB oracle's
    * composed index lambdas (the q167 fixture discipline).
    */
  private def punctuatedText: Column = array_join(
    transform(split(col("text"), " "), (w, i) => {
      val wa = when((col("doc_id") + i) % 11 === 3,
        concat(lit("Dr. "), w)).otherwise(w)
      val m = (col("doc_id") * 7 + i * 5) % 23
      when(m === 0, concat(wa, lit(".")))
        .when(m === 1, concat(wa, lit("!")))
        .when(m === 2, concat(wa, lit("?")))
        .when(m === 3, concat(wa, lit("...")))
        .otherwise(wa)
    }), " ")

  /** Deterministic synthetic URL for the q118/q119 domain queries — the
    * fixture tables carry no url column, so one is derived purely from
    * (doc_id, source, lang): scheme, userinfo, an extra host label, the
    * TLD family (incl. a co.uk multi-part case), and a port all vary by
    * doc_id residues. [[syntheticUrlSql]] is the character-identical
    * DuckDB twin; keep the two in lockstep.
    */
  private def syntheticUrl: Column = concat(
    when(col("doc_id") % 3 === 0, lit("http://")).otherwise(lit("https://")),
    when(col("doc_id") % 7 === 0, lit("crawler:pw@")).otherwise(lit("")),
    when(col("doc_id") % 13 === 0, lit("News.")).otherwise(lit("")),
    col("source"), lit("."),
    when(col("doc_id") % 5 === 0, lit("co.uk"))
      .when(col("doc_id") % 5 === 1, lit("example.com"))
      .otherwise(lit("example.org")),
    when(col("doc_id") % 11 === 0, lit(":8080")).otherwise(lit("")),
    lit("/p/"), col("doc_id").cast("string"), lit("?lang="), col("lang"))

  /** [[syntheticUrl]] plus the crawl noise q120 canonicalizes away —
    * tracking params and a fragment by doc_id residues (the synthetic
    * URL always has a query, so noise appends with `&`). Keep in
    * lockstep with the q120 oracle's `n` CTE.
    */
  private def noisyUrl: Column = concat(syntheticUrl,
    when(col("doc_id") % 4 === 0,
      lit("&utm_source=feed&utm_campaign=weekly")).otherwise(lit("")),
    when(col("doc_id") % 6 === 0, lit("&fbclid=IwAR2xYz")).otherwise(lit("")),
    when(col("doc_id") % 9 === 0, lit("#ref-2")).otherwise(lit("")))

  /** Synthetic robots.txt body for q192 — one fixed file applied to the
    * `.example.org` hosts of [[syntheticUrl]]: a multi-agent header
    * group with wildcard/anchored rules for graftbot (longest-match and
    * allow-tie cases land on real doc paths) and a `*` fallback group.
    * The oracle parses the IDENTICAL text (concat_ws of these lines).
    */
  private val robotsFixtureLines: Seq[String] = Seq(
    "# synthetic robots fixture",
    "User-agent: FancyBot",
    "User-agent: graftbot",
    "Disallow: /p/1*",
    "Allow: /p/12*$",
    "Disallow: /*lang=de$",
    "Crawl-delay: 3",
    "",
    "User-agent: *",
    "Disallow: /p/*9")

  /** Nested-replace chain escaping regex metacharacters (all but `*`)
    * of a DuckDB string expression — the oracle's half of the robots
    * pattern-to-regex translation ([[graft.functions.RobotsDecide]]'s
    * scaladoc); `*` then becomes `.*` at the call site.
    */
  private def reEscSql(expr: String): String =
    Seq("\\", ".", "+", "?", "(", ")", "[", "]", "{", "}", "|", "^", "$")
      .foldLeft(expr)((acc, c) => s"replace($acc, '$c', '\\$c')")

  /** The q171/q180 sentence CTE chain: the decorated corpus (two
    * composed index lambdas mirroring [[punctuatedText]]; `bp` appends
    * the planted boilerplate tails), the protect/mark/split cascade,
    * and `fs(doc_id, sent_id, sentence)`.
    */
  private def sentenceCtes(bp: Boolean): String = {
    val tail = if (bp)
      """ || ' Subscribe to our newsletter today. Unsubscribe here.' ||
         CASE WHEN doc_id % 2 = 0
           THEN ' Follow us on social media.' ELSE '' END"""
    else ""
    s"""dec AS (
           SELECT doc_id, array_to_string(list_transform(
             list_transform(string_split(text, ' '), (x, i) ->
               CASE WHEN (doc_id + i - 1) % 11 = 3
                 THEN 'Dr. ' || x ELSE x END),
             (x, i) -> x || CASE ((doc_id * 7 + (i - 1) * 5) % 23)
               WHEN 0 THEN '.' WHEN 1 THEN '!' WHEN 2 THEN '?'
               WHEN 3 THEN '...' ELSE '' END), ' ')$tail AS ptext
           FROM documents),
         mk AS (
           SELECT doc_id, string_split(
             regexp_replace(
               regexp_replace(ptext,
                 '\\b(Dr|Mr|Mrs|Ms|Prof|St|No|Fig|vs|etc)\\.', '\\1<<A>>', 'g'),
               '([.!?]+)\\s+', '\\1<<S>>', 'g'),
             '<<S>>') AS parts
           FROM dec),
         sl AS (
           SELECT doc_id, p,
             trim(replace(parts[CAST(p AS INT)], '<<A>>', '.')) AS sentence
           FROM (SELECT doc_id, parts,
                   unnest(range(1, len(parts) + 1)) AS p FROM mk)),
         fs AS (
           SELECT doc_id, sentence,
             row_number() OVER (PARTITION BY doc_id ORDER BY p) AS sent_id
           FROM sl WHERE sentence <> '')"""
  }

  /** DuckDB replay of [[graft.functions.UnigramSegment]]'s Viterbi DP
    * (q169/q170): the vocabulary VALUES are GENERATED from
    * [[graft.operators.UnigramLm.DefaultVocab]] so the two engines
    * cannot drift; the DP runs per DISTINCT word as a recursive CTE
    * carrying the best/back arrays one position per step (the q85
    * packing-walk discipline), candidates argmax'd with the identical
    * (score desc, start asc) tie rule via list_max + list_min, then a
    * second recursive walk backtraces the pieces and a join fans the
    * distinct-word segmentations back out to document occurrences.
    *
    * Yields `__udoc(doc_id, n_words, n_pieces, score_micros, segline)`.
    * Callers prepend `WITH RECURSIVE`.
    */
  private def unigramOracleCtes: String = {
    val vocabValues = graft.operators.UnigramLm.DefaultVocab
      .map { case (p, lp) => s"('$p', CAST($lp AS BIGINT))" }
      .mkString(", ")
    val unk = graft.operators.UnigramLm.DefaultUnkMicros
    val maxL = graft.operators.UnigramLm.DefaultMaxPieceLen
    s"""__uv(piece, lp) AS (VALUES $vocabValues),
         __uvm AS (SELECT map(list(piece), list(lp)) AS m FROM __uv),
         __udw AS (
           SELECT doc_id,
             $wordsSql AS w
           FROM documents),
         __uwords AS (SELECT DISTINCT unnest(w) AS word FROM __udw),
         __ustep(word, pos, best, back) AS (
           SELECT word, 0, [CAST(0 AS BIGINT)], [CAST(0 AS BIGINT)] FROM __uwords
           UNION ALL
           SELECT word, pos + 1, best || [bs],
             back || [CASE WHEN cn = 0 THEN CAST(pos + 1 AS BIGINT)
               ELSE list_min(list_transform(list_filter(cand, x -> x.s2 = bs),
                 x -> x.jj)) END]
           FROM (
             SELECT word, pos, best, back, cand, len(cand) AS cn,
               CASE WHEN len(cand) = 0 THEN best[pos + 1] + CAST($unk AS BIGINT)
                    ELSE list_max(list_transform(cand, x -> x.s2)) END AS bs
             FROM (
               SELECT s.word, s.pos, s.best, s.back,
                 list_filter(list_transform(range(greatest(1, s.pos + 2 - $maxL), s.pos + 2),
                   j -> struct_pack(
                     s2 := CASE WHEN len(map_extract(v.m,
                         substr(s.word, CAST(j AS INT), CAST(s.pos + 2 - j AS INT)))) > 0
                       THEN s.best[CAST(j AS INT)] + map_extract(v.m,
                         substr(s.word, CAST(j AS INT), CAST(s.pos + 2 - j AS INT)))[1]
                       ELSE NULL END,
                     jj := j)),
                   x -> x.s2 IS NOT NULL) AS cand
               FROM __ustep s, __uvm v
               WHERE s.pos < len(s.word)))),
         __ufinal AS (
           SELECT word, best[len(word) + 1] AS score, back
           FROM __ustep WHERE pos = len(word)),
         __utrace(word, back, l, np, seg) AS (
           SELECT word, back, len(word), CAST(0 AS BIGINT), CAST('' AS VARCHAR)
           FROM __ufinal
           UNION ALL
           SELECT word, back, back[CAST(l + 1 AS INT)] - 1, np + 1,
             CASE WHEN seg = '' THEN substr(word, CAST(back[CAST(l + 1 AS INT)] AS INT),
                 CAST(l - back[CAST(l + 1 AS INT)] + 1 AS INT))
               ELSE substr(word, CAST(back[CAST(l + 1 AS INT)] AS INT),
                 CAST(l - back[CAST(l + 1 AS INT)] + 1 AS INT)) || ' ' || seg END
           FROM __utrace WHERE l > 0),
         __uwordseg AS (
           SELECT t.word, t.np AS n_pieces, t.seg, f.score
           FROM __utrace t JOIN __ufinal f USING (word) WHERE t.l = 0),
         __uocc AS (
           SELECT doc_id, CAST(p AS INT) AS p, w[CAST(p AS INT)] AS word
           FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS p FROM __udw)),
         __udoc AS (
           SELECT d.doc_id,
             CAST(len(d.w) AS BIGINT) AS n_words,
             CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
             CAST(coalesce(a.score, 0) AS BIGINT) AS score_micros,
             coalesce(a.segline, '') AS segline
           FROM __udw d LEFT JOIN (
             SELECT o.doc_id, sum(ws.n_pieces) AS n_pieces, sum(ws.score) AS score,
               string_agg(ws.seg, ' ' ORDER BY o.p) AS segline
             FROM __uocc o JOIN __uwordseg ws USING (word)
             GROUP BY o.doc_id) a ON d.doc_id = a.doc_id)"""
  }

  /** DuckDB replay of [[graft.functions.WordPieceSegment]]'s greedy
    * longest-match walk: per DISTINCT word, the recursive CTE advances
    * one piece per step — the longest candidate length whose surface
    * form (`##`-prefixed at interior positions) is in the vocabulary —
    * and a position with no match flips the failed flag, collapsing the
    * word to `[UNK]` (the all-or-nothing rule). Per-doc frames then
    * re-join words positionally, the q169 discipline.
    */
  private def wordpieceOracleCtes: String = {
    val vocabValues = graft.operators.WordPiece.DefaultVocab
      .map(p => s"('$p')").mkString(", ")
    val maxL = graft.operators.WordPiece.DefaultMaxPieceLen
    s"""__wv(piece) AS (VALUES $vocabValues),
         __wvl AS (SELECT list(piece) AS l FROM __wv),
         __wdw AS (
           SELECT doc_id,
             $wordsSql AS w
           FROM documents),
         __wwords AS (SELECT DISTINCT unnest(w) AS word FROM __wdw),
         __wstep(word, pos, np, seg, failed) AS (
           SELECT word, 0, CAST(0 AS BIGINT), CAST('' AS VARCHAR), false
           FROM __wwords
           UNION ALL
           SELECT word,
             CASE WHEN bl IS NULL THEN CAST(len(word) AS INT)
               ELSE pos + CAST(bl AS INT) END,
             np + 1,
             CASE WHEN bl IS NULL THEN seg
               WHEN seg = '' THEN bp
               ELSE seg || ' ' || bp END,
             bl IS NULL
           FROM (
             SELECT word, pos, np, seg, bl,
               CASE WHEN pos = 0 THEN substr(word, 1, CAST(bl AS INT))
                 ELSE '##' || substr(word, pos + 1, CAST(bl AS INT)) END AS bp
             FROM (
               SELECT s.word, s.pos, s.np, s.seg,
                 list_max(list_filter(
                   range(1, least($maxL, len(s.word) - s.pos) + 1),
                   ll -> list_contains(v.l,
                     CASE WHEN s.pos = 0 THEN substr(s.word, 1, CAST(ll AS INT))
                       ELSE '##' || substr(s.word, s.pos + 1, CAST(ll AS INT))
                     END))) AS bl
               FROM __wstep s, __wvl v
               WHERE s.pos < len(s.word) AND NOT s.failed))),
         __wwordseg AS (
           SELECT word,
             CASE WHEN failed THEN CAST(1 AS BIGINT) ELSE np END AS n_pieces,
             CASE WHEN failed THEN '[UNK]' ELSE seg END AS seg,
             CASE WHEN failed THEN CAST(1 AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS unk
           FROM __wstep WHERE pos >= len(word)),
         __wocc AS (
           SELECT doc_id, CAST(p AS INT) AS p, w[CAST(p AS INT)] AS word
           FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS p FROM __wdw)),
         __wdoc AS (
           SELECT d.doc_id,
             CAST(len(d.w) AS BIGINT) AS n_words,
             CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
             CAST(coalesce(a.unk, 0) AS BIGINT) AS n_unk_words,
             coalesce(a.segline, '') AS segline
           FROM __wdw d LEFT JOIN (
             SELECT o.doc_id, sum(ws.n_pieces) AS n_pieces,
               sum(ws.unk) AS unk,
               string_agg(ws.seg, ' ' ORDER BY o.p) AS segline
             FROM __wocc o JOIN __wwordseg ws USING (word)
             GROUP BY o.doc_id) a ON d.doc_id = a.doc_id)"""
  }

  /** DuckDB replay of `Urls.canonicalUrl` over a preceding CTE
    * `n(doc_id, url)` — yields CTE `canon(doc_id, url, canon_url)`.
    * Shared by the q120 and q124 oracles; keep in lockstep with
    * [[graft.functions.UrlCanonicalize]] (same pattern strings).
    */
  private def urlCanonCtes: String =
    """c0 AS (SELECT doc_id, url,
             regexp_replace(trim(url), '#.*', '') AS f FROM n),
         cp AS (SELECT doc_id, url,
             lower(regexp_extract(f, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#@]*@)?([^:/?#]*)(:[0-9]+)?([^?]*)(\?.*)?$', 1)) AS sch,
             regexp_extract(f, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#@]*@)?([^:/?#]*)(:[0-9]+)?([^?]*)(\?.*)?$', 2) AS ui,
             lower(regexp_extract(f, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#@]*@)?([^:/?#]*)(:[0-9]+)?([^?]*)(\?.*)?$', 3)) AS hostl,
             regexp_extract(f, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#@]*@)?([^:/?#]*)(:[0-9]+)?([^?]*)(\?.*)?$', 4) AS prt,
             regexp_replace(regexp_extract(f, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#@]*@)?([^:/?#]*)(:[0-9]+)?([^?]*)(\?.*)?$', 5), '/+$', '') AS pth,
             regexp_replace(regexp_extract(f, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#@]*@)?([^:/?#]*)(:[0-9]+)?([^?]*)(\?.*)?$', 6), '^\?', '') AS q
           FROM c0),
         cq AS (SELECT doc_id, url, sch, ui, hostl, pth,
             CASE WHEN (sch = 'http' AND prt = ':80')
                    OR (sch = 'https' AND prt = ':443')
                  THEN '' ELSE prt END AS prt,
             coalesce(array_to_string(list_filter(string_split(q, '&'),
               x -> NOT regexp_matches(x,
                 '^(utm_[^=&]*|fbclid|gclid|msclkid|mc_eid|igshid|yclid|ref_src)(=|$)')),
               '&'), '') AS qf
           FROM cp),
         canon AS (
           SELECT doc_id, url, CASE WHEN sch = '' THEN trim(url)
             ELSE sch || '://' || ui || hostl || prt || pth ||
               (CASE WHEN qf = '' THEN '' ELSE '?' || qf END) END AS canon_url
           FROM cq)"""

  /** [[syntheticUrl]] as a DuckDB expression, character for character. */
  private val syntheticUrlSql: String =
    """(CASE WHEN doc_id % 3 = 0 THEN 'http://' ELSE 'https://' END)
           || (CASE WHEN doc_id % 7 = 0 THEN 'crawler:pw@' ELSE '' END)
           || (CASE WHEN doc_id % 13 = 0 THEN 'News.' ELSE '' END)
           || source || '.'
           || (CASE WHEN doc_id % 5 = 0 THEN 'co.uk'
                    WHEN doc_id % 5 = 1 THEN 'example.com'
                    ELSE 'example.org' END)
           || (CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END)
           || '/p/' || doc_id || '?lang=' || lang"""

  /** DuckDB twin of [[syntheticUrl]] + [[graft.operators.Urls]] host and
    * registered-domain extraction, shared by the q118/q119 oracles: the
    * URL construction, the host regex (RE2-safe in both engines), and
    * the label-slicing domain heuristic, replayed character for
    * character. DuckDB lists are 1-based; `ls[len(ls)-2:len(ls)]` is the
    * last-3 slice Spark spells `slice(labels, -3, 3)`.
    */
  private def urlDomainCtes: String =
    s"""u AS (
         SELECT doc_id, lang, source, n_chars,
           $syntheticUrlSql AS url
         FROM documents),
       h AS (
         SELECT *, nullif(regexp_extract(lower(url),
           '^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^:/?#]+)', 1), '') AS host
         FROM u),
       dom AS (
         SELECT *,
           CASE WHEN host IS NULL THEN NULL
                WHEN len(ls) >= 3
                     AND ls[len(ls)-1] IN ('co','com','net','org','gov','ac','edu')
                     AND len(ls[len(ls)]) = 2
                  THEN CASE WHEN len(ls) <= 3 THEN host
                            ELSE array_to_string(ls[len(ls)-2:len(ls)], '.') END
                WHEN len(ls) <= 2 THEN host
                ELSE array_to_string(ls[len(ls)-1:len(ls)], '.') END AS domain
         FROM (SELECT *, string_split(host, '.') AS ls FROM h))"""

  /** The q185 mojibake snippets — GENERATED, never hand-typed: the
    * same UTF-8-read-as-latin-1 round-trip
    * [[graft.operators.Encoding.MojibakeTable]] models, applied once
    * (snippet 0) and twice (snippet 1 — double-encoding), plus a
    * control/zero-width junk tail (snippet 2). Interpolated verbatim
    * into both the Spark fixture and the oracle CTE.
    */
  private val MojiSnips: IndexedSeq[String] = {
    import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
    def l1(x: String) = new String(x.getBytes(UTF_8), ISO_8859_1)
    IndexedSeq(
      l1("Café déjà vu — “quoted” über… "),
      l1(l1("don’t naïve «guille» ")),
      " bin\u0007junk\u200bzw")
  }

  /** The q185 fixture CTE: the decorated corpus with [[MojiSnips]]
    * interpolated as SQL literals (chr(7) splices the control byte —
    * raw C0 bytes in literals are parser-hostile; the other
    * characters are plain UTF-8).
    */
  private val mojiDocCte: String = {
    def sqlLit(x: String): String =
      x.split("\u0007", -1).map(p => "'" + p.replace("'", "''") + "'")
        .mkString(" || chr(7) || ")
    s"""mj AS (
           SELECT doc_id,
             (CASE WHEN doc_id % 5 = 0 THEN ${sqlLit(MojiSnips(0))}
               ELSE '' END) ||
             (CASE WHEN doc_id % 7 = 1 THEN ${sqlLit(MojiSnips(1))}
               ELSE '' END) ||
             text ||
             (CASE WHEN doc_id % 3 = 2 THEN ${sqlLit(MojiSnips(2))}
               ELSE '' END) AS m
           FROM documents)"""
  }

  def rows: Seq[Row] = Seq(
    // ---- text analysis (north star) ----
    Row("q33_lang_id", (s, d) =>
      TextAnalysis.languageId(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      s"""${langIdSql("documents")}
         ORDER BY doc_id"""),

    Row("q34_quality", (s, d) =>
      TextAnalysis.quality(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      s"""SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
           ${qualitySql()}
         FROM (
           SELECT doc_id, $wordsSql AS w, ${langHits.head}
           FROM documents)
         WHERE len(w) > 0 ORDER BY doc_id"""),

    Row("q35_token_count", (s, d) =>
      TextAnalysis.tokenCounts(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      s"""WITH RECURSIVE $bpeOracleCtes
         SELECT d.doc_id AS doc_id,
           CAST(len(${wsTokensSql("d.text")}) AS BIGINT) AS ws_tokens,
           CAST(coalesce(c.bpe_tokens, 0) AS BIGINT) AS bpe_tokens
         FROM documents d LEFT JOIN __bpe_doc_counts c ON d.doc_id = c.doc_id
         ORDER BY doc_id"""),

    // ---- per-language quality: stopword share matched to each doc's own
    // predicted language (multilingual-corpus fix for q34's English-only
    // weighting) ----
    Row("q51_quality_multilang", (s, d) =>
      TextAnalysis.qualityByLang(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      // lang decision duplicated from q33; stopword hits selected BY the
      // decided language, mirroring TextFunctions.qualityScoreByLang
      s"""WITH feat AS (
           SELECT doc_id,
             $wordsSql AS w,
             $langHitsSql
           FROM documents),
         langd AS (
           SELECT *, $langPredSql FROM feat WHERE len(w) > 0)
         SELECT doc_id, lang_pred, CAST(len(w) AS BIGINT) AS n_words,
           ${qualitySql("(CASE lang_pred WHEN 'en' THEN s_en WHEN 'de' THEN s_de WHEN 'fr' THEN s_fr WHEN 'es' THEN s_es ELSE 0 END)")}
         FROM langd ORDER BY doc_id"""),

    // corpus token-frequency audit over the REAL merges-table BPE
    // (functions.Bpe): explode the token sequence, count per token. The
    // oracle replays the identical merge rules in a recursive CTE, so a
    // single mis-merged word anywhere in the corpus fails the hash.
    Row("q82_bpe_vocab", (s, d) =>
      t(s, d, "documents")
        .select(explode(GraftFunctions.bpe_tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")),
      s"""WITH RECURSIVE $bpeOracleCtes
         SELECT t AS token, CAST(count(*) AS BIGINT) AS n
         FROM (SELECT unnest(wt.toks) AS t
               FROM __bpe_words w JOIN __bpe_word_tokens wt USING (w))
         GROUP BY t
         ORDER BY n DESC, token"""),

    // Gopher-style repetition gates: duplicate-bigram fraction and
    // top-bigram share per doc — ONE map-only imperative expression
    // (RepetitionStats), zero shuffles, vs explode+double-aggregate
    Row("q84_repetition", (s, d) =>
      TextAnalysis.repetition(t(s, d, "documents"), "doc_id", "text", n = 2)
        .orderBy(col("doc_id")),
      s"""WITH t AS (
           SELECT doc_id, $wordsSql AS w
           FROM documents),
         g AS (
           SELECT doc_id, unnest(list_transform(range(1, len(w)),
             i -> w[i] || ' ' || w[i+1])) AS gram
           FROM t WHERE len(w) >= 2),
         c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
         s AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
                 count(*) AS distinct_grams, max(c) AS top_count
               FROM c GROUP BY doc_id)
         SELECT doc_id, n_grams,
           CAST(((n_grams - distinct_grams) * 2000000 + n_grams)
             // (2 * n_grams) AS DOUBLE) / 1e6 AS dup_gram_frac,
           CAST((top_count * 2000000 + n_grams)
             // (2 * n_grams) AS DOUBLE) / 1e6 AS top_gram_share
         FROM s ORDER BY doc_id"""),

    // rule-based PII scrub (emails / phones / IPv4) over text composed
    // deterministically from customer columns; per-rule counts + md5 of
    // the redacted text. Map-only regex built-ins; the rules use the
    // Java-regex/RE2 common subset so the oracle replays the exact
    // redaction.
    Row("q86_pii_redact", (s, d) => {
      val k = col("c_custkey")
      val phone = concat_ws("-",
        (lit(10) + k % 90).cast("string"),
        (lit(100) + k % 900).cast("string"),
        (lit(100) + (k * 7) % 900).cast("string"),
        (lit(1000) + k % 9000).cast("string"))
      val txt = concat(col("c_name"), lit("@corp.example call "), phone,
        lit(" from 10.0."), (k % 256).cast("string"), lit("."),
        (k % 100).cast("string"), lit(" segment "), col("c_mktsegment"))
      graft.operators.Pii.scrub(
        t(s, d, "customer").select(col("c_custkey"), txt.as("txt")), "txt")
        .select(col("c_custkey"), col("n_email"), col("n_phone"),
          col("n_ipv4"), md5(col("txt_redacted")).as("redacted_md5"))
        .orderBy(col("c_custkey"))
    },
      """WITH t AS (
           SELECT c_custkey,
             c_name || '@corp.example call ' ||
             CAST(10 + c_custkey % 90 AS VARCHAR) || '-' ||
             CAST(100 + c_custkey % 900 AS VARCHAR) || '-' ||
             CAST(100 + (c_custkey * 7) % 900 AS VARCHAR) || '-' ||
             CAST(1000 + c_custkey % 9000 AS VARCHAR) ||
             ' from 10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.' ||
             CAST(c_custkey % 100 AS VARCHAR) ||
             ' segment ' || c_mktsegment AS txt
           FROM customer)
         SELECT c_custkey,
           CAST(len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(txt, '\b\d{2}-\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(txt, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
           md5(regexp_replace(regexp_replace(regexp_replace(txt,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{2}-\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS redacted_md5
         FROM t ORDER BY c_custkey"""),

    // per-language tokenizer fertility: BPE tokens per whitespace word +
    // chars per BPE token — exact integer sums, one scan, one hash agg
    Row("q111_tokenizer_fertility", (s, d) =>
      graft.operators.TextAnalysis.tokenizerFertility(
          t(s, d, "documents"), "lang", "text")
        .orderBy(col("lang")),
      // q35's token machinery aggregated per language; the ratios divide
      // exact integer sums, so the doubles agree bit-for-bit
      s"""WITH RECURSIVE $bpeOracleCtes,
         __fert_base AS (
           SELECT d.lang,
             len(list_filter(string_split_regex(d.text, '\\s+'), x -> x <> '')) AS ws,
             coalesce(c.bpe_tokens, 0) AS bpe,
             len(d.text) AS chars
           FROM documents d LEFT JOIN __bpe_doc_counts c ON d.doc_id = c.doc_id)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
           CAST(sum(ws) AS BIGINT) AS ws_tokens,
           CASE WHEN sum(ws) > 0 THEN
             CAST((CAST(sum(bpe) AS BIGINT) * 2000000 + CAST(sum(ws) AS BIGINT))
               // (2 * CAST(sum(ws) AS BIGINT)) AS DOUBLE) / 1e6 END AS fertility,
           CASE WHEN sum(bpe) > 0 THEN
             CAST((CAST(sum(chars) AS BIGINT) * 2000000 + CAST(sum(bpe) AS BIGINT))
               // (2 * CAST(sum(bpe) AS BIGINT)) AS DOUBLE) / 1e6 END AS chars_per_token
         FROM __fert_base GROUP BY lang ORDER BY lang"""),

    // per-domain census over URL-carrying docs: host + registered-domain
    // extraction are map-only regex/slice expressions, the rollup one
    // hash aggregate; URLs are derived deterministically from fixture
    // columns (the tables carry no url column) so the oracle replays the
    // construction AND the parse character for character
    Row("q118_domain_rollup", (s, d) =>
      graft.operators.Urls.domainRollup(
          t(s, d, "documents").withColumn("url", syntheticUrl),
          "url", "n_chars")
        .orderBy(col("domain")),
      s"""WITH $urlDomainCtes
         SELECT domain, count(*) AS n_docs,
           count(DISTINCT host) AS n_hosts,
           CAST(sum(n_chars) AS BIGINT) AS chars
         FROM dom GROUP BY domain ORDER BY domain"""),

    // C4-style domain gate: blocklist drops a domain outright, each
    // surviving domain keeps its `maxPerDomain` smallest doc_ids; only
    // over-cap domains pay the rank window (plan splits under/over on a
    // tiny count aggregate)
    Row("q119_domain_gate", (s, d) =>
      graft.operators.Urls.domainGate(
          t(s, d, "documents").withColumn("url", syntheticUrl),
          "url", "doc_id",
          blocklist = Seq("example.org"), maxPerDomain = 40)
        .select(col("doc_id"), col("source"))
                .orderBy(col("doc_id")),
      // blocklist filter, then per-domain rank <= cap (under-cap domains
      // satisfy it trivially — the engine's under/over plan split is a
      // performance shape, not a semantics change)
      s"""WITH $urlDomainCtes,
         g AS (
           SELECT doc_id, source, coalesce(domain, ' no-domain ') AS dk
           FROM dom WHERE domain IS NULL OR domain <> 'example.org'),
         r AS (
           SELECT doc_id, source,
             row_number() OVER (PARTITION BY dk ORDER BY doc_id) AS rn
           FROM g)
         SELECT doc_id, source FROM r WHERE rn <= 40 ORDER BY doc_id"""),

    // registered-domain extraction under a real public-suffix-list rule
    // table (plain + wildcard rules; the data-driven alternative to the
    // q118 heuristic): candidate suffixes explode map-side bounded by
    // the longest rule, the match is a broadcast equi-join over the
    // rules-as-data, the prevailing-rule pick one bounded aggregate per
    // DISTINCT host — the oracle replays rules, pick, and slicing
    Row("q122_psl_domains", (s, d) =>
      graft.operators.Urls.withDomainPsl(
          t(s, d, "documents").withColumn("url", syntheticUrl),
          "url", Seq("com", "uk", "co.uk", "*.org"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"))
        .orderBy(col("domain")),
      // the PSL rules as a VALUES table in their parsed (key, pub-labels,
      // exception) form — 'co.uk' plain (pub 2), '*.org' wildcard (key
      // 'org', pub 2) — candidates as label-slice suffixes per distinct
      // host, prevailing rule = exception first then longest (the Scala
      // struct-max), default pub 1, registered domain = last pub+1 labels
      s"""WITH $urlDomainCtes,
         rules(key, pub, exc) AS (VALUES
           ('com', 1, false), ('uk', 1, false),
           ('co.uk', 2, false), ('org', 2, false)),
         hs AS (
           SELECT DISTINCT host, string_split(host, '.') AS hls
           FROM h WHERE host IS NOT NULL),
         cand AS (
           SELECT host, hls, t.k,
             array_to_string(hls[len(hls)-t.k+1:len(hls)], '.') AS cand
           FROM hs, range(1, 3) t(k) WHERE t.k <= len(hls)),
         picked AS (
           SELECT c.host, r.pub,
             row_number() OVER (PARTITION BY c.host
               ORDER BY r.exc DESC, r.pub DESC) AS rn
           FROM cand c JOIN rules r ON c.cand = r.key),
         pubs AS (
           SELECT hs.host, hs.hls, coalesce(p.pub, 1) AS pub
           FROM hs LEFT JOIN (SELECT host, pub FROM picked WHERE rn = 1) p
             USING (host)),
         hd AS (
           SELECT host, CASE WHEN len(hls) <= pub THEN host
             ELSE array_to_string(hls[len(hls)-pub:len(hls)], '.') END
             AS domain
           FROM pubs)
         SELECT hd.domain, count(*) AS n_docs,
           count(DISTINCT h.host) AS n_hosts
         FROM h JOIN hd ON h.host = hd.host
         GROUP BY hd.domain ORDER BY hd.domain"""),

    // URL canonicalization — the pre-dedup key normalization (fragment,
    // scheme/host case, default ports, trailing slashes, tracking
    // params). Map-only: three regexes + one filter HOF per row, noise
    // derived deterministically so the oracle replays construction AND
    // canonicalization character for character
    Row("q120_url_canon", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.operators.Urls.canonicalUrl(noisyUrl).as("canon_url"))
        .orderBy(col("doc_id")),
      // the synthetic URL + noise, then the canonicalization steps in the
      // exact arithmetic of Urls.canonicalUrl: one anchored parse, lowered
      // scheme/host, default-port drop, trailing-slash strip, tracking
      // param filter (coalesce: DuckDB's array_to_string of an EMPTY list
      // is NULL where Spark's array_join is '')
      s"""WITH n AS (
           SELECT doc_id,
             $syntheticUrlSql
             || (CASE WHEN doc_id % 4 = 0
                      THEN '&utm_source=feed&utm_campaign=weekly' ELSE '' END)
             || (CASE WHEN doc_id % 6 = 0 THEN '&fbclid=IwAR2xYz' ELSE '' END)
             || (CASE WHEN doc_id % 9 = 0 THEN '#ref-2' ELSE '' END) AS url
           FROM documents),
         $urlCanonCtes
         SELECT doc_id, canon_url FROM canon ORDER BY doc_id"""),

    // url-keyed exact dedup (the pipeline's stage 0b as a standalone
    // oracle row): synthetic urls that differ ONLY by crawl noise (host
    // case, :443 on https, trailing slash, utm params, fragments)
    // collapse onto one canonical key; min doc_id per key survives via
    // one hash aggregate + a semi join on the winner ids
    Row("q124_url_dedup", (s, d) => {
      val keyed = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          graft.operators.Urls.canonicalUrl(concat(
            lit("https://"),
            when(col("doc_id") % 2 === 0, lit("CDN.Example.com"))
              .otherwise(lit("cdn.example.com")),
            when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
            lit("/p/"), (col("doc_id") % 40).cast("string"),
            when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
            when(col("doc_id") % 4 === 0, lit("?utm_source=feed"))
              .otherwise(lit("")),
            when(col("doc_id") % 7 === 0, lit("#frag")).otherwise(lit(""))))
            .as("__cu"))
      val winners = keyed.groupBy(col("__cu"))
        .agg(min(col("doc_id")).as("__keep")).select(col("__keep"))
      keyed.join(winners, col("doc_id") === col("__keep"), "left_semi")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
      // url-keyed exact dedup: min doc_id per CANONICAL url over urls that
      // collide only through crawl noise (host case, default port,
      // trailing slash, tracking params, fragments) — the q120 canon chain
      // shared verbatim, then one group-min + semi join
      s"""WITH n AS (
           SELECT doc_id,
             'https://'
             || (CASE WHEN doc_id % 2 = 0 THEN 'CDN.Example.com'
                      ELSE 'cdn.example.com' END)
             || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
             || '/p/' || (doc_id % 40)
             || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed' ELSE '' END)
             || (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS url
           FROM documents),
         $urlCanonCtes,
         w AS (SELECT min(doc_id) AS doc_id FROM canon GROUP BY canon_url)
         SELECT d.doc_id, d.source FROM documents d
         JOIN w ON d.doc_id = w.doc_id ORDER BY d.doc_id"""),

    // stupid-backoff trigram LM (the CCNet/KenLM-class quality filter,
    // upgrading q98's add-one bigram): train on the even-doc_id half,
    // score ALL docs — the held-out odd half exercises every backoff
    // tier (seen trigram, 0.4·bigram, 0.16·unigram add-one floor),
    // which pure self-scoring never would
    Row("q125_lm_backoff", (s, d) => {
      val docs = t(s, d, "documents")
      val ref = docs.where(col("doc_id") % 2 === 0)
      graft.operators.NgramLm.scoreBitsTrigram(
          docs, "doc_id", "text",
          graft.operators.NgramLm.trainTrigram(ref, "text"),
          graft.operators.NgramLm.vocabSize(ref, "text"))
        .orderBy(col("doc_id"))
    },
      // stupid-backoff trigram LM: model = trigram counts of the even
      // half; every lower tier rolls up from it; per-trigram bits round
      // at 6 decimals, the doc mean at 4 (cross-engine log pin). 0.16 is
      // λ² written as ONE literal on both sides (0.4*0.4 in doubles is
      // 0.16000000000000003).
      s"""WITH $lmToksCte,
         tri AS (
           SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3
           FROM (SELECT doc_id, ws, unnest(range(1, len(ws)-1)) AS i
                 FROM toks WHERE len(ws) >= 3)),
         c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tri
                WHERE doc_id % 2 = 0 GROUP BY 1, 2, 3),
         c2x AS (SELECT w1, w2, sum(c3) AS c2x FROM c3 GROUP BY 1, 2),
         cb AS (SELECT w2, w3, sum(c3) AS cb FROM c3 GROUP BY 1, 2),
         c1x AS (SELECT w2, sum(cb) AS c1x FROM cb GROUP BY 1),
         cu AS (SELECT w3, sum(cb) AS cu FROM cb GROUP BY 1),
         m AS (SELECT sum(cu) AS n FROM cu),
         v AS (SELECT count(DISTINCT w) AS v
               FROM (SELECT unnest(ws) AS w FROM toks WHERE doc_id % 2 = 0)),
         scored AS (
           SELECT t.doc_id,
             round(-log2(CASE
               WHEN c3.c3 IS NOT NULL
                 THEN CAST(c3.c3 AS DOUBLE) / c2x.c2x
               WHEN cb.cb IS NOT NULL
                 THEN 0.4 * CAST(cb.cb AS DOUBLE) / c1x.c1x
               ELSE 0.16 * (COALESCE(cu.cu, 0) + 1.0) / (m.n + v.v)
             END), 6) AS bits
           FROM tri t
           LEFT JOIN c3 USING (w1, w2, w3)
           LEFT JOIN c2x USING (w1, w2)
           LEFT JOIN cb USING (w2, w3)
           LEFT JOIN c1x USING (w2)
           LEFT JOIN cu USING (w3)
           CROSS JOIN m CROSS JOIN v)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
           $meanBitsSql
         FROM scored GROUP BY doc_id ORDER BY doc_id"""),

    // blocklist phrase filter (the LDNOOBW-style gate): per-(doc,
    // phrase) occurrence counts at word granularity — one positional
    // shingle explode per distinct phrase length, broadcast phrase
    // join, (doc, phrase) count agg; "a a" pins self-overlap counting,
    // "Key, AGG row!" pins phrase normalization, the zebra phrase pins
    // zero-hit absence
    Row("q136_blocklist", (s, d) =>
      TextAnalysis.blocklistHits(t(s, d, "documents"), "doc_id", "text",
          Seq("fast table", "a a", "table table", "value table part",
            "Key, AGG row!", "zebra crossing"))
        .orderBy(col("doc_id"), col("phrase")),
      // replays the positional-shingle blocklist: every start position
      // per phrase length, literal phrase join, per-(doc, phrase) counts
      s"""WITH $toksCte,
         ph(phrase) AS (VALUES ('fast table'), ('a a'), ('table table'),
           ('value table part'), ('key agg row'), ('zebra crossing')),
         $phraseShinglesCte
         SELECT doc_id, phrase, count(*) AS n_hits
         FROM sh JOIN ph ON shingle = phrase
         GROUP BY doc_id, phrase
         ORDER BY doc_id, phrase"""),

    // HTML → main-text extraction (the FIRST stage of a crawl
    // pipeline): HTML synthesized deterministically per doc (title +
    // style + script + nav + h1 + article <p> + a link-farm <div> +
    // second <p> with entities + comment + footer) so the oracle
    // recomputes the exact extraction — q86's synthesize-to-spec
    // discipline. Map-only: block split, per-block density stats,
    // filter and ordered re-join all happen INSIDE one row via
    // higher-order functions; zero exchanges before the final sort.
    Row("q167_html_extract", (s, d) => {
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title>Doc "), id, lit("</title>"),
        lit("<style>p{color:#000}</style><script>var id="), id,
        lit(";</script></head><body>"),
        lit("<nav><a href=\"/\">Home</a> <a href=\"/d/"), id,
        lit("\">Self</a></nav>"),
        lit("<h1>Doc "), id, lit("</h1>"),
        lit("<p>"), substring(col("text"), 1, 80),
        lit(" &amp; tail &lt;b&gt;&nbsp;end</p>"),
        lit("<div><a href=\"/x\">"), substring(col("text"), 1, 30),
        lit(" promo</a> <a href=\"/y\">"), substring(col("text"), 1, 30),
        lit(" promo</a></div>"),
        lit("<p>"), substring(col("text"), 81, 80), lit("</p>"),
        lit("<!-- hidden "), id,
        lit(" --><footer>(c) corp</footer></body></html>"))
      graft.operators.Html.extract(
          t(s, d, "documents").select(col("doc_id"), html.as("html")),
          "html", minTextChars = 20, maxLinkDensity = 0.5)
        .select(col("doc_id"), col("n_blocks"), col("n_kept"),
          length(col("html_text")).cast("long").as("text_chars"),
          md5(col("html_text")).as("text_md5"))
        .orderBy(col("doc_id"))
    },
      // q167: the same synthesized page, re-extracted in DuckDB — the
      // non-content strip, block split, per-block density stats, filter
      // and ordered join mirror Html.extract step for step (RE2/Java
      // common regex subset; list lambdas mirror the Spark HOFs)
      """WITH base AS (
           SELECT doc_id,
             '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>' ||
             '<style>p{color:#000}</style><script>var id=' || CAST(doc_id AS VARCHAR) || ';</script></head><body>' ||
             '<nav><a href="/">Home</a> <a href="/d/' || CAST(doc_id AS VARCHAR) || '">Self</a></nav>' ||
             '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' ||
             '<p>' || substr(text, 1, 80) || ' &amp; tail &lt;b&gt;&nbsp;end</p>' ||
             '<div><a href="/x">' || substr(text, 1, 30) || ' promo</a> <a href="/y">' || substr(text, 1, 30) || ' promo</a></div>' ||
             '<p>' || substr(text, 81, 80) || '</p>' ||
             '<!-- hidden ' || CAST(doc_id AS VARCHAR) || ' --><footer>(c) corp</footer></body></html>' AS html
           FROM documents),
         cln AS (
           SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(html,
               '(?s)<!--.*?-->', ' ', 'g'),
               '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
               '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
               '(?is)<nav\b[^>]*>.*?</nav>', ' ', 'g'),
               '(?is)<header\b[^>]*>.*?</header>', ' ', 'g'),
               '(?is)<footer\b[^>]*>.*?</footer>', ' ', 'g'),
               '(?is)<aside\b[^>]*>.*?</aside>', ' ', 'g') AS c
           FROM base),
         bl AS (
           SELECT doc_id, regexp_split_to_array(c,
             '(?i)</?(?:html|head|body|title|p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tfoot|tr|td|th|section|article|main|blockquote|pre|br|hr|form|fieldset)\b[^>]*>') AS bs
           FROM cln),
         cand AS (
           SELECT doc_id, list_transform(bs, b -> struct_pack(
             btxt := trim(regexp_replace(
               replace(replace(replace(replace(replace(replace(replace(
                 regexp_replace(b, '<[^>]+>', ' ', 'g'),
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
                 '&apos;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
               '\s+', ' ', 'g')),
             ll := coalesce(list_sum(list_transform(
               regexp_extract_all(b, '(?is)<a\b[^>]*>(.*?)</a>', 1),
               y -> len(trim(regexp_replace(
                 replace(replace(replace(replace(replace(replace(replace(
                   regexp_replace(y, '<[^>]+>', ' ', 'g'),
                   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
                   '&apos;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
                 '\s+', ' ', 'g'))))), 0))) AS cs
           FROM bl),
         keep AS (
           SELECT doc_id,
             list_filter(cs, x -> len(x.btxt) >= 20
               AND CAST(x.ll AS DOUBLE) <= len(x.btxt) * 0.5) AS ks,
             len(list_filter(cs, x -> len(x.btxt) > 0)) AS nb
           FROM cand)
         SELECT doc_id, CAST(nb AS BIGINT) AS n_blocks,
           CAST(len(ks) AS BIGINT) AS n_kept,
           CAST(len(array_to_string(list_transform(ks, x -> x.btxt), chr(10))) AS BIGINT) AS text_chars,
           md5(array_to_string(list_transform(ks, x -> x.btxt), chr(10))) AS text_md5
         FROM keep ORDER BY doc_id"""),

    // unigram-LM (SentencePiece-posture) Viterbi segmentation under the
    // embedded DefaultVocab: per-doc word/piece counts, the exact
    // integer-micro Viterbi score, and an md5 of the segmentation
    // itself (catches any argmax/tie divergence). Map-only — one
    // expression eval per document; the oracle replays the DP cell for
    // cell as a recursive CTE over DISTINCT words
    Row("q169_unigram_segment", (s, d) =>
      graft.operators.UnigramLm.segment(
          t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          col("score_micros"), md5(col("segmentation")).as("seg_md5"))
        .orderBy(col("doc_id")),
      // q169: the Viterbi DP replayed as a recursive CTE (vocabulary
      // VALUES generated from DefaultVocab — see unigramOracleCtes)
      s"""WITH RECURSIVE $unigramOracleCtes
         SELECT doc_id, n_words, n_pieces, score_micros,
           md5(segline) AS seg_md5
         FROM __udoc ORDER BY doc_id"""),

    // the two tokenizer FAMILIES side by side (q111's comparison frame
    // + the unigram column): pieces per whitespace token for BPE and
    // unigram under one aggregate, per language
    Row("q170_unigram_fertility", (s, d) =>
      graft.operators.UnigramLm.fertilityVsBpe(
          t(s, d, "documents"), "lang", "text")
        .orderBy(col("lang")),
      // q170: both tokenizer replays (BPE state machine + unigram DP)
      // under one WITH RECURSIVE, folded per language
      s"""WITH RECURSIVE $bpeOracleCtes,
         $unigramOracleCtes,
         __uf AS (
           SELECT d.lang,
             len(list_filter(string_split_regex(d.text, '\\s+'), x -> x <> '')) AS ws,
             coalesce(c.bpe_tokens, 0) AS bpe,
             u.n_pieces AS uni
           FROM documents d
           LEFT JOIN __bpe_doc_counts c ON d.doc_id = c.doc_id
           JOIN __udoc u ON d.doc_id = u.doc_id)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(ws) AS BIGINT) AS ws_tokens,
           CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
           CAST(sum(uni) AS BIGINT) AS unigram_pieces,
           CASE WHEN sum(ws) > 0 THEN
             CAST((CAST(sum(bpe) AS BIGINT) * 2000000 + CAST(sum(ws) AS BIGINT))
               // (2 * CAST(sum(ws) AS BIGINT)) AS DOUBLE) / 1e6 END AS bpe_fertility,
           CASE WHEN sum(ws) > 0 THEN
             CAST((CAST(sum(uni) AS BIGINT) * 2000000 + CAST(sum(ws) AS BIGINT))
               // (2 * CAST(sum(ws) AS BIGINT)) AS DOUBLE) / 1e6 END AS unigram_fertility
         FROM __uf GROUP BY lang ORDER BY lang"""),

    // the unigram twin of q96: fixed-length id sequences (PAD=0, UNK=1,
    // pieces at vocabIndex+2) — map-only segmentation + a plan-literal
    // piece->id lookup; same battery canonical form as q96
    Row("q182_unigram_ids", (s, d) =>
      graft.operators.UnigramLm.encodeIds(
          t(s, d, "documents"), "doc_id", "text", maxLen = 24)
        .select(col("doc_id"),
          array_join(col("ids").cast("array<string>"), " ").as("ids"))
        .orderBy(col("doc_id")),
      // q182: ids off the SAME recursive-CTE segmentation (__udoc's
      // segline), the identical piece->id map generated from DefaultVocab,
      // truncate + zero-pad via list_resize
      {
      val idValues = graft.operators.UnigramLm.DefaultVocab.zipWithIndex
        .map { case ((p, _), i) => s"'$p'" -> s"CAST(${i + 2} AS BIGINT)" }
      s"""WITH RECURSIVE $unigramOracleCtes,
         __uidm AS (SELECT map([${idValues.map(_._1).mkString(", ")}],
           [${idValues.map(_._2).mkString(", ")}]) AS m),
         __uid0 AS (
           SELECT d.doc_id,
             CASE WHEN d.segline = '' THEN CAST([] AS BIGINT[]) ELSE
               list_transform(string_split(d.segline, ' '),
                 p -> coalesce(map_extract(v.m, p)[1], CAST(1 AS BIGINT)))
             END[1:24] AS t
           FROM __udoc d CROSS JOIN __uidm v),
         __uids AS (
           SELECT doc_id, list_concat(t,
             list_transform(range(1, 24 - len(t) + 1),
               x -> CAST(0 AS BIGINT))) AS ids
           FROM __uid0)
         SELECT doc_id,
           array_to_string(list_transform(ids, x -> CAST(x AS VARCHAR)),
             ' ') AS ids
         FROM __uids ORDER BY doc_id"""
    }),

    // C4 line-level cleaning: documents are reshaped into LINES with
    // one planted line per rule class (terminal punctuation, word
    // floor, javascript boilerplate) plus doc_id-gated lorem/brace
    // flag lines — the stage REWRITES docs by dropping offending
    // lines where q178's gopher rules gate whole documents. Map-only
    Row("q186_c4_lines", (s, d) => {
      val lines = concat_ws("\n",
        concat(substring(col("text"), 1, 90), lit(" ends here.")),
        lit("no terminal punctuation line fragment"),
        lit("Too short."),
        lit("Please enable javascript to continue with this page."),
        concat(lit("Doc "), col("doc_id").cast("string"),
          lit(" quoted line ends well?")),
        when(col("doc_id") % 3 === 0,
          lit("lorem ipsum dolor sit amet sits here."))
          .otherwise(concat(substring(col("text"), 91, 60), lit("!"))),
        when(col("doc_id") % 5 === 2,
          lit("code marker { inside } line."))
          .otherwise(lit("A final good sentence closes the document.")))
      graft.operators.Lines.c4LineFilter(
          t(s, d, "documents").select(col("doc_id"), lines.as("ltext")),
          "doc_id", "ltext")
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("text")).as("text_md5"), col("has_brace"),
          col("has_lorem"))
        .orderBy(col("doc_id"))
    },
      // q186: the planted line classes rebuilt and re-filtered with the
      // identical keep predicate (terminal punct regex on the trimmed
      // line, whitespace word floor, javascript contains) and doc flags
      // on the ORIGINAL text
      """WITH lx AS (
           SELECT doc_id,
             substr(text, 1, 90) || ' ends here.' || chr(10) ||
             'no terminal punctuation line fragment' || chr(10) ||
             'Too short.' || chr(10) ||
             'Please enable javascript to continue with this page.'
               || chr(10) ||
             'Doc ' || CAST(doc_id AS VARCHAR) || ' quoted line ends well?'
               || chr(10) ||
             (CASE WHEN doc_id % 3 = 0
               THEN 'lorem ipsum dolor sit amet sits here.'
               ELSE substr(text, 91, 60) || '!' END) || chr(10) ||
             (CASE WHEN doc_id % 5 = 2
               THEN 'code marker { inside } line.'
               ELSE 'A final good sentence closes the document.' END) AS lt
           FROM documents),
         k AS (
           SELECT doc_id, len(string_split(lt, chr(10))) AS n_lines,
             list_filter(string_split(lt, chr(10)), l ->
               regexp_matches(trim(l), '[.!?"”]$')
               AND len(list_filter(
                 string_split_regex(trim(l), '\s+'), w -> w <> '')) >= 3
               AND NOT contains(lower(trim(l)), 'javascript')) AS ks,
             contains(lt, '{') AS has_brace,
             contains(lower(lt), 'lorem ipsum') AS has_lorem
           FROM lx)
         SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
           CAST(len(ks) AS BIGINT) AS n_kept,
           md5(array_to_string(ks, chr(10))) AS text_md5,
           has_brace, has_lorem
         FROM k ORDER BY doc_id"""),

    // Unicode/mojibake repair (the ftfy-posture stage): documents are
    // decorated with GENERATED mojibake — single-encoded latin-1,
    // DOUBLE-encoded, and control/zero-width junk snippets computed by
    // the same byte round-trip Encoding.MojibakeTable models — then
    // fixed by the repair → confusables → control-strip chain; the
    // oracle replays the identical generated replace chain
    // (Encoding.duckFixSql — one definition, two engines). Map-only,
    // zero exchanges beyond the battery sort
    Row("q185_fix_encoding", (s, d) => {
      val moji = concat(
        when(col("doc_id") % 5 === 0, lit(MojiSnips(0)))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 1, lit(MojiSnips(1)))
          .otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 3 === 2, lit(MojiSnips(2)))
          .otherwise(lit("")))
      graft.operators.Encoding.fix(
          t(s, d, "documents").select(col("doc_id"), moji.as("mtext")),
          "mtext")
        .select(col("doc_id"), col("n_raw"), col("n_fixed"),
          col("changed"), md5(col("mtext_fixed")).as("fixed_md5"))
        .orderBy(col("doc_id"))
    },
      // q185: the decorated corpus re-fixed by the GENERATED replace
      // chain (Encoding.duckFixStages over the same MojibakeTable /
      // ConfusablesTable — one definition, two engines; staged CTEs keep
      // each expression under DuckDB's 128-deep binder cap)
      {
      val stages = graft.operators.Encoding.duckFixStages("v")
      val ctes = stages.zipWithIndex.map { case (e, i) =>
        val src = if (i == 0) "(SELECT doc_id, m, m AS v FROM mj)"
          else s"fx${i - 1}"
        s"fx$i AS (SELECT doc_id, m, $e AS v FROM $src)"
      }.mkString(",\n         ")
      s"""WITH $mojiDocCte,
         $ctes
         SELECT doc_id, CAST(length(m) AS BIGINT) AS n_raw,
           CAST(length(v) AS BIGINT) AS n_fixed,
           v <> m AS changed, md5(v) AS fixed_md5
         FROM fx${stages.size - 1} ORDER BY doc_id"""
    }),

    // robots.txt gating (RFC 9309 subset) — the crawl-politeness stage
    // between WARC ingestion and the URL/domain family: the fixture
    // body is parsed ONCE per `.example.org` host (group selection for
    // agent graftbot: named groups beat the * fallback), each URL's
    // path-and-query is judged by the longest matching rule (allow
    // wins ties, trailing $ anchors, missing robots row = allowed).
    // The parsed rule table broadcasts; the decision is map-only
    Row("q192_robots_gate", (s, d) => {
      val R = graft.operators.Robots
      val urls = t(s, d, "documents").withColumn("url", syntheticUrl)
      val robots = urls.select(R.urlHost(col("url")).as("host")).distinct()
        .where(col("host").endsWith(".example.org"))
        .withColumn("body", lit(robotsFixtureLines.mkString("\n")))
      R.gate(urls, "url",
          broadcast(R.parse(robots, "host", "body", "graftbot")))
        .select(col("doc_id"), R.urlHost(col("url")).as("host"),
          col("allowed"))
        .orderBy(col("doc_id"))
    },
      // q192: the robots parse replayed line-by-line (comment strip,
      // directive split, user-agent-run grouping via lag + running sum,
      // group selection for graftbot), then the longest-match decision
      // with each pattern translated to an anchored regex (metachar
      // escape chain, * -> .*, trailing-$ anchor; specificity excludes
      // the $). Non-.example.org hosts carry no robots row -> allowed
      {
      val bodySql = robotsFixtureLines
        .map(l => "'" + l + "'").mkString("concat_ws(chr(10), ", ", ", ")")
      val core = "CASE WHEN r.pattern LIKE '%$' " +
        "THEN substr(r.pattern, 1, length(r.pattern) - 1) " +
        "ELSE r.pattern END"
      val pq = "regexp_extract(h.url, " +
        "'^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([/?][^#]*)', 1)"
      s"""WITH $urlDomainCtes,
         rb AS (SELECT $bodySql AS body),
         rl AS (
           SELECT CAST(p AS INT) AS i, l[CAST(p AS INT)] AS raw
           FROM (SELECT l, unnest(range(1, len(l) + 1)) AS p
                 FROM (SELECT string_split(body, chr(10)) AS l FROM rb))),
         dv AS (
           SELECT i,
             lower(trim(substr(line, 1, strpos(line, ':') - 1))) AS name,
             trim(substr(line, strpos(line, ':') + 1)) AS value
           FROM (SELECT i, trim(CASE WHEN strpos(raw, '#') > 0
                    THEN substr(raw, 1, strpos(raw, '#') - 1)
                    ELSE raw END) AS line
                 FROM rl)
           WHERE strpos(line, ':') > 1),
         g0 AS (
           SELECT i, name, value,
             CASE WHEN name = 'user-agent' AND
                 coalesce(lag(name) OVER (ORDER BY i), '') <> 'user-agent'
               THEN 1 ELSE 0 END AS new_g
           FROM dv),
         g AS (SELECT i, name, value,
             sum(new_g) OVER (ORDER BY i) AS gid FROM g0),
         ag AS (SELECT gid, list(lower(value)) AS ags
           FROM g WHERE name = 'user-agent' AND value <> '' GROUP BY gid),
         named AS (SELECT gid FROM ag WHERE list_contains(ags, 'graftbot')),
         sel AS (SELECT gid FROM named
           UNION ALL
           SELECT gid FROM ag WHERE list_contains(ags, '*')
             AND NOT EXISTS (SELECT 1 FROM named)),
         rsel AS (SELECT g.value AS pattern, g.name = 'allow' AS allow
           FROM g JOIN sel USING (gid)
           WHERE g.name IN ('allow', 'disallow') AND g.value <> ''),
         up AS (SELECT h.doc_id, h.host,
             CASE WHEN $pq = '' THEN '/' ELSE $pq END AS pathq
           FROM h),
         m AS (SELECT up.doc_id, r.allow, length($core) AS clen
           FROM up, rsel r
           WHERE up.host LIKE '%.example.org'
             AND regexp_matches(up.pathq,
               '^' || replace(${reEscSql(core)}, '*', '.*')
                   || CASE WHEN r.pattern LIKE '%$$' THEN '$$' ELSE '' END)),
         best AS (SELECT doc_id, max(clen) AS mc FROM m GROUP BY doc_id),
         verdict AS (SELECT m.doc_id, bool_or(m.allow) AS allowed
           FROM m JOIN best b ON m.doc_id = b.doc_id AND m.clen = b.mc
           GROUP BY m.doc_id)
         SELECT up.doc_id, up.host, coalesce(v.allowed, true) AS allowed
         FROM up LEFT JOIN verdict v USING (doc_id)
         ORDER BY up.doc_id"""
    }),

    // Spark 4's recursive CTE (WITH RECURSIVE) — the hierarchy-walk /
    // reachability surface the engine gained in 4.0: part keys form a
    // 10-ary tree (child k under parent k div 10), walked from part 1
    // with per-level accounting. Tree edges mean one parent per node —
    // no duplicate paths — and the frontier empties past the key
    // ceiling, so UNION ALL terminates naturally; each recursive step
    // is one EQUI join (child's parent = frontier key), the same
    // iterative-join shape the PageRank loop runs
    Row("q191_recursive_cte", (s, d) => {
      t(s, d, "part").createOrReplaceTempView("part_v")
      s.sql("""WITH RECURSIVE walk(pk, lvl) AS (
                 SELECT CAST(1 AS BIGINT), 0
                 UNION ALL
                 SELECT p.p_partkey, w.lvl + 1
                 FROM part_v p JOIN walk w ON p.p_partkey DIV 10 = w.pk)
               SELECT lvl, count(*) AS cnt,
                 CAST(CAST(sum(CAST(p2.p_retailprice AS DECIMAL(38,9)))
                   AS STRING) AS DOUBLE) AS price_sum
               FROM walk JOIN part_v p2 ON walk.pk = p2.p_partkey
               GROUP BY lvl ORDER BY lvl""")
    },
      // q191: the identical tree walk — DuckDB integer division is //
      // where Spark's is DIV, otherwise statement-for-statement
      """WITH RECURSIVE walk(pk, lvl) AS (
           SELECT CAST(1 AS BIGINT), 0
           UNION ALL
           SELECT p.p_partkey, w.lvl + 1
           FROM part p JOIN walk w ON p.p_partkey // 10 = w.pk)
         SELECT lvl, count(*) AS cnt,
           CAST(CAST(sum(CAST(p2.p_retailprice AS DECIMAL(38,9)))
             AS VARCHAR) AS DOUBLE) AS price_sum
         FROM walk JOIN part p2 ON walk.pk = p2.p_partkey
         GROUP BY lvl ORDER BY lvl"""),

    // WordPiece (BERT-family) greedy longest-match segmentation —
    // completes the tokenizer triad beside BPE (q35/q82) and
    // unigram-LM (q169/q170/q182); map-only, the oracle replays the
    // greedy walk with a recursive CTE over distinct words. Interior
    // digits are absent from the vocabulary, so real fixture words
    // exercise the all-or-nothing [UNK] collapse
    Row("q190_wordpiece", (s, d) =>
      graft.operators.WordPiece.segment(t(s, d, "documents"),
          "doc_id", "text")
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          col("n_unk_words"), md5(col("segmentation")).as("seg_md5"))
        .orderBy(col("doc_id")),
      // q190: the greedy longest-match walk replayed per distinct word
      // (recursive CTE), per-doc frames re-joined positionally
      s"""WITH RECURSIVE $wordpieceOracleCtes
         SELECT doc_id, n_words, n_pieces, n_unk_words,
           md5(segline) AS seg_md5
         FROM __wdoc ORDER BY doc_id"""),

    // sentence segmentation over a synthesized PUNCTUATED corpus (the
    // raw fixture is punctuation-free word soup, so the decoration —
    // deterministic per (doc_id, word position): terminator runs,
    // ellipses, and abbreviation traps — is generated identically on
    // both engines, the q167 synthesized-fixture discipline); the
    // splitter itself is one map-only protect/mark/split projection
    Row("q171_sentences", (s, d) =>
      graft.operators.Sentences.split(
          t(s, d, "documents").select(col("doc_id"),
            punctuatedText.as("ptext")),
          "doc_id", "ptext")
        .orderBy(col("doc_id"), col("sent_id")),
      // q171: the same decoration (two composed index lambdas), then the
      // protect/mark/split cascade replayed with the identical regexes
      // (RE2/Java common subset; group refs \1 here, $1 in Spark — same
      // semantics, different engine syntax)
      s"""WITH ${sentenceCtes(bp = false)}
         SELECT doc_id, sent_id, sentence,
           CAST(length(sentence) AS BIGINT) AS n_chars
         FROM fs ORDER BY doc_id, sent_id"""),

    // repeated-sentence (boilerplate) stripping, the CCNet
    // paragraph-dedup stage at sentence granularity: the decorated
    // corpus gains planted boilerplate tails (all docs + even docs),
    // sentences in >= 10 distinct docs strip from every document;
    // exchanges carry (doc_id, md5) rows, never sentence text
    Row("q180_sentence_dedup", (s, d) => {
      val withBp = concat(punctuatedText,
        lit(" Subscribe to our newsletter today. Unsubscribe here."),
        when(col("doc_id") % 2 === 0,
          lit(" Follow us on social media.")).otherwise(lit("")))
      graft.operators.Sentences.stripRepeated(
          t(s, d, "documents").select(col("doc_id"),
            withBp.as("ptext")),
          "doc_id", "ptext", minDf = 10)
        .select(col("doc_id"), col("n_sents"), col("n_kept"),
          md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    },
      // q180: the q171 chain over the boilerplate-tailed corpus, df >= 10
      // hashes stripped, per-doc rebuild in sentence order
      s"""WITH ${sentenceCtes(bp = true)},
         h AS (
           SELECT doc_id, sent_id, sentence, md5(sentence) AS hh FROM fs),
         rep AS (
           SELECT hh FROM (SELECT DISTINCT doc_id, hh FROM h)
           GROUP BY hh HAVING count(*) >= 10),
         kept AS (
           SELECT * FROM h WHERE hh NOT IN (SELECT hh FROM rep)),
         reb AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(sentence, ' ' ORDER BY sent_id) AS text
           FROM kept GROUP BY doc_id),
         totd AS (
           -- anchored on the per-doc corpus frame, not the sentence
           -- rollup: zero-sentence docs surface as n_sents = 0 (the
           -- engine's one-row-per-input contract)
           SELECT d.doc_id,
             CAST(coalesce(count(h.sent_id), 0) AS BIGINT) AS n_sents
           FROM dec d LEFT JOIN h ON d.doc_id = h.doc_id
           GROUP BY d.doc_id)
         SELECT t.doc_id, t.n_sents,
           coalesce(r.n_kept, 0) AS n_kept,
           md5(coalesce(r.text, '')) AS text_md5
         FROM totd t LEFT JOIN reb r USING (doc_id)
         ORDER BY doc_id"""),

    // WARC ingestion: documents synthesize length-framed WARC records
    // (headers + HTTP response + separator), concatenated into per-
    // file_id "files" — the real crawl layout where the FILE is the
    // parallel unit — then Warc.responses frames records back out by
    // Content-Length and parses URI/date/status/mime/body. The oracle
    // re-frames by record split (equivalent on this fixture whose
    // payloads never quote the version line; the delimiter-quoting
    // case where ONLY length framing is right is spec-pinned)
    Row("q174_warc_parse", (s, d) => {
      val crlf = "\r\n"
      val id = col("doc_id").cast("string")
      val http = concat(
        lit("HTTP/1.1 200 OK" + crlf + "Content-Type: text/html" +
          crlf + crlf + "<html><body><h1>Doc "), id, lit("</h1><p>"),
        substring(col("text"), 1, 120), lit("</p></body></html>"))
      val rec = concat(
        lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
          "WARC-Target-URI: http://example.org/doc/"), id,
        lit(crlf + "WARC-Date: 2024-01-01T00:00:00Z" + crlf +
          "Content-Length: "),
        length(http).cast("string"), lit(crlf + crlf), http,
        lit(crlf + crlf))
      val files = t(s, d, "documents")
        .select((col("doc_id") % 32).as("file_id"), col("doc_id"),
          rec.as("rec"))
        .groupBy(col("file_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("rec")))),
          x => x.getField("rec")), "").as("content"))
      graft.operators.Warc.responses(files, "file_id", "content")
        .select(col("file_id"), col("rec_no"), col("url"),
          col("warc_date"), col("status"), col("mime"),
          length(col("body")).cast("long").as("body_chars"),
          md5(col("body")).as("body_md5"))
        .orderBy(col("file_id"), col("rec_no"))
    },
      // q174: the same synthesized files, re-framed by RECORD SPLIT on
      // the version line (equivalent to the engine's Content-Length walk
      // on this fixture by construction) and re-parsed with the same
      // anchored header regexes
      """WITH rec AS (
           SELECT doc_id % 32 AS file_id, doc_id,
             'HTTP/1.1 200 OK' || E'\r\n' || 'Content-Type: text/html'
               || E'\r\n\r\n' || '<html><body><h1>Doc '
               || CAST(doc_id AS VARCHAR) || '</h1><p>'
               || substr(text, 1, 120) || '</p></body></html>' AS http
           FROM documents),
         wrec AS (
           SELECT file_id, doc_id,
             'WARC/1.0' || E'\r\n' || 'WARC-Type: response' || E'\r\n'
               || 'WARC-Target-URI: http://example.org/doc/'
               || CAST(doc_id AS VARCHAR) || E'\r\n'
               || 'WARC-Date: 2024-01-01T00:00:00Z' || E'\r\n'
               || 'Content-Length: ' || CAST(length(http) AS VARCHAR)
               || E'\r\n\r\n' || http || E'\r\n\r\n' AS rec
           FROM rec),
         files AS (
           SELECT file_id, string_agg(rec, '' ORDER BY doc_id) AS content
           FROM wrec GROUP BY file_id),
         sp AS (
           SELECT file_id,
             string_split(content, 'WARC/1.0' || E'\r\n') AS parts
           FROM files),
         rr AS (
           SELECT file_id, p, parts[CAST(p AS INT)] AS r
           FROM (SELECT file_id, parts,
                   unnest(range(1, len(parts) + 1)) AS p FROM sp)
           WHERE parts[CAST(p AS INT)] <> ''),
         parsed AS (
           SELECT file_id,
             row_number() OVER (PARTITION BY file_id ORDER BY p) AS rec_no,
             split_part(r, E'\r\n\r\n', 1) AS h,
             regexp_extract(r, '(?s)^.*?\r\n\r\n(.*)\r\n\r\n$', 1) AS payload
           FROM rr),
         resp AS (
           SELECT file_id, rec_no,
             regexp_extract(h, '(?m)^WARC-Target-URI: (\S+)', 1) AS url,
             regexp_extract(h, '(?m)^WARC-Date: (\S+)', 1) AS warc_date,
             CAST(regexp_extract(payload, '^HTTP/1\.1 (\d+)', 1)
               AS BIGINT) AS status,
             regexp_extract(split_part(payload, E'\r\n\r\n', 1),
               '(?m)^Content-Type: ([^\r\n]+)', 1) AS mime,
             regexp_extract(payload, '(?s)^.*?\r\n\r\n(.*)$', 1) AS body
           FROM parsed
           WHERE regexp_extract(h, '(?m)^WARC-Type: (\S+)', 1) = 'response')
         SELECT file_id, rec_no, url, warc_date, status, mime,
           CAST(length(body) AS BIGINT) AS body_chars,
           md5(body) AS body_md5
         FROM resp ORDER BY file_id, rec_no"""),

    // the Gopher rule battery: the NAMED per-doc quality gates (word
    // bounds, mean word length, symbol/bullet/ellipsis ratios, alpha
    // words, stopword floor) beside q34's composite score — one
    // map-only projection, every ratio a single rounded division
    Row("q178_gopher_rules", (s, d) =>
      TextAnalysis.gopherRules(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      // q178: every Gopher metric recomputed with list lambdas, the
      // bounds applied to the SAME rounded ratios as the engine
      """WITH w AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\W+'),
               x -> x <> '') AS w,
             string_split(text, chr(10)) AS lines
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             CAST(coalesce(list_sum(list_transform(w, x -> len(x))), 0)
               AS BIGINT) AS wchars,
             CAST(len(regexp_extract_all(text, '#')) +
               len(regexp_extract_all(text, '\.\.\.')) AS BIGINT)
               AS symbols,
             CAST(len(list_filter(lines,
               l -> regexp_matches(ltrim(l), '^[-*•]'))) AS BIGINT)
               AS bullets,
             CAST(len(list_filter(lines,
               l -> regexp_matches(rtrim(l), '\.\.\.$'))) AS BIGINT)
               AS ellip,
             CAST(len(lines) AS BIGINT) AS nlines,
             CAST(len(list_filter(w,
               x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha,
             CAST(len(list_intersect(list_distinct(w),
               ['the','be','to','of','and','that','have','with']))
               AS BIGINT) AS n_stopwords
           FROM w)
         SELECT doc_id, n_words,
           CASE WHEN n_words > 0
             THEN CAST((wchars * 2000000 + n_words) // (2 * n_words)
               AS DOUBLE) / 1e6 END AS mean_word_len,
           CASE WHEN n_words > 0
             THEN CAST((symbols * 2000000 + n_words) // (2 * n_words)
               AS DOUBLE) / 1e6 END AS symbol_ratio,
           CAST((bullets * 2000000 + nlines) // (2 * nlines)
             AS DOUBLE) / 1e6 AS bullet_ratio,
           CAST((ellip * 2000000 + nlines) // (2 * nlines)
             AS DOUBLE) / 1e6 AS ellipsis_ratio,
           CASE WHEN n_words > 0
             THEN CAST((alpha * 2000000 + n_words) // (2 * n_words)
               AS DOUBLE) / 1e6 END AS alpha_ratio,
           n_stopwords,
           (CASE WHEN n_words = 0 THEN false ELSE
             n_words BETWEEN 50 AND 100000
             AND (wchars * 2000000 + n_words) // (2 * n_words)
               BETWEEN 3000000 AND 10000000
             AND (symbols * 2000000 + n_words) // (2 * n_words) <= 100000
             AND (bullets * 2000000 + nlines) // (2 * nlines) <= 900000
             AND (ellip * 2000000 + nlines) // (2 * nlines) <= 300000
             AND (alpha * 2000000 + n_words) // (2 * n_words) >= 800000
             AND n_stopwords >= 2 END) AS pass
         FROM m ORDER BY doc_id"""),

    // adaptive per-language quality floor: keep docs at/above their own
    // language's p25 quality — the threshold aggregate broadcasts back,
    // the corpus never shuffles
    Row("q108_quantile_floor", (s, d) => {
      // lang rides through the quality projection (carry), so the plan is
      // scan -> map-only scoring -> tiny threshold agg broadcast back —
      // no corpus self-join, no corpus shuffle
      val scored = graft.operators.TextAnalysis
        .quality(t(s, d, "documents"), "doc_id", "text", carry = Seq("lang"))
      graft.operators.Profile
        .groupQuantileFloor(scored, "lang", "quality", 0.25)
        .select(col("doc_id"), col("lang"), col("quality"))
        .orderBy(col("doc_id"))
    },
      // quality expression mirrors q34; quantile_cont ≡ Spark's exact
      // interpolated percentile (parity established by q55)
      s"""WITH scored AS (
           SELECT doc_id, lang, ${qualitySql()}
           FROM (
             SELECT doc_id, lang, $wordsSql AS w, ${langHits.head}
             FROM documents)
           WHERE len(w) > 0),
         thr AS (
           SELECT lang, round(quantile_cont(quality, 0.25), 9) AS t
           FROM scored GROUP BY lang)
         SELECT s.doc_id, s.lang, s.quality
         FROM scored s JOIN thr USING (lang)
         WHERE s.quality >= thr.t
         ORDER BY s.doc_id"""),

    // per-doc token entropy (gibberish / degenerate-repetition signal):
    // two hash aggregates, H = log2(n) - sum(c*log2 c)/n so one grouping
    // level computes total and sum together
    Row("q102_token_entropy", (s, d) =>
      graft.operators.TextAnalysis.tokenEntropy(
        t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      """WITH tc AS (
           SELECT doc_id, word, count(*) AS c FROM (
             SELECT doc_id, unnest(string_split_regex(lower(text), '\W+')) AS word
             FROM documents)
           WHERE word <> '' GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           round(log2(CAST(sum(c) AS DOUBLE))
             - CAST(sum(CAST(round(c * log2(CAST(c AS DOUBLE)) * 1e9)
                 AS BIGINT)) AS DOUBLE)
               / (CAST(sum(c) AS DOUBLE) * 1e9), 4) AS entropy_bits
         FROM tc GROUP BY doc_id ORDER BY doc_id"""),

    // token-distribution drift between two corpus slices: per-token JSD
    // contributions — each side collapses to (token, count) in one hash
    // agg (the corpora never meet), totals are one-row broadcasts,
    // deterministic rounded-value+token cutoff
    Row("q101_token_drift", (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Drift.tokenJsd(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), "text", topK = 40)
    },
      """WITH ca AS (
           SELECT word AS token, count(*) AS cnt_a FROM (
             SELECT unnest(string_split_regex(lower(text), '\W+')) AS word
             FROM documents WHERE doc_id % 2 = 0)
           WHERE word <> '' GROUP BY 1),
         cb AS (
           SELECT word AS token, count(*) AS cnt_b FROM (
             SELECT unnest(string_split_regex(lower(text), '\W+')) AS word
             FROM documents WHERE doc_id % 2 = 1)
           WHERE word <> '' GROUP BY 1),
         j AS (
           SELECT coalesce(ca.token, cb.token) AS token,
             coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
           FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
         tot AS (SELECT sum(cnt_a) AS ta, sum(cnt_b) AS tb FROM j)
         SELECT token, cnt_a, cnt_b,
           round(
             0.5 * (CASE WHEN cnt_a > 0 THEN (CAST(cnt_a AS DOUBLE)/ta)
               * log2((CAST(cnt_a AS DOUBLE)/ta)
                 / ((CAST(cnt_a AS DOUBLE)/ta + CAST(cnt_b AS DOUBLE)/tb)/2.0))
               ELSE 0.0 END)
             + 0.5 * (CASE WHEN cnt_b > 0 THEN (CAST(cnt_b AS DOUBLE)/tb)
               * log2((CAST(cnt_b AS DOUBLE)/tb)
                 / ((CAST(cnt_a AS DOUBLE)/ta + CAST(cnt_b AS DOUBLE)/tb)/2.0))
               ELSE 0.0 END), 6) AS jsd_bits
         FROM j CROSS JOIN tot
         ORDER BY jsd_bits DESC, token LIMIT 40"""),

    // bigram-LM perplexity quality filter (CCNet/Gopher style): add-one
    // self-trained model, mean bits per bigram per doc — two hash
    // aggregates for the model, one count join to score; "surprising"
    // text (spam, garbage encodings) surfaces as high bits
    Row("q98_lm_bits", (s, d) =>
      graft.operators.NgramLm.selfScoreBits(
        t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      s"""WITH ${bigramBitsCtes("scored")}
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           $meanBitsSql
         FROM scored GROUP BY doc_id ORDER BY doc_id"""),

    // BPE tokenizer TRAINING, distributed step: the word histogram under
    // the BPE pre-tokenizer is the only corpus-proportional pass (one
    // hash aggregate shuffling (word,count) pairs, never corpus text);
    // the driver-side greedy merge loop over it is bounded by distinct
    // words and spec-gated (BpeTrainingSpec)
    Row("q89_bpe_train_hist", (s, d) =>
      graft.operators.BpeTraining.wordHistogram(t(s, d, "documents"), "text",
        maxDistinctWords = 50),
      """SELECT word, CAST(count(*) AS BIGINT) AS n
         FROM (SELECT unnest(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS word
               FROM documents)
         GROUP BY word ORDER BY n DESC, word LIMIT 50"""),

    // fixed-size token chunking with stride (overlapping windows for
    // training / embedding-indexing): map-only sequence+explode+slice,
    // zero shuffles; the oracle reconstructs every chunk's exact text
    Row("q88_chunk", (s, d) =>
      graft.operators.Chunking.chunk(t(s, d, "documents"), "doc_id", "text",
        size = 24, stride = 16)
        .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_id")),
      """WITH t AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
           FROM documents),
         c AS (
           SELECT doc_id, unnest(range(0, len(w), 16)) AS start, w
           FROM t WHERE len(w) > 0)
         SELECT doc_id,
           CAST(start // 16 AS BIGINT) AS chunk_id,
           CAST(len(w[start+1 : start+24]) AS BIGINT) AS n_tokens,
           md5(array_to_string(w[start+1 : start+24], ' ')) AS chunk_md5
         FROM c ORDER BY doc_id, chunk_id""")
  )
}
