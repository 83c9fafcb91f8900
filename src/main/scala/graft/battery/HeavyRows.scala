package graft.battery

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

import Fixtures._
import OracleSql._

/** The heavy tier: compute-dominated rows over the `documents` corpus
  * replicated hundreds of times.
  */
object HeavyRows {
  /** The heavy-tier corpus: `documents` replicated `rep` times with
    * deterministic id offsets. The base scan repartitions to the session
    * parallelism FIRST (one local fixture file = one split) and the
    * replication is a broadcast cross join, so the heavy per-document
    * work runs rep x corpus across every core with no post-replication
    * exchange.
    */
  private def heavyDocs(s: SparkSession, d: String, rep: Int): DataFrame =
    t(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .crossJoin(broadcast(s.range(rep).select(col("id").as("__r"))))
      .select((col("doc_id") + col("__r") * 1000000L).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))

  /** q206's literal query set — keep in lockstep with the Scala side. */
  private def heavyBm25QueryBody: String =
    """SELECT query_id, term FROM (VALUES
           (CAST(1 AS BIGINT), 'fast'), (1, 'table'), (1, 'scan'), (1, 'query'),
           (2, 'hash'), (2, 'join'), (2, 'agg'), (2, 'sort'),
           (3, 'vector'), (3, 'stream'), (3, 'window'), (3, 'merge'),
           (4, 'zebra'), (4, 'crossing'), (4, 'table')) t(query_id, term)"""

  /** The [[heavyDocs]] replication as a DuckDB CTE shadowing the
    * `documents` view (base qualified as main.documents).
    */
  private def heavyDocsCte(rep: Int): String =
    s"""documents AS (
         SELECT d.doc_id + r.r * 1000000 AS doc_id, d.text, d.lang,
           d.source, d.n_chars
         FROM main.documents d
         CROSS JOIN (SELECT unnest(range($rep)) AS r) r)"""

  def rows: Seq[Row] = Seq(
    // ---- HEAVY TIER (round-20 verdict item 1): compute-dominated rows
    // over a deterministically replicated corpus, sized so per-document
    // CPU dwarfs the per-job fixed cost — the c8-vs-c32 bench scaling
    // block can then measure PARALLELISM (expected ratio >= 2), which
    // at sf0.1 it cannot on any original row (all 204 are
    // orchestration-bound; 8 cores beat 32 across the board). The
    // replication is pure id arithmetic (doc_id + rep*1e6), replayed
    // verbatim by the oracle, and the work is tokenize/score/aggregate
    // per replicated document ----

    // per-language quality-score rollup over the 300x corpus: the
    // map-heavy gate-chain shape (tokenize + quality features per doc,
    // one small aggregate) — near-linear scaling expected
    Row("q205_heavy_quality", (s, d) => {
      val docs = heavyDocs(s, d, 300)
      TextAnalysis.quality(docs, "doc_id", "text", carry = Seq("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          // quality is integer micros by construction; round() undoes
          // the /1e6 double rounding so the sum is exact
          sum(round(col("quality") * 1e6).cast("long")).as("quality_micros"))
        .orderBy(col("lang"))
    },
      // ---- heavy tier: the SAME deterministic replication (doc_id +
      // rep*1e6) as [[heavyDocs]]; main.documents qualifies the base view
      // so the CTE can shadow the name the downstream CTEs expect ----
      s"""WITH ${heavyDocsCte(300)},
         scored AS (
           SELECT lang, CAST(len(w) AS BIGINT) AS n_words,
             ${qualityMicrosSql("s_en")} AS qm
           FROM (
             SELECT lang, $wordsSql AS w, ${langHits.head}
             FROM documents)
           WHERE len(w) > 0)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(qm) AS BIGINT) AS quality_micros
         FROM scored GROUP BY lang ORDER BY lang"""),

    // batched BM25 retrieval over the 150x corpus with a fixed literal
    // query set: the full retrieval shape (tokenize + tf spill + df
    // rollup + scored exchange + bounded rank tail) at a size where the
    // shuffles carry real bytes
    Row("q206_heavy_bm25", (s, d) => {
      import s.implicits._
      val docs = heavyDocs(s, d, 150)
      val q = Seq(
        (1L, Seq("fast", "table", "scan", "query")),
        (2L, Seq("hash", "join", "agg", "sort")),
        (3L, Seq("vector", "stream", "window", "merge")),
        (4L, Seq("zebra", "crossing", "table")))
        .toDF("query_id", "qterms")
      TextAnalysis.bm25TopK(docs, "doc_id", "text", q,
          "query_id", "qterms", k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
      s"""WITH ${heavyDocsCte(150)},
         ${bm25RankedCtesWith(heavyBm25QueryBody)}
         SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id
         FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"""),

    // per-(lang, source) token totals + exact distinct vocabulary over
    // the 300x corpus: tokenize + explode feeding a real (lang, source,
    // term) exchange — the map+shuffle scaling shape
    Row("q207_heavy_tokens", (s, d) => {
      val docs = heavyDocs(s, d, 300)
      docs.select(col("lang"), col("source"),
          explode(graft.functions.TextFunctions.words(col("text")))
            .as("term"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("term")).as("n_terms"))
        .orderBy(col("lang"), col("source"))
    },
      s"""WITH ${heavyDocsCte(300)},
         tok AS (
           SELECT lang, source,
             unnest($wordsSql) AS term
           FROM documents)
         SELECT lang, source, count(*) AS n_tokens,
           CAST(count(DISTINCT term) AS BIGINT) AS n_terms
         FROM tok GROUP BY lang, source ORDER BY lang, source""")
  )
}
