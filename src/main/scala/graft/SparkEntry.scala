package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{CountAndTotalAggregator, GraftFunctions, TextFunctions}
import graft.model.Lineitem
import graft.operators.{Dedup, Multimodal, Postings, Similarity, TextAnalysis}
import graft.streaming.Topologies

/** Driver contract: the t2 query battery. Every query name maps SURVEY §2's
  * operator inventory (tags in comments) and — where ANSI-SQL can express the
  * same semantics — has a DuckDB oracle in [[oracleSql]] with IDENTICAL
  * column names and row ordering.
  *
  * Cross-engine determinism rules used throughout:
  *   - Double SUMs go through DECIMAL(38,9) (exact arithmetic, so shuffle
  *     order cannot perturb the result) and cast back to DOUBLE. On the
  *     DuckDB side the decimal is cast VARCHAR-then-DOUBLE: DuckDB's direct
  *     decimal->double cast is not correctly rounded once the unscaled
  *     value passes 2^53 (observed 1-ulp drift at sf0.1 sums ~1e10), while
  *     its string->double parse — like Spark's Decimal.toDouble — is;
  *   - every query ends in a total ORDER BY with a unique tiebreaker;
  *   - cosine similarities are rounded to 4 decimals before compare/sort.
  */
object SparkEntry {

  /** Exact decimal-backed sum of a double column, returned as double. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(38,9)")).cast("double")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

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

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q3-shaped multiway join (SURVEY §2.6 joins).
    */
  def entry(spark: SparkSession): DataFrame =
    q14JoinMultiway(spark, "/root/testdata/sf0.001")

  /** The q155/q156 boolean query batch (shared so the one-shot and
    * indexed rows rank the identical queries).
    */
  private def boolQueries(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, Seq("table"), Seq("fast", "value"), Seq.empty[String]),
      (2L, Seq("table", "value"), Seq.empty[String], Seq.empty[String]),
      (3L, Seq.empty[String], Seq("fast", "part"), Seq("table")),
      (4L, Seq("zebra"), Seq("crossing"), Seq.empty[String]),
      (5L, Seq.empty[String], Seq("key", "agg", "row"), Seq.empty[String]))
      .toDF("query_id", "must", "should", "mustNot")
  }

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

  /** The q153/q154/q162 judgment frame: distinct-term-overlap grades
    * between each probe query's (query_id, term) set and every document
    * sharing at least one term (grade = |shared distinct terms|, 1..8) —
    * a deterministic, oracle-replayable stand-in for human relevance
    * labels with a realistic graded distribution. Read off the rankers'
    * shared [[graft.operators.Corpus]] (its term rows ARE the distinct
    * (doc, term) pairs) instead of tokenizing the corpus again.
    */
  private def overlapGrades(corpus: graft.operators.Corpus,
      qterms: DataFrame): DataFrame =
    corpus.scan(qterms).select(col("doc_id"), col("term"))
      .join(broadcast(qterms), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("grade"))

  private def q14JoinMultiway(s: SparkSession, dir: String): DataFrame = {
    val customer = t(s, dir, "customer")
    val orders = t(s, dir, "orders")
    val lineitem = t(s, dir, "lineitem")
    // customer is the small side at every SF: broadcast it through orders,
    // leaving one shuffle (lineitem join) + one aggregate exchange.
    customer.where(col("c_mktsegment") === "BUILDING")
      .join(orders, col("c_custkey") === col("o_custkey"))
      .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .join(lineitem, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .select(col("o_orderkey"), col("o_orderdate"), col("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(20)
  }

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

  /** Deterministic synthetic PQ codebook for q121 — m=4 subspaces x
    * ksub=8 centroids x dsub=16 dims over the 64-dim embeddings; every
    * centroid is integer arithmetic / 8 (a dyadic rational, exact in
    * double), so the DuckDB oracle rebuilds it bit-identically in SQL.
    */
  private val syntheticPqCodebook: Seq[Seq[Seq[Double]]] =
    (0 until 4).map(sub => (0 until 8).map(cid => (0 until 16).map(d =>
      (((sub * 13 + cid * 31 + d * 7) % 17) - 8) / 8.0)))

  /** One entry per implemented operator from SURVEY §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- sources / scans (S1, S2, S7) ----
    "q01_scan_count" -> ((s, d) =>
      t(s, d, "events").agg(count(lit(1)).as("n"))),

    "q02_typed_scan" -> ((s, d) => {
      import s.implicits._
      t(s, d, "lineitem").as[Lineitem] // typed Dataset path (S2)
        .toDF().agg(dsum(col("l_quantity")).as("sum_qty"))
    }),

    // ---- projections / filters / per-record transforms (P1-P7) ----
    "q03_filter" -> ((s, d) =>
      t(s, d, "lineitem").where(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    "q04_project_upper" -> ((s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"), upper(col("p_name")).as("p_name_upper"))
        .orderBy(col("p_partkey"))),

    "q05_json_extract" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy(col("event_id"))),

    // P2: add processed=true to dynamic JSON, schema-lessly — every field
    // the document happens to carry survives with its exact JSON type
    // (map<string,variant> round-trip), not just the fields we know about
    "q06_json_mutate" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          graft.functions.JsonFunctions.jsonSetFields(col("props"),
            "processed" -> parse_json(lit("true"))).as("enriched"))
        .orderBy(col("event_id"))),

    // ---- word count topology: P3 flatMap + A1 count ----
    "q07_wordcount" -> ((s, d) =>
      Topologies.wordCount(t(s, d, "documents").select(col("text").as("value")))
        .orderBy(col("word"))),

    // ---- purchases topology: P4 selectKey + A2 custom aggregate ----
    "q08_selectkey_agg" -> ((s, d) =>
      Topologies.purchases(t(s, d, "lineitem").select(
        col("l_orderkey").as("customerId"),
        col("l_partkey").as("productId"),
        col("l_quantity").as("quantity")))
        .orderBy(col("k"))),

    // ---- aggregations (A4: rollup / multi-aggregate) ----
    // totals here reach ~1e10 where DuckDB's decimal->double cast is not
    // correctly rounded (1-ulp divergence vs BigDecimal.doubleValue seen at
    // sf0.1) — sums stay DECIMAL end-to-end (exact in both engines), then
    // canonicalize to fixed-scale STRINGS: raw DECIMAL(38,9) output hashed
    // differently across the two engines' parquet/result representations
    // even with digit-identical values (round-2 verdict), and a string is a
    // representation the hasher cannot disagree on. Scale 2 is exact here:
    // quantities are integral and prices are cents, so every scale-9 sum
    // ends in 0000000 and the rescale never rounds.
    "q09_rollup" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(38,9)"))
            .cast("decimal(38,2)").cast("string").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(38,9)"))
            .cast("decimal(38,2)").cast("string").as("sum_price"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // ---- serving-layer reads (Q1 point, Q2 range, Q4 scatter-gather) ----
    "q10_point_lookup" -> ((s, d) =>
      Topologies.wordCount(t(s, d, "documents").select(col("text").as("value")))
        .where(col("word") === "table")
        .orderBy(col("word"))),

    "q11_range_scan" -> ((s, d) => // A3: read-time rollup, pushed-down predicate
      t(s, d, "lineitem").where(col("l_orderkey") === 7)
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("total"))
        .orderBy(col("l_partkey"))),

    "q12_scatter_gather" -> ((s, d) =>
      t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_custkey"))),

    // ---- joins (SURVEY §2.6) ----
    "q13_join_broadcast" -> ((s, d) =>
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("n_name"))),

    "q14_join_multiway" -> ((s, d) => q14JoinMultiway(s, d)),

    "q15_anti_join" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey")).orderBy(col("c_custkey"))),

    "q16_semi_join" -> ((s, d) =>
      t(s, d, "supplier")
        .join(t(s, d, "customer"), col("s_nationkey") === col("c_nationkey"), "left_semi")
        .select(col("s_suppkey")).orderBy(col("s_suppkey"))),

    // ---- event-time windows + window functions (SURVEY §2.6) ----
    "q17_window_tumble" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("cnt"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type"))),

    "q18_window_rank" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate"), col("o_orderkey"))))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))),

    "q19_window_running" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_orderkey"), 1).over(w).as("prev_ok"),
        sum(col("o_totalprice").cast("decimal(38,9)"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ---- sorts / limits / top-k ----
    "q20_topk" -> ((s, d) =>
      t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)),

    // ---- set operations ----
    "q21_except" -> ((s, d) =>
      t(s, d, "customer").select(col("c_custkey").as("key"))
        .except(t(s, d, "orders").select(col("o_custkey").as("key")))
        .orderBy(col("key"))),

    "q22_union" -> ((s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nk"))
        .union(t(s, d, "supplier").select(col("s_nationkey").as("nk")))
        .distinct().orderBy(col("nk"))),

    "q23_intersect" -> ((s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("nk"))
        .intersect(t(s, d, "nation").select(col("n_nationkey").as("nk")))
        .orderBy(col("nk"))),

    // ---- scalar function registry battery (SURVEY §2.6) ----
    "q24_scalar_battery" -> ((s, d) =>
      t(s, d, "lineitem").where(col("l_orderkey") % 500 === 0)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          abs(col("l_discount") - 0.05).as("a"),
          round(col("l_extendedprice"), 1).as("r"),
          length(concat(col("l_returnflag"), col("l_linestatus"))).cast("long").as("len"),
          substring(col("l_returnflag"), 1, 1).as("st"),
          when(col("l_linestatus") === "O", "X").otherwise(col("l_linestatus")).as("c"),
          year(col("l_shipdate")).as("y"),
          month(col("l_shipdate")).as("m"),
          dayofmonth(col("l_shipdate")).as("dd"),
          greatest(col("l_quantity"), lit(25.0)).as("g"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // ---- UDAF surface: typed Aggregator (SURVEY §4.2, reference A2) ----
    "q25_udaf_count_total" -> ((s, d) => {
      val cta = udaf(new CountAndTotalAggregator)
      t(s, d, "lineitem")
        .groupBy(concat_ws("-", col("l_orderkey"), col("l_partkey")).as("k"))
        .agg(cta(col("l_quantity")).as("ct"))
        .select(col("k"), col("ct.count").as("count"), col("ct.total").as("total"))
        .orderBy(col("k"))
    }),

    // ---- dedup family (north star) ----
    "q26_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(t(s, d, "documents"), "doc_id", "text")
        .select(col("keep_id"), col("dup_cnt")).orderBy(col("keep_id"))),

    "q27_dedup_ngram" -> ((s, d) =>
      Dedup.ngramJaccardPairs(
        t(s, d, "documents").where(col("doc_id") % 5 === 0),
        "doc_id", "text", n = 3, threshold = 0.02)
        .orderBy(col("id_a"), col("id_b"))),

    "q28_dedup_minhash" -> ((s, d) => // oracle recomputes the md5 hash family
      Dedup.minhashLshCandidates(
        t(s, d, "documents").where(col("doc_id") % 5 === 0),
        "doc_id", "text", n = 3, k = 16, rowsPerBand = 1)
        .orderBy(col("id_a"), col("id_b"))),

    "q29_simhash" -> ((s, d) => // fingerprints as unsigned hex (portable)
      t(s, d, "documents")
        .select(col("doc_id"),
          format_string("%016x",
            GraftFunctions.simhash64(TextFunctions.words(col("text")))).as("fp"))
        .orderBy(col("doc_id"))),

    "q30_dedup_embedding" -> ((s, d) =>
      Dedup.embeddingNearDupPairs(t(s, d, "embeddings"),
        "vec_id", "embedding", blockCol = "label", threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- similarity search (north star) ----
    "q31_cosine_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(t(s, d, "embeddings"),
        "vec_id", "embedding", queryId = 0L, k = 10)),

    "q32_ann_lsh" -> ((s, d) => // full oracle: q32Oracle re-derives the buckets
      Similarity.lshTopK(t(s, d, "embeddings"),
        "vec_id", "embedding", queryId = 0L, k = 10)),

    // top-k per group via a bounded typed Aggregator: the shuffle carries
    // at most k (score,id) pairs per group per map task (partial
    // aggregation), where the row_number window idiom the oracle runs
    // shuffles and sorts the whole table
    "q94_topk_per_group" -> ((s, d) => {
      val topk = udaf(new graft.functions.TopKAggregator(3))
      t(s, d, "part")
        .groupBy(col("p_brand"))
        .agg(topk(col("p_retailprice"), col("p_partkey")).as("ids"))
        .select(col("p_brand"), posexplode(col("ids")).as(Seq("rank", "p_partkey")))
        .select(col("p_brand"), (col("rank") + 1).cast("long").as("rank"),
          col("p_partkey"))
        .orderBy(col("p_brand"), col("rank"))
    }),

    // the final training artifact: pack documents by REAL BPE token
    // budget, then materialize each training sequence's concatenated id
    // stream (order = pack order). Group concat is order-deterministic
    // via array_sort(collect_list(struct(seq_pos, ids))) — collect_list
    // alone is partitioning-dependent
    "q97_pack_ids" -> ((s, d) => {
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
    }),

    // text -> tensor prep: fixed-length BPE id sequences (UNK=1, PAD=0)
    // per doc — the step that feeds training; map-only imperative
    // expression, oracle replays tokenization, vocab lookup, truncation,
    // and padding exactly
    "q96_encode_ids" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          // battery canonical form (space-joined string): the driver's
          // pandas row-sort can't hash array cells; bpe_encode_ids
          // stays array-returning for API users
          array_join(GraftFunctions.bpe_encode_ids(col("text"), 24)
            .cast("array<string>"), " ").as("ids"))
        .orderBy(col("doc_id"))),

    // batched ANN (candidate generation): k nearest corpus neighbors for
    // EVERY query at once — LSH bucket equi-join (never all-pairs), one
    // cosine per surviving pair, pair-dedupe, bounded top-k aggregate
    // per query; ranking on the 4dp sim with id tiebreak so the oracle
    // replays buckets, pairs, and ranks exactly
    "q95_batch_ann" -> ((s, d) => {
      val embs = t(s, d, "embeddings")
      Similarity.batchLshTopK(embs, embs.where(col("vec_id") % 50 === 0),
        "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // metadata-filtered vector search: exact top-k among docs passing a
    // lang filter (semi-join pre-filter -> guaranteed k, exact recall);
    // the query vector comes from the unfiltered table
    "q93_filtered_ann" -> ((s, d) =>
      Similarity.filteredTopK(t(s, d, "embeddings"),
        t(s, d, "documents").where(col("lang") === "de"),
        "vec_id", "doc_id", "embedding", queryId = 0L, k = 10)),

    // ---- text analysis (north star) ----
    "q33_lang_id" -> ((s, d) =>
      TextAnalysis.languageId(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    "q34_quality" -> ((s, d) =>
      TextAnalysis.quality(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    "q35_token_count" -> ((s, d) =>
      TextAnalysis.tokenCounts(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    "q36_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprints(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    "q37_dedup_events" -> ((s, d) => // streaming-dedup batch twin
      t(s, d, "events")
        .groupBy(col("user_id"), col("event_type"),
          // date_trunc promotes NTZ input back to (tz-aware) TIMESTAMP;
          // cast back so the parquet output stays naive like the oracle's
          date_trunc("minute", col("ts")).cast("timestamp_ntz").as("minute"))
        .agg(min(col("event_id")).as("keep_event"), count(lit(1)).as("n"))
        .orderBy(col("user_id"), col("event_type"), col("minute"))),

    // ---- multimodal columns (north star) ----
    "q38_multimodal_meta" -> ((s, d) =>
      Multimodal.documentMediaPipeline(s, t(s, d, "documents"))
        .select(col("media_id"), col("kind"), col("n_bytes"))
        .orderBy(col("media_id"))),

    "q39_multimodal_decode" -> ((s, d) => // full decode; oracle recomputes
      Multimodal.documentMediaPipeline(s, t(s, d, "documents")) // the byte fold
        .orderBy(col("media_id"))),

    // ---- topology batch twins (SURVEY §3.1-3.2 lifecycle) ----
    "q40_purchases_topology" -> ((s, d) => {
      val records = t(s, d, "events").select(to_json(struct(
        col("user_id").cast("int").as("customerId"),
        get_json_object(col("props"), "$.k").cast("int").as("productId"),
        lit(1).as("quantity"))).as("value"))
      Topologies.purchases(Topologies.parsePurchases(records)).orderBy(col("k"))
    }),

    "q41_uppercase_topology" -> ((s, d) => {
      val (ok, _) = Topologies.uppercaseSplit(
        t(s, d, "documents").select(col("doc_id"), col("text").as("value")))
      ok.select(col("doc_id"), col("value").as("v")).orderBy(col("doc_id"))
    }),

    // ---- session + sliding event-time windows (SURVEY §2.6) ----
    "q42_session_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "5 minutes"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("cnt"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start"))),

    "q43_sliding_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("cnt"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type"))),

    // ---- record-metadata columns (P6) via the io/ source abstraction ----
    "q44_metadata_cols" -> ((s, d) =>
      graft.io.FileSource(s"$d/documents.parquet", withMetadata = true)
        .read(s)
        .select(col("doc_id"), col("partition"), col("offset"))
        .orderBy(col("doc_id"))),

    // ---- composed training-data cleaning pipeline (north-star E2E) ----
    "q45_training_pipeline" -> ((s, d) =>
      graft.pipelines.TrainingData.clean(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ---- cube (A4: grouping-set aggregates beyond rollup) ----
    "q46_cube" -> ((s, d) =>
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // ---- VariantType JSON path (SURVEY §1.2: schema-less JSON idiom) ----
    "q47_variant_json" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          try_variant_get(parse_json(col("props")), "$.k", "int").as("k"),
          // variant round-trip: parse once, render normalized
          to_json(parse_json(col("props"))).as("props_norm"))
        .orderBy(col("event_id"))),

    // ---- skew-salted aggregation: must equal the plain GROUP BY ----
    "q48_salted_agg" -> ((s, d) =>
      graft.operators.Skew.saltedAgg(
        t(s, d, "orders").select(col("o_custkey"), col("o_totalprice")),
        "o_custkey", "o_totalprice")
        .orderBy(col("o_custkey"))),

    // ---- as-of join: purchase -> latest click attribution per user ----
    "q49_asof_join" -> ((s, d) => {
      val events = t(s, d, "events")
      graft.operators.AsOfJoin.asOf(
        events.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts")),
        events.where(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("value")),
        "user_id", "ts", "value", asOfCol = "click_value")
        .orderBy(col("event_id"))
    }),

    // ---- per-language quality: stopword share matched to each doc's own
    // predicted language (multilingual-corpus fix for q34's English-only
    // weighting) ----
    "q51_quality_multilang" -> ((s, d) =>
      TextAnalysis.qualityByLang(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ---- transitive-closure near-dup grouping: min-reachable-id label per
    // doc over the q27 candidate pair graph (iterative label propagation;
    // oracle recomputes it with a recursive CTE) ----
    "q52_dedup_components" -> ((s, d) =>
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(
          t(s, d, "documents").where(col("doc_id") % 5 === 0),
          "doc_id", "text", n = 3, threshold = 0.02))
        .orderBy(col("id"))),

    // ---- grouping sets via the SQL-TEXT surface (A4 completion; also
    // exercises spark.sql + temp-view registration end-to-end) ----
    "q53_grouping_sets" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT l_returnflag, l_linestatus,
                 CAST(sum(CAST(l_quantity AS DECIMAL(38,9))) AS DOUBLE) AS sum_qty,
                 count(*) AS cnt
               FROM lineitem_v
               GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
               ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
    }),

    // ---- multi-distinct aggregates (Expand-based plan; A4 completion) ----
    "q54_distinct_agg" -> ((s, d) =>
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(count_distinct(col("l_partkey")).as("dparts"),
          count_distinct(col("l_suppkey")).as("dsupps"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"))),

    // ---- exact percentiles (continuous + discrete). Exact `percentile`
    // holds per-group values, so at 100 TB the production path is
    // approx_percentile (t-digest, not cross-engine hash-matchable — its
    // accuracy is gated in ApproxAggSpec instead); the exact form is what
    // the oracle can verify digit-for-digit ----
    "q55_percentile" -> ((s, d) =>
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("p50_qty"),
          expr("percentile(l_extendedprice, 0.9)").as("p90_price"),
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice)")
            .as("p25_price"))
        .orderBy(col("l_returnflag"))),

    // ---- outer joins: full outer (both-side null preservation via
    // coalesce) + left join whose aggregate skips unmatched nulls ----
    "q56_outer_joins" -> ((s, d) => {
      val custByNation = t(s, d, "customer")
        .groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("c_cnt"))
      val suppByNation = t(s, d, "supplier")
        .groupBy(col("s_nationkey").as("nk2")).agg(count(lit(1)).as("s_cnt"))
      val ordersByNation = t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_nationkey").as("nk3"))
        .agg(count(col("o_orderkey")).as("n_orders")) // count() skips nulls
      custByNation.join(suppByNation, col("nk") === col("nk2"), "full")
        .select(coalesce(col("nk"), col("nk2")).as("nk"),
          col("c_cnt"), col("s_cnt"))
        .join(ordersByNation, col("nk") === col("nk3"), "left")
        .select(col("nk"), col("c_cnt"), col("s_cnt"), col("n_orders"))
        .orderBy(col("nk"))
    }),

    // ---- window-function frame variants: dense_rank / ntile / lead /
    // first+last over an explicit unbounded frame ----
    "q57_window_frames" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders").select(
          col("o_custkey"), col("o_orderkey"),
          dense_rank().over(w).as("dr"),
          ntile(4).over(w).as("quartile"),
          lead(col("o_orderkey"), 1).over(w).as("next_ok"),
          first(col("o_orderkey")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .as("first_ok"),
          last(col("o_orderkey")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .as("last_ok"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ---- pivot (groupBy().pivot() -> one column per pivoted key). An
    // EMPTY cell pivots to NULL in Spark but counts to 0 in the oracle's
    // conditional-aggregation twin — fill to 0 so the two agree on any
    // fixture (the current one happens to populate every cell) ----
    "q58_pivot" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("F", "O"))
        .orderBy(col("l_returnflag"))),

    // ---- higher-order array functions (transform/filter/aggregate/sort/
    // slice) over the tokenized documents ----
    "q59_array_funcs" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextFunctions.words(col("text")).as("ws"))
        .where(size(col("ws")) > 0)
        .select(
          col("doc_id"),
          size(filter(col("ws"), w => length(w) > 4)).cast("long").as("n_long_words"),
          aggregate(col("ws"), lit(0L), (acc, w) => acc + length(w)).as("total_chars"),
          array_max(transform(col("ws"), w => length(w))).cast("long").as("max_word_len"),
          concat_ws(",", slice(sort_array(col("ws")), 1, 3)).as("first3_sorted"))
        .orderBy(col("doc_id"))),

    // ---- REAL media decode under oracle: synthesize a to-spec WAV per
    // doc_id, parse it with the RIFF chunk walk, and let the oracle
    // recompute the expected metadata arithmetically ----
    "q60_multimodal_wav" -> ((s, d) =>
      Multimodal.syntheticWavPipeline(s, t(s, d, "documents"), "doc_id")
        .select(col("media_id"), col("n_bytes"), col("duration_ms"))
        .orderBy(col("media_id"))),

    // ---- bag-semantics set ops (unionAll / exceptAll / intersectAll keep
    // duplicate multiplicity, unlike q21-q23's set semantics) ----
    "q61_bag_set_ops" -> ((s, d) => {
      val a = t(s, d, "customer").select(col("c_nationkey").as("nk"))
      val b = t(s, d, "supplier").select(col("s_nationkey").as("nk"))
      a.unionAll(b).groupBy(col("nk")).agg(count(lit(1)).as("u_cnt"))
        .join(a.exceptAll(b).groupBy(col("nk")).agg(count(lit(1)).as("e_cnt")),
          Seq("nk"), "left")
        .join(a.intersectAll(b).groupBy(col("nk")).agg(count(lit(1)).as("i_cnt")),
          Seq("nk"), "left")
        .orderBy(col("nk"))
    }),

    // ---- null-safe equality (<=>): a NULL key matches a NULL key, unlike
    // plain = which drops both ----
    "q62_nullsafe_join" -> ((s, d) => {
      val a = t(s, d, "events")
        .groupBy(nullif(col("user_id") % 7, lit(3)).as("ka"))
        .agg(count(lit(1)).as("a_cnt"))
      val b = t(s, d, "orders")
        .groupBy(nullif(col("o_custkey") % 7, lit(3)).as("kb"))
        .agg(count(lit(1)).as("b_cnt"))
      a.join(b, col("ka") <=> col("kb"))
        .select(col("ka"), col("a_cnt"), col("b_cnt"))
        .orderBy(col("ka").asc_nulls_first)
    }),

    // ---- cheap-filter -> exact-verify: the n-gram candidate pairs get an
    // exact edit-distance check (the standard two-stage near-dup pattern:
    // sub-quadratic candidate generation, exact metric only on survivors) ----
    "q63_edit_distance" -> ((s, d) => {
      val docs = t(s, d, "documents").where(col("doc_id") % 5 === 0)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.02)
      pairs
        .join(docs.select(col("doc_id").as("id_a"), col("text").as("ta")), Seq("id_a"))
        .join(docs.select(col("doc_id").as("id_b"), col("text").as("tb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          levenshtein(col("ta"), col("tb")).as("edit_dist"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- REAL media resize under oracle: synthesize a BMP per doc_id,
    // resize the pixel bytes (nearest-neighbor), and let the oracle
    // recompute the expected dimensions and byte count arithmetically ----
    "q64_multimodal_resize" -> ((s, d) =>
      Multimodal.syntheticBmpResizePipeline(s, t(s, d, "documents"),
        "doc_id", maxW = 8, maxH = 8)
        .select(col("media_id"), col("width"), col("height"), col("n_bytes"))
        .orderBy(col("media_id"))),

    // ---- correlated scalar subqueries (Catalyst decorrelation: each
    // becomes an aggregated left join; the COUNT one must coalesce empty
    // groups to 0, the classic COUNT-bug case) ----
    "q65_subq" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_v")
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      s.sql("""SELECT c_custkey,
                 (SELECT max(o_totalprice) FROM orders_v o
                  WHERE o.o_custkey = c.c_custkey) AS max_price,
                 (SELECT count(*) FROM orders_v o
                  WHERE o.o_custkey = c.c_custkey) AS n_orders
               FROM customer_v c
               ORDER BY c_custkey""")
    }),

    // ---- CTE referenced twice: once as the output relation, once inside
    // a scalar subquery over the same aggregate ----
    "q66_cte" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      s.sql("""WITH co AS (
                 SELECT o_custkey AS ck, count(*) AS cnt
                 FROM orders_v GROUP BY o_custkey)
               SELECT ck, cnt FROM co
               WHERE cnt * 2 >= (SELECT max(cnt) FROM co)
               ORDER BY ck""")
    }),

    // ---- unpivot: wide numeric columns to (attr, val) rows (oracle is the
    // semantically identical UNION ALL) ----
    "q67_unpivot" -> ((s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"), col("p_size").cast("double").as("size"),
          col("p_retailprice").as("retail"))
        .unpivot(Array(col("p_partkey")), Array(col("size"), col("retail")),
          "attr", "val")
        .orderBy(col("p_partkey"), col("attr"))),

    // ---- map build/explode round-trip: per-nation segment counts packed
    // into a map<string,long> via map_from_entries, then exploded back out
    // (values are data-derived, so the oracle checks real plumbing) ----
    "q68_map_agg" -> ((s, d) =>
      t(s, d, "customer")
        .groupBy(col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("nk"))
        .agg(map_from_entries(
          array_sort(collect_list(struct(col("seg"), col("cnt"))))).as("m"))
        .select(col("nk"), explode(col("m")))
        .select(col("nk"), col("key").as("seg"), col("value").as("cnt"))
        .orderBy(col("nk"), col("seg"))),

    // ---- date/interval battery: trunc / last_day / add_months / datediff /
    // year / quarter (month-arithmetic applied post-trunc, so both engines'
    // end-of-month clamping rules are never exercised ambiguously) ----
    "q69_dates" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
        .select(col("o_orderkey"), col("od"),
          trunc(col("od"), "month").as("mon"),
          last_day(col("od")).as("eom"),
          add_months(trunc(col("od"), "month"), 2).as("mon2"),
          datediff(lit("1998-12-31").cast("date"), col("od")).as("days_left"),
          year(col("od")).as("yr"),
          quarter(col("od")).as("qtr"))
        .orderBy(col("o_orderkey"))),

    // ---- ordered string aggregation (listagg): distinct segments per
    // nation joined in sorted order ----
    "q70_listagg" -> ((s, d) =>
      t(s, d, "customer")
        .select(col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"))
        .distinct()
        .groupBy(col("nk"))
        .agg(array_join(array_sort(collect_set(col("seg"))), ",").as("segs"),
          count(lit(1)).as("n_seg"))
        .orderBy(col("nk"))),

    // ---- conditional aggregation (FILTER-clause semantics): counts and an
    // exact decimal sum restricted by per-row predicates, next to the
    // unrestricted count ----
    "q71_condagg" -> ((s, d) =>
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(
          count(when(col("l_quantity") > 25, 1)).as("hi_cnt"),
          count(when(col("l_discount") === 0, 1)).as("nodisc_cnt"),
          sum(when(col("l_quantity") > 25, col("l_extendedprice"))
              .cast("decimal(38,9)"))
            .cast("decimal(38,2)").cast("string").as("hi_price"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"))),

    // ---- pre-planned skew join: build side replicated per salt bucket,
    // probe side salted — result provably identical to the plain join
    // (oracle IS the plain join) ----
    "q72_salted_join" -> ((s, d) => {
      val probe = t(s, d, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val build = t(s, d, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      val (p, b, cond) = graft.operators.Skew.saltedJoinKeys(probe, build, "l_orderkey")
      p.join(b, cond)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), dsum(p("l_quantity")).as("total"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- cross-run incremental dedup, first batch against an empty
    // fingerprint table: novel set == exact-dedup survivors (the oracle);
    // the persistent-table path itself (in-batch collapse + anti-join +
    // fingerprint write) is what executes ----
    "q73_dedup_incr" -> ((s, d) => {
      // child path must NOT pre-exist: an existing-but-empty dir reads as a
      // schema-less parquet table, not the PATH_NOT_FOUND first-batch case
      val fpDir = java.nio.file.Files.createTempDirectory("graft-fp-")
        .resolve("fp_table").toString
      Dedup.incrementalExactDedup(t(s, d, "documents"), "doc_id", "text", fpDir)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // ---- winnowing (MOSS) fingerprints: positional k-gram hashes, min per
    // sliding window — the local-similarity fingerprint (q36 is the
    // whole-document digest); oracle recomputes hash + selection exactly ----
    "q74_winnow" -> ((s, d) =>
      TextAnalysis.winnowFingerprints(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("fp"))),

    // ---- range (band) join via bucketized equi-join: price-band neighbor
    // pairs, provably identical to the theta join the oracle runs (the
    // bucket id turns the pure range predicate into one hash shuffle
    // instead of a BroadcastNestedLoopJoin) ----
    "q75_range_join" -> ((s, d) => {
      val part = t(s, d, "part")
      graft.operators.RangeJoin.bandJoin(
        part.where(col("p_partkey") % 10 === 0), part,
        "p_retailprice", "p_partkey", "p_partkey", band = 2.5, step = 5.0)
        .orderBy(col("anchor_id"), col("member_id"))
    }),

    // ---- deterministic train/val/test split: membership is a pure hash of
    // the id (binary-exact cumulative bounds 0.5/0.75), so the oracle
    // recomputes the exact same assignment ----
    "q76_hash_split" -> ((s, d) =>
      graft.operators.Sampling.hashSplit(t(s, d, "documents"), "doc_id",
        Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("cnt"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("split"))),

    // ---- stratified deterministic sampling: per-language keep fractions
    // (binary-exact: 0.25/1.0/0.5, default 0.125), membership a pure hash
    // of doc_id — oracle recomputes language AND membership ----
    "q77_stratified" -> ((s, d) =>
      graft.operators.Sampling.stratifiedHashSample(
        t(s, d, "documents").select(col("doc_id"),
          TextFunctions.langId(col("text")).as("lang_pred")),
        "doc_id", "lang_pred",
        Map("en" -> 0.25, "de" -> 1.0, "fr" -> 0.5), defaultFraction = 0.125)
        .groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("cnt"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang_pred"))),

    // ---- boilerplate detector: shingles shared by many documents (the
    // posting-list df tail the dedup cap drops is the ANSWER here) ----
    "q78_boilerplate" -> ((s, d) =>
      TextAnalysis.hotShingles(t(s, d, "documents"), "doc_id", "text",
        n = 3, minDf = 5)
        .orderBy(col("df").desc, col("shingle"))),

    // ---- interval-overlap join (bucketized, exactly-once per pair):
    // anchor price intervals vs member price intervals; oracle is the
    // plain theta join ----
    "q79_interval_join" -> ((s, d) => {
      val part = t(s, d, "part")
      val a = part.where(col("p_partkey") % 10 === 0).select(
        col("p_partkey").as("anchor_id"),
        (col("p_retailprice") - 2.5).as("alo"),
        (col("p_retailprice") + 2.5).as("ahi"))
      val b = part.where(col("p_partkey") % 10 =!= 0).select(
        col("p_partkey").as("member_id"),
        (col("p_retailprice") - 1.5).as("blo"),
        (col("p_retailprice") + 1.5).as("bhi"))
      graft.operators.RangeJoin.intervalOverlap(a, "alo", "ahi", b, "blo", "bhi",
        step = 5.0)
        .select(col("anchor_id"), col("member_id"))
        .orderBy(col("anchor_id"), col("member_id"))
    }),

    // ---- SCD-1 upsert (anti-join merge, no table format): doubled prices
    // for every 7th order shadow the originals; oracle is the equivalent
    // CASE projection since these updates touch existing keys only ----
    "q80_upsert" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val updates = orders.where(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      graft.io.Merge.upsert(orders, updates, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- lexical term statistics (BM25/TF-IDF inputs): exact-integer
    // tf/df/doc_len per (doc, query term) — the double-valued scorer stays
    // out of the hash oracle (cross-engine ln() is not bit-guaranteed)
    // and is spec-gated instead ----
    "q81_term_stats" -> ((s, d) =>
      TextAnalysis.termStats(t(s, d, "documents"), "doc_id", "text",
        Seq("data", "model", "table", "query"))
        .orderBy(col("doc_id"), col("term"))),

    // corpus token-frequency audit over the REAL merges-table BPE
    // (functions.Bpe): explode the token sequence, count per token. The
    // oracle replays the identical merge rules in a recursive CTE, so a
    // single mis-merged word anywhere in the corpus fails the hash.
    "q82_bpe_vocab" -> ((s, d) =>
      t(s, d, "documents")
        .select(explode(GraftFunctions.bpe_tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))),

    // benchmark decontamination (pair report): corpus docs containing
    // >= 80% of a probe doc's distinct 3-gram shingles; probes drawn
    // deterministically from the corpus (doc_id % 17) so self-pairs are
    // excluded. Probe postings broadcast; corpus side stays map-only.
    "q83_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.contaminationPairs(docs,
        docs.where(col("doc_id") % 17 === 0), "doc_id", "text",
        n = 3, threshold = 0.8, excludeSelfIds = true)
        .orderBy(col("corpus_id"), col("probe_id"))
    }),

    // Gopher-style repetition gates: duplicate-bigram fraction and
    // top-bigram share per doc — ONE map-only imperative expression
    // (RepetitionStats), zero shuffles, vs explode+double-aggregate
    "q84_repetition" -> ((s, d) =>
      TextAnalysis.repetition(t(s, d, "documents"), "doc_id", "text", n = 2)
        .orderBy(col("doc_id"))),

    // greedy sequential sequence packing (token-budget training sequences
    // per shard): the assignment is a pure function of (shard, id order,
    // ws token counts) — one shard exchange + a partition-local forward
    // pass — so the oracle replays it exactly with a recursive CTE
    "q85_seq_pack" -> ((s, d) =>
      graft.operators.Packing.packGreedy(
        t(s, d, "documents")
          .withColumn("shard", col("doc_id") % 8)
          .withColumn("tokens", TextFunctions.wsTokenCount(col("text"))),
        "doc_id", "tokens", "shard", budget = 256L)
        .orderBy(col("doc_id"))),

    // rule-based PII scrub (emails / phones / IPv4) over text composed
    // deterministically from customer columns; per-rule counts + md5 of
    // the redacted text. Map-only regex built-ins; the rules use the
    // Java-regex/RE2 common subset so the oracle replays the exact
    // redaction.
    "q86_pii_redact" -> ((s, d) => {
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
    }),

    // symmetric int8 embedding quantization (the 1-byte/dim ANN storage
    // path): every step is IEEE-exact (double widening, one division, one
    // multiply-add, floor), so the oracle recomputes the identical codes —
    // per-vector code sum and saturation count hash-match bit-for-bit
    "q87_quantize_int8" -> ((s, d) =>
      graft.operators.Quantization.quantize(t(s, d, "embeddings"), "embedding")
        .select(col("vec_id"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
          size(filter(col("q"), x => abs(x) === 127)).cast("long").as("n_sat"))
        .orderBy(col("vec_id"))),

    // embedding-space drift: centroid cosine between two slices — each
    // slice collapses to dim rows in one decimal-exact hash aggregate
    // (cos of sums == cos of means, scale-invariant), one-row output
    "q103_embedding_drift" -> ((s, d) => {
      val embs = t(s, d, "embeddings")
      graft.operators.Drift.embeddingCentroidCos(
        embs.where(col("vec_id") % 2 === 0),
        embs.where(col("vec_id") % 2 === 1), "embedding")
    }),

    // duplicate-SPAN detection (substring-level dedup, Lee et al. 2022):
    // corpus-wide 8-token-window counts carried as md5-prefix fingerprints,
    // semi-join back, spans merged by the gaps-and-islands identity the
    // oracle replicates verbatim — catches boilerplate embedded inside
    // otherwise-unique documents that document-level dedup misses
    "q104_dup_spans" -> ((s, d) =>
      graft.operators.Dedup.duplicateSpans(
        t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // cross-run duplicate-span detection: first batch against an empty
    // count table ≡ the batch operator, so q104's oracle applies verbatim
    // — pins the incremental path's counting, join-back, and span merge
    "q105_dup_spans_incr" -> ((s, d) => {
      val spanDir = graft.io.Spill.tempDir("graft-spans-") + "/counts"
      graft.operators.Dedup.incrementalDuplicateSpans(
        t(s, d, "documents"), "doc_id", "text", spanDir)
        .orderBy(col("doc_id"))
    }),

    // policy dedup: corpus unioned with a simulated recrawl (same texts,
    // shifted ids, source='recrawl'); even-id recrawl copies carry higher
    // priority and win their group, odd-id ones tie and lose to min-id —
    // both branches of the packed max_by selection exercised
    "q106_dedup_priority" -> ((s, d) => {
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
    }),

    // temperature mixing (alpha=0.5 flattens the source distribution;
    // up-weighted sources repeat with mix_copy) — per-source aggregate
    // pins counts, kept mass, and the exact copy multiset
    "q107_temperature_mix" -> ((s, d) =>
      graft.operators.Mixing.mixByTemperature(
          t(s, d, "documents"), "doc_id", "source", "n_chars",
          alpha = 0.5, totalBudget = 180000, salt = "t")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("n_chars")).cast("long").as("kept_chars"),
          sum(col("doc_id") * col("mix_copy")).cast("long").as("copy_id_sum"))
        .orderBy(col("source"))),

    // policy variant of q110: keep each semantic cluster's highest-
    // priority member (mock freshness = vec_id % 7) instead of min id
    "q112_semantic_dedup_by" -> ((s, d) =>
      graft.operators.Dedup.semanticDedupBy(t(s, d, "embeddings"),
          "vec_id", "embedding", blockCol = "label", threshold = 0.4,
          priority = col("vec_id") % 7)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))),

    // per-language tokenizer fertility: BPE tokens per whitespace word +
    // chars per BPE token — exact integer sums, one scan, one hash agg
    "q111_tokenizer_fertility" -> ((s, d) =>
      graft.operators.TextAnalysis.tokenizerFertility(
          t(s, d, "documents"), "lang", "text")
        .orderBy(col("lang"))),

    // SemDeDup end-to-end: blocked cosine pairs -> connected components
    // -> min-id representative per semantic cluster -> survivors
    "q110_semantic_dedup" -> ((s, d) =>
      graft.operators.Dedup.semanticDedup(t(s, d, "embeddings"),
          "vec_id", "embedding", blockCol = "label", threshold = 0.4)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))),

    // cross-run semantic dedup: first batch against an empty embedding
    // history ≡ the in-batch semanticDedup — pins the incremental path's
    // history projection, cross-join shape, and component/anti-join tail
    // to q110's oracle verbatim (cross-batch catches are spec-pinned in
    // IncrementalDedupSpec)
    "q117_semantic_incr" -> ((s, d) => {
      val histDir = graft.io.Spill.tempDir("graft-semh-") + "/emb"
      graft.operators.Dedup.incrementalSemanticDedup(t(s, d, "embeddings"),
          "vec_id", "embedding", blockCol = "label", threshold = 0.4,
          histTablePath = histDir)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    // deterministic shard plan: per-shard row/byte balance of the
    // hash-assigned export shards — the pre-export check; assignment is
    // map-only, the report is one tiny aggregate
    "q116_shard_plan" -> ((s, d) =>
      graft.operators.Sampling.shardAssign(
          t(s, d, "documents"), "doc_id", nShards = 8, salt = "ex")
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("chars"),
          min(col("doc_id")).as("min_id"))
        .orderBy(col("shard"))),

    // per-domain census over URL-carrying docs: host + registered-domain
    // extraction are map-only regex/slice expressions, the rollup one
    // hash aggregate; URLs are derived deterministically from fixture
    // columns (the tables carry no url column) so the oracle replays the
    // construction AND the parse character for character
    "q118_domain_rollup" -> ((s, d) =>
      graft.operators.Urls.domainRollup(
          t(s, d, "documents").withColumn("url", syntheticUrl),
          "url", "n_chars")
        .orderBy(col("domain"))),

    // C4-style domain gate: blocklist drops a domain outright, each
    // surviving domain keeps its `maxPerDomain` smallest doc_ids; only
    // over-cap domains pay the rank window (plan splits under/over on a
    // tiny count aggregate)
    "q119_domain_gate" -> ((s, d) =>
      graft.operators.Urls.domainGate(
          t(s, d, "documents").withColumn("url", syntheticUrl),
          "url", "doc_id",
          blocklist = Seq("example.org"), maxPerDomain = 40)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))),

    // trainable multinomial Naive Bayes, fit AND scored declaratively:
    // train on the even-doc_id half (label = lang), classify the odd
    // half. Training is counting, so the oracle re-derives the model
    // (priors/conds/defaults with Laplace smoothing) and every
    // prediction. The fixture's lang is independent of its text by
    // construction, so this validates the COMPUTATION end to end;
    // separability/accuracy is NaiveBayesSpec's generated-corpus job
    "q123_nb_classify" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.words(col("text")).as("w"))
      // the model is a TABLE: materialize it once (the deployment shape
      // — a persisted model parquet) so classify's three model
      // consumers scan it instead of re-running the fit per subtree
      val model = graft.io.Spill(graft.operators.NaiveBayes.train(
        docs.where(col("doc_id") % 2 === 0), "lang", "w"), "graft-nb-")
      graft.operators.NaiveBayes.classify(
          docs.where(col("doc_id") % 2 === 1), "doc_id", "w", model)
        .orderBy(col("doc_id"))
    }),

    // the same NB fit+classify over HASHED word features — the fastText
    // hashing trick: the model table is bounded at labels x buckets rows
    // no matter the corpus vocabulary, so the classify broadcast stays
    // fixed-size at any corpus scale (raw word features grow with web
    // vocabulary). Same plan; only the token fold differs
    "q132_nb_hashed" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
        graft.operators.NaiveBayes.hashedTokens(
          graft.functions.TextFunctions.words(col("text")), 512, "nbh")
          .as("w"))
      val model = graft.io.Spill(graft.operators.NaiveBayes.train(
        docs.where(col("doc_id") % 2 === 0), "lang", "w"), "graft-nbh-")
      graft.operators.NaiveBayes.classify(
          docs.where(col("doc_id") % 2 === 1), "doc_id", "w", model)
        .orderBy(col("doc_id"))
    }),

    // the same NB fit+classify over CHAR 2-4-GRAM features — the
    // fastText-posture language-ID tokenizer: char grams don't fragment
    // on short/low-resource text the way word unigrams do. Same
    // counting-is-training plan; only the tokenizer expression differs
    "q127_nb_chargram" -> ((s, d) => {
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
      val model = graft.io.Spill(graft.operators.NaiveBayes.train(
        docs.where(col("doc_id") % 2 === 0), "lang", "g"), "graft-nbg-")
      graft.operators.NaiveBayes.classify(
          docs.where(col("doc_id") % 2 === 1), "doc_id", "g", model)
        .orderBy(col("doc_id"))
    }),

    // registered-domain extraction under a real public-suffix-list rule
    // table (plain + wildcard rules; the data-driven alternative to the
    // q118 heuristic): candidate suffixes explode map-side bounded by
    // the longest rule, the match is a broadcast equi-join over the
    // rules-as-data, the prevailing-rule pick one bounded aggregate per
    // DISTINCT host — the oracle replays rules, pick, and slicing
    "q122_psl_domains" -> ((s, d) =>
      graft.operators.Urls.withDomainPsl(
          t(s, d, "documents").withColumn("url", syntheticUrl),
          "url", Seq("com", "uk", "co.uk", "*.org"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"))
        .orderBy(col("domain"))),

    // PQ (product-quantization) ADC ranking: vectors compressed to m=4
    // one-byte codes, ranked against an uncompressed query by m table
    // lookups per row. The codebook here is SYNTHETIC integer arithmetic
    // (/8 keeps every centroid an exact dyadic double) so the oracle
    // re-derives codebook, codes, distance table, and ranking from pure
    // SQL; TRAINED codebooks (k-means per subspace) are PqSpec's domain.
    // Query vector = vec 0's raw embedding (one-row driver edge, the
    // q31/ivfTopK posture)
    "q121_pq_adc" -> ((s, d) => {
      val embs = t(s, d, "embeddings")
      val qv = embs.where(col("vec_id") === 0L)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      graft.operators.Quantization.pqAdcTopK(
        graft.operators.Quantization.pqEncode(
          embs, "embedding", syntheticPqCodebook),
        "vec_id", "pq", syntheticPqCodebook, qv, k = 10, excludeId = 0L)
    }),

    // URL canonicalization — the pre-dedup key normalization (fragment,
    // scheme/host case, default ports, trailing slashes, tracking
    // params). Map-only: three regexes + one filter HOF per row, noise
    // derived deterministically so the oracle replays construction AND
    // canonicalization character for character
    "q120_url_canon" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.operators.Urls.canonicalUrl(noisyUrl).as("canon_url"))
        .orderBy(col("doc_id"))),

    // url-keyed exact dedup (the pipeline's stage 0b as a standalone
    // oracle row): synthetic urls that differ ONLY by crawl noise (host
    // case, :443 on https, trailing slash, utm params, fragments)
    // collapse onto one canonical key; min doc_id per key survives via
    // one hash aggregate + a semi join on the winner ids
    "q124_url_dedup" -> ((s, d) => {
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
    }),

    // stupid-backoff trigram LM (the CCNet/KenLM-class quality filter,
    // upgrading q98's add-one bigram): train on the even-doc_id half,
    // score ALL docs — the held-out odd half exercises every backoff
    // tier (seen trigram, 0.4·bigram, 0.16·unigram add-one floor),
    // which pure self-scoring never would
    "q125_lm_backoff" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ref = docs.where(col("doc_id") % 2 === 0)
      graft.operators.NgramLm.scoreBitsTrigram(
          docs, "doc_id", "text",
          graft.operators.NgramLm.trainTrigram(ref, "text"),
          graft.operators.NgramLm.vocabSize(ref, "text"))
        .orderBy(col("doc_id"))
    }),

    // perceptual image near-dup: synthesize a keyed BMP per doc (seed =
    // id/2 plants one-pixel-apart even/odd pairs), aHash the REAL pixel
    // bytes, band-join + popcount for Hamming pairs — every pixel, gray
    // value, hash bit and band bucket is integer arithmetic the oracle
    // replays from the id alone
    "q126_image_phash" -> ((s, d) =>
      graft.operators.Multimodal.syntheticBmpHashPipeline(
          s, t(s, d, "documents"), "doc_id", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy(col("id_a"), col("id_b"))),

    // acoustic near-dup: synthesize a keyed 16-bit PCM WAV per doc (seed
    // = id/2 plants one-sample-apart even/odd pairs), energy-hash the
    // REAL sample bytes through the RIFF/PCM parse, band-join + popcount
    // for Hamming pairs — the audio twin of q126; every sample, frame
    // energy, hash bit and band bucket is integer arithmetic the oracle
    // replays from the id alone
    "q129_audio_fp" -> ((s, d) =>
      graft.operators.Multimodal.syntheticWavHashPipeline(
          s, t(s, d, "documents"), "doc_id", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy(col("id_a"), col("id_b"))),

    // DSIR importance weights (Xie et al. 2023): hashed-n-gram bucket
    // models of a curated target slice (doc_id % 7 == 0) vs the raw rest,
    // per-doc log-likelihood-ratio sums — the published "select data that
    // looks like the target" scorer; every bucket count, smoothed
    // probability and log term replays in the oracle
    "q130_dsir_weights" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Dsir.importanceWeights(
          docs.where(col("doc_id") % 7 =!= 0),
          docs.where(col("doc_id") % 7 === 0),
          "doc_id", "text", buckets = 256, salt = "dsir")
        .select(col("doc_id"), col("n_feats"),
          round(col("logw"), 4).as("logw"))
        .orderBy(col("doc_id"))
    }),

    // DSIR resampling: Gumbel top-k over the q130 weights — the weighted
    // without-replacement draw (q100's A-ES in log space) that turns
    // importance weights into the selected training subset
    "q131_dsir_select" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Dsir.resample(
          docs.where(col("doc_id") % 7 =!= 0),
          docs.where(col("doc_id") % 7 === 0),
          "doc_id", "text", buckets = 256, k = 40,
          salt = "dsir", sampleSalt = "gum")
        .orderBy(col("rank"))
    }),

    // perplexity-bucketed mixing (DoReMi-lite / CCNet head-middle-tail):
    // q98's self-scored LM bits cut into 3 equal-mass buckets at exact
    // quantiles, each bucket thinned to its own token budget by the
    // deterministic unit hash — head budget exceeds its mass (the
    // pass-through branch), middle and tail thin
    "q128_ppl_mix" -> ((s, d) => {
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
    }),

    // hard-negative mining (contrastive training data): for each anchor
    // (the q95 probe split), the exact top-5 most-similar corpus vectors
    // with a DIFFERENT label — near-but-wrong examples; anchors
    // broadcast, the corpus scan stays map-only, the exchange carries
    // <= k pairs per anchor per map task
    "q133_hard_negatives" -> ((s, d) => {
      val embs = t(s, d, "embeddings")
      graft.operators.Similarity.hardNegatives(
          embs.where(col("vec_id") % 50 =!= 0),
          embs.where(col("vec_id") % 50 === 0),
          "vec_id", "embedding", "label", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // blocklist phrase filter (the LDNOOBW-style gate): per-(doc,
    // phrase) occurrence counts at word granularity — one positional
    // shingle explode per distinct phrase length, broadcast phrase
    // join, (doc, phrase) count agg; "a a" pins self-overlap counting,
    // "Key, AGG row!" pins phrase normalization, the zebra phrase pins
    // zero-hit absence
    "q136_blocklist" -> ((s, d) =>
      TextAnalysis.blocklistHits(t(s, d, "documents"), "doc_id", "text",
          Seq("fast table", "a a", "table table", "value table part",
            "Key, AGG row!", "zebra crossing"))
        .orderBy(col("doc_id"), col("phrase"))),

    // quoted-phrase top-k retrieval (one-shot): exact word-sequence
    // occurrence counts per (query, doc) — per-length positional
    // shingle explode + broadcast phrase join (the q136 counting), then
    // the shared exact-integer ranking tail (count desc, doc_id asc).
    // Phrases reuse q136's: "a a" pins self-overlap counting, the
    // capitalized one pins in-plan normalization, zebra pins absence
    "q142_phrase_topk" -> ((s, d) => {
      import s.implicits._
      val q = Seq(1L -> "fast table", 2L -> "a a", 3L -> "table table",
          4L -> "value table part", 5L -> "Key, AGG row!",
          6L -> "zebra crossing")
        .toDF("query_id", "phrase")
      TextAnalysis.phraseTopK(t(s, d, "documents"), "doc_id", "text",
          q, "query_id", "phrase", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // quoted-phrase retrieval FROM the positional index: same queries
    // and oracle as q142 (single-homed tail, indexed ≡ one-shot
    // spec-pinned) served from persisted position lists — bucket-pruned
    // posting scan, broadcast (query, offset, term) join, one
    // candidate-doc aggregate, the PhraseStartCount adjacency check;
    // the positional build/append path is what this row pins
    "q143_phrase_indexed" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").repartition(32)
      val dir = graft.io.Spill.tempDir("graft-lexidx-") + "/idx"
      graft.operators.LexicalIndex.write(
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text", dir,
        nBuckets = 16, positional = true)
      graft.operators.LexicalIndex.append(s, dir,
        docs.where(col("doc_id") % 2 =!= 0), "doc_id", "text")
      val q = Seq(1L -> "fast table", 2L -> "a a", 3L -> "table table",
          4L -> "value table part", 5L -> "Key, AGG row!",
          6L -> "zebra crossing")
        .toDF("query_id", "phrase")
      graft.operators.LexicalIndex.phraseTopKIndexed(s, dir,
          q, "query_id", "phrase", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // keyword analytics FROM the persisted index (no tokenize pass):
    // the posting table is the tf bag, N folds from the stats deltas,
    // the scoring tail is q139's — oracle identical since the math is
    // proximity ("terms near each other") top-k retrieval (one-shot):
    // min word-window span covering every distinct query term, kept if
    // <= slop 8, ranked tightest-first with the ascending-doc-id
    // tiebreak — BM25 without the bag-of-words blindness, phrases
    // without exact adjacency. "Key, AGG row!" pins normalization,
    // "table table" pins term dedup (single-term containment, span 0),
    // zebra pins absence
    "q144_proximity_topk" -> ((s, d) => {
      import s.implicits._
      val q = Seq(1L -> "fast table", 2L -> "value part",
          3L -> "value table part", 4L -> "Key, AGG row!",
          5L -> "zebra crossing", 6L -> "table table")
        .toDF("query_id", "qterms")
      TextAnalysis.proximityTopK(t(s, d, "documents"), "doc_id", "text",
          q, "query_id", "qterms", slop = 8, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // proximity retrieval FROM the positional index: same queries and
    // oracle as q144 (single-homed candidate aggregate + rank tail,
    // indexed ≡ one-shot spec-pinned) served from persisted position
    // lists — bucket-pruned posting scan, broadcast (query, off, term)
    // join, the MinWindowSpan sweep per candidate
    "q145_proximity_indexed" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").repartition(32)
      val dir = graft.io.Spill.tempDir("graft-lexidx-") + "/idx"
      graft.operators.LexicalIndex.write(
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text", dir,
        nBuckets = 16, positional = true)
      graft.operators.LexicalIndex.append(s, dir,
        docs.where(col("doc_id") % 2 =!= 0), "doc_id", "text")
      val q = Seq(1L -> "fast table", 2L -> "value part",
          3L -> "value table part", 4L -> "Key, AGG row!",
          5L -> "zebra crossing", 6L -> "table table")
        .toDF("query_id", "qterms")
      graft.operators.LexicalIndex.proximityTopKIndexed(s, dir,
          q, "query_id", "qterms", slop = 8, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // windowed-passage top-k retrieval (one-shot): docs ranked by the
    // query-term-densest 8-word passage they contain (occurrence count,
    // earliest window on ties), with the winning start returned — the
    // RAG context-selection shape. Query set reuses q144's pins
    // (normalization, dedup-to-single-term, absent terms)
    "q147_passage_topk" -> ((s, d) => {
      import s.implicits._
      val q = Seq(1L -> "fast table", 2L -> "value part",
          3L -> "value table part", 4L -> "Key, AGG row!",
          5L -> "zebra crossing", 6L -> "table table")
        .toDF("query_id", "qterms")
      TextAnalysis.passageTopK(t(s, d, "documents"), "doc_id", "text",
          q, "query_id", "qterms", window = 8, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // windowed-passage retrieval FROM the positional index: same
    // queries and oracle as q147 (single-homed candidate aggregate +
    // rank tail, indexed ≡ one-shot spec-pinned) served from persisted
    // position lists
    "q148_passage_indexed" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").repartition(32)
      val dir = graft.io.Spill.tempDir("graft-lexidx-") + "/idx"
      graft.operators.LexicalIndex.write(
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text", dir,
        nBuckets = 16, positional = true)
      graft.operators.LexicalIndex.append(s, dir,
        docs.where(col("doc_id") % 2 =!= 0), "doc_id", "text")
      val q = Seq(1L -> "fast table", 2L -> "value part",
          3L -> "value table part", 4L -> "Key, AGG row!",
          5L -> "zebra crossing", 6L -> "table table")
        .toDF("query_id", "qterms")
      graft.operators.LexicalIndex.passageTopKIndexed(s, dir,
          q, "query_id", "qterms", window = 8, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // search-facet counts: each query's match set (docs containing ANY
    // query term — the exact BM25 candidate set, not top-k) distributed
    // over the language facet; the facet rides the tokenize projection
    // so matching needs no corpus join-back. "table table" pins dedup,
    // zebra pins the empty match set (no rows)
    "q151_facet_counts" -> ((s, d) => {
      import s.implicits._
      val q = Seq(1L -> "fast table", 2L -> "value part",
          3L -> "zebra crossing", 4L -> "table table")
        .toDF("query_id", "qterms")
      TextAnalysis.facetCounts(t(s, d, "documents"), "doc_id", "text",
          q, "query_id", "qterms", "lang")
        .orderBy(col("query_id"), col("facet"))
    }),

    // passage snippets: q147's ranked windows joined back to the corpus
    // and sliced to text (the retrieve-then-quote RAG step) — the
    // queries x k ranked frame broadcasts onto the corpus scan, so
    // snippet extraction is one more map-only pass
    "q152_passage_snippets" -> ((s, d) => {
      import s.implicits._
      val q = Seq(1L -> "fast table", 2L -> "value part",
          3L -> "value table part", 4L -> "Key, AGG row!",
          5L -> "zebra crossing", 6L -> "table table")
        .toDF("query_id", "qterms")
      TextAnalysis.passageSnippets(t(s, d, "documents"), "doc_id", "text",
          q, "query_id", "qterms", window = 8, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // graded ranking quality: the q134 BM25 ranking at k=10 judged
    // against distinct-term-overlap grades (share n query terms ->
    // grade n), per-query nDCG through the integer-micros DCG/IDCG
    // sums — the "is the ranker actually good" metric beside q138's
    // set recall; judgments are an eval artifact (queries x judged
    // pool), never corpus-scale
    "q153_ndcg" -> ((s, d) => {
      val docs = t(s, d, "documents").repartition(32)
      val queries = docs.where(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"),
          slice(graft.functions.TextFunctions.words(col("text")), 1, 8)
            .as("qterms"))
      // ONE corpus tokenize: the shared corpus (the q162 discipline)
      // feeds the BM25 ranker AND the judgment frame. Restricted at spill
      // time — the judgments only read query-term matches too, so the
      // spill stays as small as the ranker's own
      val qt = Postings.bm25QueryTerms(queries, "query_id", "qterms")
      val corpus = graft.operators.Corpus.spilledFor(docs, "doc_id", "text",
        qt)
      val ranked = Postings.bm25TopK(corpus, qt, k = 10, Postings.K1,
        Postings.B)
      graft.operators.RankFusion
        .ndcgAtK(ranked,
          graft.io.Spill(overlapGrades(corpus, qt), "graft-ndcgj-"),
          "doc_id", k = 10)
        .orderBy(col("query_id"))
    }),

    // navigational ranking quality: reciprocal rank of the FIRST
    // strongly-relevant document (overlap grade >= 3) in the same q134
    // ranking — 1/1 when the ranker leads with it, 0 when none of a
    // query's strong matches surface in the top 10
    "q154_mrr" -> ((s, d) => {
      val docs = t(s, d, "documents").repartition(32)
      val queries = docs.where(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"),
          slice(graft.functions.TextFunctions.words(col("text")), 1, 8)
            .as("qterms"))
      // the q153 shared-corpus discipline: one corpus tokenize,
      // restricted at spill time (judgments read query-term matches too)
      val qt = Postings.bm25QueryTerms(queries, "query_id", "qterms")
      val corpus = graft.operators.Corpus.spilledFor(docs, "doc_id", "text",
        qt)
      val ranked = Postings.bm25TopK(corpus, qt, k = 10, Postings.K1,
        Postings.B)
      // the q153 judgment-spill discipline: mrrAtK's rel frame feeds
      // the first-hit join AND the query universe
      graft.operators.RankFusion
        .mrrAtK(ranked,
          graft.io.Spill(overlapGrades(corpus, qt)
            .where(col("grade") >= 3), "graft-mrrj-"),
          "doc_id", k = 10)
        .orderBy(col("query_id"))
    }),

    // more-like-this: every 50th doc as a SEED, its top-3 corpus-idf
    // tf-idf terms as the query, BM25 over the one spilled tf bag,
    // the seed excluded with later ranks closed up — query-by-example
    // retrieval with no embedding model
    "q157_more_like_this" -> ((s, d) => {
      val docs = t(s, d, "documents").repartition(32)
      TextAnalysis.moreLikeThis(docs, "doc_id", "text",
          docs.where(col("doc_id") % 50 === 0).select(col("doc_id")),
          "doc_id", mTerms = 3, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // significant terms: each query's match set mined for its
    // over-represented vocabulary (log df-lift vs the corpus, exact
    // micros, own terms excluded) — "what characterizes these docs";
    // zebra matches nothing and yields no rows
    "q160_significant_terms" -> ((s, d) => {
      import s.implicits._
      val q = Seq(1L -> "fast table", 2L -> "value part",
          3L -> "zebra crossing", 4L -> "table table")
        .toDF("query_id", "qterms")
      TextAnalysis.significantTerms(t(s, d, "documents"), "doc_id",
          "text", q, "query_id", "qterms", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // the same mining served from the persisted index (q135 build
    // pattern): the posting table IS the distinct (doc, term)
    // projection — no tokenize pass; shared tail, shared oracle
    "q161_sig_indexed" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").repartition(32)
      val q = Seq(1L -> "fast table", 2L -> "value part",
          3L -> "zebra crossing", 4L -> "table table")
        .toDF("query_id", "qterms")
      val dir = graft.io.Spill.tempDir("graft-lexidx-") + "/idx"
      graft.operators.LexicalIndex.write(
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text", dir,
        nBuckets = 16)
      graft.operators.LexicalIndex.append(s, dir,
        docs.where(col("doc_id") % 2 =!= 0), "doc_id", "text")
      graft.operators.LexicalIndex.significantTermsIndexed(s, dir, q,
          "query_id", "qterms", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // more-like-this served from the persisted index (q135 build
    // pattern): seed text from the corpus scan, keyword idf from the
    // pruned posting scan, ranking through the indexed BM25 — the
    // oracle is q157's (single-homed fold/tail, indexed ≡ one-shot
    // spec-pinned)
    "q159_mlt_indexed" -> ((s, d) => {
      val docs = t(s, d, "documents").repartition(32)
      val dir = graft.io.Spill.tempDir("graft-lexidx-") + "/idx"
      graft.operators.LexicalIndex.write(
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text", dir,
        nBuckets = 16)
      graft.operators.LexicalIndex.append(s, dir,
        docs.where(col("doc_id") % 2 =!= 0), "doc_id", "text")
      graft.operators.LexicalIndex.moreLikeThisIndexed(s, dir, docs,
          "doc_id", "text",
          docs.where(col("doc_id") % 50 === 0).select(col("doc_id")),
          "doc_id", mTerms = 3, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ranker-evaluation leaderboard: SIX retrieval strategies — plain
    // lexical BM25, typo-tolerant fuzzy, boolean (first word required),
    // query-by-example MLT, dense cosine, and hybrid RRF — graded side
    // by side with mean nDCG@10 under the shared overlap judgments.
    // The fixture's embeddings are independent of its text, so dense
    // (and therefore hybrid) honestly score BELOW lexical here; the
    // fusion-wins property is pinned by RankerEvalSpec on ranked lists
    // whose dense slice is informative. Each ranked list spills
    // (queries x k integer rows) so the metric tail reads six tiny
    // scans instead of re-planning six scorer subtrees per consumer
    "q162_ranker_eval" -> ((s, d) => {
      val docs = t(s, d, "documents").repartition(32)
      val embs = t(s, d, "embeddings")
      val w = graft.functions.TextFunctions.words(col("text"))
      val probeDocs = docs.where(col("doc_id") % 50 === 0)
      val queries = probeDocs
        .select(col("doc_id").as("query_id"), slice(w, 1, 8).as("qterms"))
      val boolQ = probeDocs
        .select(col("doc_id").as("query_id"),
          slice(w, 1, 1).as("must"),
          array_except(slice(w, 2, 7), slice(w, 1, 1)).as("should"),
          array().cast("array<string>").as("mustNot"))
      def sp(df: DataFrame) = graft.io.Spill(df, "graft-rankeval-")
      // ONE corpus tokenize for the four lexical rankers AND the
      // judgment frame: the shared corpus spills once and every consumer
      // reads its own restriction of it. The ranker pipelines stay
      // independent Spark jobs run
      // CONCURRENTLY on the bounded [[graft.core.Jobs]] pool (guide
      // §2.6 — each stage of one ranker leaves most slots idle at any
      // moment; Spill registers child-thread directories in its global
      // exit registry by contract).
      val corpus = graft.operators.Corpus.spilled(docs, "doc_id", "text")
      val qt = Postings.bm25QueryTerms(queries, "query_id", "qterms")
      // every ranker spills its RESULT: lex/dense feed two consumers
      // (leaderboard + RRF), and although bool/fuzzy/mlt feed only the
      // leaderboard's labeled union, leaving their scoring tails lazy
      // was A/B-measured SLOWER (15.4 s vs 12.5 s at sf0.1) — the
      // merged leaderboard plan serializes what the concurrent spill
      // jobs overlap.
      val Seq(lex, fuzzy, bool, mlt, dense) = graft.core.Jobs.parallel(
        s.sparkContext, Seq[() => DataFrame](
          () => Postings.bm25TopK(corpus.restrict(qt), qt, k = 10,
            Postings.K1, Postings.B),
          () => Postings.bm25TopKFuzzy(corpus, qt, k = 10, maxDist = 1,
            Postings.K1, Postings.B),
          () => {
            val roles = Postings.boolQueryRoles(boolQ, "query_id", "must",
              "should", "mustNot")
            Postings.bm25TopKBool(corpus.restrict(roles), roles, k = 10,
              Postings.K1, Postings.B)
          },
          () => Postings.moreLikeThis(corpus, corpus.tfOf(probeDocs,
            "doc_id"), mTerms = 3, k = 10, Postings.K1, Postings.B),
          () => graft.operators.Similarity.batchExactTopK(
            embs.select(col("vec_id").as("doc_id"), col("embedding")),
            embs.where(col("vec_id") % 50 === 0)
              .select(col("vec_id").as("doc_id"), col("embedding")),
            "doc_id", "embedding", k = 10)),
        maxInFlight = 5)(mk => sp(mk())): @unchecked
      val hybrid = graft.operators.RankFusion.rrf(
        Seq(lex, dense), "doc_id", k = 10)
      graft.operators.RankFusion.ndcgLeaderboard(
          Seq("boolean" -> bool, "dense" -> dense, "fuzzy" -> fuzzy,
            "hybrid" -> hybrid, "lexical" -> lex, "mlt" -> mlt),
          overlapGrades(corpus, qt), "doc_id", k = 10)
        .orderBy(col("ranker"))
    }),

    // margin-based bitext mining (CCMatrix ratio criterion): even
    // embeddings as language A, odd as language B; each source's best
    // target by cos normalized with both vectors' top-4 neighborhood
    // means — hub vectors demoted, pairs below margin 1.0 dropped.
    // The source side broadcasts over a map-only target scan (the
    // batchExactTopK posture), neighborhoods through the bounded
    // scored top-k aggregate
    "q163_bitext_margin" -> ((s, d) => {
      val embs = t(s, d, "embeddings")
      graft.operators.Similarity.marginMinePairs(
          embs.where(col("vec_id") % 2 === 0),
          embs.where(col("vec_id") % 2 =!= 0),
          "vec_id", "embedding", k = 4, minMargin = 1.0)
        .orderBy(col("src_id"))
    }),

    // the same mining over LSH-bucketed candidates (q32's hyperplane
    // family): pairs are scored only where they share a sign bucket in
    // ANY table — the collision-bounded 100 TB path; neighborhoods are
    // candidate-restricted, so margins drift only where candidates
    // were lost (shared tail, exact-equality-under-full-recall
    // spec-pinned)
    "q164_bitext_lsh" -> ((s, d) => {
      val embs = t(s, d, "embeddings")
      graft.operators.Similarity.marginMinePairsLsh(
          embs.where(col("vec_id") % 2 === 0),
          embs.where(col("vec_id") % 2 =!= 0),
          "vec_id", "embedding", k = 4, minMargin = 1.0,
          nPlanes = 4, nTables = 12, dim = 64, seed = 11L)
        .orderBy(col("src_id"))
    }),

    // the same mining against the PERSISTED target index (q135's
    // build-row pattern: the row pins the write + pruned-read
    // machinery; the oracle is q164's — identical candidates and tail
    // by construction, indexed ≡ one-shot spec-pinned)
    "q165_bitext_indexed" -> ((s, d) => {
      val embs = t(s, d, "embeddings")
      val dir = graft.io.Spill.tempDir("graft-bitext-") + "/lsh"
      graft.operators.Similarity.writeLshIndex(
        embs.where(col("vec_id") % 2 =!= 0), "vec_id", "embedding",
        dir, nPlanes = 4, nTables = 12, dim = 64, seed = 11L)
      graft.operators.Similarity.marginMinePairsIndexed(s, dir,
          embs.where(col("vec_id") % 2 === 0), "vec_id", "embedding",
          k = 4, minMargin = 1.0, nPlanes = 4, nTables = 12, dim = 64,
          seed = 11L)
        .orderBy(col("src_id"))
    }),

    // HTML → main-text extraction (the FIRST stage of a crawl
    // pipeline): HTML synthesized deterministically per doc (title +
    // style + script + nav + h1 + article <p> + a link-farm <div> +
    // second <p> with entities + comment + footer) so the oracle
    // recomputes the exact extraction — q86's synthesize-to-spec
    // discipline. Map-only: block split, per-block density stats,
    // filter and ordered re-join all happen INSIDE one row via
    // higher-order functions; zero exchanges before the final sort.
    "q167_html_extract" -> ((s, d) => {
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
    }),

    // unigram-LM (SentencePiece-posture) Viterbi segmentation under the
    // embedded DefaultVocab: per-doc word/piece counts, the exact
    // integer-micro Viterbi score, and an md5 of the segmentation
    // itself (catches any argmax/tie divergence). Map-only — one
    // expression eval per document; the oracle replays the DP cell for
    // cell as a recursive CTE over DISTINCT words
    "q169_unigram_segment" -> ((s, d) =>
      graft.operators.UnigramLm.segment(
          t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          col("score_micros"), md5(col("segmentation")).as("seg_md5"))
        .orderBy(col("doc_id"))),

    // the two tokenizer FAMILIES side by side (q111's comparison frame
    // + the unigram column): pieces per whitespace token for BPE and
    // unigram under one aggregate, per language
    "q170_unigram_fertility" -> ((s, d) =>
      graft.operators.UnigramLm.fertilityVsBpe(
          t(s, d, "documents"), "lang", "text")
        .orderBy(col("lang"))),

    // the unigram twin of q96: fixed-length id sequences (PAD=0, UNK=1,
    // pieces at vocabIndex+2) — map-only segmentation + a plan-literal
    // piece->id lookup; same battery canonical form as q96
    "q182_unigram_ids" -> ((s, d) =>
      graft.operators.UnigramLm.encodeIds(
          t(s, d, "documents"), "doc_id", "text", maxLen = 24)
        .select(col("doc_id"),
          array_join(col("ids").cast("array<string>"), " ").as("ids"))
        .orderBy(col("doc_id"))),

    // binned ROC-AUC — the CORPUS-SCALE discrimination path (one
    // nBins-bounded hash aggregate + an nBins-row cumulative window,
    // no global sort — q173's exact path is the judged-holdout
    // sibling): 128 bins over the exactly-representable k/128 score
    // fixture, so every distinct score owns its bin and binned ≡ exact
    // by the doubled-rank algebra; this row pins the bin walk,
    // cumulative counts, and micros finish cross-engine
    "q183_auc_binned" -> ((s, d) =>
      graft.operators.Eval.rocAucBinned(evalScores(s, d), "y", "s",
        0.0, 1.0, 128)),

    // reliability-diagram calibration over the same score fixture:
    // per-bin (n, mean_score, pos_rate) with the mean over
    // row-quantized score micros and both ratios single fixed-point
    // long divisions — "is 0.9 confident right 90% of the time"
    "q184_calibration" -> ((s, d) =>
      graft.operators.Eval.calibrationBins(evalScores(s, d), "y", "s",
        0.0, 1.0, 16)),

    // C4 line-level cleaning: documents are reshaped into LINES with
    // one planted line per rule class (terminal punctuation, word
    // floor, javascript boilerplate) plus doc_id-gated lorem/brace
    // flag lines — the stage REWRITES docs by dropping offending
    // lines where q178's gopher rules gate whole documents. Map-only
    "q186_c4_lines" -> ((s, d) => {
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
    }),

    // Unicode/mojibake repair (the ftfy-posture stage): documents are
    // decorated with GENERATED mojibake — single-encoded latin-1,
    // DOUBLE-encoded, and control/zero-width junk snippets computed by
    // the same byte round-trip Encoding.MojibakeTable models — then
    // fixed by the repair → confusables → control-strip chain; the
    // oracle replays the identical generated replace chain
    // (Encoding.duckFixSql — one definition, two engines). Map-only,
    // zero exchanges beyond the battery sort
    "q185_fix_encoding" -> ((s, d) => {
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
    }),

    // Brier score over the q183/q184 score frame — the third
    // calibration-family metric (mean squared score-outcome gap); one
    // hash aggregate of per-row micro-long squares, fixed-point finish
    "q187_brier" -> ((s, d) =>
      graft.operators.Eval.brierScore(evalScores(s, d), "y", "s")),

    // Bloom-accelerated cross-run exact dedup: every third document
    // seeds the fingerprint history, then the FULL corpus arrives as a
    // second batch routed through the history's Bloom filter — rows the
    // filter rejects are definitely novel and skip the confirm
    // anti-join entirely (map-only); the novel set is bit-identical to
    // the plain path because the filter only ROUTES rows, never decides
    // membership alone. High fpp forces real traffic down the confirm
    // lane at battery scale
    "q188_bloom_dedup" -> ((s, d) => {
      val fpDir = java.nio.file.Files.createTempDirectory("graft-fpb-")
        .resolve("fp_table").toString
      val docs = t(s, d, "documents")
      Dedup.incrementalExactDedup(docs.where(col("doc_id") % 3 === 0),
        "doc_id", "text", fpDir, "seed") // fp write is eager in the call
      Dedup.incrementalExactDedupBloom(docs, "doc_id", "text", fpDir,
          "probe", fpp = 0.1)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // ORC round-trip (S7 file formats beyond parquet/csv/json):
    // lineitem written to ORC and read back must aggregate identically
    // to the parquet original the oracle reads
    "q189_orc_roundtrip" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft-orc-")
        .resolve("li").toString
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
        .write.mode("overwrite").orc(dir)
      s.read.orc(dir).groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("total_qty"))
        .orderBy(col("l_returnflag"))
    }),

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
    "q200_sft_export" -> ((s, d) => {
      val ev = t(s, d, "documents").select(
        (col("doc_id") % 40).as("conv"),
        col("doc_id").as("ts"), col("doc_id").as("seq"),
        when(col("doc_id") % 2 === 0, "user").otherwise("assistant")
          .as("role"),
        col("text"))
      graft.pipelines.TrainingExport.sftAssignments(ev, "conv", "ts",
          "seq", "role", "text", tokenBudget = 200L, Seq("assistant"),
          concat(lit("g"), (col("conv") % 7).cast("string")),
          budget = 256L, nShards = 4)
        .orderBy(col("conv"), col("turn_no"))
    }),

    // the END-TO-END pretraining export (the q90 pattern extended to
    // the full round-18 training surface): clean() survivors ->
    // leakage-safe split over the survivors' own pair graph -> train
    // side -> per-epoch FIM (sentinel-clash docs routed out) -> exact
    // output token counts -> group-coherent packing. One plan, one
    // oracle replaying the whole chain through the shared CTE helpers
    // (cleanSurvivorCtes ≡ q90, the pair/CC chain ≡ q193, the FIM
    // draws ≡ q194, the recursive pack walk ≡ q197)
    "q199_training_export" -> ((s, d) =>
      graft.pipelines.TrainingExport.pretrainAssignments(
        t(s, d, "documents"), "doc_id", "text",
        concat(lit("d"), (col("doc_id") % 37).cast("string")),
        valFraction = 0.2, pairThreshold = 0.02, epochSalt = "ep0",
        fimFraction = 0.5, spmFraction = 0.5, budget = 256L, nShards = 8)
        .orderBy(col("doc_id"))),

    // the VAL side of q199's export — survivors assigned split='val',
    // plain text (evaluation measures the raw objective, so no FIM),
    // whitespace token widths, the same group-coherent packing;
    // `in_train` is the leakage indicator (left join against the train
    // ids), false for every row by construction AND pinned by the
    // oracle replay — any doc on both sides hash-mismatches
    "q201_val_export" -> ((s, d) =>
      graft.pipelines.TrainingExport.valAssignments(
        t(s, d, "documents"), "doc_id", "text",
        concat(lit("d"), (col("doc_id") % 37).cast("string")),
        valFraction = 0.2, pairThreshold = 0.02, budget = 256L,
        nShards = 8)
        .orderBy(col("doc_id"))),

    // the written artifact round-tripped (the q189 ORC pattern applied
    // to the export writer): writePretrainCorpus to a temp dir —
    // shard-partitioned parquet + per-shard _MANIFEST.json — then read
    // BACK from disk; assignments and re-derived text_out must
    // hash-match the oracle's full in-SQL replay of the same chain
    "q202_export_artifact" -> ((s, d) => {
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
    }),

    // TWO epochs of the q199 export in one plan: the clean/split chain
    // runs once (the split MUST NOT vary by epoch — structural here and
    // in the oracle, so drift hash-mismatches), each salt redraws FIM
    // holes and re-packs; TrainingExportSpec asserts the draws actually
    // differ between the epochs
    "q203_epoch_export" -> ((s, d) =>
      graft.pipelines.TrainingExport.epochAssignments(
        t(s, d, "documents"), "doc_id", "text",
        concat(lit("d"), (col("doc_id") % 37).cast("string")),
        epochSalts = Seq("ep0", "ep1"), valFraction = 0.2,
        pairThreshold = 0.02, fimFraction = 0.5, spmFraction = 0.5,
        budget = 256L, nShards = 8)
        .orderBy(col("epoch"), col("doc_id"))),

    "q198_span_corrupt" -> ((s, d) =>
      graft.operators.Fim.spanCorrupt(t(s, d, "documents"),
          "doc_id", "text", rate = 0.25, spanLen = 3, salt = "sc")
        .orderBy(col("doc_id"))),

    // group-coherent packing: the q85 greedy walk re-ordered so a
    // domain never splits across shards (shard = unit-hash bucket of
    // the GROUP) and same-domain docs pack adjacently — the
    // in-context-pretraining layout; the oracle replays the walk with
    // the q85 recursive CTE over the (group, id) order
    "q197_pack_related" -> ((s, d) =>
      graft.operators.Packing.packRelated(
        t(s, d, "documents")
          .withColumn("domain",
            concat(lit("d"), (col("doc_id") % 37).cast("string")))
          .withColumn("tokens", TextFunctions.wsTokenCount(col("text"))),
        "doc_id", "tokens", "domain", budget = 256L, nShards = 8)
        .orderBy(col("doc_id"))),

    // SFT loss-mask spans over synthetic conversations: per-kept-turn
    // token offsets into the assembled transcript (same budget walk as
    // the assembler — two windows, one key exchange) with train =
    // assistant turns only
    "q196_loss_mask" -> ((s, d) => {
      val ev = t(s, d, "documents").select(
        (col("doc_id") % 40).as("conv"),
        col("doc_id").as("ts"), col("doc_id").as("seq"),
        when(col("doc_id") % 2 === 0, "user").otherwise("assistant")
          .as("role"),
        col("text"))
      graft.operators.Conversations.lossMaskSpans(ev, "conv", "ts",
          "seq", "role", "text", tokenBudget = 200L, Seq("assistant"))
        .orderBy(col("conv"), col("turn_no"))
    }),

    // best-of-N rejection-sampling selection: each synthetic prompt's
    // argmax candidate (ties to the smallest id) via ONE
    // max(struct(score, -cand)) hash aggregate — no window, no
    // self-join; prompts whose best clears minScore only
    "q195_best_of_n" -> ((s, d) => {
      val scored = t(s, d, "documents").select(
        (col("doc_id") % 50).as("q"),
        col("doc_id").as("cand"),
        ((col("doc_id") * 37) % 1000).as("score"))
      graft.operators.Preferences.bestOfN(scored, "q", "cand", "score",
          minScore = 500L)
        .orderBy(col("query_id"))
    }),

    // fill-in-the-middle training transform: ~half the docs rewritten
    // as PSM/SPM infilling examples (token-level cuts uniform over
    // valid pairs, both cuts and the format pure unit-hash functions of
    // (doc_id, salt)) — one map-only codegen projection; the oracle
    // replays cuts, slices, and sentinel assembly from the same md5
    // arithmetic
    "q194_fim" -> ((s, d) =>
      graft.operators.Fim.transform(t(s, d, "documents"),
          "doc_id", "text", fimFraction = 0.5, spmFraction = 0.5,
          salt = "fimq")
        .orderBy(col("doc_id"))),

    // leakage-safe train/val split: assignment by near-dup CLUSTER (the
    // q52 component graph), not by document — every member of a cluster
    // inherits the min-id representative's unit-hash side, so no
    // near-dup pair straddles train/val (the silent held-out
    // contamination a per-doc hash split commits). Labels bounded by
    // the pair graph broadcast over the corpus subset; singletons are
    // their own cluster and never shuffle
    "q193_leakage_split" -> ((s, d) => {
      val subset = t(s, d, "documents").where(col("doc_id") % 5 === 0)
      graft.operators.Sampling.leakageSafeSplit(
        subset.select(col("doc_id")), "doc_id",
        Dedup.ngramJaccardPairs(subset, "doc_id", "text",
          n = 3, threshold = 0.02),
        valFraction = 0.2, salt = "split")
        .orderBy(col("doc_id"))
    }),

    // robots.txt gating (RFC 9309 subset) — the crawl-politeness stage
    // between WARC ingestion and the URL/domain family: the fixture
    // body is parsed ONCE per `.example.org` host (group selection for
    // agent graftbot: named groups beat the * fallback), each URL's
    // path-and-query is judged by the longest matching rule (allow
    // wins ties, trailing $ anchors, missing robots row = allowed).
    // The parsed rule table broadcasts; the decision is map-only
    "q192_robots_gate" -> ((s, d) => {
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
    }),

    // Spark 4's recursive CTE (WITH RECURSIVE) — the hierarchy-walk /
    // reachability surface the engine gained in 4.0: part keys form a
    // 10-ary tree (child k under parent k div 10), walked from part 1
    // with per-level accounting. Tree edges mean one parent per node —
    // no duplicate paths — and the frontier empties past the key
    // ceiling, so UNION ALL terminates naturally; each recursive step
    // is one EQUI join (child's parent = frontier key), the same
    // iterative-join shape the PageRank loop runs
    "q191_recursive_cte" -> ((s, d) => {
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
    }),

    // WordPiece (BERT-family) greedy longest-match segmentation —
    // completes the tokenizer triad beside BPE (q35/q82) and
    // unigram-LM (q169/q170/q182); map-only, the oracle replays the
    // greedy walk with a recursive CTE over distinct words. Interior
    // digits are absent from the vocabulary, so real fixture words
    // exercise the all-or-nothing [UNK] collapse
    "q190_wordpiece" -> ((s, d) =>
      graft.operators.WordPiece.segment(t(s, d, "documents"),
          "doc_id", "text")
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          col("n_unk_words"), md5(col("segmentation")).as("seg_md5"))
        .orderBy(col("doc_id"))),

    // sentence segmentation over a synthesized PUNCTUATED corpus (the
    // raw fixture is punctuation-free word soup, so the decoration —
    // deterministic per (doc_id, word position): terminator runs,
    // ellipses, and abbreviation traps — is generated identically on
    // both engines, the q167 synthesized-fixture discipline); the
    // splitter itself is one map-only protect/mark/split projection
    "q171_sentences" -> ((s, d) =>
      graft.operators.Sentences.split(
          t(s, d, "documents").select(col("doc_id"),
            punctuatedText.as("ptext")),
          "doc_id", "ptext")
        .orderBy(col("doc_id"), col("sent_id"))),

    // repeated-sentence (boilerplate) stripping, the CCNet
    // paragraph-dedup stage at sentence granularity: the decorated
    // corpus gains planted boilerplate tails (all docs + even docs),
    // sentences in >= 10 distinct docs strip from every document;
    // exchanges carry (doc_id, md5) rows, never sentence text
    "q180_sentence_dedup" -> ((s, d) => {
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
    }),

    // classifier evaluation over the q123 NB language model: the
    // per-label classification report (precision/recall/F1 from one
    // label-bounded pair aggregate) — the audit a model gate must pass
    // before it may drop terabytes
    "q172_nb_report" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.words(col("text")).as("w"))
      val model = graft.io.Spill(graft.operators.NaiveBayes.train(
        docs.where(col("doc_id") % 2 === 0), "lang", "w"), "graft-nbe-")
      val pred = graft.operators.NaiveBayes.classify(
        docs.where(col("doc_id") % 2 === 1), "doc_id", "w", model)
      graft.operators.Eval.classificationReport(
        pred.join(docs.select(col("doc_id"), col("lang")), "doc_id"),
        "lang", "label")
    }),

    // exact tie-corrected AUC of the en-vs-rest NB margin (labelScores
    // exposes the full per-label frame; margin = score_en - best other)
    // — the threshold-free discrimination audit beside q172's report
    "q173_en_margin_auc" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.words(col("text")).as("w"))
      val model = graft.io.Spill(graft.operators.NaiveBayes.train(
        docs.where(col("doc_id") % 2 === 0), "lang", "w"), "graft-nba-")
      val margin = graft.operators.NaiveBayes.labelScores(
          docs.where(col("doc_id") % 2 === 1), "doc_id", "w", model)
        .groupBy(col("doc_id"))
        .agg((max(when(col("label") === "en", col("score"))) -
          max(when(col("label") =!= "en", col("score")))).as("m"))
      graft.operators.Eval.rocAuc(
        margin.join(t(s, d, "documents")
          .select(col("doc_id"), (col("lang") === "en").as("y")), "doc_id"),
        "y", "m")
    }),

    // WARC ingestion: documents synthesize length-framed WARC records
    // (headers + HTTP response + separator), concatenated into per-
    // file_id "files" — the real crawl layout where the FILE is the
    // parallel unit — then Warc.responses frames records back out by
    // Content-Length and parses URI/date/status/mime/body. The oracle
    // re-frames by record split (equivalent on this fixture whose
    // payloads never quote the version line; the delimiter-quoting
    // case where ONLY length framing is right is spec-pinned)
    "q174_warc_parse" -> ((s, d) => {
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
    }),

    // SFT conversation assembly: event rows -> one transcript row per
    // user, most-recent turns kept under a 120-token budget (content
    // synthesized from event fields with integer-only value rendering
    // so both engines produce identical strings). ONE exchange: the
    // suffix-sum window and the per-key fold share the partitioning
    "q175_sft_assemble" -> ((s, d) => {
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
    }),

    // corpus snapshot diff: documents vs a deterministically perturbed
    // "next release" (drops, edits, additions) — per-doc
    // added/removed/changed/unchanged status; the join exchanges
    // (id, md5) rows, never text
    "q176_corpus_diff" -> ((s, d) => {
      val old = t(s, d, "documents").select(col("doc_id"), col("text"))
      val neu = old.where(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 5, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(old.where(col("doc_id") % 19 === 2)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.operators.CorpusDiff.diff(old, neu, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // RLHF/DPO preference pairs from a reward-scored candidate frame:
    // exact-cosine top-8 per probe (1e4-scaled integer scores), pairs
    // gated at gap >= 500 (0.05 cosine), capped at 3 per prompt by
    // largest gap — the margin filter + per-prompt cap of real
    // preference-data builders
    "q177_preference_pairs" -> ((s, d) =>
      graft.operators.Preferences.preferencePairs(prefScored(s, d),
          "query_id", "cand_id", "score", minGap = 500L, maxPairs = 3)
        .orderBy(col("query_id"), col("pair_no"))),

    // the DPO-export pair beside q177's all-qualifying-pairs surface:
    // each prompt's single (argmax, argmin) reward pair from the SAME
    // scored frame, gap-gated — ONE hash aggregate (max/min of
    // (score, ∓cand) structs), no self-join, no window
    "q204_dpo_pairs" -> ((s, d) =>
      graft.operators.Preferences.bestWorstPairs(prefScored(s, d),
          "query_id", "cand_id", "score", minGap = 500L)
        .orderBy(col("query_id"))),

    // the Gopher rule battery: the NAMED per-doc quality gates (word
    // bounds, mean word length, symbol/bullet/ellipsis ratios, alpha
    // words, stopword floor) beside q34's composite score — one
    // map-only projection, every ratio a single rounded division
    "q178_gopher_rules" -> ((s, d) =>
      TextAnalysis.gopherRules(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // judge agreement: Cohen's kappa between the q33 heuristic lang-id
    // and the q123 NB model on the held-out half — the measured answer
    // to "can the cheap gate substitute for the learned one"
    "q179_lang_kappa" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.words(col("text")).as("w"))
      val model = graft.io.Spill(graft.operators.NaiveBayes.train(
        docs.where(col("doc_id") % 2 === 0), "lang", "w"), "graft-nbk-")
      val pred = graft.operators.NaiveBayes.classify(
          docs.where(col("doc_id") % 2 === 1), "doc_id", "w", model)
        .select(col("doc_id"), col("label"))
      val heur = TextAnalysis.languageId(
        t(s, d, "documents").where(col("doc_id") % 2 === 1),
        "doc_id", "text")
      graft.operators.Eval.cohenKappa(heur.join(pred, "doc_id"),
        "lang_pred", "label")
    }),

    // exact average precision (the PR-curve area, q173's
    // precision-oriented sibling — AP weights the top of the ranking
    // where ROC-AUC counts all pair inversions equally): same NB
    // en-margin ranking, fixed-point integer precision@k terms
    "q181_avg_precision" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
        graft.functions.TextFunctions.words(col("text")).as("w"))
      val model = graft.io.Spill(graft.operators.NaiveBayes.train(
        docs.where(col("doc_id") % 2 === 0), "lang", "w"), "graft-nbp-")
      val margin = graft.operators.NaiveBayes.labelScores(
          docs.where(col("doc_id") % 2 === 1), "doc_id", "w", model)
        .groupBy(col("doc_id"))
        .agg((max(when(col("label") === "en", col("score"))) -
          max(when(col("label") =!= "en", col("score")))).as("m"))
      graft.operators.Eval.averagePrecision(
        margin.join(t(s, d, "documents")
          .select(col("doc_id"), (col("lang") === "en").as("y")), "doc_id"),
        "y", "m", tieCol = "doc_id")
    }),

    // drop-reason lineage for the default cleaning pipeline: every
    // gate of q45's clean() records (doc_id, stage, reason) for the
    // docs it drops — recorded from the SAME frames the pipeline gates
    // on (one definition), predicate gates as negated filters
    // (map-only), join gates as anti-joins. Survivors ∪ lineage
    // partitions the input exactly once (spec-pinned); the oracle
    // recomputes every stage's drop set + first-fail attribution
    "q168_drop_lineage" -> ((s, d) => {
      val rec = graft.pipelines.TrainingData.lineageRecorder("doc_id")
      graft.pipelines.TrainingData.clean(t(s, d, "documents"),
        "doc_id", "text", lineage = Some(rec))
      rec.frame(s).orderBy(col("doc_id"))
    }),

    // the mining-quality audit (q138's recall-audit posture applied to
    // bitext): the exact sweep's pairs as gold, the LSH miner's as the
    // candidate, scored by the xSIM-style corpus error rate — the
    // measured answer to "what did the bucketing cost me"
    "q166_bitext_audit" -> ((s, d) => {
      val embs = t(s, d, "embeddings")
      val src = embs.where(col("vec_id") % 2 === 0)
      val tgt = embs.where(col("vec_id") % 2 =!= 0)
      graft.operators.Similarity.miningErrorRate(
        graft.operators.Similarity.marginMinePairsLsh(src, tgt,
          "vec_id", "embedding", k = 4, minMargin = 1.0,
          nPlanes = 4, nTables = 12, dim = 64, seed = 11L),
        graft.operators.Similarity.marginMinePairs(src, tgt,
          "vec_id", "embedding", k = 4, minMargin = 1.0))
    }),

    // histogram facet: q151's facet machinery over a DERIVED bucket
    // column (n_chars floored to 100s) — the numeric-range panel
    // beside the term facets; zebra pins the empty match set
    "q158_facet_histogram" -> ((s, d) => {
      import s.implicits._
      val q = Seq(1L -> "fast table", 2L -> "value part",
          3L -> "zebra crossing")
        .toDF("query_id", "qterms")
      TextAnalysis.facetCounts(
          t(s, d, "documents").withColumn("len_bucket",
            (floor(col("n_chars") / 100) * 100).cast("long")),
          "doc_id", "text", q, "query_id", "qterms", "len_bucket")
        .orderBy(col("query_id"), col("facet"))
    }),

    // boolean-filtered BM25: +must/-mustNot gates folded onto the one
    // scorer — q1 requires table, q2 is purely conjunctive, q3
    // excludes table-bearing docs from a should ranking, q4's must
    // term matches nothing (empty result), q5 is the plain-BM25 twin
    "q155_bool_bm25" -> ((s, d) => {
      import s.implicits._
      TextAnalysis.bm25TopKBool(t(s, d, "documents").repartition(32),
          "doc_id", "text", boolQueries(s), "query_id", "must", "should",
          "mustNot", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // the same boolean queries served from the persisted index (seed
    // even docs, append odd — the q135 build pattern); the scan covers
    // ALL role terms' buckets (mustNot matches disqualify), the tail
    // is single-homed with q155's so the oracle is shared
    "q156_bool_indexed" -> ((s, d) => {
      val docs = t(s, d, "documents").repartition(32)
      val dir = graft.io.Spill.tempDir("graft-lexidx-") + "/idx"
      graft.operators.LexicalIndex.write(
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text", dir,
        nBuckets = 16)
      graft.operators.LexicalIndex.append(s, dir,
        docs.where(col("doc_id") % 2 =!= 0), "doc_id", "text")
      graft.operators.LexicalIndex.bm25TopKBoolIndexed(s, dir,
          boolQueries(s), "query_id", "must", "should", "mustNot", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // typo-tolerant BM25 (one-shot): each query term expands to every
    // vocabulary term within Levenshtein 1 via the SymSpell
    // deletion-variant equi-join (verified by the exact distance), then
    // the q134 scorer runs over the expanded sets — "tabel" finds
    // table; "zzzzz" expands to nothing and contributes nothing
    "q149_fuzzy_bm25" -> ((s, d) => {
      import s.implicits._
      val q = Seq(1L -> Seq("tabl"), 2L -> Seq("valu", "pert"),
          3L -> Seq("fastt", "zzzzz"), 4L -> Seq("key", "agg"))
        .toDF("query_id", "qterms")
      TextAnalysis.bm25TopKFuzzy(
          t(s, d, "documents").repartition(32), "doc_id", "text",
          q, "query_id", "qterms", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // typo-tolerant BM25 FROM the persisted index: same queries and
    // oracle as q149 (expansion + scoring single-homed; spec-pinned) —
    // the vocabulary folds from the posting table's pruned term column,
    // the expanded query then scans bucket-pruned as usual
    "q150_fuzzy_indexed" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents").repartition(32)
      val dir = graft.io.Spill.tempDir("graft-lexidx-") + "/idx"
      graft.operators.LexicalIndex.write(
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text", dir,
        nBuckets = 16)
      graft.operators.LexicalIndex.append(s, dir,
        docs.where(col("doc_id") % 2 =!= 0), "doc_id", "text")
      val q = Seq(1L -> Seq("tabl"), 2L -> Seq("valu", "pert"),
          3L -> Seq("fastt", "zzzzz"), 4L -> Seq("key", "agg"))
        .toDF("query_id", "qterms")
      graft.operators.LexicalIndex.bm25TopKFuzzyIndexed(s, dir,
          q, "query_id", "qterms", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // video near-dup: synthesize a keyed uncompressed-24bpp AVI per doc
    // (seed = id/2 plants even/odd pairs differing by one pixel of
    // frame 0; 2-4 frames), per-frame aHash through the REAL RIFF/DIB
    // parse, slot-aligned band join + popcount, pairs kept at >= 2
    // matched frames — the video member of the q126/q129 modality
    // family; every pixel, gray, hash bit, band bucket and frame-match
    // count is integer arithmetic the oracle replays from the id alone
    "q146_video_fp" -> ((s, d) =>
      graft.operators.Multimodal.syntheticAviHashPipeline(
          s, t(s, d, "documents"), "doc_id", maxHamming = 3,
          minMatchedFrames = 2)
        .select(col("id_a"), col("id_b"), col("n_match"))
        .orderBy(col("id_a"), col("id_b"))),

    // single-homed; the build/append/scan path is what this row pins
    "q141_tfidf_indexed" -> ((s, d) => {
      val docs = t(s, d, "documents").repartition(32)
      val dir = graft.io.Spill.tempDir("graft-lexidx-") + "/idx"
      graft.operators.LexicalIndex.write(
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text", dir,
        nBuckets = 16)
      graft.operators.LexicalIndex.append(s, dir,
        docs.where(col("doc_id") % 2 =!= 0), "doc_id", "text")
      graft.operators.LexicalIndex.tfidfKeywordsIndexed(s, dir, k = 3)
        .orderBy(col("doc_id"), col("rank"))
    }),

    // MMR-diversified retrieval: the exact top-10 per probe re-ranked
    // by greedy maximal marginal relevance (lambda=0.5) down to 5 —
    // per-query candidates collect into one row, the imperative
    // MmrSelect pass picks with integer-micro scores and the q95
    // tiebreaks, and the oracle replays the greedy unrolled
    "q140_mmr_diverse" -> ((s, d) => {
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
    }),

    // tf-idf keyword extraction: top-3 characteristic terms per doc —
    // map-only tf bag, term-keyed df join (vocabulary outgrows
    // broadcast at web scale), per-doc bounded sort fold, NB-micros
    // determinism with the ascending-term tiebreak
    "q139_tfidf_keywords" -> ((s, d) =>
      TextAnalysis.tfidfKeywords(t(s, d, "documents").repartition(32),
          "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rank"))),

    // ANN recall audit: q95's LSH ranking measured against the exact
    // cosine sweep, per probe — the index-quality metric the drift/refit
    // loop protects, as a battery row ("measure, don't guess"); both
    // lists are queries x k rows so the audit is a tiny join + agg
    "q138_ann_recall" -> ((s, d) => {
      val embs = t(s, d, "embeddings")
      val probes = embs.where(col("vec_id") % 50 === 0)
      graft.operators.RankFusion.rankingRecall(
          Similarity.batchLshTopK(embs, probes, "vec_id", "embedding", k = 5),
          Similarity.batchExactTopK(embs, probes, "vec_id", "embedding", k = 5),
          "vec_id")
        .orderBy(col("query_id"))
    }),

    // hybrid retrieval: the q134 lexical ranking fused with an exact
    // dense cosine ranking over the aligned embeddings table by
    // reciprocal-rank fusion — integer-micro contributions summed
    // order-invariantly, the q95 tiebreak; the fusion input is
    // rankers x queries x k rows by construction
    "q137_hybrid_rrf" -> ((s, d) => {
      val docs = t(s, d, "documents").repartition(32)
      val embs = t(s, d, "embeddings")
      val queries = docs.where(col("doc_id") % 50 === 0)
        .select(col("doc_id"),
          slice(graft.functions.TextFunctions.words(col("text")), 1, 8)
            .as("qterms"))
      val lex = TextAnalysis.bm25TopK(docs, "doc_id", "text",
        queries, "doc_id", "qterms", k = 5)
      val dense = graft.operators.Similarity.batchExactTopK(
          embs.select(col("vec_id").as("doc_id"), col("embedding")),
          embs.where(col("vec_id") % 50 === 0)
            .select(col("vec_id").as("doc_id"), col("embedding")),
          "doc_id", "embedding", k = 5)
      graft.operators.RankFusion.rrf(Seq(lex, dense), "doc_id", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // persisted lexical index: seed with even docs, APPEND odd docs
    // (meta-derived bucket count, summed stats fold), then the same
    // retrieval as q134 through the partition-pruned posting scan — the
    // oracle is q134's (identical math over the union); the incremental
    // build/append/scan machinery is what this row pins
    "q135_bm25_indexed" -> ((s, d) => {
      val docs = t(s, d, "documents").repartition(32)
      val dir = graft.io.Spill.tempDir("graft-lexidx-") + "/idx"
      // 16 buckets: the fixture vocabulary is 31 words — the default 64
      // would mean mostly-empty directories at this scale
      graft.operators.LexicalIndex.write(
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text", dir,
        nBuckets = 16)
      graft.operators.LexicalIndex.append(s, dir,
        docs.where(col("doc_id") % 2 =!= 0), "doc_id", "text")
      val queries = docs.where(col("doc_id") % 50 === 0)
        .select(col("doc_id"),
          slice(graft.functions.TextFunctions.words(col("text")), 1, 8)
            .as("qterms"))
      graft.operators.LexicalIndex.bm25TopKIndexed(s, dir,
          queries, "doc_id", "qterms", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // batched BM25 top-k retrieval (the lexical twin of q95/q133):
    // queries = the q95/q133 probe split's first 8 words, top-5 corpus
    // docs per query in ONE plan — query terms broadcast, corpus tokens
    // semi-join-pruned before any exchange, integer-micro scores summed
    // order-invariantly, bounded TopKAggregator ranking tail. The text
    // repartition parallelizes tokenization over the one-file local
    // fixture (the q127 note); the % 50 probe split keeps the fixture's
    // 31-word vocabulary from fanning every query into every doc
    "q134_bm25_topk" -> ((s, d) => {
      val docs = t(s, d, "documents").repartition(32)
      val queries = docs.where(col("doc_id") % 50 === 0)
        .select(col("doc_id"),
          slice(graft.functions.TextFunctions.words(col("text")), 1, 8)
            .as("qterms"))
      TextAnalysis.bm25TopK(docs, "doc_id", "text",
          queries, "doc_id", "qterms", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // deterministic global shuffle: reproducible training order via a
    // range-partitioned sort on the unit hash — no RNG state, identical
    // permutation cross-engine and cross-run
    "q115_corpus_shuffle" -> ((s, d) =>
      graft.operators.Sampling.deterministicShuffle(
          t(s, d, "documents").select(col("doc_id"), col("lang")),
          "doc_id", salt = "ep0")),

    // semantic decontamination: corpus vectors too close to a benchmark
    // vector (probes = vec_id % 50 == 0, the q95 split) — the embedding
    // complement of q83's n-gram containment
    "q114_semantic_decontam" -> ((s, d) => {
      val embs = t(s, d, "embeddings")
      graft.operators.Similarity.embeddingContaminationPairs(
          embs.where(col("vec_id") % 50 =!= 0),
          embs.where(col("vec_id") % 50 === 0),
          "vec_id", "embedding", threshold = 0.4)
        .orderBy(col("corpus_id"), col("probe_id"))
    }),

    // cross-run SimHash: 8 bytes of history state per doc — first batch
    // against an empty fingerprint table ≡ the in-batch operator
    "q113_simhash_incr" -> ((s, d) => {
      val fpDir = graft.io.Spill.tempDir("graft-shfp-") + "/fps"
      graft.operators.Dedup.incrementalSimhash(
        t(s, d, "documents"), "doc_id", "text", fpDir)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // cross-run near-dup: first batch against an empty signature table ≡
    // the in-batch LSH operator plus the component-match estimate — pins
    // the incremental path's signatures, banding, pairing, and estimate
    "q109_minhash_incr" -> ((s, d) => {
      val sigDir = graft.io.Spill.tempDir("graft-mhsig-") + "/sigs"
      graft.operators.Dedup.incrementalMinhashLsh(
        t(s, d, "documents").where(col("doc_id") % 5 === 0),
        "doc_id", "text", sigDir)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // adaptive per-language quality floor: keep docs at/above their own
    // language's p25 quality — the threshold aggregate broadcasts back,
    // the corpus never shuffles
    "q108_quantile_floor" -> ((s, d) => {
      // lang rides through the quality projection (carry), so the plan is
      // scan -> map-only scoring -> tiny threshold agg broadcast back —
      // no corpus self-join, no corpus shuffle
      val scored = graft.operators.TextAnalysis
        .quality(t(s, d, "documents"), "doc_id", "text", carry = Seq("lang"))
      graft.operators.Profile
        .groupQuantileFloor(scored, "lang", "quality", 0.25)
        .select(col("doc_id"), col("lang"), col("quality"))
        .orderBy(col("doc_id"))
    }),

    // per-doc token entropy (gibberish / degenerate-repetition signal):
    // two hash aggregates, H = log2(n) - sum(c*log2 c)/n so one grouping
    // level computes total and sum together
    "q102_token_entropy" -> ((s, d) =>
      graft.operators.TextAnalysis.tokenEntropy(
        t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // token-distribution drift between two corpus slices: per-token JSD
    // contributions — each side collapses to (token, count) in one hash
    // agg (the corpora never meet), totals are one-row broadcasts,
    // deterministic rounded-value+token cutoff
    "q101_token_drift" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Drift.tokenJsd(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), "text", topK = 40)
    }),

    // weighted sampling without replacement (A-ES): 5 docs per language,
    // inclusion odds proportional to n_chars, membership a pure hash —
    // the bounded top-k aggregate carries 5 pairs per group per task;
    // oracle replays the hash, key, and ranking exactly
    "q100_weighted_sample" -> ((s, d) =>
      graft.operators.Sampling.weightedTopK(
        t(s, d, "documents"), "doc_id", "n_chars", "lang", k = 5)
        .orderBy(col("lang"), col("rank"))),

    // PageRank over the customer-supplier interaction graph (crawl-
    // source weighting): 2 shuffle joins + 1 hash agg per iteration,
    // contributions summed in DECIMAL(38,18) so ranks are bit-identical
    // under any partitioning AND bit-replayable by the oracle's
    // unrolled iterations
    "q99_pagerank" -> ((s, d) => {
      val ol = t(s, d, "orders").join(t(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("p"))
      val edges = ol.select(col("c").as("src"), col("p").as("dst"))
        .union(ol.select(col("p").as("src"), col("c").as("dst")))
      graft.operators.Graphs.pageRank(edges, iterations = 3)
        .select(col("node"), round(col("rank"), 9).as("rank"))
        .orderBy(col("node"))
    }),

    // bigram-LM perplexity quality filter (CCNet/Gopher style): add-one
    // self-trained model, mean bits per bigram per doc — two hash
    // aggregates for the model, one count join to score; "surprising"
    // text (spam, garbage encodings) surfaces as high bits
    "q98_lm_bits" -> ((s, d) =>
      graft.operators.NgramLm.selfScoreBits(
        t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // column profiling (the know-your-data pass): one scan, all
    // aggregates in a single agg, map-only stack unpivot; exact distinct
    // counts so the oracle replays every cell
    "q92_profile" -> ((s, d) =>
      graft.operators.Profile.profile(t(s, d, "documents"),
        Seq("doc_id", "lang", "source", "n_chars"))
        .orderBy(col("col_name"))),

    // corpus mixing to per-source token budgets: ONE tiny per-source
    // aggregate broadcast onto a map-only hash filter (no corpus
    // shuffle); membership is the q76 unit hash, so the oracle replays
    // totals, fractions, AND membership exactly
    "q91_source_mix" -> ((s, d) =>
      graft.operators.Mixing.mixToTokenBudget(
        t(s, d, "documents"), "doc_id", "source", "n_chars",
        budgets = Map("src0" -> 999999999L, "src1" -> 4000L),
        defaultBudget = 2000L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("kept_chars"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy(col("source"))),

    // end-to-end training-data PREP: the q45 cleaning pipeline's
    // survivors -> fixed-size chunking -> greedy sequence packing, one
    // declarative plan from raw corpus to training sequences. Chunk key
    // cid = doc_id*1e6 + chunk_id keeps packing order == (doc, chunk)
    // order so the oracle replays the whole chain exactly (unique while
    // chunk_id < 1e6, i.e. docs under 24M ws tokens at stride 24 — far
    // beyond any real document; a collision would make the order
    // non-total and the assignment engine-dependent).
    "q90_prep_e2e" -> ((s, d) => {
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
    }),

    // BPE tokenizer TRAINING, distributed step: the word histogram under
    // the BPE pre-tokenizer is the only corpus-proportional pass (one
    // hash aggregate shuffling (word,count) pairs, never corpus text);
    // the driver-side greedy merge loop over it is bounded by distinct
    // words and spec-gated (BpeTrainingSpec)
    "q89_bpe_train_hist" -> ((s, d) =>
      graft.operators.BpeTraining.wordHistogram(t(s, d, "documents"), "text",
        maxDistinctWords = 50)),

    // fixed-size token chunking with stride (overlapping windows for
    // training / embedding-indexing): map-only sequence+explode+slice,
    // zero shuffles; the oracle reconstructs every chunk's exact text
    "q88_chunk" -> ((s, d) =>
      graft.operators.Chunking.chunk(t(s, d, "documents"), "doc_id", "text",
        size = 24, stride = 16)
        .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_id"))),

    // ---- TPC-H Q1 pricing summary (canonical scan+filter+multi-agg) ----
    "q50_pricing_summary" -> ((s, d) => {
      // exact decimal sum, then ONE double division — Spark's decimal
      // division would re-round at its own result scale
      def davg(c: Column, cnt: Column): Column =
        sum(c.cast("decimal(38,9)")).cast("double") / cnt
      val li = t(s, d, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      val cnt = count(lit(1))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))).as("sum_charge"),
          davg(col("l_quantity"), cnt).as("avg_qty"),
          davg(col("l_extendedprice"), cnt).as("avg_price"),
          davg(col("l_discount"), cnt).as("avg_disc"),
          cnt.as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

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
    "q205_heavy_quality" -> ((s, d) => {
      val docs = heavyDocs(s, d, 300)
      TextAnalysis.quality(docs, "doc_id", "text", carry = Seq("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          // quality is integer micros by construction; round() undoes
          // the /1e6 double rounding so the sum is exact
          sum(round(col("quality") * 1e6).cast("long")).as("quality_micros"))
        .orderBy(col("lang"))
    }),

    // batched BM25 retrieval over the 150x corpus with a fixed literal
    // query set: the full retrieval shape (tokenize + tf spill + df
    // rollup + scored exchange + bounded rank tail) at a size where the
    // shuffles carry real bytes
    "q206_heavy_bm25" -> ((s, d) => {
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
    }),

    // per-(lang, source) token totals + exact distinct vocabulary over
    // the 300x corpus: tokenize + explode feeding a real (lang, source,
    // term) exchange — the map+shuffle scaling shape
    "q207_heavy_tokens" -> ((s, d) => {
      val docs = heavyDocs(s, d, 300)
      docs.select(col("lang"), col("source"),
          explode(graft.functions.TextFunctions.words(col("text")))
            .as("term"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("term")).as("n_terms"))
        .orderBy(col("lang"), col("source"))
    })
  )

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
             list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS w
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
             list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS w
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

  private def bpeOracleCtes: String = {
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

  /** DuckDB twin of q28: recomputes the md5-based minhash signatures with
    * the SAME LCG coefficients as [[graft.functions.MinHashSignature]]
    * (embedded below as literals — both sides derive from
    * `HashFamilies.coefficients(16, 7L)`), buckets band-wise (rowsPerBand=1:
    * bucket = signature value) and joins for candidate pairs.
    */
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
    s"""dd AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(w)-1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
          FROM (
            SELECT doc_id,
              list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS w
            FROM documents WHERE doc_id % 5 = 0)
          WHERE len(w) >= 3),
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

  /** DuckDB twin of [[syntheticUrl]] + [[graft.operators.Urls]] host and
    * registered-domain extraction, shared by the q118/q119 oracles: the
    * URL construction, the host regex (RE2-safe in both engines), and
    * the label-slicing domain heuristic, replayed character for
    * character. DuckDB lists are 1-based; `ls[len(ls)-2:len(ls)]` is the
    * last-3 slice Spark spells `slice(labels, -3, 3)`.
    */
  private def urlDomainCtes: String =
    """u AS (
         SELECT doc_id, lang, source, n_chars,
           (CASE WHEN doc_id % 3 = 0 THEN 'http://' ELSE 'https://' END)
           || (CASE WHEN doc_id % 7 = 0 THEN 'crawler:pw@' ELSE '' END)
           || (CASE WHEN doc_id % 13 = 0 THEN 'News.' ELSE '' END)
           || source || '.'
           || (CASE WHEN doc_id % 5 = 0 THEN 'co.uk'
                    WHEN doc_id % 5 = 1 THEN 'example.com'
                    ELSE 'example.org' END)
           || (CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END)
           || '/p/' || doc_id || '?lang=' || lang AS url
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

  /** DuckDB md5 unit-hash bucket fold of a SQL expression — the SQL twin
    * of `floor(Sampling.unitHash(x, salt) * buckets)` cast to INTEGER,
    * shared by every bucket-folding oracle (q116 shards, q130 DSIR
    * features, q132 hashed NB features) so the fold arithmetic cannot
    * drift between oracles or between a tr/te CTE pair.
    */
  /** The q52 near-dup connected-components CTE chain (shared verbatim by
    * the q193 leakage-split oracle so the pair graph and the recursive
    * min-label reachability cannot drift between the two): 3-shingles of
    * the `doc_id % 5 = 0` subset, df-capped [2,100] posting lists,
    * Jaccard >= 0.02 candidate pairs, undirected edges, recursive
    * min-label closure ending in `cc(id, comp)`. Callers prepend
    * `WITH RECURSIVE` and aggregate `min(comp)` per id themselves.
    */
  private def nearDupCcCtes: String =
    nearDupCcCtesOver("documents WHERE doc_id % 5 = 0", "")

  /** The same pair-graph + closure chain over an arbitrary (doc_id, text)
    * source, CTE names prefixed with `p` so it can coexist with the
    * clean-survivor chain's own posting-list CTEs in one oracle (q199).
    * Ends in `${p}cc(id, comp)`.
    */
  private def nearDupCcCtesOver(source: String, p: String): String =
    s"""${p}dd AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(w)-1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM (
             SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS w
             FROM $source)
           WHERE len(w) >= 3),
         ${p}posting AS (
           SELECT doc_id, len(sh) AS sh_size, unnest(sh) AS shingle FROM ${p}dd),
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
           GROUP BY 1, 2, 3, 4),
         ${p}pairs AS (
           SELECT id_a, id_b FROM ${p}inter
           WHERE CAST(inter AS DOUBLE) / (size_a + size_b - inter) >= 0.02),
         ${p}edges AS (
           SELECT id_a AS src, id_b AS dst FROM ${p}pairs
           UNION ALL SELECT id_b, id_a FROM ${p}pairs),
         ${p}cc AS (
           SELECT src AS id, src AS comp FROM ${p}edges
           UNION
           SELECT e.src AS id, c.comp FROM ${p}edges e JOIN ${p}cc c ON e.dst = c.id)"""

  /** [[graft.pipelines.TrainingData.clean]]-with-defaults survivor CTEs,
    * shared VERBATIM by the q90 and q199 oracles (the shared-helper
    * discipline: the gate chain cannot drift between the two replays).
    * Normalize-dedup min-id, language-ID scores, the exact fixed-point
    * quality arithmetic, the en/0.26 gate, 3-shingle df-capped
    * Jaccard-0.5 near-dup removal. Ends in `surv(doc_id, text)`.
    */
  private def cleanSurvivorCtes: String =
    """uniq AS (
           SELECT doc_id, text FROM documents
           WHERE doc_id IN (
             SELECT min(doc_id) FROM documents
             GROUP BY regexp_replace(lower(text), '\s+', ' ', 'g'))),
         feat AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w,
             len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|in|is)\b')) AS s_en,
             len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS s_de,
             len(regexp_extract_all(lower(text), '\b(le|les|et|est|que|une)\b')) AS s_fr,
             len(regexp_extract_all(lower(text), '\b(el|los|y|es|por|una)\b')) AS s_es
           FROM uniq),
         scored AS (
           SELECT doc_id, text, w,
             CASE
               WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
               WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
               WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
               WHEN s_es > 0 THEN 'es'
               ELSE 'und' END AS lang_pred,
             CAST((((5 * len(list_distinct(w)) + 3 * (s_en)) * 125
                 + least(len(w), 250) * len(w)) * 2000000
                 + 1250 * len(w)) // (2500 * len(w)) AS DOUBLE)
                 / 1e6 AS quality
           FROM feat WHERE len(w) > 0),
         gated AS (
           SELECT * FROM scored WHERE lang_pred = 'en' AND quality >= 0.26),
         dd AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(w)-1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM gated WHERE len(w) >= 3),
         posting AS (SELECT doc_id, len(sh) AS sh_size, unnest(sh) AS shingle FROM dd),
         kept AS (
           SELECT p.doc_id, p.sh_size, p.shingle FROM posting p
           JOIN (SELECT shingle, count(*) AS df FROM posting GROUP BY 1) d
             USING (shingle)
           WHERE d.df BETWEEN 2 AND 100),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sh_size AS size_a, b.sh_size AS size_b, count(*) AS inter
           FROM kept a JOIN kept b
             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4),
         removed AS (
           SELECT DISTINCT id_b FROM inter
           WHERE CAST(inter AS DOUBLE) / (size_a + size_b - inter) >= 0.5),
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

  /** q197's recursive greedy pack walk over `src(doc_id[, extras],
    * tokens, grp)` — md5 group-bucket shard, (grp, doc_id) order —
    * prefixed so several walks coexist (q203's epochs). Ends in
    * `${p}packed(shard, grp, doc_id[, extras], tokens, r, seq_id, cum,
    * seq_pos)`.
    */
  private def packWalkCtes(src: String, p: String, extras: Seq[String],
      budget: Int, nShards: Int): String = {
    val e = extras.map(", " + _).mkString
    val be = extras.map(c => s", b.$c").mkString
    s"""${p}psh AS MATERIALIZED (
           SELECT doc_id$e, tokens, grp,
             CAST(floor(CAST(('0x' || substr(md5(grp || 'pack'), 1, 8))
               AS UBIGINT) / 4294967296.0 * $nShards) AS BIGINT) AS shard
           FROM $src),
         ${p}prn AS MATERIALIZED (
           SELECT *, row_number() OVER (PARTITION BY shard
             ORDER BY grp, doc_id) AS r
           FROM ${p}psh),
         ${p}packed AS (
           SELECT shard, grp, doc_id$e, tokens, r,
             CAST(0 AS BIGINT) AS seq_id, tokens AS cum,
             CAST(0 AS BIGINT) AS seq_pos
           FROM ${p}prn WHERE r = 1
           UNION ALL
           SELECT b.shard, b.grp, b.doc_id$be, b.tokens, b.r,
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
             w[1:c1] AS pre,
             w[c1+1:c1 + CAST(floor(uc2 * (n - c1 + 1)) AS INT)] AS mid,
             w[c1 + CAST(floor(uc2 * (n - c1 + 1)) AS INT) + 1:n] AS suf
           FROM ${p}tc),
         ${p}txt AS (
           SELECT doc_id,
             CASE WHEN ufim >= 0.5 THEN text
               WHEN uspm < 0.5 THEN array_to_string(
                 ['<SUF>'] || suf || ['<PRE>'] || pre || ['<MID>'] || mid, ' ')
               ELSE array_to_string(
                 ['<PRE>'] || pre || ['<SUF>'] || suf || ['<MID>'] || mid, ' ')
               END AS text_out
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

  private def md5BucketSql(expr: String, salt: String, buckets: Int): String =
    s"CAST(floor(CAST(('0x' || substr(md5($expr || '$salt'), 1, 8)) " +
      s"AS UBIGINT) / 4294967296.0 * $buckets) AS INTEGER)"

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

  /** DuckDB twin of q110 AND q117: blocked cosine pairs, recursive
    * component labeling, min-id anti-join. One definition for both — the
    * incremental operator against an empty history must be EXACTLY the
    * in-batch semanticDedup, so a semantics fix can't land in one oracle
    * and not the other.
    */
  private def semanticDedupOracle: String =
    """WITH RECURSIVE pairs AS MATERIALIZED (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                   CAST(b.embedding AS DOUBLE[])), 4) >= 0.4),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
         cc AS (
           SELECT src AS id, src AS comp FROM edges
           UNION
           SELECT e.src AS id, c.comp FROM edges e JOIN cc c ON e.dst = c.id),
         drp AS (
           SELECT id FROM (SELECT id, min(comp) AS comp FROM cc GROUP BY id)
           WHERE id <> comp)
         SELECT e.vec_id, e.label FROM embeddings e
         WHERE e.vec_id NOT IN (SELECT id FROM drp)
         ORDER BY e.vec_id"""

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
       packed AS (
         SELECT shard, doc_id, tokens, rn,
           CAST(0 AS BIGINT) AS seq_id, tokens AS cum, CAST(0 AS BIGINT) AS seq_pos
         FROM base WHERE rn = 1
         UNION ALL
         SELECT b.shard, b.doc_id, b.tokens, b.rn,
           CASE WHEN p.cum + b.tokens <= 256 THEN p.seq_id ELSE p.seq_id + 1 END,
           CASE WHEN p.cum + b.tokens <= 256 THEN p.cum + b.tokens ELSE b.tokens END,
           CASE WHEN p.cum + b.tokens <= 256 THEN p.seq_pos + 1 ELSE CAST(0 AS BIGINT) END
         FROM packed p JOIN base b ON b.shard = p.shard AND b.rn = p.rn + 1)
       SELECT p.shard, p.seq_id, CAST(count(*) AS BIGINT) AS n_docs,
         array_to_string(flatten(list(d.ids ORDER BY p.seq_pos)), ' ') AS ids
       FROM packed p JOIN docids d USING (doc_id)
       GROUP BY p.shard, p.seq_id
       ORDER BY p.shard, p.seq_id"""
  }

  /** DuckDB twin of q99: the same customer-supplier edge derivation, then
    * PageRank's three iterations UNROLLED as chained CTEs — each step
    * replays the engine's expressions exactly (double division, the
    * DECIMAL(38,18) contribution sum that makes ranks order-independent,
    * the in-plan (1 - 0.85) so the teleport base lands on the identical
    * double). Bit-for-bit rank parity, no tolerance.
    */
  private def q99Oracle: String = {
    val iters = (1 to 3).map { k =>
      s"""c$k AS (
           SELECT e.dst AS node, sum(CAST(p.rank / d.outdeg AS DECIMAL(38,18))) AS s
           FROM pr${k - 1} p JOIN deg d ON d.src = p.node JOIN e ON e.src = p.node
           GROUP BY e.dst),
         pr$k AS (
           SELECT nd.node,
             (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
               + CAST(0.85 AS DOUBLE) * coalesce(CAST(c.s AS DOUBLE), CAST(0 AS DOUBLE)) AS rank
           FROM nodes nd CROSS JOIN nn LEFT JOIN c$k c ON c.node = nd.node)"""
    }.mkString(",\n         ")
    s"""WITH ol AS (
           SELECT DISTINCT 2 * o_custkey AS c, 2 * l_suppkey + 1 AS p
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         e AS (SELECT c AS src, p AS dst FROM ol UNION SELECT p, c FROM ol),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         nn AS (SELECT count(*) AS n FROM nodes),
         pr0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank
                 FROM nodes CROSS JOIN nn),
         $iters
         SELECT node, round(rank, 9) AS rank FROM pr3 ORDER BY node"""
  }

  /** DuckDB twin of q104 AND q105: duplicate-span detection — identical
    * tokenization, md5-prefix window fingerprints, corpus-wide count
    * threshold, and the gaps-and-islands span merge. Shared because q105's
    * first-batch-against-empty-history semantics are exactly the batch
    * operator. Oracle positions are 1-based vs Spark's 0-based posexplode;
    * only position DIFFERENCES enter the span identity, so the shift
    * cancels.
    */
  private val q104Oracle: String =
    """WITH toks AS (
         SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
         FROM documents),
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

  private def q32Oracle: String =
    s"""WITH $lshPostedCte,
        q AS (SELECT tbl, bucket, v AS qv FROM posted WHERE vec_id = 0)
        SELECT p.vec_id, max(round(list_cosine_similarity(p.v, q.qv), 4)) AS sim
        FROM posted p JOIN q ON p.tbl = q.tbl AND p.bucket = q.bucket
        WHERE p.vec_id <> 0
        GROUP BY p.vec_id
        ORDER BY sim DESC, vec_id LIMIT 10"""

  private def q95Oracle: String =
    s"""WITH $lshPostedCte,
        q AS (SELECT vec_id AS query_id, tbl, bucket, v AS qv
              FROM posted WHERE vec_id % 50 = 0),
        pairs AS (
          SELECT q.query_id, p.vec_id,
            max(round(list_cosine_similarity(p.v, q.qv), 4)) AS sim
          FROM posted p JOIN q ON p.tbl = q.tbl AND p.bucket = q.bucket
          WHERE p.vec_id <> q.query_id
          GROUP BY 1, 2),
        ranked AS (
          SELECT query_id, vec_id,
            row_number() OVER (PARTITION BY query_id
              ORDER BY sim DESC, vec_id) AS rank
          FROM pairs)
        SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

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
          SELECT p.vec_id AS query_id, c.vec_id AS id,
            round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
              CAST(p.embedding AS DOUBLE[])), 4) AS sim
          FROM embeddings c JOIN embeddings p
            ON p.vec_id % 50 = 0 AND c.vec_id <> p.vec_id),
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

  /** Shared replay of the tf-idf keyword ranking (q139 one-shot, q141
    * from the persisted index — identical single-homed math).
    */
  private def tfidfOracle: String =
    """WITH toks AS (
         SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
         FROM documents),
       n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
       tf AS (
         SELECT doc_id, term, count(*) AS tf
         FROM (SELECT doc_id, unnest(w) AS term FROM toks)
         GROUP BY doc_id, term),
       df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       sm AS (
         SELECT tf.doc_id, tf.term,
           CAST(round(round(ln(n.n / df.df), 6) * tf.tf * 1000000)
             AS BIGINT) AS sm
         FROM tf JOIN df USING (term) CROSS JOIN n),
       ranked AS (
         SELECT doc_id, term, sm,
           row_number() OVER (PARTITION BY doc_id
             ORDER BY sm DESC, term) AS rank
         FROM sm)
       SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
         CAST(sm AS DOUBLE) / 1e6 AS score
       FROM ranked WHERE rank <= 3
       ORDER BY doc_id, rank"""

  /** Recall audit replay: the q95 LSH candidate list and the exact
    * cosine reference list, left-joined per (query, id), counted.
    */
  private def q138Oracle: String =
    s"""WITH $lshPostedCte,
        q AS (SELECT vec_id AS query_id, tbl, bucket, v AS qv
              FROM posted WHERE vec_id % 50 = 0),
        lpairs AS (
          SELECT q.query_id, p.vec_id,
            max(round(list_cosine_similarity(p.v, q.qv), 4)) AS sim
          FROM posted p JOIN q ON p.tbl = q.tbl AND p.bucket = q.bucket
          WHERE p.vec_id <> q.query_id
          GROUP BY 1, 2),
        cand AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY sim DESC, vec_id) AS rank
            FROM lpairs)
          WHERE rank <= 5),
        epairs AS (
          SELECT p.vec_id AS query_id, c.vec_id AS vec_id,
            round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
              CAST(p.embedding AS DOUBLE[])), 4) AS sim
          FROM embeddings c JOIN embeddings p
            ON p.vec_id % 50 = 0 AND c.vec_id <> p.vec_id),
        ref AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY sim DESC, vec_id) AS rank
            FROM epairs)
          WHERE rank <= 5)
        SELECT r.query_id, CAST(count(*) AS BIGINT) AS n_ref,
          CAST(count(c.vec_id) AS BIGINT) AS n_hit,
          CAST((count(c.vec_id) * 2000000 + count(*)) // (2 * count(*))
            AS DOUBLE) / 1e6 AS recall
        FROM ref r LEFT JOIN cand c
          ON c.query_id = r.query_id AND c.vec_id = r.vec_id
        GROUP BY r.query_id ORDER BY r.query_id"""

  /** Shared replay of the quoted-phrase searcher (q142 one-shot, q143
    * positional-indexed — identical counts by construction): q136's
    * per-length shingle counting keyed by query, ranked by exact
    * occurrence count with the ascending-doc-id tiebreak, top 10.
    */
  private def phraseTopKOracle: String =
    """WITH toks AS (
         SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
         FROM documents),
       ph(query_id, phrase) AS (VALUES
         (CAST(1 AS BIGINT), 'fast table'), (2, 'a a'), (3, 'table table'),
         (4, 'value table part'), (5, 'key agg row'), (6, 'zebra crossing')),
       sh AS (
         SELECT doc_id,
           unnest(list_transform(range(1, len(w)),
             i -> w[i] || ' ' || w[i+1])) AS shingle
         FROM toks WHERE len(w) >= 2
         UNION ALL
         SELECT doc_id,
           unnest(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
         FROM toks WHERE len(w) >= 3),
       counts AS (
         SELECT query_id, doc_id, count(*) AS n_hits
         FROM sh JOIN ph ON shingle = phrase
         GROUP BY query_id, doc_id),
       ranked AS (
         SELECT query_id, doc_id, n_hits,
           row_number() OVER (PARTITION BY query_id
             ORDER BY n_hits DESC, doc_id) AS rank
         FROM counts)
       SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, n_hits
       FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"""

  /** Shared replay of the proximity searcher (q144 one-shot, q145
    * positional-indexed — identical spans by construction): per-doc
    * word positions via zipped unnests, one per-arity chain of
    * doc-keyed position joins (terms pinned by offset), min span =
    * min(greatest - least) per (query, doc), slop-8 filter, span-asc /
    * doc-asc ranking, top 10. Single-term query 6 replays "table table"
    * after dedup (bare containment, span 0).
    */
  private def proximityTopKOracle: String =
    """WITH toks AS (
         SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
         FROM documents),
       pos AS (
         SELECT doc_id, unnest(w) AS term, unnest(range(len(w))) AS p
         FROM toks),
       ph1(query_id, t0) AS (VALUES (CAST(6 AS BIGINT), 'table')),
       ph2(query_id, t0, t1) AS (VALUES
         (CAST(1 AS BIGINT), 'fast', 'table'), (2, 'value', 'part'),
         (5, 'zebra', 'crossing')),
       ph3(query_id, t0, t1, t2) AS (VALUES
         (CAST(3 AS BIGINT), 'value', 'table', 'part'),
         (4, 'key', 'agg', 'row')),
       s1 AS (
         SELECT q.query_id, p0.doc_id, CAST(0 AS BIGINT) AS span
         FROM ph1 q JOIN pos p0 ON p0.term = q.t0
         GROUP BY 1, 2),
       s2 AS (
         SELECT q.query_id, p0.doc_id,
           CAST(min(greatest(p0.p, p1.p) - least(p0.p, p1.p)) AS BIGINT)
             AS span
         FROM ph2 q
         JOIN pos p0 ON p0.term = q.t0
         JOIN pos p1 ON p1.doc_id = p0.doc_id AND p1.term = q.t1
         GROUP BY 1, 2),
       s3 AS (
         SELECT q.query_id, p0.doc_id,
           CAST(min(greatest(p0.p, p1.p, p2.p)
             - least(p0.p, p1.p, p2.p)) AS BIGINT) AS span
         FROM ph3 q
         JOIN pos p0 ON p0.term = q.t0
         JOIN pos p1 ON p1.doc_id = p0.doc_id AND p1.term = q.t1
         JOIN pos p2 ON p2.doc_id = p0.doc_id AND p2.term = q.t2
         GROUP BY 1, 2),
       spans AS (
         SELECT * FROM s1 UNION ALL SELECT * FROM s2
         UNION ALL SELECT * FROM s3),
       ranked AS (
         SELECT query_id, doc_id, span,
           row_number() OVER (PARTITION BY query_id
             ORDER BY span, doc_id) AS rank
         FROM spans WHERE span <= 8)
       SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, span
       FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"""

  /** Shared replay of the windowed-passage searcher (q147 one-shot,
    * q148 positional-indexed — identical windows by construction):
    * per-doc word positions, the (query, term) match join, per-start
    * window counts via a position self-join (the optimal window always
    * starts on an occurrence), best-per-doc by count desc / start asc,
    * then count-desc / doc-asc ranking, top 10.
    */
  private def passageTopKOracle: String =
    s"""WITH $passageRankedCtes
       SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
         CAST(n_hits AS BIGINT) AS n_hits, CAST(start AS BIGINT) AS start
       FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"""

  /** The q147 ranking as composable CTEs ending in
    * `ranked(query_id, doc_id, n_hits, start, rank)` — shared with the
    * q152 snippet oracle (which joins the winning rows back to `toks`
    * and slices the window).
    */
  private def passageRankedCtes: String =
    """toks AS (
         SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
         FROM documents),
       pos AS (
         SELECT doc_id, unnest(w) AS term, unnest(range(len(w))) AS p
         FROM toks),
       qt(query_id, term) AS (VALUES
         (CAST(1 AS BIGINT), 'fast'), (1, 'table'),
         (2, 'value'), (2, 'part'),
         (3, 'value'), (3, 'table'), (3, 'part'),
         (4, 'key'), (4, 'agg'), (4, 'row'),
         (5, 'zebra'), (5, 'crossing'),
         (6, 'table')),
       m AS (
         SELECT q.query_id, pos.doc_id, pos.p
         FROM qt q JOIN pos ON pos.term = q.term),
       w AS (
         SELECT a.query_id, a.doc_id, a.p AS start, count(*) AS n
         FROM m a JOIN m b ON b.query_id = a.query_id
           AND b.doc_id = a.doc_id AND b.p >= a.p AND b.p < a.p + 8
         GROUP BY 1, 2, 3),
       best AS (
         SELECT query_id, doc_id, n, start,
           row_number() OVER (PARTITION BY query_id, doc_id
             ORDER BY n DESC, start) AS rn
         FROM w),
       ranked AS (
         SELECT query_id, doc_id, n AS n_hits, start,
           row_number() OVER (PARTITION BY query_id
             ORDER BY n DESC, doc_id) AS rank
         FROM best WHERE rn = 1)"""

  /** Shared replay of the batched BM25 scorer (q134 one-shot, q135
    * indexed — identical math over the full corpus): tokenize, corpus
    * stats, tf/df over the query-matching terms, the 6-decimal-rounded
    * per-term score -> exact integer micros -> order-invariant
    * per-(query, doc) sum, ranked with the q95 tiebreak.
    */
  private def bm25TopKOracle: String =
    s"""WITH $bm25RankedCtes
       SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Significant-terms replay (q160 one-shot ≡ q161 indexed,
    * single-homed tail): distinct (doc, term) pairs, the match set,
    * per-query totals, foreground vs background doc counts, the
    * 6-decimal log-lift micros with own-term exclusion, the exact
    * integer rank.
    */
  private def significantTermsOracle: String =
    """WITH toks AS (
         SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
         FROM documents),
       qt(query_id, term) AS (VALUES
         (CAST(1 AS BIGINT), 'fast'), (1, 'table'),
         (2, 'value'), (2, 'part'),
         (3, 'zebra'), (3, 'crossing'),
         (4, 'table')),
       dterms AS (
         SELECT doc_id, unnest(list_distinct(w)) AS term FROM toks),
       m AS (
         SELECT DISTINCT q.query_id, t.doc_id
         FROM qt q JOIN dterms t ON t.term = q.term),
       nm AS (SELECT query_id, count(*) AS nm FROM m GROUP BY 1),
       df AS (SELECT term, count(*) AS df FROM dterms GROUP BY 1),
       n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
       fg AS (
         SELECT m.query_id, d.term, count(*) AS fg
         FROM m JOIN dterms d USING (doc_id)
         GROUP BY 1, 2),
       sm AS (
         SELECT fg.query_id, fg.term,
           CAST(round(round(ln((fg.fg * n.n) / (nm.nm * df.df)), 6)
             * 1000000) AS BIGINT) AS sm
         FROM fg JOIN nm USING (query_id) JOIN df USING (term)
           CROSS JOIN n
         WHERE NOT EXISTS (
           SELECT 1 FROM qt
           WHERE qt.query_id = fg.query_id AND qt.term = fg.term)),
       ranked AS (
         SELECT query_id, term, sm,
           row_number() OVER (PARTITION BY query_id
             ORDER BY sm DESC, term) AS rank
         FROM sm)
       SELECT query_id, CAST(rank AS BIGINT) AS rank, term,
         CAST(sm AS DOUBLE) / 1e6 AS score
       FROM ranked WHERE rank <= 5
       ORDER BY query_id, rank"""

  /** Boolean-BM25 replay (q155 one-shot ≡ q156 indexed, single-homed
    * tail): the q134 scoring CTEs with tf restricted to ALL role terms
    * (a term's df is its own doc count, unaffected by which other
    * terms the filter admits), the per-(query, doc) micro sum carrying
    * a matched-must counter, the must-count gate, the mustNot
    * NOT-EXISTS, then the exact-integer rank.
    */
  private def boolBm25Oracle: String =
    """WITH toks AS (
         SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
         FROM documents),
       stats AS (
         SELECT CAST(count(*) AS DOUBLE) AS n,
           avg(CAST(len(w) AS DOUBLE)) AS avgdl
         FROM toks),
       roles(query_id, term, role) AS (VALUES
         (CAST(1 AS BIGINT), 'table', 'must'), (1, 'fast', 'should'),
         (1, 'value', 'should'),
         (2, 'table', 'must'), (2, 'value', 'must'),
         (3, 'fast', 'should'), (3, 'part', 'should'), (3, 'table', 'not'),
         (4, 'zebra', 'must'), (4, 'crossing', 'should'),
         (5, 'key', 'should'), (5, 'agg', 'should'), (5, 'row', 'should')),
       corpus AS (
         SELECT doc_id, CAST(len(w) AS BIGINT) AS doc_len, unnest(w) AS term
         FROM toks),
       tf AS (
         SELECT doc_id, doc_len, term, count(*) AS tf
         FROM corpus
         WHERE term IN (SELECT DISTINCT term FROM roles)
         GROUP BY doc_id, doc_len, term),
       df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       sm AS (
         SELECT tf.term, tf.doc_id,
           CAST(round(round(
             ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * tf.doc_len / stats.avgdl)),
             6) * 1000000) AS BIGINT) AS sm
         FROM tf JOIN df USING (term) CROSS JOIN stats),
       sroles AS (
         SELECT query_id, term,
           max(CASE WHEN role = 'must' THEN 1 ELSE 0 END) AS is_must
         FROM roles WHERE role <> 'not' GROUP BY 1, 2),
       nmust AS (
         SELECT query_id, count(*) AS n_must
         FROM sroles WHERE is_must = 1 GROUP BY 1),
       pairs AS (
         SELECT s.query_id, sm.doc_id, sum(sm.sm) AS m,
           sum(s.is_must) AS must_hit
         FROM sm JOIN sroles s USING (term)
         GROUP BY 1, 2),
       gated AS (
         SELECT p.query_id, p.doc_id, p.m
         FROM pairs p LEFT JOIN nmust n USING (query_id)
         WHERE p.must_hit = coalesce(n.n_must, 0)),
       keep AS (
         SELECT g.query_id, g.doc_id, g.m FROM gated g
         WHERE NOT EXISTS (
           SELECT 1 FROM tf JOIN roles r
             ON r.term = tf.term AND r.role = 'not'
           WHERE r.query_id = g.query_id AND tf.doc_id = g.doc_id)),
       ranked AS (
         SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY m DESC, doc_id) AS rank
         FROM keep)
       SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  /** The q153/q154 judgment CTEs over the q134 scorer's own `toks`/`q`:
    * distinct-term-overlap grades (share n of the query's distinct
    * terms -> grade n), composable after [[bm25RankedCtes]].
    */
  private def overlapJudgmentCtes: String =
    """topk AS (SELECT query_id, doc_id, rank FROM ranked WHERE rank <= 10),
       dterms AS (SELECT doc_id, unnest(list_distinct(w)) AS term FROM toks),
       qd AS (SELECT DISTINCT query_id, term FROM q),
       j AS (
         SELECT qd.query_id, dterms.doc_id,
           CAST(count(*) AS BIGINT) AS grade
         FROM dterms JOIN qd USING (term)
         GROUP BY 1, 2)"""

  /** nDCG@10 replay: the per-position micros contribution
    * round(round((2^grade - 1) / (ln(rank+1)/ln 2), 6) * 1e6) summed
    * into exact-integer DCG/IDCG (IDCG over the ideal grade-desc,
    * doc-asc ordering), one rounded division at the end — byte-for-byte
    * the [[graft.operators.RankFusion.ndcgAtK]] math.
    */
  private def ndcgOracle: String =
    s"""WITH $bm25RankedCtes,
       $overlapJudgmentCtes,
       dcg AS (
         SELECT t.query_id,
           sum(CAST(round(round((pow(2, j.grade) - 1)
             / (ln(t.rank + 1) / ln(2)), 6) * 1000000) AS BIGINT)) AS dcg
         FROM topk t JOIN j ON j.query_id = t.query_id AND j.doc_id = t.doc_id
         GROUP BY 1),
       ideal AS (
         SELECT query_id, grade,
           row_number() OVER (PARTITION BY query_id
             ORDER BY grade DESC, doc_id) AS ir
         FROM j),
       idcg AS (
         SELECT query_id,
           sum(CAST(round(round((pow(2, grade) - 1)
             / (ln(ir + 1) / ln(2)), 6) * 1000000) AS BIGINT)) AS idcg
         FROM ideal WHERE ir <= 10 GROUP BY 1)
       SELECT i.query_id,
         CASE WHEN i.idcg = 0 THEN 0.0
           ELSE CAST((coalesce(d.dcg, 0) * 2000000 + i.idcg)
             // (2 * i.idcg) AS DOUBLE) / 1e6
         END AS ndcg
       FROM idcg i LEFT JOIN dcg d USING (query_id)
       ORDER BY i.query_id"""

  /** MRR@10 replay: reciprocal first-relevant rank with relevance =
    * overlap grade >= 3, misses scoring (0, 0.0) — the
    * [[graft.operators.RankFusion.mrrAtK]] math.
    */
  private def mrrOracle: String =
    s"""WITH $bm25RankedCtes,
       $overlapJudgmentCtes,
       rel AS (SELECT query_id, doc_id FROM j WHERE grade >= 3),
       fr AS (
         SELECT t.query_id, min(t.rank) AS fr
         FROM topk t JOIN rel r
           ON r.query_id = t.query_id AND r.doc_id = t.doc_id
         GROUP BY 1)
       SELECT b.query_id,
         CAST(coalesce(f.fr, 0) AS BIGINT) AS first_rank,
         CASE WHEN f.fr IS NULL THEN 0.0
           ELSE CAST((2000000 + f.fr) // (2 * f.fr) AS DOUBLE) / 1e6
           END AS rr
       FROM (SELECT DISTINCT query_id FROM rel) b
       LEFT JOIN fr f USING (query_id)
       ORDER BY b.query_id"""

  /** The q134 scorer as composable CTEs ending in
    * `ranked(query_id, doc_id, rank)` — shared with the q137 hybrid
    * fusion oracle.
    */
  private def bm25RankedCtes: String = bm25RankedCtesWith(
    """SELECT doc_id AS query_id, unnest(list_distinct(w[1:8])) AS term
         FROM toks WHERE doc_id % 50 = 0""")

  /** The q134 scorer scaffold with a caller-supplied `q` CTE body
    * (query_id, term) — the fuzzy battery rows swap in a
    * vocabulary-expanded term set while every scoring CTE stays
    * byte-identical to the exact path's.
    */
  private def bm25RankedCtesWith(qBody: String): String =
    s"""toks AS (
         SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS w
         FROM documents),
       stats AS (
         SELECT CAST(count(*) AS DOUBLE) AS n,
           avg(CAST(len(w) AS DOUBLE)) AS avgdl
         FROM toks),
       q AS (
         $qBody),
       corpus AS (
         SELECT doc_id, CAST(len(w) AS BIGINT) AS doc_len, unnest(w) AS term
         FROM toks),
       tf AS (
         SELECT doc_id, doc_len, term, count(*) AS tf
         FROM corpus
         WHERE term IN (SELECT DISTINCT term FROM q)
         GROUP BY doc_id, doc_len, term),
       df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       sm AS (
         SELECT tf.term, tf.doc_id,
           CAST(round(round(
             ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * tf.doc_len / stats.avgdl)),
             6) * 1000000) AS BIGINT) AS sm
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

  /** q147's ranking CTEs with the winning rows joined back to the token
    * arrays and the window sliced to text — DuckDB list slices are
    * 1-based inclusive, so `[start+1 : start+8]` is exactly the 8-word
    * window at 0-based `start`, clipped at the document end like
    * Spark's `slice`.
    */
  private def passageSnippetsOracle: String =
    s"""WITH $passageRankedCtes
       SELECT r.query_id, CAST(r.rank AS BIGINT) AS rank, r.doc_id,
         CAST(r.n_hits AS BIGINT) AS n_hits,
         CAST(r.start AS BIGINT) AS start,
         array_to_string(t.w[r.start + 1 : r.start + 8], ' ') AS snippet
       FROM ranked r JOIN toks t USING (doc_id)
       WHERE r.rank <= 10 ORDER BY r.query_id, r.rank"""

  /** Facet distribution of each query's match set (docs containing ANY
    * query term) over the language column — distinct matched docs per
    * (query, facet), the aggregation-over-retrieval panel.
    */
  private def facetCountsOracle: String =
    """WITH toks AS (
         SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
         FROM documents),
       qt(query_id, term) AS (VALUES
         (CAST(1 AS BIGINT), 'fast'), (1, 'table'),
         (2, 'value'), (2, 'part'),
         (3, 'zebra'), (3, 'crossing'),
         (4, 'table')),
       m AS (
         SELECT DISTINCT q.query_id, t.doc_id
         FROM qt q
         JOIN (SELECT doc_id, unnest(list_distinct(w)) AS term
               FROM toks) t ON t.term = q.term)
       SELECT m.query_id, d.lang AS facet,
         CAST(count(*) AS BIGINT) AS n_docs
       FROM m JOIN documents d USING (doc_id)
       GROUP BY 1, 2 ORDER BY 1, 2"""

  /** q158: the q151 facet replay over a DERIVED numeric bucket
    * (n_chars floored to 100s) instead of the lang attribute.
    */
  private def facetHistogramOracle: String =
    """WITH toks AS (
         SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
         FROM documents),
       qt(query_id, term) AS (VALUES
         (CAST(1 AS BIGINT), 'fast'), (1, 'table'),
         (2, 'value'), (2, 'part'),
         (3, 'zebra'), (3, 'crossing')),
       m AS (
         SELECT DISTINCT q.query_id, t.doc_id
         FROM qt q
         JOIN (SELECT doc_id, unnest(list_distinct(w)) AS term
               FROM toks) t ON t.term = q.term)
       SELECT m.query_id,
         CAST(floor(d.n_chars / 100) * 100 AS BIGINT) AS facet,
         CAST(count(*) AS BIGINT) AS n_docs
       FROM m JOIN documents d USING (doc_id)
       GROUP BY 1, 2 ORDER BY 1, 2"""

  /** q157 more-like-this replay: the q139 tf-idf CTEs pick each seed's
    * top-3 terms (corpus-wide df), the q134 scoring CTEs rank BM25
    * over those term sets at k+1, then the seed row drops with later
    * ranks closed up — byte-for-byte the
    * [[graft.operators.TextAnalysis.moreLikeThis]] math.
    */
  private def moreLikeThisOracle: String =
    """WITH toks AS (
         SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
         FROM documents),
       n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
       stats AS (
         SELECT CAST(count(*) AS DOUBLE) AS n,
           avg(CAST(len(w) AS DOUBLE)) AS avgdl
         FROM toks),
       corpus AS (
         SELECT doc_id, CAST(len(w) AS BIGINT) AS doc_len, unnest(w) AS term
         FROM toks),
       tf AS (
         SELECT doc_id, doc_len, term, count(*) AS tf
         FROM corpus GROUP BY doc_id, doc_len, term),
       kdf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       ksm AS (
         SELECT tf.doc_id, tf.term,
           CAST(round(round(ln(n.n / kdf.df), 6) * tf.tf * 1000000)
             AS BIGINT) AS sm
         FROM tf JOIN kdf USING (term) CROSS JOIN n
         WHERE tf.doc_id % 50 = 0),
       kw AS (
         SELECT doc_id, term,
           row_number() OVER (PARTITION BY doc_id
             ORDER BY sm DESC, term) AS krank
         FROM ksm),
       q AS (SELECT doc_id AS query_id, term FROM kw WHERE krank <= 3),
       btf AS (
         SELECT * FROM tf
         WHERE term IN (SELECT DISTINCT term FROM q)),
       bdf AS (SELECT term, count(*) AS df FROM btf GROUP BY term),
       bsm AS (
         SELECT btf.term, btf.doc_id,
           CAST(round(round(
             ln((stats.n - bdf.df + 0.5) / (bdf.df + 0.5) + 1.0)
               * (btf.tf * 2.2)
               / (btf.tf + 1.2 * (0.25 + 0.75 * btf.doc_len / stats.avgdl)),
             6) * 1000000) AS BIGINT) AS sm
         FROM btf JOIN bdf USING (term) CROSS JOIN stats),
       pairs AS (
         SELECT q.query_id, bsm.doc_id, sum(bsm.sm) AS m
         FROM bsm JOIN q USING (term)
         GROUP BY 1, 2),
       ranked AS (
         SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY m DESC, doc_id) AS rank
         FROM pairs),
       topk AS (SELECT * FROM ranked WHERE rank <= 6),
       selfr AS (
         SELECT query_id, rank AS sr FROM topk WHERE query_id = doc_id)
       SELECT t.query_id,
         CAST(CASE WHEN s.sr IS NOT NULL AND t.rank > s.sr
           THEN t.rank - 1 ELSE t.rank END AS BIGINT) AS rank,
         t.doc_id
       FROM topk t LEFT JOIN selfr s USING (query_id)
       WHERE t.query_id <> t.doc_id
         AND (CASE WHEN s.sr IS NOT NULL AND t.rank > s.sr
           THEN t.rank - 1 ELSE t.rank END) <= 5
       ORDER BY query_id, rank"""

  /** Shared replay of the typo-tolerant BM25 searcher (q149 one-shot,
    * q150 indexed — identical expansion and scoring by construction):
    * the fixed typo'd term set expands against the corpus vocabulary by
    * exact Levenshtein <= 1 (the oracle may brute-force the distance
    * join; the engine's deletion-variant equi-join is
    * candidate-complete for dist <= 1 and verified by the same
    * levenshtein), then the q134 scoring CTEs run byte-identical over
    * the expanded (query_id, term) set.
    */
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

  /** q162 replay: all six retrieval strategies re-derived in SQL over
    * one shared scoring scaffold — lexical/fuzzy/boolean/MLT reuse the
    * same per-(term, doc) BM25 micros (df is the corpus df regardless
    * of which query set selects the term), dense is the q137 cosine
    * ranking, hybrid is its RRF fusion with lexical — then the q153
    * nDCG math per (ranker, query) and the integer-micros mean.
    */
  private def rankerEvalOracle: String =
    """WITH toks AS (
         SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
         FROM documents),
       n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
       stats AS (
         SELECT CAST(count(*) AS DOUBLE) AS n,
           avg(CAST(len(w) AS DOUBLE)) AS avgdl
         FROM toks),
       corpus AS (
         SELECT doc_id, CAST(len(w) AS BIGINT) AS doc_len, unnest(w) AS term
         FROM toks),
       tf AS (
         SELECT doc_id, doc_len, term, count(*) AS tf
         FROM corpus GROUP BY doc_id, doc_len, term),
       kdf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       q_lex AS (
         SELECT doc_id AS query_id, unnest(list_distinct(w[1:8])) AS term
         FROM toks WHERE doc_id % 50 = 0),
       q_fuz AS (
         SELECT DISTINCT q.query_id, v.term
         FROM q_lex q JOIN kdf v ON levenshtein(q.term, v.term) <= 1),
       q_bool AS (
         SELECT doc_id AS query_id, w[1] AS term, 'must' AS role
         FROM toks WHERE doc_id % 50 = 0
         UNION ALL
         SELECT doc_id AS query_id,
           unnest(list_distinct(list_filter(w[2:8], x -> x <> w[1]))) AS term,
           'should' AS role
         FROM toks WHERE doc_id % 50 = 0),
       ksm AS (
         SELECT tf.doc_id, tf.term,
           CAST(round(round(ln(n.n / kdf.df), 6) * tf.tf * 1000000)
             AS BIGINT) AS sm
         FROM tf JOIN kdf USING (term) CROSS JOIN n
         WHERE tf.doc_id % 50 = 0),
       kw AS (
         SELECT doc_id, term,
           row_number() OVER (PARTITION BY doc_id
             ORDER BY sm DESC, term) AS krank
         FROM ksm),
       roles AS (
         SELECT 'lexical' AS ranker, query_id, term, 'should' AS role FROM q_lex
         UNION ALL
         SELECT 'fuzzy', query_id, term, 'should' FROM q_fuz
         UNION ALL
         SELECT 'boolean', query_id, term, role FROM q_bool
         UNION ALL
         SELECT 'mlt', doc_id, term, 'should' FROM kw WHERE krank <= 3),
       sm AS (
         SELECT tf.term, tf.doc_id,
           CAST(round(round(
             ln((stats.n - kdf.df + 0.5) / (kdf.df + 0.5) + 1.0)
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * tf.doc_len / stats.avgdl)),
             6) * 1000000) AS BIGINT) AS sm
         FROM tf JOIN kdf USING (term) CROSS JOIN stats
         WHERE tf.term IN (SELECT DISTINCT term FROM roles)),
       pairs AS (
         SELECT r.ranker, r.query_id, s.doc_id, sum(s.sm) AS m,
           count(DISTINCT CASE WHEN r.role = 'must' THEN r.term END) AS nm
         FROM sm s JOIN roles r USING (term)
         GROUP BY 1, 2, 3),
       mustn AS (
         SELECT ranker, query_id, count(*) AS n_must
         FROM roles WHERE role = 'must' GROUP BY 1, 2),
       gated AS (
         SELECT p.ranker, p.query_id, p.doc_id, p.m
         FROM pairs p LEFT JOIN mustn mn USING (ranker, query_id)
         WHERE coalesce(mn.n_must, 0) = p.nm
           AND NOT (p.ranker = 'mlt' AND p.doc_id = p.query_id)),
       rcut AS (
         SELECT * FROM (
           SELECT ranker, query_id, doc_id,
             row_number() OVER (PARTITION BY ranker, query_id
               ORDER BY m DESC, doc_id) AS rank
           FROM gated)
         WHERE rank <= 10),
       dpairs AS (
         SELECT p.vec_id AS query_id, c.vec_id AS doc_id,
           round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
             CAST(p.embedding AS DOUBLE[])), 4) AS sim
         FROM embeddings c JOIN embeddings p
           ON p.vec_id % 50 = 0 AND c.vec_id <> p.vec_id),
       dcut AS (
         SELECT 'dense' AS ranker, query_id, doc_id, rank FROM (
           SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, doc_id) AS rank
           FROM dpairs)
         WHERE rank <= 10),
       contrib AS (
         SELECT query_id, doc_id,
           CAST(round(1e9 / (60 + rank)) AS BIGINT) AS s
         FROM rcut WHERE ranker = 'lexical'
         UNION ALL
         SELECT query_id, doc_id,
           CAST(round(1e9 / (60 + rank)) AS BIGINT) AS s FROM dcut),
       hcut AS (
         SELECT 'hybrid' AS ranker, query_id, doc_id, rank FROM (
           SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY m DESC, doc_id) AS rank
           FROM (SELECT query_id, doc_id, sum(s) AS m FROM contrib
                 GROUP BY 1, 2))
         WHERE rank <= 10),
       all_ranked AS (
         SELECT * FROM rcut
         UNION ALL SELECT * FROM dcut
         UNION ALL SELECT * FROM hcut),
       dterms AS (SELECT doc_id, unnest(list_distinct(w)) AS term FROM toks),
       qd AS (SELECT DISTINCT query_id, term FROM q_lex),
       j AS (
         SELECT qd.query_id, dterms.doc_id,
           CAST(count(*) AS BIGINT) AS grade
         FROM dterms JOIN qd USING (term)
         GROUP BY 1, 2),
       dcg AS (
         SELECT a.ranker, a.query_id,
           sum(CAST(round(round((pow(2, j.grade) - 1)
             / (ln(a.rank + 1) / ln(2)), 6) * 1000000) AS BIGINT)) AS dcg
         FROM all_ranked a
         JOIN j ON j.query_id = a.query_id AND j.doc_id = a.doc_id
         GROUP BY 1, 2),
       ideal AS (
         SELECT query_id, grade,
           row_number() OVER (PARTITION BY query_id
             ORDER BY grade DESC, doc_id) AS ir
         FROM j),
       idcg AS (
         SELECT query_id,
           sum(CAST(round(round((pow(2, grade) - 1)
             / (ln(ir + 1) / ln(2)), 6) * 1000000) AS BIGINT)) AS idcg
         FROM ideal WHERE ir <= 10 GROUP BY 1),
       rankers(ranker) AS (VALUES ('boolean'), ('dense'), ('fuzzy'),
         ('hybrid'), ('lexical'), ('mlt')),
       perq AS (
         SELECT g.ranker, g.query_id,
           CASE WHEN g.idcg = 0 THEN 0.0
             ELSE CAST((coalesce(d.dcg, 0) * 2000000 + g.idcg)
               // (2 * g.idcg) AS DOUBLE) / 1e6
           END AS ndcg
         FROM (SELECT r.ranker, i.query_id, i.idcg
               FROM rankers r CROSS JOIN idcg i) g
         LEFT JOIN dcg d
           ON d.ranker = g.ranker AND d.query_id = g.query_id)
       SELECT ranker,
         CAST((sum(CAST(round(ndcg * 1000000) AS BIGINT)) * 2
             + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6 AS mean_ndcg,
         CAST(count(*) AS BIGINT) AS n_queries
       FROM perq GROUP BY 1 ORDER BY 1"""

  private def bm25FuzzyOracle: String =
    s"""WITH ${bm25RankedCtesWith(
      """SELECT DISTINCT q0.query_id, v.term
         FROM (VALUES (CAST(1 AS BIGINT), 'tabl'), (2, 'valu'),
           (2, 'pert'), (3, 'fastt'), (3, 'zzzzz'), (4, 'key'),
           (4, 'agg')) q0(query_id, term)
         JOIN (SELECT DISTINCT unnest(w) AS term FROM toks) v
           ON levenshtein(q0.term, v.term) <= 1""")}
       SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

  /** DuckDB twin of q29: per-word md5-derived 64-bit hash, per-bit +1/-1
    * votes, sign -> bit, fingerprint compared as unsigned 16-hex-char text
    * (both engines lowercase, zero-padded).
    */
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
              list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> ''))), 1, 16))
              AS UBIGINT) AS h
          FROM documents),
        c AS (
          SELECT doc_id,
             $votes
          FROM h GROUP BY doc_id),
        f AS (SELECT doc_id, $fp AS fp FROM c)"""
  }

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

  /** The q183/q184 score fixture CTE — the oracle twin of
    * [[evalScores]]: the same k/128-grid label-correlated scores.
    */
  private val evalScoreCte: String =
    """sc AS (
           SELECT (lang = 'en') AS y,
             CAST(CASE WHEN lang = 'en' THEN (doc_id * 13) % 96 + 32
                  ELSE (doc_id * 13) % 96 END AS DOUBLE) / 128.0 AS s
           FROM documents)"""

  /** DuckDB twin for each oracle-able query (column names + ordering match
    * the Spark side exactly; see determinism rules in the class doc).
    */
  def oracleSql: Map[String, String] = Map(
    "q28_dedup_minhash" -> q28Oracle,
    "q109_minhash_incr" -> q109Oracle,
    "q113_simhash_incr" -> q113Oracle,

    "q116_shard_plan" ->
      s"""SELECT ${md5BucketSql("CAST(doc_id AS VARCHAR)", "ex", 8)} AS shard,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars,
           min(doc_id) AS min_id
         FROM documents GROUP BY 1 ORDER BY shard""",

    "q115_corpus_shuffle" ->
      """SELECT doc_id, lang,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'ep0'), 1, 8))
             AS UBIGINT) / 4294967296.0 AS shuffle_key
         FROM documents ORDER BY shuffle_key, doc_id""",

    "q118_domain_rollup" ->
      s"""WITH $urlDomainCtes
         SELECT domain, count(*) AS n_docs,
           count(DISTINCT host) AS n_hosts,
           CAST(sum(n_chars) AS BIGINT) AS chars
         FROM dom GROUP BY domain ORDER BY domain""",

    // blocklist filter, then per-domain rank <= cap (under-cap domains
    // satisfy it trivially — the engine's under/over plan split is a
    // performance shape, not a semantics change)
    // the NB fit re-derived as counting: priors/conds/defaults with
    // Laplace alpha=1, log-probs rounded to 6 at train and scores to 4
    // at classify (the cross-engine ln pin); unseen test tokens take the
    // per-label default mass; argmax = highest rounded score, ties to
    // the smallest label
    "q123_nb_classify" -> nbClassifyOracle(nbWordTokCtes),

    // q172: the per-label classification report over q123's
    // predictions vs the true labels — counts from one (truth, pred)
    // GROUP BY, every ratio HALF-UP MICROS IN LONG ARITHMETIC
    // ((num*2e6 + den) // (2*den), then one exact /1e6) mirroring
    // Eval.micros exactly; F1 via its count identity 2tp/(2tp+fp+fn),
    // never the p/r composition. round(double,6) is banned here: the
    // engines' double rounding diverges on boundary ratios (r16)
    "q172_nb_report" ->
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
         FROM rep ORDER BY label""",

    // q173: exact tie-corrected Mann-Whitney AUC of the en-vs-rest NB
    // margin (score_en - best other score; both 4-decimal doubles from
    // identical integer micros, so the margins — and therefore the
    // ranks — are bit-identical across engines)
    "q173_en_margin_auc" ->
      s"""WITH ${nbPredCtes(nbWordTokCtes)},
         mg AS (
           SELECT doc_id,
             max(CASE WHEN label = 'en' THEN score END) -
             max(CASE WHEN label <> 'en' THEN score END) AS m
           FROM scall GROUP BY doc_id),
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
         FROM ag""",

    // q174: the same synthesized files, re-framed by RECORD SPLIT on
    // the version line (equivalent to the engine's Content-Length walk
    // on this fixture by construction) and re-parsed with the same
    // anchored header regexes
    "q174_warc_parse" ->
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
         FROM resp ORDER BY file_id, rec_no""",

    // q175: the suffix-sum truncation replayed as the same descending
    // running window (monotone suffix sums make the keep set the
    // maximal recent suffix), transcript re-rendered oldest-first
    "q175_sft_assemble" ->
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
         FROM mk GROUP BY user_id ORDER BY user_id""",

    // q176: the same perturbation, statuses from one full join of
    // (id, md5) sides
    "q176_corpus_diff" ->
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
         FROM j ORDER BY doc_id""",

    // q177: exact-cosine candidate ranking (the q95 4-decimal
    // contract), the same gap gate, per-prompt cap, and tiebreaks
    "q177_preference_pairs" ->
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
         ORDER BY query_id, pair_no"""),

    // q204: the q177 scored-frame CTEs verbatim (shared helper), then
    // the one-pair-per-prompt tail — argmax/argmin with the smallest-id
    // tiebreak replayed as rank-1 windows, gap-gated at 500
    "q204_dpo_pairs" ->
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
         ORDER BY b.query_id"""),

    // q178: every Gopher metric recomputed with list lambdas, the
    // bounds applied to the SAME rounded ratios as the engine
    "q178_gopher_rules" ->
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
         FROM m ORDER BY doc_id""",

    // q179: both raters replayed (the q33 heuristic rule + the q123 NB
    // chain), kappa from the label-bounded pair table with the same
    // three correctly-rounded divisions
    "q179_lang_kappa" ->
      s"""WITH ${nbPredCtes(nbWordTokCtes)},
         heur AS (
           SELECT doc_id,
             CASE
               WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
               WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
               WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
               WHEN s_es > 0 THEN 'es'
               ELSE 'und' END AS lang_pred
           FROM (
             SELECT doc_id,
               len(regexp_extract_all(lower(text), '\\b(the|a|of|to|and|in|is)\\b')) AS s_en,
               len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|nicht)\\b')) AS s_de,
               len(regexp_extract_all(lower(text), '\\b(le|les|et|est|que|une)\\b')) AS s_fr,
               len(regexp_extract_all(lower(text), '\\b(el|los|y|es|por|una)\\b')) AS s_es
             FROM documents WHERE doc_id % 2 = 1)),
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
         FROM tk, pek""",

    // q181: the q173 margin ranking by (margin DESC, doc_id), each
    // precision@k term as the same fixed-point floor division
    "q181_avg_precision" ->
      s"""WITH ${nbPredCtes(nbWordTokCtes)},
         mg AS (
           SELECT doc_id,
             max(CASE WHEN label = 'en' THEN score END) -
             max(CASE WHEN label <> 'en' THEN score END) AS m
           FROM scall GROUP BY doc_id),
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
         FROM ag""",

    // q123's fit+classify with the md5 bucket fold (512 buckets, salt
    // 'nbh') applied to the word list in BOTH halves
    "q132_nb_hashed" -> nbClassifyOracle(
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
           FROM documents WHERE doc_id % 2 = 1)"""),

    // q123's fit+classify with the char 2-4-gram tokenizer CTE swapped
    // in: whitespace-collapsed lowercase text, positional substrings per
    // n concatenated n-major — the exact TextFunctions.charGrams order
    "q127_nb_chargram" -> nbClassifyOracle(
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
         te AS (SELECT doc_id, w FROM grams WHERE doc_id % 2 = 1)"""),

    // the PSL rules as a VALUES table in their parsed (key, pub-labels,
    // exception) form — 'co.uk' plain (pub 2), '*.org' wildcard (key
    // 'org', pub 2) — candidates as label-slice suffixes per distinct
    // host, prevailing rule = exception first then longest (the Scala
    // struct-max), default pub 1, registered domain = last pub+1 labels
    "q122_psl_domains" ->
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
         GROUP BY hd.domain ORDER BY hd.domain""",

    // codebook, codes, query distance table, and ADC ranking re-derived
    // in pure SQL: the synthetic centroids are dyadic (k/8, exact in
    // double), per-subspace distances round to 4 decimals before the
    // argmin (ties -> lowest cid, the PqEncode rule), the distance table
    // is vec 0's own per-subspace distance row
    "q121_pq_adc" ->
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
         ORDER BY dist, c.vec_id LIMIT 10""",

    // the synthetic URL + noise, then the canonicalization steps in the
    // exact arithmetic of Urls.canonicalUrl: one anchored parse, lowered
    // scheme/host, default-port drop, trailing-slash strip, tracking
    // param filter (coalesce: DuckDB's array_to_string of an EMPTY list
    // is NULL where Spark's array_join is '')
    "q120_url_canon" ->
      s"""WITH n AS (
           SELECT doc_id,
             (CASE WHEN doc_id % 3 = 0 THEN 'http://' ELSE 'https://' END)
             || (CASE WHEN doc_id % 7 = 0 THEN 'crawler:pw@' ELSE '' END)
             || (CASE WHEN doc_id % 13 = 0 THEN 'News.' ELSE '' END)
             || source || '.'
             || (CASE WHEN doc_id % 5 = 0 THEN 'co.uk'
                      WHEN doc_id % 5 = 1 THEN 'example.com'
                      ELSE 'example.org' END)
             || (CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END)
             || '/p/' || doc_id || '?lang=' || lang
             || (CASE WHEN doc_id % 4 = 0
                      THEN '&utm_source=feed&utm_campaign=weekly' ELSE '' END)
             || (CASE WHEN doc_id % 6 = 0 THEN '&fbclid=IwAR2xYz' ELSE '' END)
             || (CASE WHEN doc_id % 9 = 0 THEN '#ref-2' ELSE '' END) AS url
           FROM documents),
         $urlCanonCtes
         SELECT doc_id, canon_url FROM canon ORDER BY doc_id""",

    // url-keyed exact dedup: min doc_id per CANONICAL url over urls that
    // collide only through crawl noise (host case, default port,
    // trailing slash, tracking params, fragments) — the q120 canon chain
    // shared verbatim, then one group-min + semi join
    "q124_url_dedup" ->
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
         JOIN w ON d.doc_id = w.doc_id ORDER BY d.doc_id""",

    // stupid-backoff trigram LM: model = trigram counts of the even
    // half; every lower tier rolls up from it; per-trigram bits round
    // at 6 decimals, the doc mean at 4 (cross-engine log pin). 0.16 is
    // λ² written as ONE literal on both sides (0.4*0.4 in doubles is
    // 0.16000000000000003).
    "q125_lm_backoff" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\W+'), w -> w <> '') AS ws
           FROM documents),
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
           CAST((sum(CAST(round(bits * 1e6) AS BIGINT)) * 2
               + count(*) * 100) // (count(*) * 200) AS DOUBLE) / 1e4
             AS bits
         FROM scored GROUP BY doc_id ORDER BY doc_id""",

    // perceptual image hash: replay the keyed-BMP pixel formula (pure
    // int64 arithmetic), the 8x8 nearest-neighbor sample grid, the
    // (b+g+r)//3 gray, the strict cell*64 > sum mean bits, the 16-bit
    // pigeonhole bands and the popcount verify — mirrors
    // Multimodal.syntheticBmpHashPipeline end to end without touching
    // a byte; hamming from 4 band xors ≡ the full-word popcount
    "q126_image_phash" ->
      """WITH p AS (
           SELECT doc_id, doc_id % 2 AS odd, doc_id // 2 AS seed,
             8 + (doc_id // 2) % 32 AS w, 4 + (doc_id // 2) % 16 AS h
           FROM documents),
         cells AS (
           SELECT p.doc_id, u2.j * 8 + u1.i AS idx,
             least(p.w - 1, (u1.i * p.w) // 8) AS sx,
             least(p.h - 1, (u2.j * p.h) // 8) AS sy,
             p.odd, p.seed
           FROM p,
             LATERAL (SELECT unnest(range(0, 8)) AS i) u1,
             LATERAL (SELECT unnest(range(0, 8)) AS j) u2),
         px AS (
           SELECT doc_id, idx,
             sx * 2654435761 + sy * 2246822519 + seed * 3266489917 AS v,
             CASE WHEN odd = 1 AND sx = 0 AND sy = 0 THEN 128 ELSE 0 END AS dp
           FROM cells),
         g AS (
           SELECT doc_id, idx,
             ((((v >> 8) & 255) + dp) % 256
              + (((v >> 16) & 255) + dp) % 256
              + (((v >> 24) & 255) + dp) % 256) // 3 AS gray
           FROM px),
         bits AS (
           SELECT doc_id, idx,
             CASE WHEN gray * 64 > sum(gray) OVER (PARTITION BY doc_id)
               THEN 1 ELSE 0 END AS bit
           FROM g),
         bands AS (
           SELECT doc_id, idx // 16 AS band,
             CAST(sum(bit << CAST(idx % 16 AS INTEGER)) AS BIGINT) AS bucket
           FROM bits GROUP BY doc_id, idx // 16),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id),
         ham AS (
           SELECT c.id_a, c.id_b,
             sum(bit_count(xor(a.bucket, b.bucket))) AS hamming
           FROM cand c
           JOIN bands a ON a.doc_id = c.id_a
           JOIN bands b ON b.doc_id = c.id_b AND b.band = a.band
           GROUP BY c.id_a, c.id_b)
         SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming
         FROM ham WHERE hamming <= 3 ORDER BY id_a, id_b""",

    // q126's band/popcount CTEs over the acoustic energy hash: regenerate
    // every PCM sample from the id, bucket into 64 frames, threshold on
    // the 1/64 mean energy
    "q129_audio_fp" ->
      """WITH p AS (
           SELECT doc_id, doc_id % 2 AS odd, doc_id // 2 AS seed,
             64 * (4 + (doc_id // 2) % 8) AS n
           FROM documents),
         smp AS (
           SELECT doc_id, odd, seed, n, unnest(range(0, n)) AS j FROM p),
         sv AS (
           SELECT doc_id, (j * 64) // n AS f,
             CASE WHEN odd = 1 AND j = 0
               THEN ((((j * 2654435761 + seed * 3266489917) >> 16) & 65535)
                     + 32768) % 65536
               ELSE ((j * 2654435761 + seed * 3266489917) >> 16) & 65535
             END AS s
           FROM smp),
         e AS (SELECT doc_id, f, sum(s) AS energy FROM sv GROUP BY doc_id, f),
         bits AS (
           SELECT doc_id, f,
             CASE WHEN energy * 64 > sum(energy) OVER (PARTITION BY doc_id)
               THEN 1 ELSE 0 END AS bit
           FROM e),
         bands AS (
           SELECT doc_id, f // 16 AS band,
             CAST(sum(bit << CAST(f % 16 AS INTEGER)) AS BIGINT) AS bucket
           FROM bits GROUP BY doc_id, f // 16),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id),
         ham AS (
           SELECT c.id_a, c.id_b,
             sum(bit_count(xor(a.bucket, b.bucket))) AS hamming
           FROM cand c
           JOIN bands a ON a.doc_id = c.id_a
           JOIN bands b ON b.doc_id = c.id_b AND b.band = a.band
           GROUP BY c.id_a, c.id_b)
         SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming
         FROM ham WHERE hamming <= 3 ORDER BY id_a, id_b""",

    // q126's pixel/gray/bit/band CTEs with a frame dimension (the frame
    // index folds into the seed as seed*31 + f; the odd perturbation
    // hits frame 0's pixel (0,0) only), candidates must match band AND
    // frame slot, per-slot popcount <= 3, then the matched-slot count
    // kept at >= 2 — mirrors Multimodal.syntheticAviHashPipeline end to
    // end without touching a byte
    "q146_video_fp" ->
      """WITH p AS (
           SELECT doc_id, doc_id % 2 AS odd, doc_id // 2 AS seed,
             8 + (doc_id // 2) % 16 AS w, 4 + (doc_id // 2) % 8 AS h,
             2 + (doc_id // 2) % 3 AS nf
           FROM documents),
         fr AS (
           SELECT doc_id, odd, seed, w, h, unnest(range(0, nf)) AS f
           FROM p),
         cells AS (
           SELECT fr.doc_id, fr.f, u2.j * 8 + u1.i AS idx,
             least(fr.w - 1, (u1.i * fr.w) // 8) AS sx,
             least(fr.h - 1, (u2.j * fr.h) // 8) AS sy,
             fr.odd, fr.seed
           FROM fr,
             LATERAL (SELECT unnest(range(0, 8)) AS i) u1,
             LATERAL (SELECT unnest(range(0, 8)) AS j) u2),
         px AS (
           SELECT doc_id, f, idx,
             sx * 2654435761 + sy * 2246822519
               + (seed * 31 + f) * 3266489917 AS v,
             CASE WHEN odd = 1 AND f = 0 AND sx = 0 AND sy = 0
               THEN 128 ELSE 0 END AS dp
           FROM cells),
         g AS (
           SELECT doc_id, f, idx,
             ((((v >> 8) & 255) + dp) % 256
              + (((v >> 16) & 255) + dp) % 256
              + (((v >> 24) & 255) + dp) % 256) // 3 AS gray
           FROM px),
         bits AS (
           SELECT doc_id, f, idx,
             CASE WHEN gray * 64 > sum(gray) OVER (PARTITION BY doc_id, f)
               THEN 1 ELSE 0 END AS bit
           FROM g),
         bands AS (
           SELECT doc_id, f, idx // 16 AS band,
             CAST(sum(bit << CAST(idx % 16 AS INTEGER)) AS BIGINT) AS bucket
           FROM bits GROUP BY doc_id, f, idx // 16),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.f
           FROM bands a JOIN bands b
             ON a.f = b.f AND a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id),
         ham AS (
           SELECT c.id_a, c.id_b, c.f,
             sum(bit_count(xor(a.bucket, b.bucket))) AS hamming
           FROM cand c
           JOIN bands a ON a.doc_id = c.id_a AND a.f = c.f
           JOIN bands b ON b.doc_id = c.id_b AND b.f = c.f
             AND b.band = a.band
           GROUP BY c.id_a, c.id_b, c.f),
         pairs AS (
           SELECT id_a, id_b, count(*) AS n_match
           FROM ham WHERE hamming <= 3 GROUP BY id_a, id_b)
         SELECT id_a, id_b, CAST(n_match AS BIGINT) AS n_match
         FROM pairs WHERE n_match >= 2 ORDER BY id_a, id_b""",

    "q130_dsir_weights" ->
      s"""WITH $dsirWeightCtes
         SELECT doc_id, n_feats, round(logw, 4) AS logw
         FROM w ORDER BY doc_id""",

    // q130's weight CTEs + the q100 Gumbel draw (salt 'gum', subnormal
    // floor on u) -> top-40 by descending key
    "q131_dsir_select" ->
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
         FROM keyed ORDER BY key DESC, doc_id LIMIT 40""",

    "q119_domain_gate" ->
      s"""WITH $urlDomainCtes,
         g AS (
           SELECT doc_id, source, coalesce(domain, ' no-domain ') AS dk
           FROM dom WHERE domain IS NULL OR domain <> 'example.org'),
         r AS (
           SELECT doc_id, source,
             row_number() OVER (PARTITION BY dk ORDER BY doc_id) AS rn
           FROM g)
         SELECT doc_id, source FROM r WHERE rn <= 40 ORDER BY doc_id""",

    "q114_semantic_decontam" ->
      """SELECT c.vec_id AS corpus_id, p.vec_id AS probe_id,
           round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
             CAST(p.embedding AS DOUBLE[])), 4) AS sim
         FROM embeddings c JOIN embeddings p
           ON c.vec_id % 50 <> 0 AND p.vec_id % 50 = 0
         WHERE round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
             CAST(p.embedding AS DOUBLE[])), 4) >= 0.4
         ORDER BY corpus_id, probe_id""",

    // q30's pair derivation + q52's recursive component labeling + an
    // anti-join; pairs MATERIALIZED per the recursive-oracle rule
    "q110_semantic_dedup" -> semanticDedupOracle,

    // empty history: the incremental path must reproduce q110 exactly
    "q117_semantic_incr" -> semanticDedupOracle,

    // q110's labeling with the q106 packed arg_max keeper per component
    "q112_semantic_dedup_by" ->
      """WITH RECURSIVE pairs AS MATERIALIZED (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                   CAST(b.embedding AS DOUBLE[])), 4) >= 0.4),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
         cc AS (
           SELECT src AS id, src AS comp FROM edges
           UNION
           SELECT e.src AS id, c.comp FROM edges e JOIN cc c ON e.dst = c.id),
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
         ORDER BY e.vec_id""",
    "q29_simhash" -> q29Oracle,
    "q32_ann_lsh" -> q32Oracle,
    "q95_batch_ann" -> q95Oracle,

    // q95's rank/tiebreak conventions over the exact label-mismatch
    // cosine sweep (anchors = the % 50 probe split)
    "q133_hard_negatives" ->
      """WITH pairs AS (
           SELECT p.vec_id AS query_id, c.vec_id AS vec_id,
             round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
               CAST(p.embedding AS DOUBLE[])), 4) AS sim
           FROM embeddings c JOIN embeddings p
             ON p.vec_id % 50 = 0 AND c.vec_id % 50 <> 0
               AND c.label <> p.label),
         ranked AS (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id) AS rank
           FROM pairs)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",

    // replays bm25TopK end-to-end: tokenize, corpus stats, tf/df over
    // the query-matching terms, the 6-decimal-rounded per-term score ->
    // exact integer micros -> order-invariant per-(query, doc) sum,
    // ranked with the q95 tiebreak
    "q134_bm25_topk" -> bm25TopKOracle,
    // the indexed path serves IDENTICAL results over the union of its
    // epochs (shared scoring tail; equality one-shot ≡ indexed is
    // spec-pinned in LexicalIndexSpec) — same replay
    "q135_bm25_indexed" -> bm25TopKOracle,

    "q138_ann_recall" -> q138Oracle,
    "q140_mmr_diverse" -> q140Oracle,

    // replays the tf-idf keyword ranking: full-corpus tf/df, the
    // 6-decimal idf x integer tf micros, per-doc rank with term
    // tiebreak; q141 serves the IDENTICAL math from the persisted index
    // (single-homed tail, indexed ≡ one-shot spec-pinned) so it shares
    // the replay
    "q139_tfidf_keywords" -> tfidfOracle,
    "q141_tfidf_indexed" -> tfidfOracle,

    // the q134 CTEs for the lexical list, the q133-style cosine sweep
    // for the dense list, then integer-micro RRF contributions summed
    // per (query, doc) and re-ranked with the q95 tiebreak
    "q137_hybrid_rrf" ->
      s"""WITH $bm25RankedCtes,
         lex AS (
           SELECT query_id, doc_id, rank FROM ranked WHERE rank <= 5),
         dpairs AS (
           SELECT p.vec_id AS query_id, c.vec_id AS doc_id,
             round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
               CAST(p.embedding AS DOUBLE[])), 4) AS sim
           FROM embeddings c JOIN embeddings p
             ON p.vec_id % 50 = 0 AND c.vec_id <> p.vec_id),
         dense AS (
           SELECT query_id, doc_id, rank FROM (
             SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, doc_id) AS rank
             FROM dpairs)
           WHERE rank <= 5),
         contrib AS (
           SELECT query_id, doc_id,
             CAST(round(1e9 / (60 + rank)) AS BIGINT) AS s FROM lex
           UNION ALL
           SELECT query_id, doc_id,
             CAST(round(1e9 / (60 + rank)) AS BIGINT) AS s FROM dense),
         fused AS (
           SELECT query_id, doc_id, sum(s) AS m FROM contrib
           GROUP BY query_id, doc_id),
         franked AS (
           SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY m DESC, doc_id) AS rank
           FROM fused)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id
         FROM franked WHERE rank <= 5 ORDER BY query_id, rank""",

    // replays the positional-shingle blocklist: every start position
    // per phrase length, literal phrase join, per-(doc, phrase) counts
    "q136_blocklist" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
           FROM documents),
         ph(phrase) AS (VALUES ('fast table'), ('a a'), ('table table'),
           ('value table part'), ('key agg row'), ('zebra crossing')),
         sh AS (
           SELECT doc_id,
             unnest(list_transform(range(1, len(w)),
               i -> w[i] || ' ' || w[i+1])) AS shingle
           FROM toks WHERE len(w) >= 2
           UNION ALL
           SELECT doc_id,
             unnest(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
           FROM toks WHERE len(w) >= 3)
         SELECT doc_id, phrase, count(*) AS n_hits
         FROM sh JOIN ph ON shingle = phrase
         GROUP BY doc_id, phrase
         ORDER BY doc_id, phrase""",

    // replays phraseTopK: q136's shingle counting keyed per query, then
    // the exact-integer rank (count desc, doc_id asc tiebreak, top 10);
    // q143 serves IDENTICAL results from the positional index
    // (single-homed tail, indexed ≡ one-shot spec-pinned) so it shares
    // the replay
    "q142_phrase_topk" -> phraseTopKOracle,
    // q145 serves IDENTICAL results from the positional index
    // (candidate aggregate + rank tail single-homed; spec-pinned)
    "q144_proximity_topk" -> proximityTopKOracle,
    "q145_proximity_indexed" -> proximityTopKOracle,
    // q148 serves IDENTICAL results from the positional index
    "q147_passage_topk" -> passageTopKOracle,
    "q148_passage_indexed" -> passageTopKOracle,
    // q150 serves IDENTICAL results from the persisted index
    "q149_fuzzy_bm25" -> bm25FuzzyOracle,
    "q150_fuzzy_indexed" -> bm25FuzzyOracle,
    "q151_facet_counts" -> facetCountsOracle,
    "q152_passage_snippets" -> passageSnippetsOracle,
    // replay the DCG/IDCG micro sums over the q134 ranking and the
    // overlap-graded judgment frame
    "q153_ndcg" -> ndcgOracle,
    "q154_mrr" -> mrrOracle,
    // q156 serves IDENTICAL results from the persisted index
    // (single-homed bool tail, indexed ≡ one-shot spec-pinned)
    "q155_bool_bm25" -> boolBm25Oracle,
    "q156_bool_indexed" -> boolBm25Oracle,
    "q157_more_like_this" -> moreLikeThisOracle,
    // q159 serves IDENTICAL results from the persisted index
    // (single-homed keyword fold + exclusion tail, spec-pinned)
    "q159_mlt_indexed" -> moreLikeThisOracle,
    "q158_facet_histogram" -> facetHistogramOracle,
    // q161 serves IDENTICAL results from the persisted index
    // (single-homed tail, spec-pinned)
    "q160_significant_terms" -> significantTermsOracle,
    "q161_sig_indexed" -> significantTermsOracle,
    "q162_ranker_eval" -> rankerEvalOracle,
    // replays the margin miner: exact 1e4-scaled cosines, window top-4
    // neighborhoods both directions, the one double-division margin
    // chain, forward-best per src above the threshold
    "q163_bitext_margin" -> bitextMarginOracle(bitextExactCand("")),
    // the LSH twin: the q32 hyperplane-bucket CTE generates the
    // candidate pairs (max over colliding tables of the identical
    // cosine — the engine's dedup idiom), then the SAME margin tail
    "q164_bitext_lsh" -> bitextMarginOracle(bitextLshCand("")),
    // q165 serves IDENTICAL pairs from the persisted index (same plane
    // family, candidates and tail by construction) — q164's oracle
    "q165_bitext_indexed" -> bitextMarginOracle(bitextLshCand("")),
    // q166: both chains side by side — the exact sweep's pairs are the
    // gold, the LSH miner's are the candidate, scored by the xSIM-style
    // error rate (missing = error, unjudged ignored)
    "q166_bitext_audit" ->
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
         FROM em LEFT JOIN lm USING (src_id)""",
    // q169: the Viterbi DP replayed as a recursive CTE (vocabulary
    // VALUES generated from DefaultVocab — see unigramOracleCtes)
    "q169_unigram_segment" ->
      s"""WITH RECURSIVE $unigramOracleCtes
         SELECT doc_id, n_words, n_pieces, score_micros,
           md5(segline) AS seg_md5
         FROM __udoc ORDER BY doc_id""",

    // q170: both tokenizer replays (BPE state machine + unigram DP)
    // under one WITH RECURSIVE, folded per language
    "q170_unigram_fertility" ->
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
         FROM __uf GROUP BY lang ORDER BY lang""",

    // q182: ids off the SAME recursive-CTE segmentation (__udoc's
    // segline), the identical piece->id map generated from DefaultVocab,
    // truncate + zero-pad via list_resize
    "q182_unigram_ids" -> {
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
    },

    // q183: the binned-AUC algebra replayed — clamped floor binning on
    // the exactly-representable k/128 fixture, cumulative
    // negatives-below per bin, the trapezoidal doubled-rank sum, and
    // the identical half-up micros finish
    "q183_auc_binned" ->
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
         FROM ag""",

    // q186: the planted line classes rebuilt and re-filtered with the
    // identical keep predicate (terminal punct regex on the trimmed
    // line, whitespace word floor, javascript contains) and doc flags
    // on the ORIGINAL text
    "q186_c4_lines" ->
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
         FROM k ORDER BY doc_id""",

    // q185: the decorated corpus re-fixed by the GENERATED replace
    // chain (Encoding.duckFixStages over the same MojibakeTable /
    // ConfusablesTable — one definition, two engines; staged CTEs keep
    // each expression under DuckDB's 128-deep binder cap)
    "q185_fix_encoding" -> {
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
    },

    // q184: per-bin counts, the row-level micro quantization
    // (round(s*1e6) — identical IEEE product, half-away-from-zero in
    // both engines), and the two fixed-point divisions
    "q184_calibration" ->
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
         FROM g ORDER BY bin""",

    // q187: per-row micro gap (round(s*1e6) — identical IEEE product,
    // half-away-from-zero in both engines, the q184 quantization) minus
    // the 0/1e6 label, one integer sum of squares, one half-up
    // fixed-point division
    "q187_brier" ->
      s"""WITH $evalScoreCte,
         g AS (
           SELECT CAST(round(s * 1000000) AS BIGINT)
             - CASE WHEN y THEN 1000000 ELSE 0 END AS g
           FROM sc)
         SELECT CAST(count(*) AS BIGINT) AS n,
           CAST((CAST(sum(g * g) AS BIGINT) * 2 + count(*) * 1000000)
             // (2 * count(*) * 1000000) AS DOUBLE) / 1e6 AS brier
         FROM g""",

    // q188: the Bloom filter only routes rows between the map-only
    // novel lane and the exact confirm join, so the novel set is the
    // plain seen-set anti-join the oracle computes (null-safe via LEFT
    // JOIN, not NOT IN)
    "q188_bloom_dedup" ->
      """WITH fp AS (
           SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS f,
             doc_id
           FROM documents),
         seed AS (SELECT DISTINCT f FROM fp WHERE doc_id % 3 = 0),
         reps AS (SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY f)
         SELECT r.doc_id FROM reps r LEFT JOIN seed s ON r.f = s.f
         WHERE s.f IS NULL ORDER BY doc_id""",

    // q198: the corruption replayed position-by-position — the start
    // draw is the same md5 unit hash over 'sc:id:i' against the SAME
    // IEEE division 0.25/3 (never a decimal literal of it), span
    // coverage via a rolling spanLen-window max over the start flags,
    // islands (merged spans) via the corrupted-run-start running sum,
    // both renderings assembled with ordered string_agg, close
    // sentinel appended from the island count
    "q198_span_corrupt" ->
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
         ORDER BY tok.doc_id""",

    // q197: q85's recursive greedy replay with two ordering changes —
    // shard from the md5 unit-hash bucket of the GROUP (the q116 fold
    // arithmetic over grp || 'pack') and rn over (grp, doc_id)
    "q197_pack_related" ->
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
         FROM packed ORDER BY doc_id""",

    // q196: the budget walk (descending suffix-sum window) and the
    // offset walk (ascending running sum over the full `role: content`
    // rendering widths) replayed verbatim; window sums cast AS BIGINT
    // (the q172 HUGEINT lesson)
    "q196_loss_mask" ->
      ("WITH " + lossMaskSpanCtes + """
         SELECT conv, turn_no, role, token_start, token_end, train
         FROM spans ORDER BY conv, turn_no"""),

    // q195: the argmax-with-tiebreak replayed as a rank-1 window
    // (score DESC, cand ASC) — semantically identical to the engine's
    // max(struct(score, -cand)) aggregate — plus the minScore floor
    "q195_best_of_n" ->
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
         ORDER BY query_id""",

    // q194: the FIM rewrite replayed from the same md5 unit-hash
    // arithmetic (k/2^32 and the products are IEEE-exact in both
    // engines): cut1 = floor(u_c1*(n+1)), cut2 = cut1 +
    // floor(u_c2*(n-cut1+1)), token-array slices re-joined around the
    // sentinels; format from the u_fim/u_spm draws
    "q194_fim" ->
      """WITH tok AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
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
             w[1:c1] AS pre,
             w[c1+1:c1 + CAST(floor(uc2 * (n - c1 + 1)) AS INT)] AS mid,
             w[c1 + CAST(floor(uc2 * (n - c1 + 1)) AS INT) + 1:n] AS suf
           FROM cuts)
         SELECT doc_id,
           CASE WHEN ufim >= 0.5 THEN 'plain'
             WHEN uspm < 0.5 THEN 'spm' ELSE 'psm' END AS fmt,
           CAST(n AS BIGINT) AS n_tokens,
           clash AS sentinel_clash,
           CASE WHEN ufim >= 0.5 THEN text
             WHEN uspm < 0.5 THEN array_to_string(
               ['<SUF>'] || suf || ['<PRE>'] || pre || ['<MID>'] || mid, ' ')
             ELSE array_to_string(
               ['<PRE>'] || pre || ['<SUF>'] || suf || ['<MID>'] || mid, ' ')
             END AS text_out
         FROM segs ORDER BY doc_id""",

    // q193: the q52 component CTEs verbatim (shared helper — the pair
    // graph cannot drift between the two oracles), folded to min-label
    // per id, left-joined onto the subset so unpaired docs are their
    // own singleton cluster; the split side is the unit-hash of the
    // REPRESENTATIVE (first 8 md5 hex chars over 2^32 — exact doubles
    // both engines) against the 0.2 threshold
    "q193_leakage_split" ->
      s"""WITH RECURSIVE $nearDupCcCtes,
         lab AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id)
         SELECT d.doc_id, coalesce(l.comp, d.doc_id) AS rep,
           CASE WHEN CAST(('0x' || substr(md5(
               CAST(coalesce(l.comp, d.doc_id) AS VARCHAR) || 'split'),
               1, 8)) AS UBIGINT) / 4294967296.0 < 0.2
             THEN 'val' ELSE 'train' END AS split
         FROM documents d LEFT JOIN lab l ON d.doc_id = l.id
         WHERE d.doc_id % 5 = 0
         ORDER BY d.doc_id""",

    // q192: the robots parse replayed line-by-line (comment strip,
    // directive split, user-agent-run grouping via lag + running sum,
    // group selection for graftbot), then the longest-match decision
    // with each pattern translated to an anchored regex (metachar
    // escape chain, * -> .*, trailing-$ anchor; specificity excludes
    // the $). Non-.example.org hosts carry no robots row -> allowed
    "q192_robots_gate" -> {
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
    },

    // q191: the identical tree walk — DuckDB integer division is //
    // where Spark's is DIV, otherwise statement-for-statement
    "q191_recursive_cte" ->
      """WITH RECURSIVE walk(pk, lvl) AS (
           SELECT CAST(1 AS BIGINT), 0
           UNION ALL
           SELECT p.p_partkey, w.lvl + 1
           FROM part p JOIN walk w ON p.p_partkey // 10 = w.pk)
         SELECT lvl, count(*) AS cnt,
           CAST(CAST(sum(CAST(p2.p_retailprice AS DECIMAL(38,9)))
             AS VARCHAR) AS DOUBLE) AS price_sum
         FROM walk JOIN part p2 ON walk.pk = p2.p_partkey
         GROUP BY lvl ORDER BY lvl""",

    // q190: the greedy longest-match walk replayed per distinct word
    // (recursive CTE), per-doc frames re-joined positionally
    "q190_wordpiece" ->
      s"""WITH RECURSIVE $wordpieceOracleCtes
         SELECT doc_id, n_words, n_pieces, n_unk_words,
           md5(segline) AS seg_md5
         FROM __wdoc ORDER BY doc_id""",

    // q189: the ORC round-trip must preserve values exactly — the
    // oracle aggregates the parquet original
    "q189_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS cnt,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,9))) AS VARCHAR)
             AS DOUBLE) AS total_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // q171: the same decoration (two composed index lambdas), then the
    // protect/mark/split cascade replayed with the identical regexes
    // (RE2/Java common subset; group refs \1 here, $1 in Spark — same
    // semantics, different engine syntax)
    "q171_sentences" ->
      s"""WITH ${sentenceCtes(bp = false)}
         SELECT doc_id, sent_id, sentence,
           CAST(length(sentence) AS BIGINT) AS n_chars
         FROM fs ORDER BY doc_id, sent_id""",

    // q180: the q171 chain over the boilerplate-tailed corpus, df >= 10
    // hashes stripped, per-doc rebuild in sentence order
    "q180_sentence_dedup" ->
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
         ORDER BY doc_id""",

    // q168: q45's stage CTEs, re-pointed at the DROPPED side of each
    // gate — exact-dup complement, empty-token docs, lang/quality
    // first-fail split, and the greedy near-dup drops with their
    // min-partner keeper in the reason
    "q168_drop_lineage" ->
      """WITH uniq AS (
           SELECT doc_id, text FROM documents
           WHERE doc_id IN (
             SELECT min(doc_id) FROM documents
             GROUP BY regexp_replace(lower(text), '\s+', ' ', 'g'))),
         feat AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w,
             len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|in|is)\b')) AS s_en,
             len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS s_de,
             len(regexp_extract_all(lower(text), '\b(le|les|et|est|que|une)\b')) AS s_fr,
             len(regexp_extract_all(lower(text), '\b(el|los|y|es|por|una)\b')) AS s_es
           FROM uniq),
         scored AS (
           SELECT doc_id, text, w,
             CASE
               WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
               WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
               WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
               WHEN s_es > 0 THEN 'es'
               ELSE 'und' END AS lang_pred,
             CAST((((5 * len(list_distinct(w)) + 3 * (s_en)) * 125
                 + least(len(w), 250) * len(w)) * 2000000
                 + 1250 * len(w)) // (2500 * len(w)) AS DOUBLE)
                 / 1e6 AS quality
           FROM feat WHERE len(w) > 0),
         gated AS (
           SELECT * FROM scored WHERE lang_pred = 'en' AND quality >= 0.26),
         dd AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(w)-1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM gated WHERE len(w) >= 3),
         posting AS (SELECT doc_id, len(sh) AS sh_size, unnest(sh) AS shingle FROM dd),
         kept AS (
           SELECT p.doc_id, p.sh_size, p.shingle FROM posting p
           JOIN (SELECT shingle, count(*) AS df FROM posting GROUP BY 1) d
             USING (shingle)
           WHERE d.df BETWEEN 2 AND 100),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sh_size AS size_a, b.sh_size AS size_b, count(*) AS inter
           FROM kept a JOIN kept b
             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4),
         nd AS (
           SELECT id_b AS doc_id, min(id_a) AS of_id FROM inter
           WHERE CAST(inter AS DOUBLE) / (size_a + size_b - inter) >= 0.5
           GROUP BY id_b)
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
         ORDER BY doc_id""",

    // q167: the same synthesized page, re-extracted in DuckDB — the
    // non-content strip, block split, per-block density stats, filter
    // and ordered join mirror Html.extract step for step (RE2/Java
    // common regex subset; list lambdas mirror the Spark HOFs)
    "q167_html_extract" ->
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
         FROM keep ORDER BY doc_id""",

    "q143_phrase_indexed" -> phraseTopKOracle,
    "q96_encode_ids" -> q96Oracle,
    "q97_pack_ids" -> q97Oracle,
    "q01_scan_count" -> "SELECT count(*) AS n FROM events",

    "q02_typed_scan" ->
      "SELECT CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS sum_qty FROM lineitem",

    "q03_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber""",

    "q04_project_upper" ->
      "SELECT p_partkey, upper(p_name) AS p_name_upper FROM part ORDER BY p_partkey",

    "q05_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
         FROM events ORDER BY event_id""",

    "q06_json_mutate" ->
      """SELECT event_id,
           CAST(json_merge_patch(props, '{"processed": true}') AS VARCHAR) AS enriched
         FROM events ORDER BY event_id""",

    "q07_wordcount" ->
      """SELECT word, count(*) AS "count" FROM (
           SELECT unnest(string_split_regex(lower(text), '\W+')) AS word FROM documents)
         WHERE word <> '' GROUP BY word ORDER BY word""",

    "q08_selectkey_agg" ->
      """SELECT l_orderkey || '-' || l_partkey AS k, count(*) AS "count",
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS total
         FROM lineitem GROUP BY 1 ORDER BY k""",

    "q09_rollup" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,9))) AS DECIMAL(38,2)) AS VARCHAR) AS sum_qty,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,9))) AS DECIMAL(38,2)) AS VARCHAR) AS sum_price,
           count(*) AS cnt
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",

    "q10_point_lookup" ->
      """SELECT word, "count" FROM (
           SELECT word, count(*) AS "count" FROM (
             SELECT unnest(string_split_regex(lower(text), '\W+')) AS word FROM documents)
           WHERE word <> '' GROUP BY word)
         WHERE word = 'table' ORDER BY word""",

    "q11_range_scan" ->
      """SELECT l_partkey, count(*) AS cnt,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS total
         FROM lineitem WHERE l_orderkey = 7 GROUP BY l_partkey ORDER BY l_partkey""",

    "q12_scatter_gather" ->
      """SELECT o_custkey, count(*) AS cnt,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS total
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",

    "q13_join_broadcast" ->
      """SELECT n_name, count(*) AS cnt FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",

    "q14_join_multiway" ->
      """SELECT o_orderkey, o_orderdate,
           CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS revenue
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
           AND l_orderkey = o_orderkey AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY o_orderkey, o_orderdate
         ORDER BY revenue DESC, o_orderkey LIMIT 20""",

    "q15_anti_join" ->
      """SELECT c_custkey FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey""",

    "q16_semi_join" ->
      """SELECT s_suppkey FROM supplier s
         WHERE EXISTS (SELECT 1 FROM customer c WHERE c.c_nationkey = s.s_nationkey)
         ORDER BY s_suppkey""",

    "q17_window_tumble" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
           count(*) AS cnt, CAST(CAST(sum(CAST(value AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    "q18_window_rank" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
           SELECT o_custkey, o_orderkey,
             CAST(row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS INT) AS rn
           FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, rn""",

    "q19_window_running" ->
      """SELECT o_custkey, o_orderkey,
           lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_ok,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,9))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running
         FROM orders ORDER BY o_custkey, o_orderkey""",

    "q20_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",

    "q21_except" ->
      """SELECT * FROM (
           SELECT c_custkey AS "key" FROM customer
           EXCEPT SELECT o_custkey FROM orders) ORDER BY "key"""",

    "q22_union" ->
      """SELECT * FROM (
           SELECT c_nationkey AS nk FROM customer
           UNION SELECT s_nationkey FROM supplier) ORDER BY nk""",

    "q23_intersect" ->
      """SELECT * FROM (
           SELECT c_nationkey AS nk FROM customer
           INTERSECT SELECT n_nationkey FROM nation) ORDER BY nk""",

    "q24_scalar_battery" ->
      """SELECT l_orderkey, l_linenumber,
           abs(l_discount - 0.05) AS a,
           round(l_extendedprice, 1) AS r,
           CAST(length(l_returnflag || l_linestatus) AS BIGINT) AS len,
           substr(l_returnflag, 1, 1) AS st,
           CASE WHEN l_linestatus = 'O' THEN 'X' ELSE l_linestatus END AS c,
           CAST(year(l_shipdate) AS INT) AS y,
           CAST(month(l_shipdate) AS INT) AS m,
           CAST(day(l_shipdate) AS INT) AS dd,
           greatest(l_quantity, 25.0) AS g
         FROM lineitem WHERE l_orderkey % 500 = 0
         ORDER BY l_orderkey, l_linenumber""",

    "q25_udaf_count_total" ->
      """SELECT l_orderkey || '-' || l_partkey AS k, count(*) AS "count",
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS total
         FROM lineitem GROUP BY 1 ORDER BY k""",

    // md5-digest grouping key, matching Dedup.exactGroups' 16-byte shuffle key
    "q26_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dup_cnt FROM documents
         GROUP BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))
         ORDER BY keep_id""",

    // posting-list form with the same df-cap (2..100) as Dedup.ngramJaccardPairs
    "q27_dedup_ngram" ->
      """WITH dd AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(w)-1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM (
             SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             FROM documents WHERE doc_id % 5 = 0)
           WHERE len(w) >= 3),
         posting AS (
           SELECT doc_id, len(sh) AS sh_size, unnest(sh) AS shingle FROM dd),
         kept AS (
           SELECT p.doc_id, p.sh_size, p.shingle FROM posting p
           JOIN (SELECT shingle, count(*) AS df FROM posting GROUP BY 1) d
             USING (shingle)
           WHERE d.df BETWEEN 2 AND 100),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sh_size AS size_a, b.sh_size AS size_b, count(*) AS inter
           FROM kept a JOIN kept b
             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4)
         SELECT id_a, id_b,
           CAST(inter AS DOUBLE) / (size_a + size_b - inter) AS jaccard
         FROM inter
         WHERE CAST(inter AS DOUBLE) / (size_a + size_b - inter) >= 0.02
         ORDER BY id_a, id_b""",

    "q30_dedup_embedding" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             CAST(b.embedding AS DOUBLE[])), 4) AS sim
         FROM embeddings a JOIN embeddings b
           ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             CAST(b.embedding AS DOUBLE[])), 4) >= 0.4
         ORDER BY id_a, id_b""",

    "q31_cosine_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
             CAST(qv AS DOUBLE[])), 4) AS sim
         FROM embeddings, q WHERE vec_id <> 0
         ORDER BY sim DESC, vec_id LIMIT 10""",

    "q94_topk_per_group" ->
      """SELECT p_brand, CAST(rank AS BIGINT) AS rank, p_partkey
         FROM (SELECT p_brand, p_partkey,
                 row_number() OVER (PARTITION BY p_brand
                   ORDER BY p_retailprice DESC, p_partkey) AS rank
               FROM part)
         WHERE rank <= 3 ORDER BY p_brand, rank""",

    "q93_filtered_ann" ->
      """WITH allowed AS (SELECT DISTINCT doc_id FROM documents WHERE lang = 'de'),
         q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
             CAST(qv AS DOUBLE[])), 4) AS sim
         FROM embeddings e JOIN allowed a ON e.vec_id = a.doc_id, q
         WHERE vec_id <> 0
         ORDER BY sim DESC, vec_id LIMIT 10""",

    "q33_lang_id" ->
      """SELECT doc_id,
           CASE
             WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
             WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
             WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
             WHEN s_es > 0 THEN 'es'
             ELSE 'und' END AS lang_pred
         FROM (
           SELECT doc_id,
             len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|in|is)\b')) AS s_en,
             len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS s_de,
             len(regexp_extract_all(lower(text), '\b(le|les|et|est|que|une)\b')) AS s_fr,
             len(regexp_extract_all(lower(text), '\b(el|los|y|es|por|una)\b')) AS s_es
           FROM documents)
         ORDER BY doc_id""",

    "q34_quality" ->
      """SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
           CAST((((5 * len(list_distinct(w)) + 3 * (s_en)) * 125
                 + least(len(w), 250) * len(w)) * 2000000
                 + 1250 * len(w)) // (2500 * len(w)) AS DOUBLE)
                 / 1e6 AS quality
         FROM (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w,
             len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|in|is)\b')) AS s_en
           FROM documents)
         WHERE len(w) > 0 ORDER BY doc_id""",

    "q35_token_count" ->
      s"""WITH RECURSIVE $bpeOracleCtes
         SELECT d.doc_id AS doc_id,
           CAST(len(list_filter(string_split_regex(d.text, '\\s+'), x -> x <> '')) AS BIGINT) AS ws_tokens,
           CAST(coalesce(c.bpe_tokens, 0) AS BIGINT) AS bpe_tokens
         FROM documents d LEFT JOIN __bpe_doc_counts c ON d.doc_id = c.doc_id
         ORDER BY doc_id""",

    // q35's token machinery aggregated per language; the ratios divide
    // exact integer sums, so the doubles agree bit-for-bit
    "q111_tokenizer_fertility" ->
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
         FROM __fert_base GROUP BY lang ORDER BY lang""",

    "q36_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
         FROM documents ORDER BY doc_id""",

    "q37_dedup_events" ->
      """SELECT user_id, event_type, date_trunc('minute', ts) AS minute,
           min(event_id) AS keep_event, count(*) AS n
         FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",

    "q38_multimodal_meta" ->
      """SELECT doc_id AS media_id, 'image' AS kind,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
         FROM documents ORDER BY media_id""",

    // Full cross-engine recompute of Multimodal.decode over text payloads:
    // the deterministic fallback is a 64-byte signed-int32 fold
    // (mix = mix*31 + signedByte, wrapping), and the kind=="image" BMP
    // branch reads little-endian i32 width/height at offsets 18/22 when the
    // payload starts with "BM". Bytes come from hex(encode(text)); int32
    // wraparound is emulated with ((x+2^31) mod 2^32 + 2^32) mod 2^32 - 2^31
    // and `mix >> 8` (arithmetic shift) as floor(mix / 256.0).
    "q39_multimodal_decode" ->
      """WITH raw AS (
           SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS len
           FROM documents),
         bytes AS (
           SELECT doc_id, len,
             list_transform(range(1, least(len, 64) + 1), i ->
               (strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1)) AS ub,
             CASE WHEN len >= 26 THEN
               list_transform(range(1, 27), i ->
                 (strpos('0123456789ABCDEF', substr(hx, 2*i-1, 1)) - 1) * 16
                 + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1))
             END AS hdr
           FROM raw),
         mixed AS (
           SELECT doc_id, len, hdr,
             list_reduce(
               list_prepend(CAST(-1640531527 AS BIGINT),
                 list_transform(ub, b ->
                   CAST(CASE WHEN b > 127 THEN b - 256 ELSE b END AS BIGINT))),
               (acc, b) -> ((acc * 31 + b + 2147483648) % 4294967296
                 + 4294967296) % 4294967296 - 2147483648) AS mix
           FROM bytes),
         hdrparse AS (
           SELECT doc_id, len, mix,
             CASE WHEN hdr IS NOT NULL AND hdr[1] = 66 AND hdr[2] = 77 THEN
               struct_pack(
                 w := CASE WHEN hdr[19] + hdr[20]*256 + hdr[21]*65536
                          + hdr[22]*16777216 >= 2147483648
                   THEN hdr[19] + hdr[20]*256 + hdr[21]*65536
                     + hdr[22]*16777216 - 4294967296
                   ELSE hdr[19] + hdr[20]*256 + hdr[21]*65536
                     + hdr[22]*16777216 END,
                 h := CASE WHEN hdr[23] + hdr[24]*256 + hdr[25]*65536
                          + hdr[26]*16777216 = 2147483648
                   THEN -1
                   ELSE abs(CASE WHEN hdr[23] + hdr[24]*256 + hdr[25]*65536
                          + hdr[26]*16777216 >= 2147483648
                   THEN hdr[23] + hdr[24]*256 + hdr[25]*65536
                     + hdr[26]*16777216 - 4294967296
                   ELSE hdr[23] + hdr[24]*256 + hdr[25]*65536
                     + hdr[26]*16777216 END) END)
             END AS bmp
           FROM mixed)
         SELECT doc_id AS media_id, 'image' AS kind, CAST(len AS BIGINT) AS n_bytes,
           CASE WHEN bmp IS NOT NULL AND bmp.w > 0 AND bmp.h > 0 THEN bmp.w
             ELSE 160 + CAST(((mix % 1760) + 1760) % 1760 AS INT) END AS width,
           CASE WHEN bmp IS NOT NULL AND bmp.w > 0 AND bmp.h > 0 THEN bmp.h
             ELSE 90 + CAST(((CAST(floor(mix / 256.0) AS BIGINT) % 990) + 990)
               % 990 AS INT) END AS height,
           CASE WHEN bmp IS NOT NULL AND bmp.w > 0 AND bmp.h > 0 THEN 0
             ELSE 1000 + CAST((len * 40) % 600000 AS INT) END AS duration_ms
         FROM hdrparse ORDER BY media_id""",

    "q40_purchases_topology" ->
      """SELECT user_id || '-' || CAST(json_extract_string(props, '$.k') AS INT) AS k,
           count(*) AS "count",
           CAST(CAST(sum(CAST(1 AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS total
         FROM events GROUP BY 1 ORDER BY k NULLS FIRST""",

    "q41_uppercase_topology" ->
      """SELECT doc_id, upper(text) AS v FROM documents
         WHERE NOT contains(text, 'quack') ORDER BY doc_id""",

    // gaps-and-islands twin of session_window: a row starts a new session
    // when it is >= 5 minutes after its predecessor (Spark's session end is
    // exclusive, so an event exactly at last_ts+gap opens a new session);
    // session_end = last event + gap, matching Spark's window.end
    "q42_session_window" ->
      """WITH m AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
                  THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         g AS (
           SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
             ROWS UNBOUNDED PRECEDING) AS sid
           FROM m)
         SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL '5 minutes' AS session_end,
           count(*) AS cnt,
           CAST(CAST(sum(CAST(value AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS sum_value
         FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""",

    // 1h window sliding by 30m = each event in exactly 2 windows: the ones
    // starting at its 30m bucket and 30m before it
    "q43_sliding_window" ->
      """SELECT ws AS window_start, event_type, count(*) AS cnt,
           CAST(CAST(sum(CAST(value AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS sum_value
         FROM (
           SELECT event_type, value,
             unnest([time_bucket(INTERVAL '30 minutes', ts),
                     time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws
           FROM events)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // the fixture file is written in doc_id order, so the durable file
    // offset (_metadata.row_index) equals the 0-based rank of doc_id
    "q44_metadata_cols" ->
      """SELECT doc_id, 0 AS partition,
           row_number() OVER (ORDER BY doc_id) - 1 AS offset
         FROM documents ORDER BY doc_id""",

    // composed pipeline twin: exact dedup -> lang/quality gates -> df-capped
    // n-gram near-dup removal (drop larger id of each >= 0.5 pair) -> tokens
    "q45_training_pipeline" ->
      s"""WITH RECURSIVE $bpeOracleCtes,
         uniq AS (
           SELECT doc_id, text FROM documents
           WHERE doc_id IN (
             SELECT min(doc_id) FROM documents
             GROUP BY regexp_replace(lower(text), '\\s+', ' ', 'g'))),
         feat AS (
           SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS w,
             len(regexp_extract_all(lower(text), '\\b(the|a|of|to|and|in|is)\\b')) AS s_en,
             len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|nicht)\\b')) AS s_de,
             len(regexp_extract_all(lower(text), '\\b(le|les|et|est|que|une)\\b')) AS s_fr,
             len(regexp_extract_all(lower(text), '\\b(el|los|y|es|por|una)\\b')) AS s_es
           FROM uniq),
         scored AS (
           SELECT doc_id, text, w,
             CASE
               WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
               WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
               WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
               WHEN s_es > 0 THEN 'es'
               ELSE 'und' END AS lang_pred,
             CAST(len(w) AS BIGINT) AS n_words,
             CAST((((5 * len(list_distinct(w)) + 3 * (s_en)) * 125
                 + least(len(w), 250) * len(w)) * 2000000
                 + 1250 * len(w)) // (2500 * len(w)) AS DOUBLE)
                 / 1e6 AS quality
           FROM feat WHERE len(w) > 0),
         gated AS (
           SELECT * FROM scored WHERE lang_pred = 'en' AND quality >= 0.26),
         dd AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(w)-1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM gated WHERE len(w) >= 3),
         posting AS (SELECT doc_id, len(sh) AS sh_size, unnest(sh) AS shingle FROM dd),
         kept AS (
           SELECT p.doc_id, p.sh_size, p.shingle FROM posting p
           JOIN (SELECT shingle, count(*) AS df FROM posting GROUP BY 1) d
             USING (shingle)
           WHERE d.df BETWEEN 2 AND 100),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sh_size AS size_a, b.sh_size AS size_b, count(*) AS inter
           FROM kept a JOIN kept b
             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4),
         removed AS (
           SELECT DISTINCT id_b FROM inter
           WHERE CAST(inter AS DOUBLE) / (size_a + size_b - inter) >= 0.5)
         SELECT g.doc_id AS doc_id, g.lang_pred, g.n_words, g.quality,
           CAST(len(list_filter(string_split_regex(g.text, '\\s+'), x -> x <> '')) AS BIGINT) AS ws_tokens,
           CAST(coalesce(c.bpe_tokens, 0) AS BIGINT) AS bpe_tokens
         FROM gated g LEFT JOIN __bpe_doc_counts c ON g.doc_id = c.doc_id
         WHERE g.doc_id NOT IN (SELECT id_b FROM removed)
         ORDER BY doc_id""",

    "q46_cube" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS sum_qty,
           count(*) AS cnt
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",

    "q47_variant_json" ->
      """SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           CAST(json(props) AS VARCHAR) AS props_norm
         FROM events ORDER BY event_id""",

    // the salted two-phase plan must be indistinguishable from GROUP BY
    "q48_salted_agg" ->
      """SELECT o_custkey, count(*) AS "count",
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS total
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",

    // DuckDB's native ASOF JOIN is the oracle for the union+window form
    "q49_asof_join" ->
      """SELECT l.event_id, l.user_id, l.ts, r.value AS click_value
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
         ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id""",

    // lang decision duplicated from q33; stopword hits selected BY the
    // decided language, mirroring TextFunctions.qualityScoreByLang
    "q51_quality_multilang" ->
      """WITH feat AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w,
             len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|in|is)\b')) AS s_en,
             len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS s_de,
             len(regexp_extract_all(lower(text), '\b(le|les|et|est|que|une)\b')) AS s_fr,
             len(regexp_extract_all(lower(text), '\b(el|los|y|es|por|una)\b')) AS s_es
           FROM documents),
         langd AS (
           SELECT *,
             CASE
               WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
               WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
               WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
               WHEN s_es > 0 THEN 'es'
               ELSE 'und' END AS lang_pred
           FROM feat WHERE len(w) > 0)
         SELECT doc_id, lang_pred, CAST(len(w) AS BIGINT) AS n_words,
           CAST((((5 * len(list_distinct(w)) + 3 * (CASE lang_pred WHEN 'en' THEN s_en WHEN 'de' THEN s_de WHEN 'fr' THEN s_fr WHEN 'es' THEN s_es ELSE 0 END)) * 125
                 + least(len(w), 250) * len(w)) * 2000000
                 + 1250 * len(w)) // (2500 * len(w)) AS DOUBLE)
                 / 1e6 AS quality
         FROM langd ORDER BY doc_id""",

    // q27's candidate pairs -> undirected edges -> recursive min-label
    // reachability; min(comp) per id is the component's smallest member
    "q52_dedup_components" ->
      s"""WITH RECURSIVE $nearDupCcCtes
         SELECT id, min(comp) AS comp FROM cc GROUP BY id ORDER BY id""",

    "q53_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS sum_qty,
           count(*) AS cnt
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",

    "q54_distinct_agg" ->
      """SELECT l_returnflag,
           count(DISTINCT l_partkey) AS dparts,
           count(DISTINCT l_suppkey) AS dsupps,
           count(*) AS cnt
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // quantile_cont/quantile_disc match Spark's exact percentile /
    // percentile_disc definitions bit-for-bit (probed incl. interpolation)
    "q55_percentile" ->
      """SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS p50_qty,
           quantile_cont(l_extendedprice, 0.9) AS p90_price,
           quantile_disc(l_extendedprice, 0.25) AS p25_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q56_outer_joins" ->
      """SELECT COALESCE(c.nk, s.nk2) AS nk, c.c_cnt, s.s_cnt, o.n_orders
         FROM (SELECT c_nationkey AS nk, count(*) AS c_cnt
               FROM customer GROUP BY 1) c
         FULL OUTER JOIN (SELECT s_nationkey AS nk2, count(*) AS s_cnt
               FROM supplier GROUP BY 1) s ON c.nk = s.nk2
         LEFT JOIN (SELECT c_nationkey AS nk3, count(o_orderkey) AS n_orders
               FROM customer LEFT JOIN orders ON c_custkey = o_custkey
               GROUP BY 1) o ON COALESCE(c.nk, s.nk2) = o.nk3
         ORDER BY nk""",

    "q57_window_frames" ->
      """SELECT o_custkey, o_orderkey,
           CAST(dense_rank() OVER w AS INT) AS dr,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           lead(o_orderkey) OVER w AS next_ok,
           first_value(o_orderkey) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_ok,
           last_value(o_orderkey) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ok
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",

    "q58_pivot" ->
      """SELECT l_returnflag,
           count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS "F",
           count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS "O"
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q59_array_funcs" ->
      """SELECT doc_id,
           CAST(len(list_filter(w, x -> len(x) > 4)) AS BIGINT) AS n_long_words,
           CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS total_chars,
           CAST(list_max(list_transform(w, x -> len(x))) AS BIGINT) AS max_word_len,
           array_to_string(list_sort(w)[1:3], ',') AS first3_sorted
         FROM (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
           FROM documents)
         WHERE len(w) > 0 ORDER BY doc_id""",

    // mirrors Multimodal.syntheticWavPipeline's parameter derivation and
    // the parser's duration formula (floor division); byteRate =
    // sampleRate * channels * 2 for 16-bit PCM
    "q60_multimodal_wav" ->
      """SELECT doc_id AS media_id,
           CAST(44 + data_bytes AS BIGINT) AS n_bytes,
           CAST((data_bytes * 1000) // (sample_rate * channels * 2) AS INT) AS duration_ms
         FROM (
           SELECT doc_id,
             8000 + (doc_id % 8) * 1000 AS sample_rate,
             1 + (doc_id % 2) AS channels,
             1000 + (doc_id % 50) * 100 AS data_bytes
           FROM documents)
         ORDER BY media_id""",

    "q61_bag_set_ops" ->
      """WITH a AS (SELECT c_nationkey AS nk FROM customer),
         b AS (SELECT s_nationkey AS nk FROM supplier),
         u AS (SELECT nk, count(*) AS u_cnt FROM (
                 SELECT nk FROM a UNION ALL SELECT nk FROM b) GROUP BY nk),
         e AS (SELECT nk, count(*) AS e_cnt FROM (
                 SELECT nk FROM a EXCEPT ALL SELECT nk FROM b) GROUP BY nk),
         i AS (SELECT nk, count(*) AS i_cnt FROM (
                 SELECT nk FROM a INTERSECT ALL SELECT nk FROM b) GROUP BY nk)
         SELECT u.nk, u.u_cnt, e.e_cnt, i.i_cnt
         FROM u LEFT JOIN e ON u.nk = e.nk LEFT JOIN i ON u.nk = i.nk
         ORDER BY u.nk""",

    "q62_nullsafe_join" ->
      """SELECT a.ka, a.a_cnt, b.b_cnt
         FROM (SELECT nullif(user_id % 7, 3) AS ka, count(*) AS a_cnt
               FROM events GROUP BY 1) a
         JOIN (SELECT nullif(o_custkey % 7, 3) AS kb, count(*) AS b_cnt
               FROM orders GROUP BY 1) b
           ON a.ka IS NOT DISTINCT FROM b.kb
         ORDER BY ka NULLS FIRST""",

    // q27's candidate CTE + exact levenshtein on each surviving pair
    "q63_edit_distance" ->
      """WITH dd AS (
           SELECT doc_id, text,
             list_distinct(list_transform(range(1, len(w)-1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM (
             SELECT doc_id, text,
               list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             FROM documents WHERE doc_id % 5 = 0)
           WHERE len(w) >= 3),
         posting AS (
           SELECT doc_id, len(sh) AS sh_size, unnest(sh) AS shingle FROM dd),
         kept AS (
           SELECT p.doc_id, p.sh_size, p.shingle FROM posting p
           JOIN (SELECT shingle, count(*) AS df FROM posting GROUP BY 1) d
             USING (shingle)
           WHERE d.df BETWEEN 2 AND 100),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sh_size AS size_a, b.sh_size AS size_b, count(*) AS inter
           FROM kept a JOIN kept b
             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4),
         pairs AS (
           SELECT id_a, id_b FROM inter
           WHERE CAST(inter AS DOUBLE) / (size_a + size_b - inter) >= 0.02)
         SELECT p.id_a, p.id_b,
           CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist
         FROM pairs p
         JOIN dd a ON a.doc_id = p.id_a
         JOIN dd b ON b.doc_id = p.id_b
         ORDER BY id_a, id_b""",

    // mirrors Multimodal.syntheticBmpResizePipeline: aspect-fit scale in
    // identical double arithmetic (so the floor lands the same side of any
    // ulp), 4-byte stride padding, 54-byte headers; scale >= 1 is the
    // never-upscale passthrough branch (exercised when doc_id % 32 = 0)
    "q64_multimodal_resize" ->
      """SELECT doc_id AS media_id,
           CASE WHEN scale >= 1.0 THEN w
                ELSE greatest(1, CAST(floor(w * scale) AS INT)) END AS width,
           CASE WHEN scale >= 1.0 THEN h
                ELSE greatest(1, CAST(floor(h * scale) AS INT)) END AS height,
           CAST(54 + (((CASE WHEN scale >= 1.0 THEN w
                ELSE greatest(1, CAST(floor(w * scale) AS INT)) END) * 3 + 3) // 4) * 4
             * (CASE WHEN scale >= 1.0 THEN h
                ELSE greatest(1, CAST(floor(h * scale) AS INT)) END) AS BIGINT) AS n_bytes
         FROM (
           SELECT doc_id, w, h,
             least(1.0, least(8.0 / w, 8.0 / h)) AS scale
           FROM (
             SELECT doc_id, 8 + doc_id % 32 AS w, 4 + doc_id % 16 AS h
             FROM documents))
         ORDER BY media_id""",

    // averages as exact-decimal-sum / count so shuffle order cannot drift
    "q50_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS sum_qty,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
           CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS sum_charge,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_qty,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_price,
           CAST(CAST(sum(CAST(l_discount AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q65_subq" ->
      """SELECT c_custkey,
           (SELECT max(o_totalprice) FROM orders o
            WHERE o.o_custkey = c.c_custkey) AS max_price,
           (SELECT count(*) FROM orders o
            WHERE o.o_custkey = c.c_custkey) AS n_orders
         FROM customer c
         ORDER BY c_custkey""",

    "q66_cte" ->
      """WITH co AS (
           SELECT o_custkey AS ck, count(*) AS cnt
           FROM orders GROUP BY o_custkey)
         SELECT ck, cnt FROM co
         WHERE cnt * 2 >= (SELECT max(cnt) FROM co)
         ORDER BY ck""",

    // semantically identical UNION ALL twin of the unpivot
    "q67_unpivot" ->
      """SELECT * FROM (
           SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
           UNION ALL
           SELECT p_partkey, 'retail' AS attr, p_retailprice AS val FROM part)
         ORDER BY p_partkey, attr""",

    "q68_map_agg" ->
      """SELECT c_nationkey AS nk, c_mktsegment AS seg, count(*) AS cnt
         FROM customer GROUP BY 1, 2 ORDER BY nk, seg""",

    "q69_dates" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
           CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS mon,
           last_day(CAST(o_orderdate AS DATE)) AS eom,
           CAST(date_trunc('month', CAST(o_orderdate AS DATE)) + INTERVAL 2 MONTH AS DATE) AS mon2,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INT) AS days_left,
           CAST(extract(year FROM o_orderdate) AS INT) AS yr,
           CAST(extract(quarter FROM o_orderdate) AS INT) AS qtr
         FROM orders ORDER BY o_orderkey""",

    "q70_listagg" ->
      """SELECT nk, string_agg(seg, ',' ORDER BY seg) AS segs, count(*) AS n_seg
         FROM (SELECT DISTINCT c_nationkey AS nk, c_mktsegment AS seg FROM customer)
         GROUP BY nk ORDER BY nk""",

    "q71_condagg" ->
      """SELECT l_returnflag,
           count(*) FILTER (WHERE l_quantity > 25) AS hi_cnt,
           count(*) FILTER (WHERE l_discount = 0) AS nodisc_cnt,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,9)))
             FILTER (WHERE l_quantity > 25) AS DECIMAL(38,2)) AS VARCHAR) AS hi_price,
           count(*) AS cnt
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // the salted join must equal the plain join — the oracle IS the plain join
    "q72_salted_join" ->
      """SELECT o_orderpriority, count(*) AS cnt,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,9))) AS VARCHAR) AS DOUBLE) AS total
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // first-batch novel set == exact-dedup survivors (min-id per normalized text)
    "q73_dedup_incr" ->
      """SELECT min(doc_id) AS doc_id FROM documents
         GROUP BY md5(regexp_replace(lower(text), '\s+', ' ', 'g'))
         ORDER BY doc_id""",

    // k=3, win=4: grams i in [1, len(w)-2]; windows j in [1, len(gh)-3],
    // gh[j:j+3] is the inclusive 4-element slice; fixed-width lowercase hex
    // makes list_min == numeric min, matching Spark's array_min
    "q74_winnow" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
           FROM documents),
         g AS (
           SELECT doc_id, list_transform(range(1, len(w) - 1),
             i -> substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 16)) AS gh
           FROM t WHERE len(w) >= 6),
         f AS (
           SELECT doc_id, list_distinct(list_transform(range(1, len(gh) - 2),
             j -> list_min(gh[j:j+3]))) AS fps
           FROM g)
         SELECT doc_id, unnest(fps) AS fp FROM f ORDER BY doc_id, fp""",

    // the bucketized band join must equal the plain theta join
    "q75_range_join" ->
      """SELECT a.p_partkey AS anchor_id, b.p_partkey AS member_id
         FROM part a JOIN part b
           ON b.p_retailprice >= a.p_retailprice - 2.5
          AND b.p_retailprice <= a.p_retailprice + 2.5
         WHERE a.p_partkey % 10 = 0
         ORDER BY anchor_id, member_id""",

    // unit hash: first 8 md5 hex chars / 2^32 — exact dyadic rational,
    // identical in both engines; bounds 0.5/0.75 are binary-exact
    "q76_hash_split" ->
      """SELECT CASE WHEN u < 0.5 THEN 'train'
                     WHEN u < 0.75 THEN 'val'
                     ELSE 'test' END AS split,
           count(*) AS cnt, CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM (SELECT doc_id,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS UBIGINT) / 4294967296.0 AS u
               FROM documents)
         GROUP BY 1 ORDER BY split""",

    // language via the q33 marker battery, membership via the q76 unit
    // hash; per-stratum fractions are binary-exact doubles
    "q77_stratified" ->
      """WITH lang AS (
           SELECT doc_id,
             CASE
               WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
               WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
               WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
               WHEN s_es > 0 THEN 'es'
               ELSE 'und' END AS lang_pred
           FROM (
             SELECT doc_id,
               len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|in|is)\b')) AS s_en,
               len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht)\b')) AS s_de,
               len(regexp_extract_all(lower(text), '\b(le|les|et|est|que|une)\b')) AS s_fr,
               len(regexp_extract_all(lower(text), '\b(el|los|y|es|por|una)\b')) AS s_es
             FROM documents))
         SELECT lang_pred, count(*) AS cnt, CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM lang
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                 AS UBIGINT) / 4294967296.0
               < CASE lang_pred WHEN 'en' THEN 0.25 WHEN 'de' THEN 1.0
                                WHEN 'fr' THEN 0.5 ELSE 0.125 END
         GROUP BY lang_pred ORDER BY lang_pred""",

    // distinct shingles per doc (as in q27's dd CTE), df = document count
    "q78_boilerplate" ->
      """WITH dd AS (
           SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
           FROM (
             SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             FROM documents)
           WHERE len(w) >= 3)
         SELECT shingle, count(*) AS df
         FROM (SELECT doc_id, unnest(sh) AS shingle FROM dd)
         GROUP BY shingle HAVING count(*) >= 5
         ORDER BY df DESC, shingle""",

    // closed-interval intersection: alo <= bhi AND blo <= ahi
    "q79_interval_join" ->
      """SELECT a.p_partkey AS anchor_id, b.p_partkey AS member_id
         FROM part a JOIN part b
           ON a.p_retailprice - 2.5 <= b.p_retailprice + 1.5
          AND b.p_retailprice - 1.5 <= a.p_retailprice + 2.5
         WHERE a.p_partkey % 10 = 0 AND b.p_partkey % 10 <> 0
         ORDER BY anchor_id, member_id""",

    // updates touch existing keys only, so merge == CASE projection
    "q80_upsert" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice
         FROM orders ORDER BY o_orderkey""",

    "q81_term_stats" ->
      """WITH toks AS (
           SELECT doc_id, len(w) AS doc_len, unnest(w) AS term
           FROM (
             SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
             FROM documents)),
         tf AS (
           SELECT doc_id, CAST(doc_len AS BIGINT) AS doc_len, term,
             count(*) AS tf
           FROM toks
           WHERE term IN ('data', 'model', 'table', 'query')
           GROUP BY doc_id, doc_len, term),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
         SELECT tf.doc_id, tf.term, tf.tf, df.df, tf.doc_len
         FROM tf JOIN df USING (term)
         ORDER BY doc_id, term""",

    "q82_bpe_vocab" ->
      s"""WITH RECURSIVE $bpeOracleCtes
         SELECT t AS token, CAST(count(*) AS BIGINT) AS n
         FROM (SELECT unnest(wt.toks) AS t
               FROM __bpe_words w JOIN __bpe_word_tokens wt USING (w))
         GROUP BY t
         ORDER BY n DESC, token""",

    "q83_decontaminate" ->
      """WITH t AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
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
         ORDER BY corpus_id, probe_id""",

    "q84_repetition" ->
      """WITH t AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w
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
         FROM s ORDER BY doc_id""",

    "q85_seq_pack" ->
      """WITH RECURSIVE base AS MATERIALIZED (
           SELECT doc_id % 8 AS shard, doc_id,
             CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS tokens,
             row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
           FROM documents),
         packed AS (
           SELECT shard, doc_id, tokens, rn,
             CAST(0 AS BIGINT) AS seq_id, tokens AS cum, CAST(0 AS BIGINT) AS seq_pos
           FROM base WHERE rn = 1
           UNION ALL
           SELECT b.shard, b.doc_id, b.tokens, b.rn,
             CASE WHEN p.cum + b.tokens <= 256 THEN p.seq_id ELSE p.seq_id + 1 END,
             CASE WHEN p.cum + b.tokens <= 256 THEN p.cum + b.tokens ELSE b.tokens END,
             CASE WHEN p.cum + b.tokens <= 256 THEN p.seq_pos + 1 ELSE CAST(0 AS BIGINT) END
           FROM packed p JOIN base b ON b.shard = p.shard AND b.rn = p.rn + 1)
         SELECT doc_id, shard, seq_id, seq_pos, tokens > 256 AS oversize
         FROM packed ORDER BY doc_id""",

    "q86_pii_redact" ->
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
         FROM t ORDER BY c_custkey""",

    "q87_quantize_int8" ->
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
         FROM q ORDER BY vec_id""",

    "q88_chunk" ->
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
         FROM c ORDER BY doc_id, chunk_id""",

    "q89_bpe_train_hist" ->
      """SELECT word, CAST(count(*) AS BIGINT) AS n
         FROM (SELECT unnest(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS word
               FROM documents)
         GROUP BY word ORDER BY n DESC, word LIMIT 50""",

    "q99_pagerank" -> q99Oracle,

    "q103_embedding_drift" ->
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
         FROM dots""",

    // positions are 1-based here vs Spark's 0-based posexplode — only
    // position DIFFERENCES enter the span identity, so the shift cancels
    "q104_dup_spans" -> q104Oracle,

    // first batch against an empty count table ≡ the batch operator
    "q105_dup_spans_incr" -> q104Oracle,

    // 1099511627776 = 2^40, the same pack base the engine's max_by uses
    "q106_dedup_priority" ->
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
         ORDER BY keep_id""",

    "q107_temperature_mix" ->
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
         FROM kept GROUP BY source ORDER BY source""",

    // quality expression mirrors q34; quantile_cont ≡ Spark's exact
    // interpolated percentile (parity established by q55)
    "q108_quantile_floor" ->
      """WITH scored AS (
           SELECT doc_id, lang,
             CAST((((5 * len(list_distinct(w)) + 3 * (s_en)) * 125
                 + least(len(w), 250) * len(w)) * 2000000
                 + 1250 * len(w)) // (2500 * len(w)) AS DOUBLE)
                 / 1e6 AS quality
           FROM (
             SELECT doc_id, lang,
               list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS w,
               len(regexp_extract_all(lower(text), '\b(the|a|of|to|and|in|is)\b')) AS s_en
             FROM documents)
           WHERE len(w) > 0),
         thr AS (
           SELECT lang, round(quantile_cont(quality, 0.25), 9) AS t
           FROM scored GROUP BY lang)
         SELECT s.doc_id, s.lang, s.quality
         FROM scored s JOIN thr USING (lang)
         WHERE s.quality >= thr.t
         ORDER BY s.doc_id""",

    "q102_token_entropy" ->
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
         FROM tc GROUP BY doc_id ORDER BY doc_id""",

    "q101_token_drift" ->
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
         ORDER BY jsd_bits DESC, token LIMIT 40""",

    "q100_weighted_sample" ->
      """SELECT lang, rank, doc_id FROM (
           SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id) AS rank
           FROM (SELECT lang, doc_id,
                   ln(greatest(
                        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                          AS UBIGINT) / 4294967296.0,
                        CAST(4.9e-324 AS DOUBLE))) / n_chars AS key
                 FROM documents WHERE n_chars > 0))
         WHERE rank <= 5 ORDER BY lang, rank""",

    "q98_lm_bits" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\W+'), w -> w <> '') AS ws
           FROM documents),
         big AS (
           SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
           FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
                 FROM toks WHERE len(ws) >= 2)),
         cb AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY 1, 2),
         cu AS (SELECT w1, sum(cb) AS cu FROM cb GROUP BY 1),
         v AS (SELECT count(DISTINCT w) AS v
               FROM (SELECT unnest(ws) AS w FROM toks)),
         scored AS (
           SELECT b.doc_id, -log2((cb.cb + 1.0) / (cu.cu + v.v)) AS bits
           FROM big b JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST((sum(CAST(round(bits * 1e6) AS BIGINT)) * 2
               + count(*) * 100) // (count(*) * 200) AS DOUBLE) / 1e4
             AS bits
         FROM scored GROUP BY doc_id ORDER BY doc_id""",

    // q98's scoring CTEs + exact tercile cuts (quantile_cont ≡ Spark's
    // percentile, rounded at 9 — the q108 pin) + per-bucket totals + the
    // q115/q116 md5 unit hash with salt 'ppl'
    "q128_ppl_mix" ->
      """WITH toks AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\W+'), w -> w <> '') AS ws
           FROM documents),
         big AS (
           SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
           FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
                 FROM toks WHERE len(ws) >= 2)),
         cb AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY 1, 2),
         cu AS (SELECT w1, sum(cb) AS cu FROM cb GROUP BY 1),
         v AS (SELECT count(DISTINCT w) AS v
               FROM (SELECT unnest(ws) AS w FROM toks)),
         rows_ AS (
           SELECT b.doc_id, -log2((cb.cb + 1.0) / (cu.cu + v.v)) AS bits
           FROM big b JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v),
         sc AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST((sum(CAST(round(bits * 1e6) AS BIGINT)) * 2
               + count(*) * 100) // (count(*) * 200) AS DOUBLE) / 1e4
             AS bits
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
         ORDER BY doc_id""",

    "q92_profile" ->
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
         FROM p ORDER BY col_name""",

    "q91_source_mix" ->
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
         FROM kept GROUP BY source ORDER BY source""",

    // q200: the q196 span CTEs verbatim (shared helper), conv widths =
    // max(token_end) per conv, then q197's recursive greedy pack walk
    // over the md5 group-bucket shard and (group, conv) order; the
    // final join hangs every kept turn's span on its conversation's
    // sequence assignment
    "q200_sft_export" ->
      ("WITH RECURSIVE " + lossMaskSpanCtes + """,
         cv AS (
           SELECT conv, max(token_end) AS tokens,
             'g' || CAST(conv % 7 AS VARCHAR) AS grp
           FROM spans GROUP BY conv),
         psh AS MATERIALIZED (
           SELECT conv, tokens, grp,
             CAST(floor(CAST(('0x' || substr(md5(grp || 'pack'), 1, 8))
               AS UBIGINT) / 4294967296.0 * 4) AS BIGINT) AS shard
           FROM cv),
         prn AS MATERIALIZED (
           SELECT *, row_number() OVER (PARTITION BY shard
             ORDER BY grp, conv) AS r
           FROM psh),
         packed AS (
           SELECT shard, grp, conv, tokens, r,
             CAST(0 AS BIGINT) AS seq_id, tokens AS cum,
             CAST(0 AS BIGINT) AS seq_pos
           FROM prn WHERE r = 1
           UNION ALL
           SELECT b.shard, b.grp, b.conv, b.tokens, b.r,
             CASE WHEN p.cum + b.tokens <= 256 THEN p.seq_id
               ELSE p.seq_id + 1 END,
             CASE WHEN p.cum + b.tokens <= 256 THEN p.cum + b.tokens
               ELSE b.tokens END,
             CASE WHEN p.cum + b.tokens <= 256 THEN p.seq_pos + 1
               ELSE CAST(0 AS BIGINT) END
           FROM packed p JOIN prn b
             ON b.shard = p.shard AND b.r = p.r + 1)
         SELECT s.conv, s.turn_no, s.role, s.token_start, s.token_end,
           s.train, p.tokens, p.grp AS "group", p.shard, p.seq_id,
           p.seq_pos, p.tokens > 256 AS oversize
         FROM spans s JOIN packed p ON s.conv = p.conv
         ORDER BY s.conv, s.turn_no"""),

    // q199: the full export chain replayed — clean survivors (the q90
    // helper verbatim), the sp_-prefixed pair/CC chain over `surv`
    // (q193's graph arithmetic), train = rep unit-hash >= 0.2, FIM
    // format draws (q194's md5 arithmetic, salt ep0) with the
    // sentinel-clash exclusion, output tokens = n + 3 for transformed
    // docs (the three sentinels are the only added whitespace tokens),
    // then q197's recursive greedy walk (group d(doc_id%37), 8 shards,
    // budget 256)
    "q199_training_export" ->
      ("WITH RECURSIVE " + exportSplitCtes + ",\n         " +
        fimSizedCtes("ep0", "") + ",\n         " +
        packWalkCtes("sized", "", Seq("fmt"), 256, 8) + """
         SELECT doc_id, fmt, tokens, grp AS "group", shard, seq_id,
           seq_pos, tokens > 256 AS oversize
         FROM packed ORDER BY doc_id"""),

    // q201: the export chain's shared split replay, VAL side — plain
    // text (no FIM), whitespace token widths, the same recursive pack
    // walk; in_train replays the leakage indicator (doc_id IN tr) so a
    // doc assigned to both sides hash-mismatches on EITHER engine
    "q201_val_export" ->
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
         FROM packed ORDER BY doc_id"""),

    // q202: the q199 assignment replay JOINED to the q194-style text
    // assembly at the same salt — the artifact writer's parquet output
    // (read back from disk on the Spark side) must hash-match the
    // in-plan chain column for column, text_out included
    "q202_export_artifact" ->
      ("WITH RECURSIVE " + exportSplitCtes + ",\n         " +
        fimSizedCtes("ep0", "") + ",\n         " +
        packWalkCtes("sized", "", Seq("fmt"), 256, 8) + ",\n         " +
        fimTextCtes("ep0", "") + """
         SELECT p.doc_id, p.fmt, p.tokens, p.grp AS "group", p.shard,
           p.seq_id, p.seq_pos, p.tokens > 256 AS oversize, t.text_out
         FROM packed p JOIN txt t USING (doc_id)
         ORDER BY p.doc_id"""),

    // q203: TWO epochs of the q199 chain in one oracle — the shared
    // split CTE runs once (epoch-invariance is structural on both
    // engines: a split that varied by salt would hash-mismatch), then
    // each salt's FIM draw + pack walk under its own CTE prefix
    "q203_epoch_export" ->
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
         ORDER BY epoch, doc_id"""),

    "q90_prep_e2e" ->
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
         FROM packed ORDER BY cid"""),

    // ---- heavy tier: the SAME deterministic replication (doc_id +
    // rep*1e6) as [[heavyDocs]]; main.documents qualifies the base view
    // so the CTE can shadow the name the downstream CTEs expect ----
    "q205_heavy_quality" ->
      s"""WITH ${heavyDocsCte(300)},
         scored AS (
           SELECT lang, CAST(len(w) AS BIGINT) AS n_words,
             (((5 * len(list_distinct(w)) + 3 * s_en) * 125
               + least(len(w), 250) * len(w)) * 2000000
               + 1250 * len(w)) // (2500 * len(w)) AS qm
           FROM (
             SELECT lang,
               list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '') AS w,
               len(regexp_extract_all(lower(text), '\\b(the|a|of|to|and|in|is)\\b')) AS s_en
             FROM documents)
           WHERE len(w) > 0)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(qm) AS BIGINT) AS quality_micros
         FROM scored GROUP BY lang ORDER BY lang""",

    "q206_heavy_bm25" ->
      s"""WITH ${heavyDocsCte(150)},
         ${bm25RankedCtesWith(heavyBm25QueryBody)}
         SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id
         FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""",

    "q207_heavy_tokens" ->
      s"""WITH ${heavyDocsCte(300)},
         tok AS (
           SELECT lang, source,
             unnest(list_filter(string_split_regex(lower(text), '\\W+'), x -> x <> '')) AS term
           FROM documents)
         SELECT lang, source, count(*) AS n_tokens,
           CAST(count(DISTINCT term) AS BIGINT) AS n_terms
         FROM tok GROUP BY lang, source ORDER BY lang, source"""
  )

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
}
