package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.cosine_sim

/** Nearest-neighbor search over an embedding column (SURVEY §2.6
  * north-star): exact scans against a broadcast query or probe batch, and
  * ANN indexes. Every persisted index keeps float postings (the vector in
  * `embCol`, ranked by exact cosine) in one of two LAYOUTS, and its read,
  * write, probe and per-id ranking tail are each written once over them:
  *   - LSH (`path/table=/bucket=`): [[writeLshIndex]], probed by
  *     [[lshTopKIndexed]] with [[queryBuckets]];
  *   - IVF (`path/postings/cell=` beside `centroids` and the drift
  *     `anchor`): [[writeIvfIndex]], probed by [[ivfTopKIndexed]] with
  *     [[ivfProbeCells]], grown by [[appendIvfIndex]] and kept fitted by
  *     [[maintainIvfIndex]].
  * [[lshTopK]]/[[ivfTopK]] bucket or fit per call; the batched LSH
  * searches share one (table, bucket) pair join, [[lshPairs]].
  */
object Similarity {

  /** SEMANTIC benchmark decontamination — the embedding-space complement
    * of [[TextAnalysis.contaminationPairs]]: flag every corpus vector whose
    * cosine to some probe (benchmark/eval) vector reaches `threshold`
    * (paraphrases slip past n-gram containment, not past the embedding). The
    * benchmark-sized probe set BROADCASTS, so the corpus scan stays map-only
    * (the sanctioned q31/q83 nested-loop posture); exact by design — at
    * extreme probe counts use [[batchLshTopK]]'s candidates instead.
    */
  def embeddingContaminationPairs(corpus: DataFrame, probes: DataFrame,
      idCol: String, embCol: String, threshold: Double): DataFrame =
    corpus.select(col(idCol).as("corpus_id"), col(embCol).as("__cv"))
      .crossJoin(broadcast(probes.select(col(idCol).as("probe_id"),
        col(embCol).as("__pv"))))
      .select(col("corpus_id"), col("probe_id"),
        round(cosine_sim(col("__cv"), col("__pv")), 4).as("sim"))
      .where(col("sim") >= threshold)

  /** Shared ranking tail of the batched searchers ([[batchLshTopK]],
    * [[hardNegatives]], [[TextAnalysis.bm25TopK]]): bounded per-query top-k
    * over a (query_id, id, sim) pair frame as (query_id, rank, idCol), rank
    * 1..k — THE single home of the q95 determinism contract (rounded-score
    * order, ascending-id tiebreak inside [[graft.functions.TopKAggregator]]).
    */
  private[operators] def rankTopKPerQuery(pairs: DataFrame, idCol: String,
      k: Int): DataFrame = {
    val topk = org.apache.spark.sql.functions.udaf(
      new graft.functions.TopKAggregator(k))
    pairs.groupBy(col("query_id"))
      .agg(topk(col("sim"), col(idCol)).as("ids"))
      .select(col("query_id"), posexplode(col("ids")).as(Seq("rank", idCol)))
      .select(col("query_id"), (col("rank") + 1).cast("long").as("rank"),
        col(idCol))
  }

  /** EXACT batched top-k: for every probe, the k most-cosine-similar corpus
    * vectors (self excluded) — the dense side of hybrid retrieval
    * ([[RankFusion.rrf]]) and the exact twin of [[batchLshTopK]]. The probes
    * broadcast, the corpus scan stays map-only, and the bounded
    * [[graft.functions.TopKAggregator]] ships ≤ k pairs per probe per map
    * task. Returns (query_id, rank, idCol), the q95 determinism contract.
    */
  def batchExactTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      embCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    rankTopKPerQuery(
      corpus.select(col(idCol), col(embCol).as("__cv"))
        .join(broadcast(probes.select(col(idCol).as("query_id"),
            col(embCol).as("__qv"))),
          col(idCol) =!= col("query_id"))
        .select(col("query_id"), col(idCol),
          round(cosine_sim(col("__cv"), col("__qv")), 4).as("sim")),
      idCol, k)
  }

  /** Margin-based bitext mining (the CCMatrix criterion; Artetxe & Schwenk,
    * ACL 2019): each `src` vector's best `tgt` by the RATIO margin — cos(x, y)
    * over the mean of both sides' average top-k neighborhood sims — which
    * demotes "hub" vectors close to everything. Output (src_id, tgt_id,
    * margin), forward-best per src (ties to the ascending tgt id), margin >=
    * `minMargin` (a non-positive neighborhood sum has no ratio: dropped).
    * The broadcast src side sweeps a map-only tgt scan once per neighborhood
    * grouping (cheaper than spilling |src| x |tgt| pairs); cosines are exact
    * 1e4-scaled longs of the q95 contract and the margin fixed-point, so the
    * DuckDB oracle replays it bit-for-bit.
    */
  def marginMinePairs(src: DataFrame, tgt: DataFrame, idCol: String,
      embCol: String, k: Int, minMargin: Double = 0.0): DataFrame = {
    require(k > 0, "k must be positive")
    val s = src.select(col(idCol).cast("long").as("src_id"),
      col(embCol).as("__sv"))
    val t = tgt.select(col(idCol).cast("long").as("tgt_id"),
      col(embCol).as("__tv"))
    val sims = t.join(broadcast(s))
      .select(col("src_id"), col("tgt_id"),
        round(round(cosine_sim(col("__tv"), col("__sv")), 4) * 1e4)
          .cast("long").as("__c"))
    marginTail(sims, k, minMargin)
  }

  /** [[marginMinePairs]] over LSH-bucketed candidates — the 100 TB
    * path: a pair is scored only when it shares a sign-LSH bucket in ANY
    * of the `nTables` tables, so the pair frame is collision-bounded and
    * the neighborhood averages run over the candidates (the trade every
    * FAISS-backed CCMatrix miner makes). When the bucketing recalls every
    * cross pair the output is IDENTICAL to the exact variant (shared
    * [[marginTail]], spec-pinned); under partial recall margins drift
    * only where candidates were lost.
    */
  def marginMinePairsLsh(src: DataFrame, tgt: DataFrame, idCol: String,
      embCol: String, k: Int, minMargin: Double = 0.0, nPlanes: Int = 4,
      nTables: Int = 12, dim: Int = -1, seed: Long = 11L): DataFrame =
    marginMineLsh(src, idCol, embCol, k, minMargin, nPlanes, nTables, dim,
        seed, indexed = false) { d =>
      lshPostings(tgt.select(col(idCol).cast("long").as("tgt_id"),
        col(embCol)), "tgt_id", embCol, nPlanes, nTables, d, seed)
    }

  /** [[marginMinePairsLsh]] against a PERSISTED [[writeLshIndex]] — the
    * incremental shape: a batch of NEW sources mines against the target
    * index (kept current by a streaming maintainer) without re-bucketing
    * raw target embeddings. Identical to the one-shot LSH variant when the
    * batch is the full source corpus (spec-pinned); for a partial batch
    * the backward neighborhoods are batch-local by construction.
    */
  def marginMinePairsIndexed(spark: SparkSession,
      indexPath: String, src: DataFrame, idCol: String, embCol: String,
      k: Int, minMargin: Double = 0.0, nPlanes: Int = 4,
      nTables: Int = 12, dim: Int = -1, seed: Long = 11L): DataFrame =
    marginMineLsh(src, idCol, embCol, k, minMargin, nPlanes, nTables, dim,
        seed, indexed = true) { _ =>
      readPostings(spark, LshLayout, indexPath)
        .select(col(idCol).cast("long").as("tgt_id"), col(embCol),
          col("table"), col("bucket"))
    }

  /** The one body of the LSH margin miners; `tgt` gives the target's
    * (tgt_id, embCol, table, bucket) postings for the plane width. An
    * index scan is map-only, so the (small) src batch broadcasts over it.
    * The sims spill: the tail reads them under two groupings, and a
    * re-plan would re-run the bucket join.
    */
  private def marginMineLsh(src: DataFrame, idCol: String, embCol: String,
      k: Int, minMargin: Double, nPlanes: Int, nTables: Int, dim: Int,
      seed: Long, indexed: Boolean)(tgt: Int => DataFrame): DataFrame = {
    require(k > 0, "k must be positive")
    val d = if (dim > 0) dim else inferDim(src, embCol)
    val sp = lshPostings(src.select(col(idCol).cast("long").as("src_id"),
        col(embCol)), "src_id", embCol, nPlanes, nTables, d, seed)
      .select(col("src_id"), col(embCol).as("__sv"), col("table"),
        col("bucket"))
    val sims = graft.io.Spill(
      lshPairs(tgt(d), if (indexed) broadcast(sp) else sp, "tgt_id",
        "src_id", "__c",
        round(round(cosine_sim(col(embCol), col("__sv")), 4) * 1e4)
          .cast("long")),
      if (indexed) "graft-bitext-idx-" else "graft-bitext-lsh-")
    marginTail(sims, k, minMargin)
  }

  /** Corpus-level mining quality against a gold alignment (the xSIM
    * posture): one row (n_gold, n_correct, n_missing, error_rate) — a gold
    * source is correct when the miner's pair hits ANY of its gold targets,
    * missing when unpaired, and error_rate = 1 - correct/n_gold to 6 places
    * (unjudged sources ignored). Duplicated mined rows collapse to their min
    * target, duplicated gold rows to the distinct set.
    */
  def miningErrorRate(mined: DataFrame, gold: DataFrame): DataFrame = {
    val m = mined.select(col("src_id"), col("tgt_id"))
      .groupBy(col("src_id")).agg(min(col("tgt_id")).as("__mt"))
    gold.select(col("src_id"), col("tgt_id").as("__gt")).distinct()
      .join(m, Seq("src_id"), "left")
      .groupBy(col("src_id"))
      .agg(max(when(col("__mt") === col("__gt"), 1L).otherwise(0L))
          .as("__ok"),
        max(when(col("__mt").isNull, 1L).otherwise(0L)).as("__miss"))
      .agg(count(lit(1)).as("n_gold"),
        sum(col("__ok")).as("n_correct"),
        sum(col("__miss")).as("n_missing"))
      .select(col("n_gold"), col("n_correct"), col("n_missing"),
        // 1 - c/g computed as the exact ratio (g-c)/g in fixed-point
        // micros; guarded BEFORE the n_gold filter below (ANSI integral
        // division by zero throws where the old double division gave NaN)
        when(col("n_gold") > 0, graft.functions.FixedPoint.ratio6(
          col("n_gold") - col("n_correct"), col("n_gold")))
          .as("error_rate"))
      // an EMPTY gold frame has no error rate to report: zero rows,
      // not one null-filled row (the global agg always emits a row)
      .where(col("n_gold") > 0)
  }

  /** Margin scoring + forward-best tail of every margin miner, so they
    * cannot drift; `sims` is one (src_id, tgt_id, __c 1e4-micros) row per
    * candidate pair.
    */
  private def marginTail(sims: DataFrame, k: Int,
      minMargin: Double): DataFrame = {
    val topk = udaf(new graft.functions.TopKScoredAggregator(k))
    def nnSum(nn: Column) =
      aggregate(nn, lit(0L), (acc, p) => acc + p.getField("_1"))
    val fwd = sims.groupBy(col("src_id"))
      .agg(topk(col("__c"), col("tgt_id")).as("__nn"))
    val sy = sims.groupBy(col("tgt_id"))
      .agg(topk(col("__c"), col("src_id")).as("__nn"))
      .select(col("tgt_id"), nnSum(col("__nn")).as("__sy"),
        size(col("__nn")).as("__ny"))
    val best = udaf(new graft.functions.TopKScoredAggregator(1))
    fwd
      .select(col("src_id"), nnSum(col("__nn")).as("__sx"),
        size(col("__nn")).as("__nx"), explode(col("__nn")).as("__p"))
      .select(col("src_id"), col("__p._2").as("tgt_id"),
        col("__p._1").as("__c"), col("__sx"), col("__nx"))
      .join(sy, Seq("tgt_id"))
      // margin = 2c / (sx/nx + sy/ny) as the EXACT rational
      // 2*c*nx*ny / (sx*ny + sy*nx), half-up fixed-point micros
      // (signed: cosines can be negative) — the double-division form
      // rounded with round(double, 6), the r16 divergence class
      .withColumn("__iden",
        col("__sx") * col("__ny") + col("__sy") * col("__nx"))
      .where(col("__iden") > 0)
      .withColumn("margin", graft.functions.FixedPoint.signedRatio6(
        col("__c") * 2 * col("__nx") * col("__ny"), col("__iden")))
      .where(col("margin") >= minMargin)
      .groupBy(col("src_id"))
      .agg(best(round(col("margin") * 1e6).cast("long"),
        col("tgt_id")).as("__b"))
      .select(col("src_id"), col("__b")(0)("_2").as("tgt_id"),
        (col("__b")(0)("_1").cast("double") / 1e6).as("margin"))
  }

  /** MMR-diversified top-k: re-rank each query's scored candidates
    * (query_id, idCol, relCol double, embCol) by Maximal Marginal Relevance —
    * greedy lam*rel - (1-lam)*maxSimToSelected; lambda=1 is relevance order.
    * Greedy selection is sequential, so each query's (tiny) candidate list is
    * collected into one row for the imperative [[graft.functions.MmrSelect]]
    * pass. rel rounds to 4 decimals then micros, pairwise cosines take the
    * q95 contract, ties go to the ascending id — the oracle replays it.
    */
  def mmrSelect(candidates: DataFrame, idCol: String, relCol: String,
      embCol: String, k: Int, lambda: Double = 0.5): DataFrame = {
    require(k > 0, "k must be positive")
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must be in [0, 1]")
    val lamMicros = math.round(lambda * 1e6)
    candidates
      .groupBy(col("query_id"))
      .agg(collect_list(struct(
        col(idCol).cast("long").as("id"),
        round(round(col(relCol), 4) * 1e6).cast("long").as("rel"),
        col(embCol).cast("array<double>").as("emb"))).as("__c"))
      .select(col("query_id"),
        posexplode(call_function("mmr_select", col("__c"), lit(k),
          lit(lamMicros))).as(Seq("__r", idCol)))
      .select(col("query_id"), (col("__r") + 1).cast("long").as("rank"),
        col(idCol))
  }

  /** Hard-negative mining for contrastive training data: for each probe
    * (anchor), the exact top-k most-similar CORPUS vectors with a DIFFERENT
    * label (same-label neighbors are positives). Returns (query_id, rank,
    * idCol) under the q95 contract, shaped like [[batchExactTopK]]: the
    * anchors broadcast over a map-only corpus scan under the label filter.
    */
  def hardNegatives(corpus: DataFrame, probes: DataFrame, idCol: String,
      embCol: String, labelCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    rankTopKPerQuery(
      corpus.select(col(idCol), col(embCol).as("__cv"), col(labelCol).as("__cl"))
        .join(broadcast(probes.select(col(idCol).as("query_id"),
            col(embCol).as("__qv"), col(labelCol).as("__ql"))),
          col("__cl") =!= col("__ql"))
        .select(col("query_id"), col(idCol),
          round(cosine_sim(col("__cv"), col("__qv")), 4).as("sim")),
      idCol, k)
  }

  /** Deterministic pseudo-random hyperplanes (fixed LCG, values in [-1,1]). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 11L): Array[Array[Double]] =
    graft.functions.HashFamilies.hyperplanes(nPlanes, dim, seed)

  /** Sign-pattern LSH bucket id for an embedding column.
    * Public entry point: reference twin of `hyperplane_buckets`
    * (`ExpressionPropertiesSpec`).
    */
  def lshBucket(emb: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      when(cosine_sim(emb, lit(p)) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Exact cosine top-k neighbors of the vector with id `queryId`. */
  def bruteForceTopK(embs: DataFrame, idCol: String, embCol: String,
      queryId: Long, k: Int): DataFrame =
    exactTopK(embs, embs, idCol, embCol, queryId, k)

  /** Metadata-FILTERED exact top-k ("nearest neighbors among German
    * docs"): candidates are pre-filtered by a semi-join against the
    * allowed-id set, then ranked exactly — unlike post-filtering an ANN list
    * this returns k results whenever k allowed vectors exist.
    * `broadcastFilter` broadcasts the id set; pass false when it is itself
    * huge. The query vector is looked up in the UNFILTERED table, so the
    * query need not satisfy the filter.
    */
  def filteredTopK(embs: DataFrame, allowed: DataFrame, idCol: String,
      allowedIdCol: String, embCol: String, queryId: Long, k: Int,
      broadcastFilter: Boolean = true): DataFrame = {
    val ids = allowed.select(col(allowedIdCol).as(idCol)).distinct()
    exactTopK(embs.join(if (broadcastFilter) broadcast(ids) else ids, idCol),
      embs, idCol, embCol, queryId, k)
  }

  /** The exact single-query scan: `cands` against the broadcast query
    * vector looked up in `embs`, a TakeOrderedAndProject over the
    * 4-decimal cosines (per-partition heaps, a driver merge of k rows).
    */
  private def exactTopK(cands: DataFrame, embs: DataFrame, idCol: String,
      embCol: String, queryId: Long, k: Int): DataFrame = {
    val q = embs.where(col(idCol) === queryId).select(col(embCol).as("qv"))
    cands.join(broadcast(q))
      .where(col(idCol) =!= queryId)
      .select(col(idCol),
        round(cosine_sim(col(embCol), col("qv")), 4).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** BATCHED ANN — k nearest corpus neighbors for EVERY query vector in
    * one plan (near-dup mining, retrieval eval sets, cross-corpus
    * linking): the [[lshPairs]] bucket join, then a bounded
    * [[graft.functions.TopKAggregator]] per query, so the final shuffle
    * carries at most k pairs per query per map task. 4-decimal cosines
    * with the ascending-id tiebreak (the q95 contract; the DuckDB oracle
    * re-derives the buckets). Returns (query_id, rank, idCol), rank 1..k.
    */
  def batchLshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int, nPlanes: Int = 4, nTables: Int = 12,
      dim: Int = -1, seed: Long = 11L): DataFrame = {
    val d = if (dim > 0) dim else inferDim(corpus, embCol)
    val qp = lshPostings(queries, idCol, embCol, nPlanes, nTables, d, seed)
      .select(col(idCol).as("query_id"), col(embCol).as("qv"),
        col("table"), col("bucket"))
    rankTopKPerQuery(
      lshPairs(lshPostings(corpus, idCol, embCol, nPlanes, nTables, d, seed),
        qp, idCol, "query_id", "sim",
        round(cosine_sim(col(embCol), col("qv")), 4),
        col(idCol) =!= col("query_id")),
      idCol, k)
  }

  /** The LSH candidate pair join: posting frames `a` and `b` (id, vector,
    * table, bucket; no other name shared) join on (table, bucket), each
    * pair is scored as `name` and filtered by `keep`, and a pair colliding
    * in several tables keeps one row (same score in each; `max` is a
    * HashAggregate, not a dropDuplicates dragging vectors). Returns (aId,
    * bId, name).
    */
  private[operators] def lshPairs(a: DataFrame, b: DataFrame, aId: String,
      bId: String, name: String, score: Column,
      keep: Column = lit(true)): DataFrame =
    a.join(b, Seq("table", "bucket"))
      .select(col(aId), col(bId), score.as(name))
      .where(keep)
      .groupBy(col(aId), col(bId)).agg(max(col(name)).as(name))

  /** Embedding width, inferred from the data when the caller doesn't know
    * it statically (one-row lookup; cheap next to any similarity join).
    */
  def inferDim(embs: DataFrame, embCol: String): Int =
    embs.select(size(col(embCol)).as("d")).head().getInt(0)

  /** LSH-bucketed ANN top-k with OR-amplification: `nTables` tables of
    * `nPlanes` hyperplanes; a vector is a candidate when it shares the
    * query's bucket in ANY table (one table alone loses every neighbor
    * straddling a single plane). Candidates come from an equi-join on
    * (table, bucket), ≈ nTables/2^nPlanes of the corpus. `dim <= 0`
    * infers the width — the planes MUST match it, or `cosine_sim` throws.
    */
  def lshTopK(embs: DataFrame, idCol: String, embCol: String,
      queryId: Long, k: Int, nPlanes: Int = 4, nTables: Int = 12,
      dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else inferDim(embs, embCol)
    val posted = lshPostings(embs, idCol, embCol, nPlanes, nTables, d)
    val q = posted.where(col(idCol) === queryId)
      .select(col(embCol).as("qv"), col("table").as("qt"), col("bucket").as("qb"))
    rankById(posted.join(broadcast(q),
        col("table") === col("qt") && col("bucket") === col("qb")),
      idCol, queryId, cosine_sim(col(embCol), col("qv")), k)
  }

  /** The (id, emb, table, bucket) posting projection, nTables rows per
    * vector — pure per-row expressions, so it also runs on a streaming
    * DataFrame. ONE [[graft.functions.HyperplaneBuckets]] pass yields every
    * table's bucket (sign-LSH needs only dot-product signs).
    */
  def lshPostings(embs: DataFrame, idCol: String, embCol: String,
      nPlanes: Int = 4, nTables: Int = 12, dim: Int, seed: Long = 11L): DataFrame =
    embs.select(col(idCol), col(embCol).cast("array<double>").as(embCol),
      posexplode(graft.functions.GraftFunctions
        .hyperplane_buckets(col(embCol), nTables, nPlanes, dim, seed))
        .as(Seq("table", "bucket")))

  /** The query vector's per-table buckets, computed driver-side with the
    * SAME plane family as the index build (tiny: nTables * nPlanes dots).
    */
  def queryBuckets(qv: Array[Double], nPlanes: Int = 4, nTables: Int = 12,
      seed: Long = 11L): Array[Int] = {
    val fams = graft.functions.HashFamilies.planeFamilies(
      nTables, nPlanes, qv.length, seed)
    fams.map { fam =>
      fam.zipWithIndex.foldLeft(0) { case (acc, (p, j)) =>
        require(p.length == qv.length,
          s"queryBuckets: dimension mismatch ${p.length} vs ${qv.length}")
        var dot = 0.0; var i = 0
        while (i < qv.length) { dot += p(i) * qv(i); i += 1 }
        if (dot > 0) acc | (1 << j) else acc
      }
    }
  }

  // ---- the dense retrieval core: float postings in an LSH or IVF layout --

  /** Where an index keeps its postings, and the keys they partition on. */
  private sealed abstract class Layout(val keys: Seq[String], sub: String) {
    def root(path: String): String = path + sub
  }
  private case object LshLayout extends Layout(Seq("table", "bucket"), "")
  private case object IvfLayout extends Layout(Seq("cell"), "/postings")

  /** Batch-read a layout's postings, whoever wrote them: a streaming sink's
    * `_spark_metadata` log at the root would hide every batch-written file
    * from a root read, so the listed first-key partition directories are read
    * under `basePath` (a `key=*` glob would too, but Spark logs a stack trace
    * for a literal glob path). A missing or empty tree reads the glob, which
    * fails PATH_NOT_FOUND.
    */
  private def readPostings(spark: SparkSession, layout: Layout,
      path: String): DataFrame = {
    val root = layout.root(path)
    val dir = new org.apache.hadoop.fs.Path(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = layout.keys.head + "="
    val parts =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).map(_.getPath.getName)
        .filter(_.startsWith(key)).sorted.map(p => s"$root/$p").toSeq
    spark.read.option("basePath", root)
      .parquet((if (parts.isEmpty) Seq(s"$root/$key*") else parts): _*)
  }

  /** Overwrite a layout's postings, clustered on its keys with an EXPLICIT
    * partition count: unclustered, every task writes a file per directory,
    * and a keyless repartition is AQE-coalesced into one serial writer (the
    * q127 lesson).
    */
  private def writePostings(postings: DataFrame, layout: Layout,
      path: String): Unit =
    postings.repartition(postings.sparkSession.sparkContext.defaultParallelism,
        layout.keys.map(col): _*)
      .write.mode("overwrite").partitionBy(layout.keys: _*)
      .parquet(layout.root(path))

  /** The per-id ranking tail of the single-query LSH/IVF searchers: drop the
    * query id, round `score` to 4 places as `sim`, keep ONE row per id — a
    * candidate colliding in several LSH tables, or replayed by a retried
    * mode-append, must not displace a real one — then order by descending
    * sim and ascending id and take k. [[bruteForceTopK]] and
    * [[filteredTopK]] see each vector once and take no such aggregate.
    */
  private def rankById(cands: DataFrame, idCol: String, queryId: Long,
      score: Column, k: Int): DataFrame =
    cands.where(col(idCol) =!= queryId)
      .select(col(idCol), round(score, 4).as("sim"))
      .groupBy(col(idCol))
      .agg(max(col("sim")).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)

  /** IVF probe: a `cell IN (probes)` partition filter, so an index scan
    * reads at most `nProbe` directories and fits nothing.
    */
  private def ivfSearch(postings: DataFrame, centroids: Array[Array[Double]],
      idCol: String, embCol: String, qv: Array[Double], queryId: Long, k: Int,
      nProbe: Int): DataFrame = {
    val cells = ivfProbeCells(centroids, qv, nProbe).toSeq
    rankById(postings.where(col("cell").isin(cells: _*)), idCol, queryId,
      cosine_sim(col(embCol), typedlit(qv.toSeq)), k)
  }

  /** Persist the sign-LSH posting index PARTITIONED BY (table, bucket) —
    * the 100 TB path [[lshTopK]]'s Scaladoc promises: the bucketing pass
    * runs once at build time, and a query then prunes to its own
    * `nTables` partition directories instead of re-bucketing the corpus.
    */
  def writeLshIndex(embs: DataFrame, idCol: String, embCol: String,
      path: String, nPlanes: Int = 4, nTables: Int = 12, dim: Int = -1,
      seed: Long = 11L): Unit = {
    val d = if (dim > 0) dim else inferDim(embs, embCol)
    writePostings(lshPostings(embs, idCol, embCol, nPlanes, nTables, d, seed),
      LshLayout, path)
  }

  /** ANN top-k against a [[writeLshIndex]] table, ranked by exact cosine:
    * identical to [[lshTopK]] over the indexed corpus. The probe is a
    * (table, bucket) partition filter, so the scan reads at most `nTables`
    * directories (~nTables/2^nPlanes of the corpus).
    * Public entry point: streaming-index search over a persisted LSH index.
    */
  def lshTopKIndexed(spark: SparkSession, indexPath: String,
      idCol: String, embCol: String, qv: Array[Double], queryId: Long, k: Int,
      nPlanes: Int = 4, nTables: Int = 12, seed: Long = 11L): DataFrame = {
    val probe = queryBuckets(qv, nPlanes, nTables, seed).zipWithIndex
      .map { case (b, tbl) => col("table") === tbl && col("bucket") === b }
      .reduce(_ || _)
    rankById(readPostings(spark, LshLayout, indexPath).where(probe), idCol,
      queryId, cosine_sim(col(embCol), typedlit(qv.toSeq)), k)
  }

  /** KMeans cell assignment of the eager IVF path and the index build:
    * L2-normalize first (on the unit sphere the Euclidean and cosine orders
    * agree), fit a coarse quantizer with a fixed seed and few iterations,
    * return each vector's cell and the nList × dim centroids — driver-held by
    * design, like the LSH plane family.
    */
  def ivfAssign(embs: DataFrame, idCol: String, embCol: String,
      nList: Int, seed: Long): (DataFrame, Array[Array[Double]]) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.feature.Normalizer
    import org.apache.spark.ml.functions.array_to_vector
    val vectorized = new Normalizer().setP(2.0)
      .setInputCol("__raw").setOutputCol("__vec")
      .transform(embs.withColumn("__raw",
        array_to_vector(col(embCol).cast("array<double>"))))
    val model = new KMeans()
      .setK(nList).setSeed(seed).setMaxIter(5)
      .setFeaturesCol("__vec").setPredictionCol("cell")
      .fit(vectorized)
    val assigned = model.transform(vectorized)
      .select(col(idCol), col(embCol).cast("array<double>").as(embCol), col("cell"))
    (assigned, model.clusterCenters.map(_.toArray))
  }

  private def cosArr(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** The `nProbe` cells whose centroids are cosine-closest to the query —
    * driver-side math over the tiny centroid table (nList dot products),
    * the IVF analog of [[queryBuckets]].
    */
  def ivfProbeCells(centroids: Array[Array[Double]], qv: Array[Double],
      nProbe: Int): Array[Int] =
    centroids.zipWithIndex.sortBy { case (c, _) => -cosArr(c, qv) }
      .take(nProbe).map(_._2)

  /** IVF (inverted-file) ANN top-k, eager one-shot form: k-means splits the
    * corpus into `nList` cells and a query ranks only the `nProbe` cells
    * closest to it, exactly. Returns (idCol, sim) like [[lshTopK]]. It refits
    * per call — for repeated queries serve [[ivfTopKIndexed]].
    * Public entry point: the one-shot IVF search, refitting per call.
    */
  def ivfTopK(embs: DataFrame, idCol: String, embCol: String,
      queryId: Long, k: Int, nList: Int = 16, nProbe: Int = 4,
      seed: Long = 42L): DataFrame = {
    val (assigned, centroids) = ivfAssign(embs, idCol, embCol, nList, seed)
    val q = assigned.where(col(idCol) === queryId)
      .select(col(embCol)).head().getSeq[Double](0).toArray
    ivfSearch(assigned, centroids, idCol, embCol, q, queryId, k, nProbe)
  }

  /** Persist the IVF index, postings PARTITIONED BY cell: the KMeans fit
    * runs once here instead of once per query, and a probe reads nProbe/nList
    * of the corpus. Beside the postings go the `centroids` and the drift
    * `anchor`. Pair with [[ivfTopKIndexed]].
    */
  def writeIvfIndex(embs: DataFrame, idCol: String, embCol: String,
      path: String, nList: Int = 16, seed: Long = 42L): Unit = {
    val spark = embs.sparkSession
    import spark.implicits._
    val (assigned, centroids) = ivfAssign(embs, idCol, embCol, nList, seed)
    writePostings(assigned, IvfLayout, path)
    centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    writeAnchor(embs, embCol, path)
  }

  /** The centroid table of an IVF index — nList rows, read to the driver
    * by design (the IVF analog of the LSH plane family).
    */
  def readIvfCentroids(spark: SparkSession,
      indexPath: String): Array[Array[Double]] =
    spark.read.parquet(s"$indexPath/centroids")
      .orderBy("cell").select("centroid").collect()
      .map(_.getSeq[Double](0).toArray)

  /** ANN top-k against a [[writeIvfIndex]] table: no per-query fit or
    * corpus pass; ranked by exact cosine, identical to [[ivfTopK]] at
    * equal nList/nProbe/seed.
    */
  def ivfTopKIndexed(spark: SparkSession, indexPath: String,
      idCol: String, embCol: String, qv: Array[Double], queryId: Long, k: Int,
      nProbe: Int = 4): DataFrame =
    ivfSearch(readPostings(spark, IvfLayout, indexPath),
      readIvfCentroids(spark, indexPath), idCol, embCol, qv, queryId, k,
      nProbe)

  /** Cell id of an embedding against FIXED centroids as pure column
    * expressions (so it runs on streaming DataFrames), replicating the KMeans
    * predict exactly: for the L2-normalized x, argmin ||x - c||^2 = argmin
    * ||c||^2 - 2 cosine(x, c) ||c||, with the ||c|| constants folded in
    * driver-side and ties to the lowest cell like MLlib's findClosest.
    */
  def ivfCell(emb: Column, centroids: Array[Array[Double]]): Column = {
    val scores = array(centroids.toIndexedSeq.map { c =>
      val cNorm = math.sqrt(c.map(x => x * x).sum)
      lit(cNorm * cNorm) - lit(2.0 * cNorm) * cosine_sim(emb, lit(c))
    }: _*)
    (array_position(scores, array_min(scores)) - 1).cast("int")
  }

  /** The (id, emb, cell) posting projection against fixed centroids —
    * the [[appendIvfIndex]] rows, and on a streaming frame the rows a
    * file sink appends into `indexPath/postings` partitioned by `cell`
    * (the LSH twin is pinned in `StreamingLshIndexSpec`).
    */
  def ivfPostings(embs: DataFrame, idCol: String, embCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    embs.select(col(idCol), col(embCol).cast("array<double>").as(embCol),
      ivfCell(col(embCol), centroids).as("cell"))

  /** The one append body (the caller holds the lease): `embs` under the
    * index's FIXED centroids.
    */
  private def appendIvf(spark: SparkSession, indexPath: String,
      embs: DataFrame, idCol: String, embCol: String): Unit =
    ivfPostings(embs, idCol, embCol, readIvfCentroids(spark, indexPath))
      .write.mode("append").partitionBy(IvfLayout.keys: _*)
      .parquet(IvfLayout.root(indexPath))

  /** Batch-append new vectors into a [[writeIvfIndex]] index WITHOUT
    * refitting; rebuild on a rebalance cadence, as the quantizer drifts. The
    * mode-append write is NOT batch-keyed, so a retried append lands its rows
    * twice: the query tail dedups ids, and the next refit folds the
    * duplicates away (a streaming file sink is exactly-once by its log).
    * Public entry point: streaming-index append.
    */
  def appendIvfIndex(spark: SparkSession, indexPath: String,
      embs: DataFrame, idCol: String, embCol: String): Unit =
    graft.io.Maintenance.withLease(spark, indexPath, "ivf-append") {
      appendIvf(spark, indexPath, embs, idCol, embCol)
    }

  // ---- drift-triggered index maintenance -------------------------------

  /** Persist the fit-time drift ANCHOR: the per-dimension sum of the fitted
    * corpus (DECIMAL-exact; cosine is scale-invariant, so the sum direction
    * IS the mean direction), which [[indexDrift]] compares batches against.
    */
  private def writeAnchor(embs: DataFrame, embCol: String, path: String): Unit =
    embs.select(posexplode(col(embCol).cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(sum(col("x").cast("decimal(38,12)")).cast("double").as("s"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/anchor")

  /** Centroid-cosine of a new batch against the index's fit-time anchor
    * (1 = the fitted corpus's direction): one `dim`-row aggregate.
    */
  def indexDrift(spark: SparkSession, indexPath: String,
      newEmbs: DataFrame, embCol: String): Double = {
    import spark.implicits._
    val av =
      try spark.read.parquet(s"$indexPath/anchor")
        .orderBy("dim").select("s").collect().map(_.getDouble(0))
      catch { case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" =>
        throw new IllegalStateException(
          s"$indexPath has no fit-time anchor - rebuild the index with " +
            "writeIvfIndex to enable drift maintenance", e)
      }
    Drift.embeddingCentroidCos(
        Seq(Tuple1(av.toSeq)).toDF(embCol),
        newEmbs.select(col(embCol).cast("array<double>").as(embCol)), embCol)
      .head().getAs[Double]("centroid_cos")
  }

  /** Drift-triggered maintenance of a [[writeIvfIndex]] index (the
    * q103-monitors-the-index loop closed), under one lease that spans the
    * drift DECISION too: a batch whose centroid cosine against the anchor
    * stays at/above `minCentroidCos` APPENDS under the existing centroids; a
    * drifted one REFITS the index over its postings ∪ the batch — the
    * postings keep raw vectors, so the rebuild is self-contained and folds
    * every prior append. The union spills before the overwrite (a lazy
    * self-read would race it). Returns true when a refit ran.
    * Public entry point: streaming-index maintenance (drift refit).
    */
  def maintainIvfIndex(spark: SparkSession,
      indexPath: String, newEmbs: DataFrame, idCol: String, embCol: String,
      minCentroidCos: Double = 0.95, nList: Int = 16,
      seed: Long = 42L): Boolean = {
    require(minCentroidCos >= -1.0 && minCentroidCos <= 1.0,
      "minCentroidCos is a cosine")
    graft.io.Maintenance.withLease(spark, indexPath, "ivf-maintain") {
      val batch = newEmbs.select(col(idCol),
        col(embCol).cast("array<double>").as(embCol))
      val append = indexDrift(spark, indexPath, batch, embCol) >= minCentroidCos
      if (append) appendIvf(spark, indexPath, batch, idCol, embCol)
      else writeIvfIndex(graft.io.Spill(
          readPostings(spark, IvfLayout, indexPath)
            .select(col(idCol), col(embCol)).unionByName(batch)
            // exact duplicate rows (a retried append replayed into the
            // mode-append layout) fold away here instead of being
            // carried forever; replays are byte-identical
            .distinct(),
          "graft-ivfref-"),
        idCol, embCol, indexPath, nList, seed)
      !append
    }
  }
}
