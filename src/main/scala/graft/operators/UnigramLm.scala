package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Unigram language-model tokenization (the SentencePiece posture) — the
  * production tokenizer family multilingual pipelines actually ship,
  * complementing the BPE pair ([[graft.functions.Bpe]] /
  * [[BpeTraining]]): segmentation picks the VITERBI-best split of each
  * word under a `(piece, logp)` vocabulary instead of replaying greedy
  * merges.
  *
  * Split of labor mirrors BPE exactly:
  *
  *   - **Segmentation** is the map-only imperative expression
  *     [[graft.functions.UnigramSegment]] with the vocabulary embedded —
  *     integer-micro log-probs, so the DP is exact and the DuckDB oracle
  *     replays it cell for cell via a recursive CTE (the q85
  *     packing-walk discipline): `best[i] = max_j best[j] +
  *     logp(w[j..i))`, ties to the longest piece.
  *   - **Training** ([[emFit]]) runs at the DRIVER over the word
  *     histogram — the [[BpeTraining]] posture: the one
  *     corpus-proportional step is the histogram hash-aggregate; EM
  *     cost is bounded by DISTINCT words × maxPieceLen², independent of
  *     corpus size. Full (soft) EM with forward–backward expected
  *     counts in log space, seed = frequent substrings, prune to
  *     `vocabSize` keeping every single character (coverage — any word
  *     stays segmentable without UNK).
  *
  * [[DefaultVocab]] is a hand-built table standing in for a trained one
  * (the [[graft.functions.Bpe.Merges]] precedent — the ALGORITHM is the
  * deliverable, the table is a pluggable constant); q169/q170 embed it
  * on both the Spark and oracle sides.
  */
object UnigramLm {

  /** Micro-log-prob units: logp × 1e6, as Long. */
  def micros(logp: Double): Long = math.round(logp * 1e6)

  /** Single chars a-z and 0-9 at a harsh floor (coverage), plus common
    * subwords and whole words at realistic log-probs — ambiguous on
    * purpose (group vs gr+oup, value vs val+ue) so the Viterbi argmax
    * and its tie rule are actually exercised.
    */
  val DefaultVocab: Seq[(String, Long)] = {
    val chars = (('a' to 'z') ++ ('0' to '9')).map(c =>
      c.toString -> micros(-12.0))
    val pieces = Seq(
      "the" -> -2.5, "table" -> -3.0, "data" -> -3.2, "row" -> -3.4,
      "key" -> -3.5, "scan" -> -3.6, "join" -> -3.7, "hash" -> -3.8,
      "sort" -> -3.9, "query" -> -4.0, "value" -> -4.05, "group" -> -4.08,
      "merge" -> -4.1, "part" -> -4.15, "er" -> -4.2, "batch" -> -4.25,
      "st" -> -4.3, "fast" -> -4.35, "an" -> -4.4, "slow" -> -4.45,
      "or" -> -4.5, "small" -> -4.55, "in" -> -4.6, "big" -> -4.65,
      "re" -> -4.7, "agg" -> -4.75, "dup" -> -4.85, "filter" -> -4.95,
      "val" -> -5.0, "line" -> -5.05, "ue" -> -5.1, "order" -> -5.15,
      "col" -> -5.2, "gr" -> -5.22, "spark" -> -5.25, "umn" -> -5.3,
      "oup" -> -5.32, "cust" -> -5.35, "wind" -> -5.4, "om" -> -5.45,
      "ow" -> -5.5, "vec" -> -5.55, "str" -> -5.6, "tor" -> -5.65,
      "eam" -> -5.7
    ).map { case (p, lp) => p -> micros(lp) }
    chars ++ pieces
  }

  val DefaultUnkMicros: Long = micros(-20.0)
  val DefaultMaxPieceLen: Int = 8

  /** Viterbi segmentation of `words` (an array column) under `vocab`:
    * a struct of (pieces ARRAY<STRING> in order, score_micros LONG).
    */
  def segmentWords(words: Column, vocab: Seq[(String, Long)] = DefaultVocab,
      unkMicros: Long = DefaultUnkMicros,
      maxPieceLen: Int = DefaultMaxPieceLen): Column =
    call_function("unigram_segment", words,
      lit(vocab.map(_._1).toArray), lit(vocab.map(_._2).toArray),
      lit(unkMicros), lit(maxPieceLen))

  /** Per-document segmentation accounting over `textCol` (tokenized by
    * [[TextFunctions.words]]): word count, piece count, exact Viterbi
    * score in micros, and the space-joined segmentation (md5-able).
    * Map-only — one expression eval per document.
    */
  def segment(docs: DataFrame, idCol: String, textCol: String,
      vocab: Seq[(String, Long)] = DefaultVocab,
      unkMicros: Long = DefaultUnkMicros,
      maxPieceLen: Int = DefaultMaxPieceLen): DataFrame =
    docs
      .select(col(idCol), TextFunctions.words(col(textCol)).as("__w"))
      .select(col(idCol), col("__w"),
        segmentWords(col("__w"), vocab, unkMicros, maxPieceLen).as("__s"))
      .select(col(idCol),
        size(col("__w")).cast("long").as("n_words"),
        size(col("__s.pieces")).cast("long").as("n_pieces"),
        col("__s.score_micros").as("score_micros"),
        array_join(col("__s.pieces"), " ").as("segmentation"))

  /** Fixed-length unigram id sequences — the unigram twin of
    * [[graft.functions.Bpe.encodeIds]]'s contract (PAD = 0, UNK = 1,
    * real pieces at vocabIndex + 2, truncate then right-pad to
    * `maxLen`): the final model-input artifact for the SentencePiece
    * family. Declarative on top of the segmentation expression — one
    * piece→id map lookup per piece (a broadcast-free plan LITERAL,
    * vocabulary-bounded) — so the whole encode stays map-only. Pieces
    * the Viterbi fell back to char-by-char on (characters outside the
    * vocabulary) map to UNK.
    */
  def encodeIds(docs: DataFrame, idCol: String, textCol: String,
      maxLen: Int, vocab: Seq[(String, Long)] = DefaultVocab,
      unkMicros: Long = DefaultUnkMicros,
      maxPieceLen: Int = DefaultMaxPieceLen): DataFrame = {
    require(maxLen > 0, "maxLen must be positive")
    val idMap = map_from_arrays(
      lit(vocab.map(_._1).toArray),
      lit(vocab.indices.map(_ + 2L).toArray))
    docs
      .select(col(idCol),
        segmentWords(TextFunctions.words(col(textCol)),
          vocab, unkMicros, maxPieceLen).getField("pieces").as("__p"))
      .select(col(idCol),
        slice(transform(col("__p"),
          p => coalesce(element_at(idMap, p), lit(1L))), 1, maxLen)
          .as("__i"))
      .select(col(idCol),
        concat(col("__i"), array_repeat(lit(0L),
          greatest(lit(0), lit(maxLen) - size(col("__i")))))
          .as("ids"))
  }

  /** Per-group fertility of the unigram tokenizer NEXT TO the BPE and
    * whitespace counts — the q111 comparison frame with the unigram
    * column added: pieces per whitespace token for both tokenizer
    * families under one aggregate.
    */
  def fertilityVsBpe(docs: DataFrame, groupCol: String, textCol: String,
      vocab: Seq[(String, Long)] = DefaultVocab,
      unkMicros: Long = DefaultUnkMicros,
      maxPieceLen: Int = DefaultMaxPieceLen): DataFrame =
    docs
      .select(col(groupCol),
        TextFunctions.wsTokenCount(col(textCol)).cast("long").as("__ws"),
        TextFunctions.bpeTokenCount(col(textCol)).cast("long").as("__bpe"),
        size(segmentWords(TextFunctions.words(col(textCol)),
          vocab, unkMicros, maxPieceLen).getField("pieces"))
          .cast("long").as("__uni"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__ws")).as("ws_tokens"),
        sum(col("__bpe")).as("bpe_tokens"),
        sum(col("__uni")).as("unigram_pieces"),
        when(sum(col("__ws")) > 0, graft.functions.FixedPoint.ratio6(
          sum(col("__bpe")), sum(col("__ws")))).as("bpe_fertility"),
        when(sum(col("__ws")) > 0, graft.functions.FixedPoint.ratio6(
          sum(col("__uni")), sum(col("__ws")))).as("unigram_fertility"))

  /** Full-EM unigram fit over a word histogram, at the driver (the
    * [[graft.functions.Bpe.trainFromCounts]] posture — cost bounded by
    * distinct words, not corpus size). Soft counts via forward–backward
    * in log space; after `iters` rounds the vocabulary is pruned to
    * `vocabSize` (every single character always kept for coverage) and
    * renormalized. Deterministic: ties in seeding and pruning break on
    * (count desc, piece lexicographic).
    *
    * Corpus log-likelihood is non-decreasing across EM rounds (the EM
    * guarantee; property-pinned in `UnigramLmSpec`).
    */
  def emFit(wordCounts: Iterable[(String, Long)], vocabSize: Int,
      iters: Int = 4, maxPieceLen: Int = DefaultMaxPieceLen,
      seedSize: Int = 4000): Seq[(String, Long)] =
    emFitCore(wordCounts, vocabSize, iters, maxPieceLen, seedSize)._1

  private def emFitCore(wordCounts: Iterable[(String, Long)],
      vocabSize: Int, iters: Int, maxPieceLen: Int,
      seedSize: Int): (Seq[(String, Long)], Vector[Double]) = {
    require(vocabSize >= 1, "vocabSize must be >= 1")
    require(iters >= 1, "iters must be >= 1")
    val words = wordCounts.iterator.filter(_._1.nonEmpty).toVector
    require(words.nonEmpty, "empty histogram")

    // seed: weighted substring frequencies
    val freq = scala.collection.mutable.HashMap.empty[String, Double]
    words.foreach { case (w, c) =>
      var i = 0
      while (i < w.length) {
        var l = 1
        while (l <= maxPieceLen && i + l <= w.length) {
          val p = w.substring(i, i + l)
          freq.update(p, freq.getOrElse(p, 0.0) + c.toDouble)
          l += 1
        }
        i += 1
      }
    }
    val chars = freq.keys.filter(_.length == 1).toVector.sorted
    val multi = freq.keys.filter(_.length > 1).toVector
      .sortBy(p => (-freq(p), p)).take(math.max(0, seedSize - chars.size))
    var vocab = (chars ++ multi).sorted
    var logp: Map[String, Double] = {
      val tot = vocab.map(freq).sum
      vocab.map(p => p -> math.log(freq(p) / tot)).toMap
    }

    def logsumexp(a: Double, b: Double): Double =
      if (a == Double.NegativeInfinity) b
      else if (b == Double.NegativeInfinity) a
      else { val m = math.max(a, b); m + math.log(math.exp(a - m) + math.exp(b - m)) }

    val llHistory = Vector.newBuilder[Double]
    var it = 0
    while (it < iters) {
      val expected = scala.collection.mutable.HashMap.empty[String, Double]
      var ll = 0.0
      words.foreach { case (w, c) =>
        val n = w.length
        val alpha = Array.fill(n + 1)(Double.NegativeInfinity)
        alpha(0) = 0.0
        var i = 1
        while (i <= n) {
          var j = math.max(0, i - maxPieceLen)
          while (j < i) {
            logp.get(w.substring(j, i)).foreach { lp =>
              alpha(i) = logsumexp(alpha(i), alpha(j) + lp)
            }
            j += 1
          }
          i += 1
        }
        val beta = Array.fill(n + 1)(Double.NegativeInfinity)
        beta(n) = 0.0
        var k = n - 1
        while (k >= 0) {
          var i2 = k + 1
          while (i2 <= math.min(n, k + maxPieceLen)) {
            logp.get(w.substring(k, i2)).foreach { lp =>
              beta(k) = logsumexp(beta(k), lp + beta(i2))
            }
            i2 += 1
          }
          k -= 1
        }
        // single chars are always seeded, so alpha(n) is finite
        ll += alpha(n) * c
        var j2 = 0
        while (j2 < n) {
          var i3 = j2 + 1
          while (i3 <= math.min(n, j2 + maxPieceLen)) {
            val piece = w.substring(j2, i3)
            logp.get(piece).foreach { lp =>
              val g = alpha(j2) + lp + beta(i3) - alpha(n)
              if (g > -50.0) // exp underflow guard
                expected.update(piece,
                  expected.getOrElse(piece, 0.0) + math.exp(g) * c)
            }
            i3 += 1
          }
          j2 += 1
        }
      }
      llHistory += ll
      val tot = expected.values.sum
      // M-step over pieces with mass; massless multi-char pieces drop,
      // massless chars keep a floor (coverage)
      val floor = math.log(1e-12)
      logp = vocab.flatMap { p =>
        val e = expected.getOrElse(p, 0.0)
        if (e > 0.0) Some(p -> math.log(e / tot))
        else if (p.length == 1) Some(p -> floor)
        else None
      }.toMap
      vocab = vocab.filter(logp.contains)
      it += 1
    }

    // prune to vocabSize: every char kept, multi-char by final logp mass
    val keptChars = vocab.filter(_.length == 1)
    val keptMulti = vocab.filter(_.length > 1)
      .sortBy(p => (-logp(p), p))
      .take(math.max(0, vocabSize - keptChars.size))
    val kept = (keptChars ++ keptMulti).sorted
    val z = kept.map(p => math.exp(logp(p))).sum
    (kept.map(p => p -> micros(math.log(math.exp(logp(p)) / z))),
      llHistory.result())
  }

  /** [[emFit]] exposed with its round-by-round corpus log-likelihood —
    * the INTERNAL pre-M-step objective each E-step computes (the exact
    * quantity EM's monotonicity guarantee covers), threaded out of the
    * single fit rather than re-fitting per round (which would be
    * O(iters²) and would score a pruned-and-renormalized model, a
    * different objective).
    * Public entry point: exposes the per-round log-likelihood `UnigramLmSpec`
    * checks for EM monotonicity.
    */
  def emFitWithLL(wordCounts: Iterable[(String, Long)], vocabSize: Int,
      iters: Int = 4, maxPieceLen: Int = DefaultMaxPieceLen,
      seedSize: Int = 4000): (Seq[(String, Long)], Seq[Double]) =
    emFitCore(wordCounts, vocabSize, iters, maxPieceLen, seedSize)

  /** Train from a corpus: ONE histogram aggregate (corpus-proportional,
    * [[BpeTraining.wordHistogram]]) then driver-side [[emFit]].
    */
  def train(docs: DataFrame, textCol: String, vocabSize: Int,
      iters: Int = 4, maxPieceLen: Int = DefaultMaxPieceLen,
      maxDistinctWords: Int = 1 << 20): Seq[(String, Long)] = {
    val hist = BpeTraining.wordHistogram(docs, textCol, maxDistinctWords)
      .collect().map(r => (r.getString(0).toLowerCase, r.getLong(1)))
      .groupBy(_._1).map { case (w, rs) => w -> rs.map(_._2).sum }
    emFit(hist, vocabSize, iters, maxPieceLen)
  }
}
