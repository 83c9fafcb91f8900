package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Registry + Column-level API for graft's custom Catalyst expressions.
  *
  * [[graft.GraftExtensions]] injects [[builders]] into the session
  * `FunctionRegistry` (the public extension point SURVEY §4.2 calls for),
  * so the functions are usable both from the Column DSL (via
  * `call_function`) and from `spark.sql(...)` text.
  */
object GraftFunctions {

  private def asDoubleArray(e: Expression): Expression =
    Cast(e, ArrayType(DoubleType))

  // evaluate a FOLDABLE nested-double-array literal at plan-build time
  // (PQ codebooks/tables are plan constants — evaluating per row would
  // walk the literal's ArrayData for every record)
  private def nested2(e: Expression): Seq[Seq[Double]] = {
    require(e.foldable, s"${e.sql}: must be a literal")
    val a = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    (0 until a.numElements()).map { i =>
      val b = a.getArray(i)
      (0 until b.numElements()).map(b.getDouble)
    }
  }

  private def nested3(e: Expression): Seq[Seq[Seq[Double]]] = {
    require(e.foldable, s"${e.sql}: must be a literal")
    val a = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    (0 until a.numElements()).map { i =>
      val b = a.getArray(i)
      (0 until b.numElements()).map { j =>
        val c = b.getArray(j)
        (0 until c.numElements()).map(c.getDouble)
      }
    }
  }

  /** Name -> expression builder for every graft function; injected by
    * [[graft.GraftExtensions]] (every [[graft.core.Engine]] session, and a
    * cluster's via `spark.sql.extensions`).
    */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "ascii_clean" -> { exprs => AsciiClean(exprs(0)) },
    "fix_text" -> {
      case Seq(child, Literal(p: Int, _)) => MojibakeFix(child, p)
      case Seq(child) => MojibakeFix(child, 2)
      case other => throw new IllegalArgumentException(
        s"fix_text(text, passes literal); got ${other.size} args")
    },
    "cosine_sim" -> { exprs =>
      CosineSimilarity(asDoubleArray(exprs(0)), asDoubleArray(exprs(1)))
    },
    "minhash" -> {
      case Seq(child, Literal(k: Int, _), Literal(seed: Long, _)) =>
        MinHashSignature(child, k, seed)
      case Seq(child, Literal(k: Int, _)) =>
        MinHashSignature(child, k, 7L)
      case Seq(child) =>
        MinHashSignature(child, 16, 7L)
      case other =>
        throw new IllegalArgumentException(
          s"minhash(tokens, k literal, seed literal); got ${other.size} args")
    },
    "simhash64" -> (exprs => SimHash64(exprs.head)),
    "url_host_domain" -> (exprs => UrlHostDomain(exprs.head)),
    "url_canonicalize" -> (exprs => UrlCanonicalize(exprs.head)),
    "bpe_token_count" -> (exprs => BpeTokenCount(exprs.head)),
    "bpe_tokens" -> (exprs => BpeTokens(exprs.head)),
    "bpe_ids" -> (exprs => BpeIds(exprs.head)),
    "bpe_encode_ids" -> {
      case Seq(child, Literal(maxLen: Int, _)) => BpeEncodeIds(child, maxLen)
      case other =>
        throw new IllegalArgumentException(
          s"bpe_encode_ids(text, maxLen literal); got ${other.size} args")
    },
    // robots.txt parse (per host) and longest-match decision (per URL)
    "robots_select" -> {
      case Seq(body, agent) => RobotsSelect(body, agent)
      case other => throw new IllegalArgumentException(
        s"robots_select(body, agent); got ${other.size} args")
    },
    "robots_decide" -> {
      case Seq(path, patterns, allows) => RobotsDecide(path, patterns, allows)
      case other => throw new IllegalArgumentException(
        s"robots_decide(pathq, patterns, allows); got ${other.size} args")
    },
    // WordPiece greedy longest-match segmentation: vocabulary as one
    // foldable array of surface pieces (continuation forms carry their
    // prefix), plus the prefix/unk/maxPieceLen literals
    "wordpiece_segment" -> {
      case Seq(child, ps, Literal(pref, StringType),
          Literal(unk, StringType), Literal(maxLen: Int, _))
          if ps.foldable =>
        val pa = ps.eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        require(pa != null, "wordpiece_segment: vocab must be non-null")
        WordPieceSegment(child,
          (0 until pa.numElements()).map(i => pa.getUTF8String(i).toString),
          pref.toString, unk.toString, maxLen)
      case other =>
        throw new IllegalArgumentException(
          "wordpiece_segment(words, pieces array<string> constant, " +
            "contPrefix string literal, unkToken string literal, " +
            s"maxPieceLen int literal); got ${other.size} args")
    },
    // unigram-LM Viterbi segmentation: vocabulary as two parallel
    // foldable arrays (pieces, micro-log-probs) — plan constants like
    // phrase_hits' list; evaluated once at build, embedded in the
    // expression
    "unigram_segment" -> {
      case Seq(child, ps, lps, Literal(unk: Long, _), Literal(maxLen: Int, _))
          if ps.foldable && lps.foldable =>
        val pa = ps.eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val la = lps.eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        require(pa != null && la != null &&
          pa.numElements() == la.numElements(),
          "unigram_segment: pieces and logps must be equal-length arrays")
        UnigramSegment(child,
          (0 until pa.numElements()).map(i =>
            pa.getUTF8String(i).toString -> la.getLong(i)),
          unk, maxLen)
      case other =>
        throw new IllegalArgumentException(
          "unigram_segment(words, pieces array<string> constant, " +
            "logp_micros array<long> constant, unk long literal, " +
            s"maxPieceLen int literal); got ${other.size} args")
    },
    "word_shingles" -> {
      case Seq(child, Literal(n: Int, _)) => WordShingles(child, n)
      case Seq(child) => WordShingles(child, 3)
      case other =>
        throw new IllegalArgumentException(
          s"word_shingles(words, n literal); got ${other.size} args")
    },
    "positional_shingles" -> {
      case Seq(child, Literal(n: Int, _)) => PositionalShingles(child, n)
      case other =>
        throw new IllegalArgumentException(
          s"positional_shingles(words, n literal); got ${other.size} args")
    },
    // the phrase list must be a plan constant but arrives as a Literal
    // from typedlit and as a foldable CreateArray from SQL text — accept
    // any foldable array<string>
    "phrase_hits" -> {
      case Seq(child, arr) if arr.foldable && (arr.dataType match {
          case ArrayType(StringType, _) => true
          case _ => false
        }) =>
        val a = arr.eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        if (a == null)
          throw new IllegalArgumentException(
            "phrase_hits: the phrase array must not be NULL")
        PhraseHits(child,
          (0 until a.numElements()).map { i =>
            val p = a.getUTF8String(i)
            if (p == null)
              throw new IllegalArgumentException(
                "phrase_hits: phrase elements must not be NULL")
            p.toString
          })
      case other =>
        throw new IllegalArgumentException(
          "phrase_hits(words, phrases non-null array<string> constant); " +
            s"got ${other.map(_.dataType.simpleString).mkString("(", ", ", ")")}")
    },
    "gram_fingerprints" -> {
      case Seq(child, Literal(k: Int, _)) => GramFingerprints(child, k)
      case other =>
        throw new IllegalArgumentException(
          s"gram_fingerprints(words, k literal); got ${other.size} args")
    },
    "token_counts" -> {
      case Seq(child) => TokenCounts(child)
      case other =>
        throw new IllegalArgumentException(
          s"token_counts(tokens); got ${other.size} args")
    },
    "token_positions" -> {
      case Seq(child) => TokenPositions(child)
      case other =>
        throw new IllegalArgumentException(
          s"token_positions(tokens); got ${other.size} args")
    },
    "phrase_start_count" -> {
      case Seq(child) => PhraseStartCount(child)
      case other =>
        throw new IllegalArgumentException(
          s"phrase_start_count(entries); got ${other.size} args")
    },
    "min_window_span" -> {
      case Seq(child) => MinWindowSpan(child)
      case other =>
        throw new IllegalArgumentException(
          s"min_window_span(entries); got ${other.size} args")
    },
    "best_window" -> {
      case Seq(child, Literal(w: Int, _)) => BestWindow(child, w)
      case other =>
        throw new IllegalArgumentException(
          s"best_window(positions, window literal); got ${other.size} args")
    },
    "char_grams" -> {
      case Seq(child, Literal(minN: Int, _), Literal(maxN: Int, _)) =>
        CharGrams(child, minN, maxN)
      case other =>
        throw new IllegalArgumentException(
          s"char_grams(text, minN literal, maxN literal); got ${other.size} args")
    },
    "repetition_stats" -> {
      case Seq(child, Literal(n: Int, _)) => RepetitionStats(child, n)
      case Seq(child) => RepetitionStats(child, 2)
      case other =>
        throw new IllegalArgumentException(
          s"repetition_stats(words, n literal); got ${other.size} args")
    },
    "span_corrupt" -> {
      case Seq(words, id, Literal(salt: UTF8String, _),
          Literal(rate: Double, _), Literal(spanLen: Int, _)) =>
        SpanCorrupt(words, id, salt.toString, rate, spanLen)
      case other =>
        throw new IllegalArgumentException(
          "span_corrupt(words, id, salt literal, rate literal, " +
            s"spanLen literal); got ${other.size} args")
    },
    "deflate_stats" -> {
      case Seq(child, Literal(level: Int, _)) => DeflateStats(child, level)
      case Seq(child) => DeflateStats(child, 6)
      case other =>
        throw new IllegalArgumentException(
          s"deflate_stats(text, level literal); got ${other.size} args")
    },
    "deflate_ratio_in" -> {
      case Seq(child, Literal(lo: Double, _), Literal(hi: Double, _),
          Literal(level: Int, _)) =>
        DeflateRatioGate(child, lo, hi, level)
      case other =>
        // distinguish arity from literal-TYPE mismatch: the common slip
        // is integer SQL literals for lo/hi (needs 0.1e0-style doubles),
        // which previously reported a misleading "got 4 args"
        throw new IllegalArgumentException(
          "deflate_ratio_in(text, lo literal, hi literal, level literal)" +
            (if (other.size == 4)
              "; expected literal types (DOUBLE, DOUBLE, INT) for " +
                "(lo, hi, level) — got (" +
                other.drop(1).map(_.dataType.simpleString).mkString(", ") +
                "); write doubles as e.g. 0.1e0 in SQL"
            else s"; got ${other.size} args"))
    },
    "warc_records" -> {
      case Seq(child) => WarcRecords(child)
      case other =>
        throw new IllegalArgumentException(
          s"warc_records(fileText); got ${other.size} args")
    },
    "winnow_fingerprints" -> {
      case Seq(child, Literal(k: Int, _), Literal(win: Int, _)) =>
        WinnowFingerprints(child, k, win)
      case Seq(child) => WinnowFingerprints(child, 3, 4)
      case other =>
        throw new IllegalArgumentException(
          s"winnow_fingerprints(words, k literal, win literal); got ${other.size} args")
    },
    "pq_encode" -> {
      case Seq(child, cb) if cb.foldable =>
        PqEncode(asDoubleArray(child), nested3(cb))
      case other =>
        throw new IllegalArgumentException(
          s"pq_encode(emb, codebook literal); got ${other.size} args")
    },
    "pq_adc" -> {
      case Seq(child, dt) if dt.foldable => PqAdc(child, nested2(dt))
      case other =>
        throw new IllegalArgumentException(
          s"pq_adc(codes, dtable literal); got ${other.size} args")
    },
    "mmr_select" -> {
      case Seq(child, Literal(k: Int, _), Literal(lamMicros: Long, _)) =>
        MmrSelect(child, k, lamMicros)
      case other =>
        throw new IllegalArgumentException(
          s"mmr_select(candidates, k literal, lamMicros literal); got ${other.size} args")
    },
    "int8_quantize" -> (exprs => Int8Quantize(asDoubleArray(exprs.head))),
    "int8_pack" -> (exprs => Int8Pack(exprs.head)),
    "cosine_int8" -> (exprs => CosineInt8(exprs(0), exprs(1))),
    "hyperplane_buckets" -> {
      case Seq(child, Literal(nTables: Int, _), Literal(nPlanes: Int, _),
          Literal(dim: Int, _), Literal(seed: Long, _)) =>
        HyperplaneBuckets(asDoubleArray(child), nTables, nPlanes, dim, seed)
      case other =>
        throw new IllegalArgumentException(
          "hyperplane_buckets(emb, nTables, nPlanes, dim, seed literals); " +
            s"got ${other.size} args")
    })

  /** Cosine similarity between two array<float|double> columns. */
  def cosine_sim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** True iff the string is printable-ASCII + tab/LF/CR (byte scan). */
  def ascii_clean(c: Column): Column = call_function("ascii_clean", c)

  /** k-minimum MinHash signature of an array<string> shingle column. */
  def minhash(tokens: Column, k: Int, seed: Long = 7L): Column =
    call_function("minhash", tokens, lit(k), lit(seed))

  /** 64-bit SimHash of an array<string> token column. */
  def simhash64(tokens: Column): Column = call_function("simhash64", tokens)

  def url_host_domain(url: Column): Column =
    call_function("url_host_domain", url)

  /** Canonical (dedup-key) form of a URL — one imperative pass. */
  def url_canonicalize(url: Column): Column =
    call_function("url_canonicalize", url)

  /** Merges-table BPE token count of a string column (see [[Bpe]]). */
  def bpe_token_count(text: Column): Column =
    call_function("bpe_token_count", text)

  /** The BPE token sequence of a string column (see [[Bpe]]). */
  def bpe_tokens(text: Column): Column = call_function("bpe_tokens", text)

  /** Full (unpadded) BPE id sequence of a string column. */
  def bpe_ids(text: Column): Column = call_function("bpe_ids", text)

  /** Fixed-length BPE id sequence (UNK=1, PAD=0) of a string column. */
  def bpe_encode_ids(text: Column, maxLen: Int): Column =
    call_function("bpe_encode_ids", text, lit(maxLen))

  /** Winnowing (MOSS) fingerprints of an array<string> token column. */
  def winnow_fingerprints(tokens: Column, k: Int, win: Int): Column =
    call_function("winnow_fingerprints", tokens, lit(k), lit(win))

  /** Content-Length-framed WARC records of a file-content column:
    * array<struct<headers, payload>> (see [[WarcRecords]]).
    */
  def warc_records(fileText: Column): Column =
    call_function("warc_records", fileText)

  /** Positional n-gram repetition stats of an array<string> word column:
    * struct<n_grams, distinct_grams, top_count>.
    */
  def repetition_stats(words: Column, n: Int): Column =
    call_function("repetition_stats", words, lit(n))

  /** Deflate-compressibility stats of a text column:
    * struct<raw_bytes, deflate_bytes> (see [[DeflateStats]]).
    */
  def deflate_stats(text: Column, level: Int = 6): Column =
    call_function("deflate_stats", text, lit(level))

  /** True iff text is empty or deflate/raw lies in [lo, hi] — one deflate
    * per row (see [[DeflateRatioGate]]).
    */
  def deflate_ratio_in(text: Column, lo: Double, hi: Double,
      level: Int = 6): Column =
    call_function("deflate_ratio_in", text, lit(lo), lit(hi), lit(level))

  /** T5-style span corruption of an array<string> token column keyed by
    * id: struct<input, target, n_spans> (see [[SpanCorrupt]]).
    */
  def span_corrupt(words: Column, id: Column, salt: String, rate: Double,
      spanLen: Int): Column =
    call_function("span_corrupt", words, id.cast("string"), lit(salt),
      lit(rate), lit(spanLen))

  /** One-pass int8 quantization: struct<scale: double, q: array<int>>. */
  def int8_quantize(emb: Column): Column = call_function("int8_quantize", emb)

  /** Pack int8 codes (array<int> in [-128,127]) into binary, 1 byte/dim. */
  def int8_pack(q: Column): Column = call_function("int8_pack", q)

  /** Cosine over two int8-packed vectors (exact integer dot and norms). */
  def cosine_int8(a: Column, b: Column): Column =
    call_function("cosine_int8", a, b)

  /** PQ codes of an embedding column: binary, one byte per subspace. */
  def pq_encode(emb: Column, codebook: Seq[Seq[Seq[Double]]]): Column =
    call_function("pq_encode", emb, typedlit(codebook))

  /** ADC score of a PQ-code column against a query's distance table. */
  def pq_adc(codes: Column, dtable: Seq[Seq[Double]]): Column =
    call_function("pq_adc", codes, typedlit(dtable))

  /** Per-table sign-LSH bucket ids (array<int>, one element per table). */
  def hyperplane_buckets(emb: Column, nTables: Int, nPlanes: Int, dim: Int,
      seed: Long = 11L): Column =
    call_function("hyperplane_buckets", emb,
      lit(nTables), lit(nPlanes), lit(dim), lit(seed))
}
