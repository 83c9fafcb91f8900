package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct n-word shingles of an `array<string>` in first-occurrence order
  * — semantically `array_distinct(transform(sequence(0, size-n), i ->
  * concat_ws(' ', w[i], ..., w[i+n-1])))`, replaced by one imperative loop.
  *
  * The higher-order form is the dedup pipeline's hot projection and is
  * evaluated interpreted (no codegen for lambda functions): measured at
  * sf0.1 it made the explode stage ~40x slower than the same arrays built
  * here (12.6 s -> 0.3 s for 52k shingles), and q27 spent 20+ of its 23 s in
  * it. One eval per row against O(words * n) work amortizes the
  * CodegenFallback call overhead, same as [[MinHashSignature]].
  *
  * Inputs shorter than n yield an empty array (callers pre-filter).
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, "shingle width must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[ArrayData]
    val m = words.numElements() - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](m * 2)
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = words.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray[AnyRef](new Array[AnyRef](seen.size())))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Character n-grams of a (pre-normalized) string for every n in
  * [minN, maxN], n-major then positional — semantically
  * `concat(transform(sequence(1, len-n+1), i -> substr(s, i, n)) for
  * each n)`, replaced by one imperative loop over code points.
  *
  * The higher-order form embeds the normalization subtree inside each
  * lambda, so `trim(regexp_replace(lower(text)))` re-ran PER GRAM
  * POSITION (interpreted, no codegen for lambdas): ~25 ms/doc at 300
  * chars — the q127 battery spent 12 of its 15 s producing grams. Here
  * the child normalizes once per row and one eval emits all grams (the
  * [[WordShingles]] CodegenFallback amortization argument).
  *
  * NON-distinct (bag-of-grams counts feed the Naive Bayes fit). Inputs
  * shorter than minN yield an empty array; NULL stays NULL.
  */
case class CharGrams(child: Expression, minN: Int, maxN: Int)
    extends UnaryExpression with CodegenFallback {

  require(minN >= 1 && maxN >= minN, "need 1 <= minN <= maxN")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_grams"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    // one UTF-8 walk builds char-start byte offsets, then every gram is a
    // ZERO-COPY fromBytes slice of the shared byte array —
    // `s.substring(i, i+n)` re-scans from byte 0 per gram AND copies,
    // which measured at ~0.6 ms per 300-char doc (len² scans, one
    // allocation+copy per gram)
    val bytes = s.getBytes
    val nb = bytes.length
    val offs = new Array[Int](nb + 1)
    var len = 0
    var p = 0
    while (p < nb) {
      offs(len) = p
      p += UTF8String.numBytesForFirstByte(bytes(p))
      len += 1
    }
    offs(len) = nb
    var total = 0
    var n = minN
    while (n <= maxN) { total += math.max(0, len - n + 1); n += 1 }
    if (total == 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[AnyRef](total)
    var k = 0
    n = minN
    while (n <= maxN) {
      var i = 0
      val m = len - n + 1
      while (i < m) {
        out(k) = UTF8String.fromBytes(bytes, offs(i), offs(i + n) - offs(i))
        k += 1
        i += 1
      }
      n += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ALL-POSITION n-word shingles of an `array<string>` — [[WordShingles]]
  * minus its dedup set: every start position kept, so downstream counts
  * see occurrences, not presence (the blocklist contract). Same
  * imperative-over-interpreted-HOF argument as [[WordShingles]]: the
  * `transform(sequence(...), i -> concat_ws(...))` form runs interpreted
  * per position. Inputs shorter than n yield an empty array.
  */
case class PositionalShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, "shingle width must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "positional_shingles"

  override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[ArrayData]
    val m = words.numElements() - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = words.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Total occurrences of any of `phrases` (space-joined normalized word
  * sequences) in a word array — the blocklist gate's per-document
  * counter as ONE imperative pass: for each distinct phrase length a
  * hash-set probe per start position, so cost is O(positions x distinct
  * lengths) regardless of phrase count, where the
  * `size(filter(transform(...), x -> array_contains(lit, x)))` form is
  * interpreted AND linear in the phrase list per position.
  */
case class PhraseHits(child: Expression, phrases: Seq[String])
    extends UnaryExpression with CodegenFallback {

  require(phrases.nonEmpty, "at least one phrase")

  @transient private lazy val byLen: Array[(Int, java.util.HashSet[UTF8String])] =
    phrases.groupBy(_.split(" ").length).toArray.sortBy(_._1).map {
      case (n, ps) =>
        val set = new java.util.HashSet[UTF8String](ps.size * 2)
        ps.foreach(p => set.add(UTF8String.fromString(p)))
        (n, set)
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "phrase_hits"

  override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[ArrayData]
    val space = UTF8String.fromString(" ")
    var total = 0L
    var g = 0
    while (g < byLen.length) {
      val (n, set) = byLen(g)
      val m = words.numElements() - n + 1
      var i = 0
      while (i < m) {
        val parts = new Array[UTF8String](n)
        var j = 0
        while (j < n) { parts(j) = words.getUTF8String(i + j); j += 1 }
        if (set.contains(UTF8String.concatWs(space, parts: _*))) total += 1
        i += 1
      }
      g += 1
    }
    total
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-row token bag: `array<struct<token, n>>` in first-occurrence order
  * — semantically the explode → groupBy(row, token) → count subplan of a
  * bag-of-words scorer, computed as ONE hashmap per row instead (the
  * [[RepetitionStats]] argument: per-document aggregation needs no
  * shuffle). [[graft.operators.NaiveBayes]] classify/train explode THIS
  * instead of the raw token array, so the generate operator emits
  * distinct-token rows (char-gram docs repeat grams heavily) and the
  * (doc, token) count exchange disappears from the scoring plan.
  */
case class TokenCounts(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("token", StringType, nullable = true),
    StructField("n", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "token_counts"

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val m = toks.numElements()
    val counts = new java.util.LinkedHashMap[UTF8String, Long](m * 2)
    var i = 0
    while (i < m) {
      counts.merge(toks.getUTF8String(i), 1L, (a, b) => a + b)
      i += 1
    }
    val out = new Array[Any](counts.size())
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey, e.getValue))
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-row positional token bag: `array<struct<token, pos: array<int>>>`
  * in first-occurrence order — [[TokenCounts]] extended with every word
  * position (ascending by construction), the projection a POSITIONAL
  * inverted index stores so quoted-phrase retrieval can verify term
  * adjacency without re-reading corpus text (tf is `size(pos)`, so the
  * bag subsumes the count one). Same one-hashmap-per-row argument as
  * [[TokenCounts]]: the explode → groupBy(row, token) →
  * collect_list(pos) subplan would shuffle every token of the corpus.
  */
case class TokenPositions(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("token", StringType, nullable = true),
    StructField("pos", ArrayType(IntegerType, containsNull = false),
      nullable = false))), containsNull = false)
  override def prettyName: String = "token_positions"

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val m = toks.numElements()
    val positions =
      new java.util.LinkedHashMap[UTF8String, java.util.ArrayList[Int]](m * 2)
    var i = 0
    while (i < m) {
      positions.computeIfAbsent(toks.getUTF8String(i),
        _ => new java.util.ArrayList[Int](4)).add(i)
      i += 1
    }
    val out = new Array[Any](positions.size())
    val it = positions.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      val ps = e.getValue
      val arr = new Array[Any](ps.size())
      var j = 0
      while (j < ps.size()) { arr(j) = ps.get(j); j += 1 }
      out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey, new GenericArrayData(arr)))
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Occurrences of an n-term phrase given each term-offset's position list:
  * input `array<struct<off: int, pos: array<int>>>` with ONE entry per
  * phrase offset 0..n-1 (n = the entry count; entry order free), output
  * the count of start positions `p` with `p + j` present in offset j's
  * list for every j — the adjacency verification of positional-index
  * phrase retrieval ([[graft.operators.LexicalIndex]]), run AFTER the
  * index scan has pruned to (candidate doc, query term) postings and the
  * all-terms-present filter pinned the entry count to the phrase length,
  * so each eval sees only one document's positions of one phrase's
  * terms. Empty input or malformed offsets (out of range / duplicate —
  * impossible from the index plan) count 0.
  */
case class PhraseStartCount(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "phrase_start_count"

  override def nullSafeEval(input: Any): Any = {
    val entries = input.asInstanceOf[ArrayData]
    val n = entries.numElements()
    if (n == 0) return 0L
    // offset -> position hash set; reject duplicate/out-of-range offsets
    val sets = new Array[java.util.HashSet[Int]](n)
    var i = 0
    while (i < n) {
      val row = entries.getStruct(i, 2)
      val off = row.getInt(0)
      if (off < 0 || off >= n || sets(off) != null) return 0L
      val ps = row.getArray(1)
      val set = new java.util.HashSet[Int](ps.numElements() * 2)
      var j = 0
      while (j < ps.numElements()) { set.add(ps.getInt(j)); j += 1 }
      sets(off) = set
      i += 1
    }
    var total = 0L
    val starts = sets(0).iterator()
    while (starts.hasNext) {
      val p = starts.next()
      var j = 1
      var ok = true
      while (ok && j < n) { ok = sets(j).contains(p + j); j += 1 }
      if (ok) total += 1L
    }
    total
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Minimal word-window span covering one occurrence of every query term,
  * given each term's position list: input
  * `array<struct<off: int, pos: array<int>>>` with ONE entry per
  * DISTINCT query term (off 0..n-1, entry order free), output the
  * minimum of `max - min` over choices of one position per entry — the
  * proximity measure of sloppy ("terms near each other") retrieval, run
  * after the same candidate aggregate as [[PhraseStartCount]] so each
  * eval sees one document's positions of one query's terms. n = 1 spans
  * 0 (bare containment); empty input or malformed offsets (out of
  * range / duplicate — impossible from the index plan) yield null so
  * the slop filter drops the row.
  *
  * Classic k-sorted-lists sweep: repeatedly tighten the window by
  * advancing the list holding the current minimum — O(total positions x
  * n) with query n small. Lists are copied and sorted defensively (index
  * and [[TokenPositions]] both emit ascending order, but SQL callers may
  * not).
  */
case class MinWindowSpan(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "min_window_span"

  override def nullSafeEval(input: Any): Any = {
    val entries = input.asInstanceOf[ArrayData]
    val n = entries.numElements()
    if (n == 0) return null
    val lists = new Array[Array[Int]](n)
    var i = 0
    while (i < n) {
      val row = entries.getStruct(i, 2)
      val off = row.getInt(0)
      if (off < 0 || off >= n || lists(off) != null) return null
      val ps = row.getArray(1)
      if (ps.numElements() == 0) return null
      lists(off) = ps.toIntArray().sorted
      i += 1
    }
    val idx = new Array[Int](n)
    var best = Long.MaxValue
    var exhausted = false
    while (!exhausted) {
      var minV = Int.MaxValue
      var maxV = Int.MinValue
      var minI = 0
      var j = 0
      while (j < n) {
        val v = lists(j)(idx(j))
        if (v < minV) { minV = v; minI = j }
        if (v > maxV) maxV = v
        j += 1
      }
      val span = (maxV - minV).toLong
      if (span < best) best = span
      idx(minI) += 1
      if (idx(minI) >= lists(minI).length) exhausted = true
    }
    best
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Densest fixed-width word window over a query-term position multiset:
  * input `array<int>` of every query-term occurrence position in one
  * document (order free, duplicates impossible from the tokenize/index
  * plans), output `struct<n_hits: bigint, start: int>` — the window
  * `[start, start + window)` holding the most query-term occurrences,
  * earliest start on ties — the passage-selection core of windowed
  * (RAG-style) retrieval: BM25/proximity rank DOCUMENTS, this ranks the
  * best PASSAGE within each. The optimal window can always be shifted
  * right until it starts on an occurrence, so only occurrence starts are
  * scanned — one sort + two-pointer sweep, O(m log m) per candidate doc
  * with m = matched positions, run AFTER the candidate aggregate so each
  * eval sees one document's matches of one query. Empty input yields
  * null (no query term occurs — not a candidate).
  */
case class BestWindow(child: Expression, window: Int)
    extends UnaryExpression with CodegenFallback {

  require(window >= 1, "window width must be >= 1")

  override def dataType: DataType = StructType(Seq(
    StructField("n_hits", LongType, nullable = false),
    StructField("start", IntegerType, nullable = false)))
  override def prettyName: String = "best_window"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m == 0) return null
    val ps = arr.toIntArray().sorted
    var best = 0L
    var bestStart = 0
    var i = 0
    var j = 0
    while (i < m) {
      while (j < m && ps(j) < ps(i).toLong + window) j += 1
      val n = (j - i).toLong
      if (n > best) { best = n; bestStart = ps(i) }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](best, bestStart))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-document n-gram repetition statistics of an `array<string>` word
  * column: `struct<n_grams, distinct_grams, top_count>` over the
  * POSITIONAL (non-distinct) n-gram multiset — the inputs of the
  * Gopher-style repetition quality gates (duplicate-n-gram fraction,
  * top-n-gram share), which flag the boilerplate-looping documents an
  * LLM pipeline drops.
  *
  * Repetition is a per-document function, so this is deliberately ONE
  * map-only expression instead of the explode → groupBy(doc, gram) →
  * re-aggregate plan (two shuffles carrying every gram of the corpus; at
  * 100 TB that shuffle IS the job). One hash map per row, one eval per
  * row (the [[WordShingles]] CodegenFallback amortization argument).
  *
  * Inputs shorter than n words yield (0, 0, 0) — callers pre-filter.
  */
case class RepetitionStats(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, "gram width must be >= 1")

  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("distinct_grams", LongType, nullable = false),
    StructField("top_count", LongType, nullable = false)))
  override def prettyName: String = "repetition_stats"

  override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[ArrayData]
    val m = words.numElements() - n + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0L, 0L, 0L))
    val counts = new java.util.HashMap[UTF8String, Int](m * 2)
    val space = UTF8String.fromString(" ")
    var top = 0
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = words.getUTF8String(i + j); j += 1 }
      val c = counts.merge(UTF8String.concatWs(space, parts: _*), 1, _ + _)
      if (c > top) top = c
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](m.toLong, counts.size.toLong, top.toLong))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** POSITIONAL k-gram fingerprints of an `array<string>` token column:
  * element i is the [[HashFamilies.md5Long]] of the k-gram starting at
  * token i, rendered as a 16-hex-char string (= `substr(md5(gram), 1, 16)`,
  * the same oracle-replicable encoding [[WinnowFingerprints]] uses). Unlike
  * [[WordShingles]] the output is NOT distinct and keeps positional order,
  * so `posexplode` recovers (position, fingerprint) — the input of
  * duplicate-SPAN detection, where overlap merging needs the positions.
  *
  * Semantically `transform(sequence(0, size-k), i ->
  * substring(md5(concat_ws(' ', slice(w, i+1, k))), 1, 16))`, replaced by
  * one imperative loop for the same reason as [[WordShingles]]: the
  * higher-order form evaluates interpreted per element and dominated the
  * dedup pipeline when measured.
  *
  * Inputs shorter than k tokens yield an empty array.
  */
case class GramFingerprints(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1, "gram width must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "gram_fingerprints"

  override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[ArrayData]
    val m = words.numElements() - k + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val space = UTF8String.fromString(" ")
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = words.getUTF8String(i + j); j += 1 }
      val h = HashFamilies.md5Long(UTF8String.concatWs(space, parts: _*))
      out(i) = UTF8String.fromString(f"$h%016x")
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing (MOSS) fingerprints of an `array<string>` token column:
  * positional k-gram hashes, minimum per sliding window of `win`, distinct
  * in first-occurrence order, rendered as 16-hex-char strings (the first 8
  * bytes of md5 — [[HashFamilies.md5Long]] — so the DuckDB oracle
  * recomputes the identical selection; fixed-width lowercase hex compares
  * lexicographically exactly like the unsigned numeric hash).
  *
  * Semantically `array_distinct(transform(sequence(1, nGrams-win+1),
  * j -> array_min(slice(gramHashes, j, win))))` over
  * `transform(sequence(0, n-k), i -> substring(md5(concat_ws(' ', ...)), 1, 16))`
  * — but the higher-order chain evaluates interpreted per ELEMENT and
  * recomputes each window min from scratch (O(nGrams * win) comparisons
  * plus lambda dispatch); this loop hashes each gram once and keeps a
  * monotone deque for O(nGrams) total window minima, one eval per row
  * (same CodegenFallback amortization argument as [[WordShingles]]).
  *
  * Inputs shorter than win+k-1 tokens yield an empty array.
  */
case class WinnowFingerprints(child: Expression, k: Int, win: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1, "gram width must be >= 1")
  require(win >= 1, "window width must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"

  override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[ArrayData]
    val n = words.numElements()
    val nGrams = n - k + 1
    if (n < k + win - 1) return new GenericArrayData(Array.empty[Any])

    val space = UTF8String.fromString(" ")
    val hashes = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = words.getUTF8String(i + j); j += 1 }
      hashes(i) = HashFamilies.md5Long(UTF8String.concatWs(space, parts: _*))
      i += 1
    }

    // monotone deque of indices: front is always the window minimum
    // (unsigned compare = fixed-width-hex string compare); popping equal
    // values keeps the later index, which never changes the min VALUE
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val dq = new Array[Int](nGrams)
    var head = 0
    var tail = 0
    var idx = 0
    while (idx < nGrams) {
      while (tail > head &&
          java.lang.Long.compareUnsigned(hashes(dq(tail - 1)), hashes(idx)) >= 0)
        tail -= 1
      dq(tail) = idx
      tail += 1
      if (dq(head) <= idx - win) head += 1
      if (idx >= win - 1) seen.add(hashes(dq(head)))
      idx += 1
    }

    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) {
      out(o) = UTF8String.fromString(f"${it.next().longValue()}%016x")
      o += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** True iff every byte of the string is printable ASCII (0x20–0x7E) or
  * tab/LF/CR — the [[graft.operators.Encoding]] clean-row fast path:
  * any suspect character (mojibake lead, confusable, control) has at
  * least one byte OUTSIDE this set (non-ASCII chars by UTF-8 structure,
  * controls directly), so an `ascii_clean` row is a PROVEN fixed point
  * of the repair cascade. One branch-light byte scan with real codegen
  * — this guard runs on EVERY row of a cleaning pipeline, where the
  * equivalent `translate`/`rlike` tests measured 4–5 scan-passes.
  */
case class AsciiClean(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "ascii_clean"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      // signed byte: >= 0x80 is negative; controls are 0x00-0x1F/0x7F
      if (b < 0x20 || b == 0x7f) {
        if (b != 0x09 && b != 0x0a && b != 0x0d) return false
      }
      i += 1
    }
    true
  }

  override def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val ok = ctx.freshName("ok")
      s"""
         |int $n = $a.numBytes();
         |boolean $ok = true;
         |for (int $i = 0; $i < $n; $i++) {
         |  byte $b = $a.getByte($i);
         |  if ($b < 0x20 || $b == 0x7f) {
         |    if ($b != 0x09 && $b != 0x0a && $b != 0x0d) {
         |      $ok = false; break;
         |    }
         |  }
         |}
         |${ev.value} = $ok;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The [[graft.operators.Encoding]] repair cascade as ONE imperative
  * expression — semantically identical to the declarative
  * `replace`-chain fold over the same tables (MojibakeTable × passes,
  * then ConfusablesTable, then the control strip), which the DuckDB
  * oracle replays; this form exists because the 400-node generated
  * chain bloated the stage's codegen (measured ~60 µs/row of cold-code
  * overhead even for rows the guard skipped) where `java.lang.String
  * .replace` is an intrinsified indexOf scan that RETURNS THE SAME
  * OBJECT when the needle is absent. Rows with no suspect character
  * (checked here in one pass over a precomputed char set) return the
  * input untouched — the same fixed-point argument as the
  * `ascii_clean` guard, one level more precise. CodegenFallback: one
  * eval per row against O(table × chars) work amortizes the call
  * overhead (the [[WordShingles]] precedent).
  */
case class MojibakeFix(child: Expression, passes: Int)
    extends UnaryExpression with CodegenFallback {

  require(passes >= 1, "passes must be >= 1")

  override def dataType: DataType = StringType
  override def prettyName: String = "fix_text"

  override def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[UTF8String].toString
    if (!MojibakeFix.hasSuspect(raw)) return input
    var s = raw
    var p = 0
    while (p < passes) {
      val t = MojibakeFix.moji
      var i = 0
      while (i < t.length) { s = s.replace(t(i)._1, t(i)._2); i += 1 }
      p += 1
    }
    val cf = MojibakeFix.conf
    var j = 0
    while (j < cf.length) { s = s.replace(cf(j)._1, cf(j)._2); j += 1 }
    UTF8String.fromString(
      MojibakeFix.controls.matcher(s).replaceAll(""))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MojibakeFix {
  private lazy val moji: Array[(String, String)] =
    graft.operators.Encoding.MojibakeTable.toArray
  private lazy val conf: Array[(String, String)] =
    graft.operators.Encoding.ConfusablesTable.toArray
  private lazy val controls: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(
      graft.operators.Encoding.ControlCharClass)
  private lazy val suspect: java.util.BitSet = {
    val bs = new java.util.BitSet(0x10000)
    graft.operators.Encoding.SuspectChars.foreach(c => bs.set(c.toInt))
    bs
  }

  private[functions] def hasSuspect(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (suspect.get(s.charAt(i).toInt)) return true
      i += 1
    }
    false
  }
}

/** Deflate-compressibility stats of a text column:
  * struct<raw_bytes, deflate_bytes> (both LONG) over the UTF-8 encoding —
  * the zlib/gzip compression-ratio quality signal (Dolma/RefinedWeb-style
  * heuristics): boilerplate and template spam compress far below natural
  * prose, while binary junk and encrypted/garbled bytes barely compress
  * at all, so BOTH ratio tails are filter candidates. Raw DEFLATE
  * (nowrap, fixed level) with a per-eval Deflater so partitions share
  * nothing.
  *
  * Ratio semantics are left to the caller (exact micros over the two
  * longs). The byte count is a HEURISTIC signal, not an oracle-replayable
  * quantity: it depends on the JVM's zlib build, so thresholds must not
  * sit knife-edge on a boundary (the spec pins driver-JVM parity and the
  * ordering/tail invariants instead — no DuckDB twin exists).
  */
case class DeflateStats(child: Expression, level: Int)
    extends UnaryExpression with CodegenFallback {

  require(level >= 1 && level <= 9, "deflate level must be in [1,9]")

  override def dataType: DataType = StructType(Seq(
    StructField("raw_bytes", LongType, nullable = false),
    StructField("deflate_bytes", LongType, nullable = false)))
  override def prettyName: String = "deflate_stats"

  override def nullSafeEval(input: Any): Any = {
    val (raw, total) = DeflateStats.counts(input.asInstanceOf[UTF8String], level)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](raw, total))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DeflateStats {
  /** One deflate pass: (raw UTF-8 byte count, deflate byte count). A fresh
    * per-call Deflater so partitions share nothing.
    */
  private[functions] def counts(s: UTF8String, level: Int): (Long, Long) = {
    val bytes = s.getBytes
    val d = new java.util.zip.Deflater(level, true)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      (bytes.length.toLong, total)
    } finally d.end()
  }
}

/** Boolean compression-ratio gate: true iff the text is empty (no bytes to
  * judge) or deflate_bytes/raw_bytes lies in [lo, hi]. Semantically equal to
  * filtering on [[DeflateStats]]'s two fields, but evaluated as ONE
  * expression so each row deflates exactly ONCE: a predicate that references
  * the stats struct several times gets the CodegenFallback child replicated
  * per reference (FilterExec generates no subexpression elimination, and
  * Catalyst re-inlines any withColumn materialization when it pushes the
  * deterministic filter back below the project) — up to 3 deflates per row
  * on the pipelines' hot cleaning path. The bound comparison matches the
  * struct-predicate form bit for bit: long counts cast to double, compared
  * against lo*raw / hi*raw.
  */
case class DeflateRatioGate(child: Expression, lo: Double, hi: Double,
    level: Int) extends UnaryExpression with CodegenFallback {

  require(level >= 1 && level <= 9, "deflate level must be in [1,9]")
  require(lo <= hi, "lo must be <= hi")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "deflate_ratio_in"

  override def nullSafeEval(input: Any): Any = {
    val (raw, defl) = DeflateStats.counts(input.asInstanceOf[UTF8String], level)
    raw == 0L ||
      (defl.toDouble >= lo * raw.toDouble && defl.toDouble <= hi * raw.toDouble)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** T5/UL2-style span corruption of an `array<string>` token column —
  * the denoising-objective data transform beside
  * [[graft.operators.Fim]]'s infilling: random token spans are replaced
  * by numbered sentinels in the input and emitted after their sentinels
  * in the target (`input: a <extra_id_0> d`, `target: <extra_id_0> b c
  * <extra_id_1>` — the trailing sentinel closes the target, the T5
  * convention).
  *
  * "Random" is DETERMINISTIC per (id, salt, position): position i
  * starts a span iff the [[HashFamilies.md5Long]]-derived unit hash of
  * `salt:id:i` falls below `rate / spanLen` (expected corrupted
  * fraction ~= rate); each span covers `spanLen` tokens and overlapping
  * starts merge. Re-runs, repartitionings, and external engines
  * reproduce the identical corruption; distinct salts redraw per epoch
  * (the [[graft.operators.Sampling]] auditability contract).
  *
  * Output struct<input, target, n_spans>; a draw with no spans leaves
  * the input verbatim with target `<extra_id_0>` (close sentinel only).
  */
case class SpanCorrupt(words: Expression, id: Expression, salt: String,
    rate: Double, spanLen: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {

  require(rate > 0 && rate < 1, "rate must be in (0,1)")
  require(spanLen >= 1, "spanLen must be >= 1")

  override def left: Expression = words
  override def right: Expression = id
  override def dataType: DataType = StructType(Seq(
    StructField("input", StringType, nullable = false),
    StructField("target", StringType, nullable = false),
    StructField("n_spans", IntegerType, nullable = false)))
  override def prettyName: String = "span_corrupt"

  override def nullSafeEval(wordsIn: Any, idIn: Any): Any = {
    val w = wordsIn.asInstanceOf[ArrayData]
    val n = w.numElements()
    val idStr = idIn.toString
    val threshold = rate / spanLen
    // span-start draws, then merge overlaps into disjoint [start, end)
    val starts = (0 until n).filter { i =>
      val h = HashFamilies.md5Long(
        UTF8String.fromString(s"$salt:$idStr:$i"))
      (h >>> 32).toDouble / 4294967296.0 < threshold
    }
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    starts.foreach { s =>
      val e = math.min(s + spanLen, n)
      if (spans.nonEmpty && s <= spans.last._2)
        spans(spans.size - 1) = (spans.last._1, math.max(spans.last._2, e))
      else spans += ((s, e))
    }
    val input = new StringBuilder
    val target = new StringBuilder
    var pos = 0
    var k = 0
    def appendTok(sb: StringBuilder, t: String): Unit = {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(t)
    }
    spans.foreach { case (s, e) =>
      while (pos < s) { appendTok(input, w.getUTF8String(pos).toString); pos += 1 }
      appendTok(input, s"<extra_id_$k>")
      appendTok(target, s"<extra_id_$k>")
      while (pos < e) { appendTok(target, w.getUTF8String(pos).toString); pos += 1 }
      k += 1
    }
    while (pos < n) { appendTok(input, w.getUTF8String(pos).toString); pos += 1 }
    appendTok(target, s"<extra_id_$k>")
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(input.toString),
        UTF8String.fromString(target.toString), k))
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(words = newLeft, id = newRight)
}
