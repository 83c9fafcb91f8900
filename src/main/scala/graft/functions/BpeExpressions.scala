package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenizer with an embedded merges table — the real
  * greedy-merge algorithm (min-rank adjacent pair first, repeat until no
  * table pair remains), not a regex proxy: token-budget accounting for an
  * LLM pipeline must count what a merges-table tokenizer counts.
  *
  * Pre-tokenization uses [[TextFunctions.BpeTokenPattern]] (letter runs,
  * digit runs, single punctuation — the pre-tokenizer every BPE applies
  * before merging), then each pre-token is split to characters and merged
  * bottom-up against [[Merges]].
  *
  * The table is WELL-FORMED by construction (and asserted): each merge's
  * sides are single characters or outputs of strictly earlier merges, the
  * invariant a trained table has (a pair over a token learned at step k is
  * always learned after k). That invariant buys the oracle its replay: a
  * new adjacency created by merge r involves the token merge r produced,
  * so every pair it can form has rank > r and applying the merges IN RANK
  * ORDER, each exhaustively, yields exactly the min-rank greedy result.
  * The DuckDB oracle replays the same table that way with `replace()` to
  * fixpoint per rank (a recursive CTE), and `BpeSpec` property-checks the
  * two strategies against each other on arbitrary inputs.
  */
object Bpe {

  /** Ranked merge rules (rank = position + 1), highest-priority first —
    * a hand-built English-bigram table standing in for a trained one; the
    * ALGORITHM is the deliverable, the table is a pluggable constant.
    */
  val Merges: Vector[(String, String)] = Vector(
    ("t", "h"), ("i", "n"), ("e", "r"), ("a", "n"), ("r", "e"), ("o", "n"),
    ("e", "n"), ("a", "t"), ("o", "r"), ("e", "s"), ("s", "t"), ("a", "r"),
    ("o", "u"), ("l", "e"), ("r", "o"), ("th", "e"), ("an", "d"),
    ("in", "g"), ("i", "s"), ("i", "t"), ("a", "l"), ("c", "h"),
    ("s", "e"), ("d", "e"), ("er", "s"), ("c", "on"), ("p", "ro"),
    ("at", "i"), ("ati", "on"), ("the", "r"), ("es", "t"), ("ou", "r"),
    ("en", "t"), ("m", "ent"), ("q", "u"), ("w", "h"), ("s", "h"),
    ("o", "f"), ("t", "o"), ("ing", "s"))

  // well-formedness: every side is a single char or an earlier output —
  // the invariant the in-order == min-rank equivalence (and therefore the
  // SQL oracle) rests on, so it fails fast at class load if ever broken
  locally { validateWellFormed(Merges) }

  private val rank: Map[(String, String), Int] = Merges.zipWithIndex.toMap

  private[functions] val TokenPattern: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(TextFunctions.BpeTokenPattern)

  /** The well-formedness check the embedded table passes at class load,
    * exposed for TRAINED tables: every merge side must be a single char
    * or the output of a strictly earlier merge. Tables produced by
    * [[trainFromCounts]] satisfy it by construction; validating at the
    * seam keeps a hand-edited table from silently breaking the in-order
    * oracle-replay equivalence.
    */
  def validateWellFormed(merges: Seq[(String, String)]): Unit = {
    val produced = scala.collection.mutable.Set.empty[String]
    merges.foreach { case (l, r) =>
      require(Seq(l, r).forall(s => s.length == 1 || produced.contains(s)),
        s"merge ($l,$r) references a token no earlier merge produces")
      // distinct outputs: two merges yielding the same string (e.g.
      // (a,bc) and (ab,c)) would leave the earlier id unassignable and
      // make id->token decode ambiguous
      require(!produced.contains(l + r),
        s"merge ($l,$r) output '${l + r}' duplicates an earlier merge")
      produced += (l + r)
    }
  }

  /** Learn a merges table from a word histogram — the classic BPE
    * training loop (count weighted adjacent pairs, merge the most
    * frequent, repeat), run at the DRIVER over the histogram: training
    * cost is bounded by DISTINCT words (a language-sized constant, capped
    * upstream), not by corpus size — the corpus-proportional work is the
    * one hash aggregate that builds the histogram
    * ([[graft.operators.BpeTraining.wordHistogram]]).
    *
    * Deterministic: ties break on (count desc, pair lexicographic), so
    * the same histogram always yields the same table regardless of map
    * iteration order. Stops early when no pair reaches `minCount`
    * (learning a pair seen once is memorizing, not compressing).
    *
    * Each round recounts all pairs — O(nMerges x histogram tokens) — the
    * right trade below a few thousand merges; production trainers keep
    * an incremental pair index for 30k+ vocabularies.
    */
  def trainFromCounts(wordCounts: Iterable[(String, Long)], nMerges: Int,
      minCount: Long = 2L): Vector[(String, String)] = {
    require(nMerges >= 0, "nMerges must be >= 0")
    require(minCount >= 1, "minCount must be >= 1")
    var words: Array[(Array[String], Long)] = wordCounts.iterator.map {
      case (w, c) => (w.map(String.valueOf).toArray, c)
    }.toArray
    val learned = Vector.newBuilder[(String, String)]
    var k = 0
    var done = false
    while (k < nMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (toks, c) =>
        var i = 0
        while (i < toks.length - 1) {
          val p = (toks(i), toks(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val (pair, cnt) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        if (cnt < minCount) done = true
        else {
          learned += pair
          words = words.map { case (toks, c) =>
            (mergePair(toks, pair._1, pair._2), c)
          }
          k += 1
        }
      }
    }
    learned.result()
  }

  /** Leftmost-first non-overlapping merge of one pair in a token array
    * (the same replacement step [[encodeWord]] applies).
    */
  private def mergePair(toks: Array[String], l: String, r: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](toks.length)
    var j = 0
    while (j < toks.length) {
      if (j < toks.length - 1 && toks(j) == l && toks(j + 1) == r) {
        out += l + r; j += 2
      } else { out += toks(j); j += 1 }
    }
    out.toArray
  }

  /** Greedy BPE of one pre-token under an arbitrary (validated) table.
    * Public entry point: encodes under a trained merge table
    * (`BpeTrainingSpec`).
    */
  def encodeWordWith(word: String,
      rank: Map[(String, String), Int],
      merges: IndexedSeq[(String, String)]): Array[String] =
    encodeWordImpl(word, rank, merges)

  /** Greedy BPE of one pre-token: repeatedly merge every (leftmost-first,
    * non-overlapping) occurrence of the lowest-ranked adjacent pair.
    */
  def encodeWord(word: String): Array[String] =
    encodeWordImpl(word, rank, Merges)

  private def encodeWordImpl(word: String,
      rank: Map[(String, String), Int],
      merges: IndexedSeq[(String, String)]): Array[String] = {
    var toks = {
      val a = new Array[String](word.length)
      var i = 0
      while (i < word.length) { a(i) = String.valueOf(word.charAt(i)); i += 1 }
      a
    }
    var more = toks.length >= 2
    while (more) {
      var best = Int.MaxValue
      var i = 0
      while (i < toks.length - 1) {
        val r = rank.getOrElse((toks(i), toks(i + 1)), Int.MaxValue)
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) more = false
      else {
        val (l, r) = merges(best)
        val out = new scala.collection.mutable.ArrayBuffer[String](toks.length)
        var j = 0
        while (j < toks.length) {
          if (j < toks.length - 1 && toks(j) == l && toks(j + 1) == r) {
            out += l + r; j += 2
          } else { out += toks(j); j += 1 }
        }
        toks = out.toArray
        more = toks.length >= 2
      }
    }
    toks
  }

  /** The id vocabulary over [[Merges]]: id 0 = PAD, id 1 = UNK, ids 2..95
    * the printable ASCII characters (codepoints 33-126), then the merge
    * outputs in rank order. Merge outputs are always >= 2 chars so the
    * two ranges cannot collide; any token outside the table (non-ASCII
    * input) maps to UNK rather than failing — the standard tokenizer
    * contract.
    */
  val Vocab: Vector[String] =
    (33 to 126).map(_.toChar.toString).toVector ++ Merges.map { case (l, r) => l + r }

  // id->token decode must be a bijection; validateWellFormed rejects
  // duplicate merge outputs, this guards the full table incl. the char
  // range at class load
  locally {
    require(Vocab.distinct.size == Vocab.size,
      "BPE vocab contains duplicate tokens — id mapping would be ambiguous")
  }

  private val vocabId: Map[String, Int] =
    Vocab.zipWithIndex.map { case (t, i) => (t, i + 2) }.toMap

  /** Text -> fixed-length id sequence: BPE-encode, map tokens to [[Vocab]]
    * ids (UNK = 1 for out-of-vocabulary), truncate to `maxLen`, pad with
    * PAD = 0 — the tensor-prep step between tokenization and training.
    */
  def encodeIds(text: String, maxLen: Int): Array[Int] = {
    val out = new Array[Int](maxLen) // PAD-initialized
    var i = 0
    val m = TokenPattern.matcher(text)
    while (i < maxLen && m.find()) {
      val toks = encodeWord(m.group())
      var j = 0
      while (j < toks.length && i < maxLen) {
        out(i) = vocabId.getOrElse(toks(j), 1)
        i += 1; j += 1
      }
    }
    out
  }

  /** Text -> full (unpadded) id sequence — the building block sequence
    * packing concatenates; [[encodeIds]] is this plus truncate/pad.
    */
  def encodeIdsAll(text: String): Array[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    val m = TokenPattern.matcher(text)
    while (m.find()) {
      val toks = encodeWord(m.group())
      var j = 0
      while (j < toks.length) { out += vocabId.getOrElse(toks(j), 1); j += 1 }
    }
    out.toArray
  }

  /** All BPE tokens of a text, in order. */
  def tokens(text: String): Array[String] = {
    val m = TokenPattern.matcher(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out ++= encodeWord(m.group())
    out.toArray
  }

  /** Token count; `cache` (nullable) memoizes per-word counts — natural
    * corpora repeat words heavily, so the greedy loop runs once per
    * distinct word per executor instead of once per occurrence.
    */
  def countTokens(text: String,
      cache: java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]): Long = {
    val m = TokenPattern.matcher(text)
    var total = 0L
    while (m.find()) {
      val w = m.group()
      val hit = if (cache == null) null else cache.get(w)
      if (hit != null) total += hit.longValue()
      else {
        val n = encodeWord(w).length.toLong
        // bounded: an adversarial all-unique-words corpus must not grow
        // the executor heap — past the cap we just recompute
        if (cache != null && cache.size < (1 << 16)) cache.put(w, n)
        total += n
      }
    }
    total
  }
}

/** BIGINT BPE token count of a string column (see [[Bpe]]). Imperative
  * expression, one eval per row — the regex pre-tokenizer plus the greedy
  * merge loop per word doesn't decompose into codegen'd built-ins (the
  * [[WordShingles]] amortization argument), and the per-word memo makes it
  * cheaper than the two-built-in regex chain it replaced.
  */
case class BpeTokenCount(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "bpe_token_count"

  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  override def nullSafeEval(input: Any): Any =
    Bpe.countTokens(input.asInstanceOf[UTF8String].toString, cache)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fixed-length BPE id sequence of a string column (`array<int>` of
  * exactly `maxLen`: ids, UNK=1 for out-of-vocabulary, PAD=0 tail) — the
  * text -> tensor step. Same imperative-expression rationale as
  * [[BpeTokenCount]].
  */
case class BpeEncodeIds(child: Expression, maxLen: Int)
    extends UnaryExpression with CodegenFallback {
  require(maxLen > 0, "maxLen must be positive")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "bpe_encode_ids"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      Bpe.encodeIds(input.asInstanceOf[UTF8String].toString, maxLen))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Full (unpadded) BPE id sequence of a string column (`array<int>`) —
  * what sequence packing concatenates; [[BpeEncodeIds]] truncates/pads.
  */
case class BpeIds(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "bpe_ids"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      Bpe.encodeIdsAll(input.asInstanceOf[UTF8String].toString))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The BPE token sequence itself (`array<string>`, document order) — the
  * vocabulary-audit surface: explode + groupBy gives corpus token
  * frequencies, the check a pipeline runs before trusting token budgets.
  */
case class BpeTokens(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_tokens"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(Bpe.tokens(input.asInstanceOf[UTF8String].toString)
      .map(UTF8String.fromString(_)).asInstanceOf[Array[Any]])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
