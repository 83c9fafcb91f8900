package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Cosine similarity over two `array<double>` columns as a native Catalyst
  * expression with whole-stage codegen (`doGenCode`), per SURVEY §4.2: at
  * 100 TB an `aggregate`/`zip_with` higher-order composition allocates lambda
  * frames per element, while this compiles to a tight primitive loop inside
  * the surrounding WholeStageCodegen span.
  *
  * Semantics: dot(a,b) / (||a|| * ||b||), accumulated in Double in element
  * order (index 0..n-1) — deterministic and bit-identical to a sequential
  * reference implementation. Zero-norm inputs yield 0.0. Float inputs are
  * accepted via implicit cast to `array<double>` (exact widening).
  * Mismatched lengths THROW: silently truncating to min(len) would compute
  * similarity over a prefix and return plausible-but-wrong neighbors.
  */
/** All hyperplane-LSH bucket ids of an embedding in one pass: for each of
  * `nTables` tables, the sign pattern of `nPlanes` fixed hyperplane dot
  * products packs into an int bucket. Replaces nTables*nPlanes separate
  * `cosine_sim(emb, lit(plane))` calls — sign-LSH needs only the dot
  * product's sign, so the norms those calls compute are wasted, and one
  * loop reads the embedding once instead of 48 times.
  *
  * Dimension mismatch with the input THROWS (same contract as
  * [[CosineSimilarity]]).
  *
  * The case-class fields are the GENERATING PARAMETERS, not the plane
  * arrays: arrays compare by reference, so two textually identical calls
  * would never be `semanticEquals` and Catalyst could not common them up
  * (subexpression elimination, cached-plan matching). Primitive fields give
  * structural equality for free; the planes derive lazily per task.
  */
case class HyperplaneBuckets(child: Expression, nTables: Int, nPlanes: Int,
    dim: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {

  @transient private lazy val planes: Array[Array[Array[Double]]] =
    HashFamilies.planeFamilies(nTables, nPlanes, dim, seed)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "hyperplane_buckets"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val out = new Array[Int](planes.length)
    var t = 0
    while (t < planes.length) {
      val fam = planes(t)
      var bucket = 0
      var j = 0
      while (j < fam.length) {
        val p = fam(j)
        if (p.length != n)
          throw new IllegalArgumentException(
            s"hyperplane_buckets: dimension mismatch ${p.length} vs $n")
        var dot = 0.0; var i = 0
        while (i < n) { dot += p(i) * v.getDouble(i); i += 1 }
        if (dot > 0) bucket |= (1 << j)
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // input contract: array<double> x2 (the "cosine_sim" builder inserts Casts)
  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements())
      throw new IllegalArgumentException(
        s"cosine_sim: dimension mismatch ${a.numElements()} vs ${b.numElements()}")
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "cosine_sim: dimension mismatch " + $a.numElements() + " vs " + $b.numElements());
         |}
         |int $n = $a.numElements();
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.getDouble($i);
         |  double $y = $b.getDouble($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0)
         |  ? 0.0 : $dot / (Math.sqrt($na) * Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Greedy Maximal-Marginal-Relevance selection over ONE query's candidate
  * array — the diversity-aware re-ranker (Carbonell & Goldstein 1998)
  * behind diverse retrieval results, diverse few-shot example picking,
  * and dedup-aware sample selection: each step takes the candidate
  * maximizing lam*rel - (1-lam)*maxSimToSelected, so near-duplicates of
  * an already-selected item are penalized by exactly their similarity.
  *
  * Input: `array<struct<id: long, rel: long, emb: array<double>>>` (rel
  * already in integer micros); output the <= k selected ids in order.
  * Greedy selection is inherently sequential in k, so the right Spark
  * shape is this per-row imperative pass over the per-query collected
  * candidates (tiny by construction: candidates come from a top-m
  * searcher), not a plan-level iteration.
  *
  * Every comparison is integer: lam in micros, rel in micros, each
  * pairwise cosine computed in the [[CosineSimilarity]] accumulation
  * order then rounded to 4 decimals and scaled to micros (the q95
  * contract), ties to the ascending id — so an unrolled SQL replay
  * (the q140 oracle) reproduces the selection exactly. Step 1 (empty
  * selected set) seeds with the pure-relevance argmax — identical to
  * the lam-scaled score for lam > 0, and the conventional seed at
  * lam == 0 where the scaled score would collapse to an id tiebreak.
  */
case class MmrSelect(child: Expression, k: Int, lamMicros: Long)
    extends UnaryExpression with CodegenFallback {

  require(k > 0, "k must be positive")
  require(lamMicros >= 0L && lamMicros <= 1000000L,
    "lamMicros must be in [0, 1e6]")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "mmr_select"

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    if (a.length != b.length)
      throw new IllegalArgumentException(
        s"mmr_select: embedding dimension mismatch ${a.length} vs ${b.length}")
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def simMicros(a: Array[Double], b: Array[Double]): Long = {
    val s4 = java.math.BigDecimal.valueOf(cos(a, b))
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    math.round(s4 * 1e6)
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val ids = new Array[Long](n)
    val rels = new Array[Long](n)
    val embs = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 3)
      // fail loud on a malformed candidate (null field from a bad
      // upstream row) instead of an opaque executor NPE mid-greedy
      if (row.isNullAt(0) || row.isNullAt(1) || row.isNullAt(2))
        throw new IllegalArgumentException(
          s"mmr_select: candidate $i has a null id/rel/emb field")
      ids(i) = row.getLong(0)
      rels(i) = row.getLong(1)
      embs(i) = row.getArray(2).toDoubleArray()
      i += 1
    }
    val taken = new Array[Boolean](n)
    // Long.MinValue = "no selected neighbor yet": the penalty term is 0
    // for an empty selected set, but once anything is selected the TRUE
    // max similarity applies — including negative cosines (initializing
    // to 0 instead would silently clamp anti-correlated candidates'
    // reward, diverging from the standard formula and the SQL replay)
    val maxSim = Array.fill(n)(Long.MinValue)
    val out = new Array[Any](math.min(k, n))
    var step = 0
    while (step < out.length) {
      var best = -1
      var bestScore = Long.MinValue
      i = 0
      while (i < n) {
        if (!taken(i)) {
          // step 1 (empty selected set) seeds with PURE relevance — for
          // lamMicros > 0 this is the same argmax as lam*rel, and at
          // lamMicros == 0 it keeps the conventional top-relevance seed
          // instead of degenerating to the lowest-id tiebreak
          val score =
            if (maxSim(i) == Long.MinValue) rels(i)
            else lamMicros * rels(i) - (1000000L - lamMicros) * maxSim(i)
          if (best < 0 || score > bestScore ||
              (score == bestScore && ids(i) < ids(best))) {
            best = i; bestScore = score
          }
        }
        i += 1
      }
      taken(best) = true
      out(step) = ids(best)
      i = 0
      while (i < n) {
        if (!taken(i)) {
          val s = simMicros(embs(i), embs(best))
          if (s > maxSim(i)) maxSim(i) = s
        }
        i += 1
      }
      step += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
