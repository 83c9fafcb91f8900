package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Property tests pinning each optimized custom expression to its
  * composable (slower) twin — the invariants that let the hot paths be
  * rewritten without semantic drift.
  */
class ExpressionPropertiesSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val wordGen: Gen[String] = Gen.chooseNum(1, 8)
    .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val wordsGen: Gen[List[String]] = Gen.choose(0, 30)
    .flatMap(n => Gen.listOfN(n, wordGen))

  private def check(prop: Prop, n: Int = 30): Unit = {
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(result.passed, result.status.toString)
  }

  test("WordShingles == array_distinct(transform(sequence(...))) on random inputs") {
    import spark.implicits._
    check(Prop.forAll(wordsGen) { ws =>
      ws.length < 3 || {
        val df = Seq(Tuple1(ws)).toDF("w")
        val fast = df.select(TextFunctions.wordShingles(col("w"), 3).as("sh"))
          .head().getSeq[String](0)
        val slow = df.select(array_distinct(transform(
            sequence(lit(0), org.apache.spark.sql.functions.size(col("w")) - 3),
            i => concat_ws(" ", element_at(col("w"), i + 1),
              element_at(col("w"), i + 2), element_at(col("w"), i + 3)))).as("sh"))
          .head().getSeq[String](0)
        fast == slow
      }
    })
  }

  test("TokenPositions: positions replay the token array exactly and " +
      "tf == size(pos) == TokenCounts") {
    import spark.implicits._
    check(Prop.forAll(wordsGen) { ws =>
      val df = Seq(Tuple1(ws)).toDF("w")
      val bag = df.select(explode(TextFunctions.tokenPositions(col("w")))
          .as("tp"))
        .select(col("tp.token"), col("tp.pos"))
        .collect().map(r => r.getString(0) -> r.getSeq[Int](1).toList).toMap
      // every position holds its token, positions are ascending, and
      // the multiset reconstructs the input exactly
      val replayed = bag.toSeq.flatMap { case (t, ps) => ps.map(_ -> t) }
        .sortBy(_._1).map(_._2)
      val counts = df.select(explode(call_function("token_counts", col("w")))
          .as("tc"))
        .select(col("tc.token"), col("tc.n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      replayed == ws &&
        bag.forall { case (_, ps) => ps == ps.sorted } &&
        bag.view.mapValues(_.size.toLong).toMap == counts
    })
  }

  test("PhraseStartCount == the shingle-equality count on random inputs") {
    import spark.implicits._
    val phraseGen = Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")))
    val soupGen = Gen.choose(0, 25).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d")))
    check(Prop.forAll(soupGen, phraseGen) { (ws, phrase) =>
      val n = phrase.length
      val df = Seq(Tuple1(ws)).toDF("w")
      // entries: one (off, positions-of-term) row per phrase offset
      val entries = phrase.zipWithIndex.map { case (t, off) =>
        (off, ws.zipWithIndex.filter(_._1 == t).map(_._2))
      }
      val viaExpr =
        if (entries.exists(_._2.isEmpty)) -1L // candidate filter drops it
        else Seq(Tuple1(entries)).toDF("e")
          .select(TextFunctions.phraseStartCount(col("e")).as("c"))
          .head().getLong(0)
      val bySlide = ws.sliding(n).count(_ == phrase)
      if (viaExpr == -1L) bySlide == 0
      else viaExpr == bySlide.toLong
    })
  }

  test("MinWindowSpan == the brute-force cartesian minimum on random " +
      "inputs (entry order and list order free)") {
    import spark.implicits._
    val termsGen = Gen.choose(1, 3).flatMap(n =>
      Gen.pick(n, Seq("a", "b", "c"))).map(_.toList)
    val soupGen = Gen.choose(0, 25).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d")))
    check(Prop.forAll(soupGen, termsGen, Gen.long) { (ws, terms, seed) =>
      val rnd = new scala.util.Random(seed)
      // entries in shuffled order with shuffled position lists: the
      // expression must not depend on either (SQL callers may not
      // deliver the index plan's ascending order)
      val entries = rnd.shuffle(terms.zipWithIndex.map { case (t, off) =>
        (off, rnd.shuffle(ws.zipWithIndex.filter(_._1 == t).map(_._2)))
      })
      val viaExpr =
        if (entries.exists(_._2.isEmpty)) None // candidate filter drops it
        else Option(Seq(Tuple1(entries)).toDF("e")
          .select(TextFunctions.minWindowSpan(col("e")).as("s"))
          .head().get(0)).map(_.asInstanceOf[Long])
      val combos = entries.map(_._2).foldLeft(Seq(Seq.empty[Int])) {
        (acc, ps) => acc.flatMap(c => ps.map(c :+ _))
      }
      val brute =
        if (entries.exists(_._2.isEmpty)) None
        else Some(combos.map(c => (c.max - c.min).toLong).min)
      viaExpr == brute
    })
  }

  test("BestWindow == the brute-force all-starts maximum on random " +
      "inputs (list order free; earliest start wins ties)") {
    import spark.implicits._
    val posGen = Gen.choose(1, 20).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 30))).map(_.distinct)
    check(Prop.forAll(posGen, Gen.choose(1, 6), Gen.long) { (ps0, w, seed) =>
      val ps = new scala.util.Random(seed).shuffle(ps0)
      val row = Seq(Tuple1(ps)).toDF("p")
        .select(TextFunctions.bestWindow(col("p"), w).as("b"))
        .select(col("b.n_hits"), col("b.start")).head()
      val viaExpr = (row.getLong(0), row.getInt(1))
      // brute force over EVERY start (not just occurrences) — proves
      // the shift-to-occurrence argument, not just the implementation
      val starts = 0 to ps.max
      val brute = starts.map(s => (ps.count(p => p >= s && p < s + w).toLong, s))
      val bestN = brute.map(_._1).max
      // expression start must be an occurrence achieving the max, and
      // the earliest occurrence start achieving it
      val bestOccStarts = ps.sorted.filter(s =>
        ps.count(p => p >= s && p < s + w).toLong == bestN)
      viaExpr == ((bestN, bestOccStarts.head))
    })
    // empty input -> null (no query term occurs)
    Seq(Tuple1(Seq.empty[Int])).toDF("p")
      .select(TextFunctions.bestWindow(col("p"), 3).as("b"))
      .head().isNullAt(0) shouldBe true
  }

  test("MinWindowSpan rejects malformed offsets with null") {
    import spark.implicits._
    // duplicate offset, out-of-range offset, empty entry list, empty pos
    Seq(
      Seq((0, Seq(1)), (0, Seq(2))),
      Seq((0, Seq(1)), (2, Seq(2))),
      Seq.empty[(Int, Seq[Int])],
      Seq((0, Seq(1)), (1, Seq.empty[Int]))
    ).foreach { e =>
      Seq(Tuple1(e)).toDF("e")
        .select(TextFunctions.minWindowSpan(col("e")).as("s"))
        .head().isNullAt(0) shouldBe true
    }
  }

  test("Int8Quantize codegen path == interpreted nullSafeEval on random vectors") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val vecGen = Gen.choose(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-100.0, 100.0)))
    check(Prop.forAll(vecGen) { vec =>
      val df = Seq(Tuple1(vec.toArray)).toDF("emb")
      val row = df.select(GraftFunctions.int8_quantize(col("emb")).as("s"))
        .select(col("s.scale"), col("s.q")).head()
      val viaDf = (row.getDouble(0), row.getSeq[Int](1).toList)
      val interp = Int8Quantize(null).nullSafeEval(
        new GenericArrayData(vec.toArray))
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val viaEval = (interp.getDouble(0),
        interp.getArray(1).toIntArray().toList)
      viaDf == viaEval
    })
  }

  test("Int8Quantize NaN semantics match the HOF twin (NaN poisons the scale)") {
    import spark.implicits._
    val df = Seq(Tuple1(Array(1.0, Double.NaN))).toDF("emb")
    val imp = graft.operators.Quantization.quantize(df, "emb")
      .select(col("scale"), col("q")).head()
    val hof = graft.operators.Quantization.quantizeHof(df, "emb")
      .select(col("scale"), col("q")).head()
    imp.getDouble(0).isNaN shouldBe true
    hof.getDouble(0).isNaN shouldBe true
    imp.getSeq[Int](1) shouldBe hof.getSeq[Int](1)
  }

  test("md5Long matches MessageDigest reference bytes") {
    import org.apache.spark.unsafe.types.UTF8String
    check(Prop.forAll(wordGen) { s =>
      val viaHelper = HashFamilies.md5Long(UTF8String.fromString(s))
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      val viaRef = java.nio.ByteBuffer.wrap(digest).getLong
      viaHelper == viaRef
    })
  }

  test("hyperplane_buckets table 0 == composed lshBucket with the same planes") {
    import spark.implicits._
    import graft.operators.Similarity
    val dim = 6
    check(Prop.forAll(Gen.listOfN(dim, Gen.chooseNum(-5.0, 5.0))) { vec =>
      val df = Seq(Tuple1(vec.toArray)).toDF("emb")
      val planes = Similarity.hyperplanes(4, dim, seed = 11L)
      val composed = df.select(Similarity.lshBucket(col("emb"), planes).as("b"))
        .head().getInt(0)
      val fused = df.select(element_at(
          GraftFunctions.hyperplane_buckets(col("emb"), 1, 4, dim), 1).as("b"))
        .head().getInt(0)
      composed == fused
    }, n = 15)
  }

  test("minhash signatures: deterministic, k-length, permutation-bound") {
    import spark.implicits._
    check(Prop.forAll(wordsGen) { ws =>
      ws.isEmpty || {
        val df = Seq(Tuple1(ws)).toDF("w")
        val sig1 = df.select(GraftFunctions.minhash(col("w"), 8, 7L).as("s"))
          .head().getSeq[Long](0)
        val sig2 = df.select(GraftFunctions.minhash(col("w"), 8, 7L).as("s"))
          .head().getSeq[Long](0)
        sig1 == sig2 && sig1.length == 8 &&
          sig1.forall(v => v >= 0 && v < HashFamilies.Prime)
      }
    }, n = 20)
  }

  test("minhash of a superset never exceeds the subset's minimums") {
    import spark.implicits._
    // adding shingles can only LOWER each signature slot (min over more)
    check(Prop.forAll(wordsGen.suchThat(_.nonEmpty), wordsGen) { (a, extra) =>
      val df = Seq((a, a ++ extra)).toDF("small", "big")
      val sSmall = df.select(GraftFunctions.minhash(col("small"), 8, 7L)).head().getSeq[Long](0)
      val sBig = df.select(GraftFunctions.minhash(col("big"), 8, 7L)).head().getSeq[Long](0)
      sSmall.zip(sBig).forall { case (sm, bg) => bg <= sm }
    }, n = 20)
  }

  test("cosine_sim is symmetric and 1.0 on self") {
    import spark.implicits._
    val vecGen = Gen.listOfN(5, Gen.chooseNum(-3.0, 3.0)).suchThat(_.exists(_ != 0.0))
    check(Prop.forAll(vecGen, vecGen) { (a, b) =>
      val df = Seq((a.toArray, b.toArray)).toDF("a", "b")
      val ab = df.select(GraftFunctions.cosine_sim(col("a"), col("b"))).head().getDouble(0)
      val ba = df.select(GraftFunctions.cosine_sim(col("b"), col("a"))).head().getDouble(0)
      val aa = df.select(GraftFunctions.cosine_sim(col("a"), col("a"))).head().getDouble(0)
      ab == ba && math.abs(aa - 1.0) < 1e-9 && ab >= -1.0 - 1e-9 && ab <= 1.0 + 1e-9
    }, n = 20)
  }
}
