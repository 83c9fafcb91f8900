package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** BM25 sanity: the scorer must respect the axioms that define it —
  * more matching terms score higher, rarer terms weigh more, term
  * repetition saturates — and its integer inputs must be exact.
  */
class Bm25Spec extends AnyFunSuite with Matchers with SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def scores(d: org.apache.spark.sql.DataFrame, terms: Seq[String]) =
    TextAnalysis.bm25(d, "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("termStats computes exact tf/df/doc_len") {
    import spark.implicits._
    val out = TextAnalysis.termStats(
      docs(1L -> "data data model x", 2L -> "data y z"),
      "doc_id", "text", Seq("data", "model"))
      .as[(Long, String, Long, Long, Long)].collect().toSet
    out shouldBe Set(
      (1L, "data", 2L, 2L, 4L), (1L, "model", 1L, 1L, 4L),
      (2L, "data", 1L, 2L, 3L))
  }

  test("a document matching more query terms outranks one matching fewer") {
    val d = docs(
      1L -> "data model query filler filler",
      2L -> "data filler filler filler filler",
      3L -> "nothing relevant here at all")
    val s = scores(d, Seq("data", "model", "query"))
    s(1L) should be > s(2L)
    s.get(3L) shouldBe None // no hit, no row
  }

  test("rarer terms contribute more (idf monotonicity)") {
    // 'rare' appears in 1 of 6 docs, 'common' in 5 of 6 — same tf, same len
    val d = docs(
      1L -> "rare pad pad", 2L -> "common pad pad", 3L -> "common x y",
      4L -> "common a b", 5L -> "common c d", 6L -> "common e f")
    val s = scores(d, Seq("rare", "common"))
    s(1L) should be > s(2L)
  }

  test("term repetition saturates (k1 bound): 10x tf is not 10x score") {
    val d = docs(
      1L -> (Seq.fill(10)("data").mkString(" ") + " pad"),
      2L -> "data pad pad pad pad pad pad pad pad pad pad")
    val s = scores(d, Seq("data"))
    s(1L) should be > s(2L)
    s(1L) should be < s(2L) * 3 // far below linear in tf
  }

  // ---- bm25TopK (batched retrieval, the q134 shape) ----

  private def queryDf(rows: (Long, Seq[String])*) = {
    import spark.implicits._
    rows.toDF("query_id", "qterms")
  }

  private def topk(d: org.apache.spark.sql.DataFrame,
      q: org.apache.spark.sql.DataFrame, k: Int) =
    TextAnalysis.bm25TopK(d, "doc_id", "text", q, "query_id", "qterms", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  /** The retrieval ranking must agree with an independent from-the-
    * definition replication: per-(doc, term) Robertson idf x tf
    * saturation, rounded to 6 decimals, scaled to micros, summed.
    */
  test("bm25TopK ranks match a hand-computed replication of the formula") {
    val corpus = Seq(
      1L -> "data model training corpus",
      2L -> "data data data filler words here",
      3L -> "model checkpoint",
      4L -> "entirely unrelated text body")
    val d = docs(corpus: _*)
    val out = topk(d, queryDf(100L -> Seq("data", "model")), k = 4)

    // independent replication (k1 = 1.2, b = 0.75)
    val toks = corpus.map { case (id, t) =>
      id -> t.toLowerCase.split("\\W+").filter(_.nonEmpty).toSeq }.toMap
    val n = toks.size.toDouble
    val avgdl = toks.values.map(_.size).sum.toDouble / n
    def micros(term: String, id: Long): Long = {
      val tf = toks(id).count(_ == term).toDouble
      val df = toks.values.count(_.contains(term)).toDouble
      if (tf == 0) 0L
      else {
        val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        val s = idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * toks(id).size / avgdl))
        val s6 = BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        (s6 * 1000000).toLongExact
      }
    }
    val want = toks.keys.toSeq
      .map(id => id -> (micros("data", id) + micros("model", id)))
      .filter(_._2 != 0)
      .sortBy { case (id, m) => (-m, id) }
      .zipWithIndex.map { case ((id, _), i) => (100L, (i + 1).toLong, id) }
    out.sortBy(r => (r._1, r._2)) shouldBe want
  }

  test("bm25TopK is per-query: each query ranks against its own terms") {
    val d = docs(
      1L -> "alpha alpha beta", 2L -> "beta beta gamma", 3L -> "gamma delta")
    val out = topk(d,
      queryDf(10L -> Seq("alpha"), 20L -> Seq("gamma")), k = 1)
    out.toSet shouldBe Set((10L, 1L, 1L), (20L, 1L, 3L))
  }

  test("bm25TopK returns fewer than k rows when fewer docs match") {
    val d = docs(1L -> "only here", 2L -> "nothing shared")
    val out = topk(d, queryDf(7L -> Seq("only")), k = 5)
    out shouldBe Array((7L, 1L, 1L))
  }

  test("bm25TopK duplicates in the query term list do not double-count") {
    val d = docs(1L -> "alpha beta", 2L -> "alpha alpha beta beta")
    val once = topk(d, queryDf(1L -> Seq("alpha", "beta")), k = 2)
    val dup = topk(d, queryDf(1L -> Seq("alpha", "beta", "alpha")), k = 2)
    dup shouldBe once
  }

  // ---- tfidfKeywords (the q139 shape) ----

  private def keywords(d: org.apache.spark.sql.DataFrame, k: Int) =
    TextAnalysis.tfidfKeywords(d, "doc_id", "text", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(r => (r._1, r._2))

  test("tfidfKeywords ranks a doc's rare terms above ubiquitous ones") {
    val d = docs(
      1L -> "shared shared quark",
      2L -> "shared boson boson",
      3L -> "shared lepton")
    val out = keywords(d, k = 1)
    // 'shared' has idf ln(3/3)=0; each doc's distinctive term wins
    out shouldBe Seq((1L, 1L, "quark"), (2L, 1L, "boson"), (3L, 1L, "lepton"))
  }

  test("tfidfKeywords scores match a hand computation and tie on term") {
    import spark.implicits._
    val d = docs(1L -> "alpha alpha beta gamma", 2L -> "delta")
    val out = TextAnalysis.tfidfKeywords(d, "doc_id", "text", k = 4)
      .where(col("doc_id") === 1)
      .collect().map(r => (r.getLong(1), r.getString(2), r.getDouble(3)))
      .sortBy(_._1)
    def sc(tf: Long, df: Long): Double = {
      val idf6 = BigDecimal(math.log(2.0 / df))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      ((idf6 * tf * 1000000).toLongExact.toDouble) / 1e6
    }
    // alpha tf=2 df=1; beta/gamma tf=1 df=1 (tie -> beta before gamma)
    out shouldBe Array(
      (1L, "alpha", sc(2, 1)), (2L, "beta", sc(1, 1)),
      (3L, "gamma", sc(1, 1)))
  }

  test("tfidfKeywords returns fewer rows than k for short docs") {
    val d = docs(1L -> "single", 2L -> "pad pad other words here")
    keywords(d, k = 5).count(_._1 == 1L) shouldBe 1
  }

  test("bm25TopK result is invariant under input partitioning") {
    val base = docs((1L to 40L).map(i =>
      i -> s"term${i % 5} term${i % 7} term${i % 3} filler pad"): _*)
    val q = queryDf(1L -> Seq("term1", "term2"), 2L -> Seq("term0"))
    val a = topk(base, q, k = 3).sortBy(r => (r._1, r._2))
    val b = topk(base.repartition(13), q, k = 3).sortBy(r => (r._1, r._2))
    b shouldBe a
  }

  test("fuzzyExpandTerms == the brute-force Levenshtein sweep on a " +
      "random vocabulary (deletion-variant candidates are complete)") {
    import spark.implicits._
    // adversarially small alphabet: shared-deletion false candidates
    // (swaps like ab/ba) and every edit kind occur constantly
    val rnd = new scala.util.Random(42)
    def word() = (1 to (1 + rnd.nextInt(4)))
      .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    val vocab = Seq.fill(120)(word()).distinct
    val qterms = Seq.fill(25)(word()).distinct
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // the property must hold at every supported depth: dist 1 and the
    // depth-2 deletion variants (including length-1/-2 terms whose
    // variant sets bottom out at the empty string)
    for (d <- 1 to 2) {
      val expected = (for {
        (q, i) <- qterms.zipWithIndex; v <- vocab if lev(q, v) <= d
      } yield (i.toLong, v)).toSet
      val got = Postings.fuzzyExpandTerms(
          vocab.toDF("term"),
          qterms.zipWithIndex.map { case (t, i) => (i.toLong, t) }
            .toDF("query_id", "term"),
          maxDist = d)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      withClue(s"maxDist=$d: ") { got shouldBe expected }
      expected should not be empty
    }
    // depth 3 is out of contract and must refuse, not silently under-recall
    intercept[IllegalArgumentException] {
      Postings.fuzzyExpandTerms(vocab.toDF("term"),
        Seq((0L, "abc")).toDF("query_id", "term"), maxDist = 3)
    }
    // the test session runs the engine's optimizer: an edit-distance
    // filter carries the O(1) length guard (a range, not a local
    // relation, which would be constant-folded before the rule shows)
    spark.range(3).select(col("id").cast("string").as("term"))
      .where(levenshtein(col("term"), lit("abc")) <= 1)
      .queryExecution.optimizedPlan.toString should include("abs((length(")
  }

  test("bm25TopKFuzzy: a typo'd term scores exactly like the corrected " +
      "query; unknown terms expand to nothing") {
    val d = docs(
      1L -> "table table chair",
      2L -> "table lamp desk",
      3L -> "sofa lamp rug")
    import spark.implicits._
    // "tabl" is Levenshtein 1 from "table" only (lamp 3, desk 4, ...),
    // so the fuzzy query must reproduce the corrected exact query
    // rank-for-rank; "zzzzz" expands to nothing and returns no rows
    val fuzzy = TextAnalysis.bm25TopKFuzzy(d, "doc_id", "text",
        Seq(1L -> Seq("tabl"), 2L -> Seq("zzzzz"))
          .toDF("query_id", "qterms"),
        "query_id", "qterms", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val exact = TextAnalysis.bm25TopK(d, "doc_id", "text",
        Seq(1L -> Seq("table")).toDF("query_id", "qterms"),
        "query_id", "qterms", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    fuzzy.filter(_._1 == 1L) shouldBe exact
    fuzzy.count(_._1 == 2L) shouldBe 0
  }

  private def boolQ(rows: (Long, Seq[String], Seq[String], Seq[String])*) = {
    import spark.implicits._
    rows.toDF("query_id", "must", "should", "mustNot")
  }

  private def boolRanks(d: org.apache.spark.sql.DataFrame,
      q: org.apache.spark.sql.DataFrame) =
    TextAnalysis.bm25TopKBool(d, "doc_id", "text", q, "query_id",
        "must", "should", "mustNot", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("bm25TopKBool: the must gate drops a higher-scoring doc missing " +
      "the required term; must terms still contribute to the score") {
    val d = docs(
      1L -> "rare rare rare rare common",  // score leader on 'rare'
      2L -> "rare common x",               // has both
      3L -> "common y z")
    val out = boolRanks(d,
      boolQ((1L, Seq("common"), Seq("rare"), Seq.empty)))
    // all three contain 'common'... doc1 leads on rare; doc3 has no rare
    out.map(_._3) shouldBe Seq(1L, 2L, 3L)
    // tightening must to 'rare' drops doc 3 entirely
    boolRanks(d, boolQ((1L, Seq("rare"), Seq("common"), Seq.empty)))
      .map(_._3) shouldBe Seq(1L, 2L)
  }

  test("bm25TopKBool: mustNot disqualifies regardless of score; " +
      "should-only queries equal plain bm25TopK") {
    val d = docs(
      1L -> "table table chair",
      2L -> "table lamp desk",
      3L -> "sofa lamp rug")
    import spark.implicits._
    boolRanks(d, boolQ((1L, Seq.empty, Seq("table", "lamp"), Seq("desk"))))
      .map(_._3) shouldBe Seq(1L, 3L) // doc 2 banned despite both terms
    val plain = TextAnalysis.bm25TopK(d, "doc_id", "text",
        Seq(1L -> Seq("table", "lamp")).toDF("query_id", "qterms"),
        "query_id", "qterms", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    boolRanks(d, boolQ((1L, Seq.empty, Seq("table", "lamp"),
      Seq.empty))) shouldBe plain
  }

  test("bm25TopKBool: conjunctive must, an unmatched must term, and a " +
      "term both must and mustNot all yield the right candidate sets") {
    val d = docs(
      1L -> "alpha beta gamma",
      2L -> "alpha delta",
      3L -> "beta epsilon")
    boolRanks(d, boolQ((1L, Seq("alpha", "beta"), Seq.empty, Seq.empty)))
      .map(_._3) shouldBe Seq(1L)
    boolRanks(d, boolQ((2L, Seq("zzz"), Seq("alpha"), Seq.empty))) shouldBe empty
    boolRanks(d, boolQ((3L, Seq("alpha"), Seq.empty, Seq("alpha")))) shouldBe empty
  }

  test("moreLikeThis: the seed's nearest doc by its own keywords ranks " +
      "first; the seed is excluded and later ranks close up") {
    import spark.implicits._
    val d = docs(
      1L -> "quantum flux capacitor quantum", // seed: top terms all 3
      2L -> "quantum flux device",            // shares 2 keywords
      3L -> "flux only here",                 // shares 1
      4L -> "totally unrelated words")
    val out = TextAnalysis.moreLikeThis(d, "doc_id", "text",
        Seq(1L).toDF("doc_id"), "doc_id", mTerms = 3, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)
    out.map(_._1).distinct shouldBe Array(1L)
    out.map(_._3) should not contain 1L // the seed would rank itself 1st
    out.map(_._2) shouldBe Array(1L, 2L) // dense after the exclusion
    out.map(_._3) shouldBe Array(2L, 3L) // 2 shared keywords beat 1
  }

  test("moreLikeThis: mTerms caps the query (a rare term outside the " +
      "top-m cannot pull in its documents)") {
    import spark.implicits._
    val d = docs(
      1L -> "alpha alpha alpha beta beta unique",
      2L -> "unique things here",  // reachable only via 'unique'
      3L -> "alpha beta mix")
    // top-2 keywords of doc 1: idf(unique)=ln(3/2) tf1, idf(alpha)=
    // ln(3/2)... alpha df2, beta df2, unique df2 -> idf equal; tf
    // decides: alpha(3) > beta(2) > unique(1) -> m=2 keeps alpha, beta
    val out = TextAnalysis.moreLikeThis(d, "doc_id", "text",
        Seq(1L).toDF("doc_id"), "doc_id", mTerms = 2, k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    out.map(_._2) shouldBe Array(3L) // doc 2 unreachable without 'unique'
  }

  test("bm25TopKBool: an all-negative query fails loud") {
    val d = docs(1L -> "alpha beta")
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopKBool(d, "doc_id", "text",
        boolQ((1L, Seq.empty, Seq.empty, Seq("alpha"))),
        "query_id", "must", "should", "mustNot", k = 3)
    }
  }

  test("bm25TopKBool: NULL must and should arrays fail loud too " +
      "(size(NULL) must not slip past the all-negative check)") {
    val d = docs(1L -> "alpha beta")
    import spark.implicits._
    // build the query with genuinely-null array columns, the shape a
    // JSON source produces for absent fields
    val q = Seq(1L).toDF("query_id")
      .withColumn("must", lit(null).cast("array<string>"))
      .withColumn("should", lit(null).cast("array<string>"))
      .withColumn("mustNot", typedLit(Seq("alpha")))
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopKBool(d, "doc_id", "text", q,
        "query_id", "must", "should", "mustNot", k = 3)
    }
  }

  test("bm25TopKFuzzy at dist 2: a two-edit typo reaches the corrected " +
      "query that dist 1 cannot") {
    val d = docs(
      1L -> "table table chair",
      2L -> "table lamp desk",
      3L -> "sofa lamp rug")
    import spark.implicits._
    // "tbl" is two deletes from "table": invisible at dist 1, exact at 2
    val q = Seq(1L -> Seq("tbl")).toDF("query_id", "qterms")
    TextAnalysis.bm25TopKFuzzy(d, "doc_id", "text", q,
      "query_id", "qterms", k = 3, maxDist = 1).count() shouldBe 0
    val fuzzy2 = TextAnalysis.bm25TopKFuzzy(d, "doc_id", "text", q,
        "query_id", "qterms", k = 3, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val exact = TextAnalysis.bm25TopK(d, "doc_id", "text",
        Seq(1L -> Seq("table")).toDF("query_id", "qterms"),
        "query_id", "qterms", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    fuzzy2 shouldBe exact
  }
}
