package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Bigram add-one LM scoring: hand-computed bits on a tiny corpus,
  * partitioning invariance, and the common-vs-rare ordering the filter
  * exists to produce.
  */
class NgramLmSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def corpus(parts: Int) = {
    import spark.implicits._
    // vocab {a,b,c,z} (V=4); bigrams: d1 (a,b)(b,a)(a,b), d2 (a,b)(b,c);
    // d3 has no bigrams but contributes z to the vocab
    Seq((1L, "a b a b"), (2L, "a b c"), (3L, "z"))
      .toDF("doc_id", "text").repartition(parts)
  }

  private def score(parts: Int): Map[Long, (Long, Double)] =
    NgramLm.selfScoreBits(corpus(parts), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

  test("hand-computed bits on a fixed corpus") {
    // c(a,b)=3 c(b,a)=1 c(b,c)=1; c(a·)=3 c(b·)=2; V=4
    // p(b|a)=(3+1)/(3+4)  -> log2(7/4)  = 0.807355
    // p(a|b)=(1+1)/(2+4)  -> log2(3)    = 1.584963
    // p(c|b)=(1+1)/(2+4)  -> log2(3)    = 1.584963
    val out = score(parts = 2)
    out(1L) shouldBe ((3L, 1.0666)) // (2*0.807355 + 1.584963)/3
    out(2L) shouldBe ((2L, 1.1962)) // (0.807355 + 1.584963)/2
    out.contains(3L) shouldBe false // <2 tokens: no bigrams, no row
  }

  test("result is identical under any partitioning") {
    val ref = score(1)
    (2 to 5).foreach(p => score(p) shouldBe ref)
  }

  test("trigram stupid backoff: hand-computed bits exercise every tier") {
    import spark.implicits._
    // train on the even doc only: d2 = "a b c a b c"
    //   c3: (a,b,c)=2 (b,c,a)=1 (c,a,b)=1; N=4, V=3
    //   rollups: c2x(a,b)=2 c2x(b,c)=1; cb(b,c)=2 cb(c,a)=1 cb(a,b)=1;
    //            c1x(b)=2; cu(b)=1, cu(z) absent
    // score d1 = "a b c z b c a", trigrams:
    //   (a,b,c) seen:        2/2 = 1            -> 0
    //   (b,c,z) unigram OOV: 0.16*(0+1)/(4+3)   -> 5.451211
    //   (c,z,b) unigram:     0.16*(1+1)/(4+3)   -> 4.451211
    //   (z,b,c) bigram tier: 0.4*2/2 = 0.4      -> 1.321928
    //   (b,c,a) seen:        1/1 = 1            -> 0
    //   mean of the 6-dp bits, rounded to 4     -> 2.2449
    val docs = Seq((1L, "a b c z b c a"), (2L, "a b c a b c"))
      .toDF("doc_id", "text")
    val ref = docs.where(col("doc_id") % 2 === 0)
    val out = NgramLm.scoreBitsTrigram(docs, "doc_id", "text",
        NgramLm.trainTrigram(ref, "text"), NgramLm.vocabSize(ref, "text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    out(1L)._1 shouldBe 5L
    out(1L)._2 shouldBe 2.2449
    out(2L)._1 shouldBe 4L
    out(2L)._2 should be(0.0 +- 1e-12) // every trigram seen: zero surprise
  }

  test("trigram self-score is partitioning-invariant and never backs off") {
    import spark.implicits._
    val docs = Seq((1L, "a b c z b c a"), (2L, "a b c a b c"),
      (3L, "z q"))
      .toDF("doc_id", "text")
    def run(parts: Int) = {
      val d = docs.repartition(parts)
      NgramLm.scoreBitsTrigram(d, "doc_id", "text",
          NgramLm.trainTrigram(d, "text"), NgramLm.vocabSize(d, "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val ref = run(1)
    (2 to 4).foreach(p => run(p) shouldBe ref)
    ref.map(_._1) shouldBe Set(1L, 2L) // <3 tokens: no trigrams, no row
  }

  test("repeated common text scores fewer bits than rare text") {
    import spark.implicits._
    val docs = (1L to 20L).map(i => (i, "the cat sat on the mat")) :+
      (99L, "zyx qwv jkl pqr")
    val out = NgramLm.selfScoreBits(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    out(1L) should be < out(99L)
  }
  test("precomputed tiers score identically to the one-shot path") {
    import spark.implicits._
    // the streaming gate's central invariant: trigramTiers materializes
    // what scoreBitsTrigram derives lazily, through ONE shared scoring
    // implementation — the two entry points must agree exactly
    val docs = Seq((1L, "a b c z b c a"), (2L, "a b c a b c"),
      (3L, "c a b c a b z z a")).toDF("doc_id", "text")
    val ref = docs.where(col("doc_id") % 2 === 0)
    val oneShot = NgramLm.scoreBitsTrigram(docs, "doc_id", "text",
        NgramLm.trainTrigram(ref, "text"), NgramLm.vocabSize(ref, "text"))
      .orderBy("doc_id").collect().toSeq
    val tiers = NgramLm.trigramTiers(
      NgramLm.trainTrigram(ref, "text"), NgramLm.vocabSize(ref, "text"))
    val viaTiers = NgramLm.scoreBitsTiers(docs, "doc_id", "text", tiers)
      .orderBy("doc_id").collect().toSeq
    viaTiers shouldBe oneShot
    // every tier is MATERIALIZED: scoring plans scan parquet, they do
    // not re-aggregate the model in any tier subtree
    Seq(tiers.m, tiers.ctx2, tiers.big, tiers.ctx1, tiers.uni, tiers.vocab)
      .foreach(_.inputFiles should not be empty)
  }
}
