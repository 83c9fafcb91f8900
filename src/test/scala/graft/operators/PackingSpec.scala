package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Greedy sequential sequence packing: budget is respected, order is
  * preserved, the assignment is invariant under physical partitioning,
  * and oversize documents are isolated and flagged.
  */
class PackingSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def docs(rows: Seq[(Long, Long, Long)]) = {
    import spark.implicits._
    rows.toDF("id", "tokens", "shard")
  }

  private def pack(rows: Seq[(Long, Long, Long)], budget: Long,
      repart: Option[Int] = None) = {
    val base = docs(rows)
    val df = repart.map(base.repartition(_)).getOrElse(base)
    Packing.packGreedy(df, "id", "tokens", "shard", budget)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
      .sortBy(_._1)
  }

  test("every sequence stays within budget; order and adjacency preserved") {
    val rows = (0L until 100L).map(i => (i, 10L + i % 7, i % 3))
    val out = pack(rows, budget = 50)
    val tokens = rows.map(r => r._1 -> r._2).toMap
    // per (shard, seq) token sums never exceed the budget
    val bySeq = out.groupBy(a => (a._2, a._3))
    bySeq.values.foreach { as =>
      as.map(a => tokens(a._1)).sum should be <= 50L
      // positions are 0..n-1 in ascending id order
      as.sortBy(_._1).map(_._4) shouldBe (0L until as.length.toLong)
    }
    // seq ids per shard are contiguous from 0 and ascending with id
    out.groupBy(_._2).values.foreach { as =>
      val seqs = as.sortBy(_._1).map(_._3)
      seqs.distinct shouldBe (0L to seqs.max)
      seqs shouldBe seqs.sorted
    }
  }

  test("assignment is a pure function of the data: invariant under partitioning") {
    val rows = (0L until 500L).map(i => (i, 5L + (i * 31) % 40, i % 8))
    val a = pack(rows, budget = 128)
    val b = pack(rows, budget = 128, repart = Some(1))
    val c = pack(rows, budget = 128, repart = Some(13))
    b shouldBe a
    c shouldBe a
  }

  test("oversize documents get their own sequence and are flagged") {
    // doc 2 exceeds the budget alone; neighbours must not share its bin
    val rows = Seq((0L, 30L, 0L), (1L, 30L, 0L), (2L, 150L, 0L),
      (3L, 30L, 0L), (4L, 30L, 0L))
    val out = pack(rows, budget = 100)
    val byId = out.map(a => a._1 -> a).toMap
    byId(2L)._5 shouldBe true
    out.filter(_._5).map(_._1) shouldBe Seq(2L)
    // 0,1 pack together; 2 alone; 3,4 together
    byId(0L)._3 shouldBe byId(1L)._3
    byId(3L)._3 shouldBe byId(4L)._3
    Seq(byId(0L)._3, byId(2L)._3, byId(3L)._3).distinct.length shouldBe 3
  }

  test("sequences never cross shards") {
    val rows = (0L until 60L).map(i => (i, 10L, i % 4))
    val out = pack(rows, budget = 1000)
    // one giant budget: each shard still packs into its own seq 0
    out.groupBy(_._2).values.foreach { as =>
      as.map(_._3).distinct shouldBe Seq(0L)
    }
    out.groupBy(a => (a._2, a._3)).keySet.size shouldBe 4
  }

  test("distributed assignment equals the sequential reference on arbitrary corpora") {
    // the spec of packGreedy IS the per-shard sequential fold; property-
    // check the distributed path against a direct transcription of it
    // (zero-token docs, oversize docs, and ragged shards all included)
    val corpusGen = Gen.choose(1, 60).flatMap(n =>
      Gen.listOfN(n, for {
        id <- Gen.choose(0L, 10000L)
        tok <- Gen.choose(0L, 50L)
        shard <- Gen.choose(0L, 3L)
      } yield (id, tok, shard)).map(_.distinctBy(_._1)))
    val budget = 40L
    val prop = Prop.forAll(corpusGen) { rows =>
      val expected = rows.groupBy(_._3).flatMap { case (shard, rs) =>
        var seq = 0L; var cum = 0L; var pos = 0L; var first = true
        rs.sortBy(_._1).map { case (id, tok, _) =>
          if (first) { first = false; seq = 0; cum = tok; pos = 0 }
          else if (cum + tok <= budget) { cum += tok; pos += 1 }
          else { seq += 1; cum = tok; pos = 0 }
          (id, shard, seq, pos, tok > budget)
        }
      }.toSet
      pack(rows.map(r => (r._1, r._2, r._3)), budget).toSet == expected
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(result.passed, result.status.toString)
  }

  test("group-coherent packing: a group never splits across shards, its " +
      "docs are adjacent (same or consecutive sequences), budget holds, " +
      "and the assignment is partitioning-invariant") {
    import spark.implicits._
    // 6 domains x 8 docs of 30 tokens, budget 100 -> a domain's 240
    // tokens spans ~3 sequences; ids interleave domains so adjacency
    // must come from the ORDERING, not the input order
    val rows = (0 until 48).map { i =>
      (i.toLong, s"domain${i % 6}.example", 30L)
    }
    val base = rows.toDF("id", "domain", "tokens")
    def run(d: org.apache.spark.sql.DataFrame) =
      Packing.packRelated(d, "id", "tokens", "domain", 100L, 4)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getBoolean(5)))
        .sortBy(_._1)
    val out = run(base)
    out.map(_._1).toSeq shouldBe (0L until 48L)
    // one shard per group
    out.groupBy(_._2).foreach { case (_, g) =>
      g.map(_._3).toSet should have size 1
    }
    // within a group, (seq_id, seq_pos) is contiguous in id order and
    // never exceeds budget (30*3 <= 100 < 30*4 -> at most 3 per seq)
    out.groupBy(_._2).foreach { case (_, g) =>
      val seqs = g.sortBy(_._1).map(_._4)
      seqs shouldBe seqs.sorted // ids ascend through sequences
      g.groupBy(_._4).foreach { case (_, s) => s.length should be <= 3 }
    }
    // coherence: every sequence holds docs of at most 2 groups (a
    // boundary can straddle), vs the id-ordered packer which interleaves
    out.groupBy(x => (x._3, x._4)).foreach { case (_, s) =>
      s.map(_._2).toSet.size should be <= 2
    }
    run(base.repartition(7)) shouldBe out
    // oversize flags still fire per doc
    val big = Seq((1L, "d", 300L), (2L, "d", 10L)).toDF("id", "domain", "tokens")
    Packing.packRelated(big, "id", "tokens", "domain", 100L, 2)
      .where(col("oversize")).count() shouldBe 1L
  }
}
