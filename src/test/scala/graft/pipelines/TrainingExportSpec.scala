package graft.pipelines

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** End-to-end pretraining export: split hygiene (no near-dup pair
  * straddles train/val, val never reaches the artifact), FIM/packing
  * composition invariants, full determinism under repartitioning and
  * re-execution, a distinct artifact per epoch salt, and the manifested
  * corpus write round-trip.
  */
class TrainingExportSpec extends AnyFunSuite with Matchers with SparkSpec {

  // English-markered docs that pass clean()'s lang+quality gates. The
  // shared preamble appears in all 120 docs, so its shingles exceed the
  // df-cap (100) and can never form candidate pairs; each (2i, 2i+1)
  // pair shares a per-i middle segment (df = 2 shingles) sized so the
  // pair's Jaccard lands BETWEEN the split's pair threshold (0.02) and
  // clean()'s near-dup removal threshold (0.5): both docs survive
  // cleaning, yet the leakage-safe split must move them as one cluster.
  private def corpus = {
    import spark.implicits._
    (1 to 60).flatMap { i =>
      val preamble = "the data of a table is the thing to scan and " +
        "filter and sort with joins and windows over rows and groups"
      val mid = s"topic$i subject$i matter$i detail$i"
      Seq((2L * i, s"$preamble $mid alpha variant one"),
        (2L * i + 1, s"$preamble $mid beta variant two"))
    }.toDF("doc_id", "text")
  }

  private def assignments(df: org.apache.spark.sql.DataFrame,
      salt: String = "ep0") =
    TrainingExport.pretrainAssignments(df, "doc_id", "text",
      (col("doc_id") % 7).cast("string"), valFraction = 0.3,
      pairThreshold = 0.02, epochSalt = salt, fimFraction = 0.6,
      spmFraction = 0.5, budget = 120L, nShards = 4)

  test("no near-dup pair straddles the artifact: a doc trains iff its " +
      "whole cluster trains, and val docs never reach the export") {
    val out = assignments(corpus).collect()
      .map(r => r.getLong(0)).toSet
    out should not be empty
    // planted pairs (2i, 2i+1): either both exported or neither
    (1 to 60).foreach { i =>
      withClue(s"pair ($i): ") {
        out.contains(2L * i) shouldBe out.contains(2L * i + 1)
      }
    }
    // some clusters must actually be held out at valFraction 0.3
    (1 to 60).count(i => !out.contains(2L * i)) should be > 0
  }

  test("packing invariants hold over the composed chain: budget, " +
      "contiguous seq_pos, group-pure shards") {
    val rows = assignments(corpus).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getBoolean(7)))
    // per-sequence token sums respect the budget unless oversize
    rows.groupBy(r => (r._5, r._6)).foreach { case (_, seq) =>
      if (!seq.exists(_._8)) seq.map(_._3).sum should be <= 120L
    }
    // seq_pos contiguous from 0 within each (shard, seq_id)
    rows.groupBy(r => (r._5, r._6)).foreach { case (_, seq) =>
      seq.map(_._7).sorted shouldBe (0L until seq.length).toSeq
    }
    // a group lives on exactly one shard (groups never split)
    rows.groupBy(_._4).foreach { case (_, g) =>
      g.map(_._5).distinct should have size 1
    }
    // transformed docs carry the three sentinels in their token count
    rows.foreach { case (_, fmt, tokens, _, _, _, _, _) =>
      if (fmt != "plain") tokens should be >= 3L
    }
  }

  test("deterministic under repartitioning and re-execution; a new " +
      "epoch salt redraws formats but keeps membership") {
    val base = assignments(corpus).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    assignments(corpus.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap shouldBe base
    assignments(corpus).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap shouldBe base
    val ep1 = assignments(corpus, salt = "ep1").collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    ep1.keySet shouldBe base.keySet // split/clean don't depend on epoch
    ep1 should not be base // holes/formats redraw
  }

  test("SFT export: spans tile each conversation exactly, whole " +
      "conversations pack within budget, deterministic") {
    import spark.implicits._
    val events = (1 to 200).map { i =>
      (i % 25, i, i, if (i % 2 == 0) "user" else "assistant",
        s"turn $i says word$i and word${i + 1} about thing$i")
    }.toDF("conv", "ts", "seq", "role", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      TrainingExport.sftAssignments(d, "conv", "ts", "seq", "role",
        "text", tokenBudget = 40L, Seq("assistant"),
        (col("conv") % 5).cast("string"), budget = 100L, nShards = 3)
    val rows = run(events).collect().map(r => (r.getInt(0), r.getLong(1),
      r.getString(2), r.getLong(3), r.getLong(4), r.getBoolean(5),
      r.getLong(6), r.getString(7), r.getLong(8), r.getLong(9),
      r.getLong(10), r.getBoolean(11)))
    rows should not be empty
    rows.groupBy(_._1).foreach { case (_, conv) =>
      val sorted = conv.sortBy(_._2)
      // spans tile the transcript gap-free from 0 to the conv width
      sorted.head._4 shouldBe 0L
      sorted.sliding(2).foreach {
        case Array(a, b) => b._4 shouldBe a._5
        case _ =>
      }
      sorted.last._5 shouldBe conv.head._7 // max token_end == tokens
      // one sequence assignment per conversation
      conv.map(t => (t._9, t._10, t._11)).distinct should have size 1
      // train marks exactly the assistant turns
      conv.foreach(t => t._6 shouldBe (t._3 == "assistant"))
    }
    // whole conversations pack within the budget unless oversize
    rows.groupBy(r => (r._9, r._10)).foreach { case (_, seq) =>
      if (!seq.exists(_._12))
        seq.groupBy(_._1).map(_._2.head._7).sum should be <= 100L
    }
    // groups never split across shards
    rows.groupBy(_._8).foreach { case (_, g) =>
      g.map(_._9).distinct should have size 1
    }
    run(events.repartition(11)).collect().map(_.toSeq).toSet shouldBe
      run(events).collect().map(_.toSeq).toSet // partitioning-invariant
  }

  test("valAssignments is the exact complement of the train export: " +
      "zero id overlap, in_train false everywhere, clusters move " +
      "whole, packing invariants hold") {
    val trainIds = assignments(corpus).collect().map(_.getLong(0)).toSet
    val va = TrainingExport.valAssignments(corpus, "doc_id", "text",
      (col("doc_id") % 7).cast("string"), valFraction = 0.3,
      pairThreshold = 0.02, budget = 120L, nShards = 4).collect()
    va should not be empty
    val vIds = va.map(_.getLong(0)).toSet
    vIds.intersect(trainIds) shouldBe empty // the leakage assertion
    va.foreach(r => r.getBoolean(7) shouldBe false) // in_train
    // planted pairs move whole on the val side too
    (1 to 60).foreach { i =>
      withClue(s"pair ($i): ") {
        vIds.contains(2L * i) shouldBe vIds.contains(2L * i + 1)
      }
    }
    // budget + contiguity invariants carry over to the val packing
    val rows = va.map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getBoolean(6)))
    rows.groupBy(r => (r._3, r._4)).foreach { case (_, seq) =>
      if (!seq.exists(_._6)) seq.map(_._2).sum should be <= 120L
      seq.map(_._5).sorted shouldBe (0L until seq.length).toSeq
    }
  }

  test("epochAssignments: membership is epoch-invariant, draws differ " +
      "between salts, and each epoch slice equals the single-epoch " +
      "export; duplicate salts rejected") {
    val eps = TrainingExport.epochAssignments(corpus, "doc_id", "text",
      (col("doc_id") % 7).cast("string"), Seq("ep0", "ep1"),
      valFraction = 0.3, pairThreshold = 0.02, fimFraction = 0.6,
      spmFraction = 0.5, budget = 120L, nShards = 4).collect()
    val by = eps.groupBy(_.getString(0))
    by.keySet shouldBe Set("ep0", "ep1")
    // the split never varies by epoch: identical doc membership
    // (sentinel-clash routing is salt-independent too — the clash is a
    // property of the source text)
    by("ep0").map(_.getLong(1)).toSet shouldBe
      by("ep1").map(_.getLong(1)).toSet
    // distinct salts actually redraw: some doc's format differs
    val fmt0 = by("ep0").map(r => r.getLong(1) -> r.getString(2)).toMap
    val fmt1 = by("ep1").map(r => r.getLong(1) -> r.getString(2)).toMap
    fmt0 should not equal fmt1
    // each epoch slice is exactly the single-salt export
    by("ep0").map(_.toSeq.drop(1)).toSet shouldBe
      assignments(corpus).collect().map(_.toSeq).toSet
    by("ep1").map(_.toSeq.drop(1)).toSet shouldBe
      assignments(corpus, salt = "ep1").collect().map(_.toSeq).toSet
    an[IllegalArgumentException] should be thrownBy
      TrainingExport.epochAssignments(corpus, "doc_id", "text",
        (col("doc_id") % 7).cast("string"), Seq("ep0", "ep0"))
    an[IllegalArgumentException] should be thrownBy
      TrainingExport.epochAssignments(corpus, "doc_id", "text",
        (col("doc_id") % 7).cast("string"), Seq.empty)
  }

  test("writePretrainCorpus lands a shard-partitioned corpus with a " +
      "verifiable manifest per shard") {
    val dir = java.nio.file.Files.createTempDirectory("graft-export-")
      .toString
    val nFiles = TrainingExport.writePretrainCorpus(spark, corpus,
      "doc_id", "text", (col("doc_id") % 7).cast("string"), dir,
      valFraction = 0.3, pairThreshold = 0.02, epochSalt = "ep0",
      fimFraction = 0.6, spmFraction = 0.5, budget = 120L, nShards = 4)
    nFiles should be > 0
    val back = spark.read.parquet(dir)
    back.columns.toSet should contain allOf ("doc_id", "fmt", "tokens",
      "shard", "seq_id", "seq_pos", "text_out")
    // the written artifact equals the in-plan assignment joined to the
    // re-derived deterministic text, row for row (shard comes back as
    // the partition column — cast for the compare)
    val expect = assignments(corpus)
      .join(graft.operators.Fim.transform(corpus, "doc_id", "text",
        0.6, 0.5, "ep0").select(col("doc_id"), col("text_out")),
        Seq("doc_id"))
      .collect().map(_.toSeq).toSet
    back.select(col("doc_id"), col("fmt"), col("tokens"), col("group"),
        col("shard").cast("long"), col("seq_id"), col("seq_pos"),
        col("oversize"), col("text_out"))
      .collect().map(_.toSeq).toSet shouldBe expect
    // every shard directory carries an intact manifest
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val shardDirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).map(_.getPath.toString)
    shardDirs should not be empty
    shardDirs.foreach { sd =>
      graft.io.Layout.verifyManifest(spark, sd) shouldBe empty
    }
  }
}
