package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Cross-run exact dedup: the fingerprint table remembers accepted texts
  * across calls, in-batch duplicates collapse to the min id, and the
  * returned frame is stable no matter when the caller materializes it
  * (the append-then-reread hazard).
  */
class IncrementalDedupSpec extends AnyFunSuite with Matchers with SparkSpec {

  test("one-pass window dedup equals the semi-join form on the fixture") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val viaJoin = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaWindow = Dedup.exactDedupOnePass(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    viaWindow shouldBe viaJoin
    viaWindow should not be empty
  }

  test("novel docs pass, repeats are rejected across batches") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-fp-").toString + "/fp"

    val batch1 = Seq(
      (1L, "the quick brown fox"),
      (2L, "lorem ipsum dolor"),
      (3L, "THE  QUICK   brown FOX"), // normalized dup of 1 -> min id kept
      (4L, "completely new text")
    ).toDF("doc_id", "text")
    val out1 = Dedup.incrementalExactDedup(batch1, "doc_id", "text", table)
    out1.select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L, 4L)

    val batch2 = Seq(
      (10L, "lorem ipsum dolor"),      // seen in batch 1 -> rejected
      (11L, "the quick brown fox"),    // seen -> rejected
      (12L, "genuinely unseen text")
    ).toDF("doc_id", "text")
    val out2 = Dedup.incrementalExactDedup(batch2, "doc_id", "text", table)
    // materialize LATE (after the fingerprint append) — must still be stable
    out2.select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(12L)

    // fingerprint table holds exactly the four accepted texts
    spark.read.parquet(table).count() shouldBe 4

    // a third batch of only repeats yields nothing
    val out3 = Dedup.incrementalExactDedup(
      Seq((20L, "genuinely unseen text")).toDF("doc_id", "text"),
      "doc_id", "text", table)
    out3.count() shouldBe 0
  }

  test("bloom-accelerated incremental dedup is bit-identical to the plain " +
      "path across batches, fallback, retry, and null text") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-fpb-").toString
    val plainT = base + "/plain"; val bloomT = base + "/bloom"
    val fallT = base + "/fall"

    // batch 1 (empty history: the filter is skipped entirely) — a
    // normalized in-batch dup, a null text, and novel rows
    val batch1 = Seq(
      (1L, "the quick brown fox"), (2L, "lorem ipsum dolor"),
      (3L, "THE  QUICK   brown FOX"), (4L, null: String),
      (5L, "completely new text")).toDF("doc_id", "text")
    // batch 2 — repeats of batch 1 (bloom-positive, confirmed seen), a
    // fresh null text (must ride the definitely-novel lane, not NPE in
    // the filter), and novel rows the filter rejects map-only
    val batch2 = Seq(
      (10L, "lorem ipsum dolor"), (11L, "the quick brown fox"),
      (12L, "genuinely unseen text"), (13L, null: String),
      (14L, "another novel document")).toDF("doc_id", "text")

    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    Seq(batch1 -> "b1", batch2 -> "b2").foreach { case (b, bid) =>
      val plain = ids(Dedup.incrementalExactDedup(b, "doc_id", "text",
        plainT, bid))
      val bloom = ids(Dedup.incrementalExactDedupBloom(b, "doc_id", "text",
        bloomT, bid))
      // maxFilterBytes = 0 forces the over-budget fallback lane
      val fall = ids(Dedup.incrementalExactDedupBloom(b, "doc_id", "text",
        fallT, bid, maxFilterBytes = 0L))
      withClue(s"$bid: ") { bloom shouldBe plain; fall shouldBe plain }
    }
    // the persisted fingerprint tables agree row-for-row too
    val fps = Seq(plainT, bloomT, fallT).map(t =>
      spark.read.parquet(t).select("fp", "batch").collect()
        .map(_.toSeq).toSet)
    fps(1) shouldBe fps(0)
    fps(2) shouldBe fps(0)

    // a retried micro-batch re-emits its own documents (the replay must
    // not consult its own first attempt's fingerprints via the filter)
    val replay = ids(Dedup.incrementalExactDedupBloom(batch2, "doc_id",
      "text", bloomT, "b2"))
    replay shouldBe ids(Dedup.incrementalExactDedup(batch2, "doc_id",
      "text", plainT, "b2"))

    // larger generated corpus: 300 docs, every third a normalized repeat
    // of an earlier text — enough volume that false positives would
    // surface if the filter decided membership alone
    val big1 = (1 to 300).map(i =>
      (i.toLong, s"generated document number ${i % 200} content"))
      .toDF("doc_id", "text")
    val big2 = (301 to 600).map(i =>
      (i.toLong, s"generated document number ${i % 350} content"))
      .toDF("doc_id", "text")
    Seq(big1 -> "g1", big2 -> "g2").foreach { case (b, bid) =>
      val plain = ids(Dedup.incrementalExactDedup(b, "doc_id", "text",
        plainT, bid))
      val bloom = ids(Dedup.incrementalExactDedupBloom(b, "doc_id", "text",
        bloomT, bid, fpp = 0.2)) // high fpp: exercise the confirm join
      withClue(s"$bid: ") { bloom shouldBe plain }
    }
    // knob validation fails loud
    intercept[IllegalArgumentException] {
      Dedup.incrementalExactDedupBloom(batch1, "doc_id", "text",
        bloomT, "bx", fpp = 1.5)
    }
  }

  test("interleaving the plain path between bloom calls on one table " +
      "cannot re-admit duplicates (the stale-filter hazard)") {
    import spark.implicits._
    val table = java.nio.file.Files
      .createTempDirectory("graft-fpi-").toString + "/fp"
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet

    // batch 1 via the BLOOM path: seeds history AND a filter over it
    ids(Dedup.incrementalExactDedupBloom(
      Seq((1L, "alpha text"), (2L, "beta text")).toDF("doc_id", "text"),
      "doc_id", "text", table, "i1")) shouldBe Set(1L, 2L)
    graft.io.BloomStore.load(spark, table) should not be None

    // batch 2 via the PLAIN path: grows the history — and must drop the
    // now-stale filter (it lacks gamma's fingerprint; left in place, a
    // later bloom call would route gamma down the definitely-novel lane)
    ids(Dedup.incrementalExactDedup(
      Seq((3L, "gamma text")).toDF("doc_id", "text"),
      "doc_id", "text", table, "i2")) shouldBe Set(3L)
    graft.io.BloomStore.load(spark, table) shouldBe None

    // batch 3 via the BLOOM path again: the repeat of the plain-path
    // batch's text MUST be rejected (rebuilt filter covers it), and the
    // genuinely novel row passes
    ids(Dedup.incrementalExactDedupBloom(
      Seq((10L, "gamma text"), (11L, "delta text"), (12L, "alpha text"))
        .toDF("doc_id", "text"),
      "doc_id", "text", table, "i3")) shouldBe Set(11L)
  }

  test("the persisted filter is reused across batches, skips generation " +
      "churn on all-repeat batches, and over-claiming is harmless") {
    import spark.implicits._
    val table = java.nio.file.Files
      .createTempDirectory("graft-fpbs-").toString + "/fp"
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet

    val b1 = (1 to 50).map(i => (i.toLong, s"seed text number $i"))
      .toDF("doc_id", "text")
    ids(Dedup.incrementalExactDedupBloom(b1, "doc_id", "text",
      table, "b1")) should have size 50
    val gen1 = graft.io.BloomStore.latestGen(spark, table)
    gen1 should be >= 0L
    // the filter file sits under the underscore dir, invisible to the
    // history parquet read
    spark.read.parquet(table).count() shouldBe 50

    // an all-repeat batch: nothing novel — the persisted filter routes
    // every row to the confirm lane, and NO new generation is written
    val b2 = (101 to 150).map(i => (i.toLong, s"seed text number ${i - 100}"))
      .toDF("doc_id", "text")
    ids(Dedup.incrementalExactDedupBloom(b2, "doc_id", "text",
      table, "b2")) shouldBe empty
    graft.io.BloomStore.latestGen(spark, table) shouldBe gen1

    // a mixed batch advances the generation with only its novel fps
    val b3 = Seq((200L, "seed text number 7"), (201L, "fresh text alpha"))
      .toDF("doc_id", "text")
    ids(Dedup.incrementalExactDedupBloom(b3, "doc_id", "text",
      table, "b3")) shouldBe Set(201L)
    graft.io.BloomStore.latestGen(spark, table) should be > gen1

    // OVER-CLAIMING is harmless (the superset-first crash window): make
    // the filter claim fps the table does not hold by deleting b3's
    // batch directory — the exact outcome of a crash between the filter
    // update and the table write. A rerun under a fresh id must still
    // emit the doc: the filter routes it to the confirm lane, where the
    // history (sans b3) holds nothing
    def rmr(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmr); f.delete()
    }
    rmr(new java.io.File(s"$table/batch=b3"))
    ids(Dedup.incrementalExactDedupBloom(
      Seq((301L, "fresh text alpha")).toDF("doc_id", "text"),
      "doc_id", "text", table, "b3-retry")) shouldBe Set(301L)

    // compaction interplay: folding the batch dirs rewrites layout
    // without changing the fingerprint set, so the untouched filter
    // stays a valid superset — decisions after compaction are identical
    Dedup.compactFingerprints(spark, table)
    graft.io.BloomStore.latestGen(spark, table) should be >= 0L
    ids(Dedup.incrementalExactDedupBloom(
      Seq((350L, "seed text number 9"), (351L, "fresh text gamma"))
        .toDF("doc_id", "text"),
      "doc_id", "text", table, "b3c")) shouldBe Set(351L)

    // saturation: meta.inserted exceeding meta.expected forces a
    // rebuild (new generation from one history scan) instead of letting
    // the realized fpp drift unbounded
    val genNow = graft.io.BloomStore.latestGen(spark, table)
    val (bf, meta) = graft.io.BloomStore.load(spark, table).get
    graft.io.BloomStore.save(spark, table, bf,
      meta.copy(inserted = meta.expected + 1))
    ids(Dedup.incrementalExactDedupBloom(
      Seq((400L, "fresh text beta")).toDF("doc_id", "text"),
      "doc_id", "text", table, "b4")) shouldBe Set(400L)
    val (_, meta2) = graft.io.BloomStore.load(spark, table).get
    meta2.inserted should be <= meta2.expected
    graft.io.BloomStore.latestGen(spark, table) should be > genNow

    // a corrupt filter artifact is a CACHE failure, not a batch
    // failure: truncate the latest .bf and the next call rebuilds
    val gen = graft.io.BloomStore.latestGen(spark, table)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$table/_bloom/gen-$gen.bf"),
      Array[Byte](1, 2, 3))
    ids(Dedup.incrementalExactDedupBloom(
      Seq((500L, "fresh text delta"), (501L, "fresh text beta"))
        .toDF("doc_id", "text"),
      "doc_id", "text", table, "b5")) shouldBe Set(500L)
    graft.io.BloomStore.load(spark, table).isDefined shouldBe true
  }

  test("compaction folds batch dirs without changing the novel set") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-fpc-").toString + "/fp"

    // ten one-doc batches -> ten batch=<id> directories
    (1 to 10).foreach { i =>
      Dedup.incrementalExactDedup(
        Seq((i.toLong, s"unique text number $i")).toDF("doc_id", "text"),
        "doc_id", "text", table, s"b$i").count()
    }
    def batchDirs: Seq[String] = new java.io.File(table).listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    batchDirs.size shouldBe 10

    // the probe batch: one repeat (of batch b3), one novel doc
    val probe = Seq((100L, "unique text number 3"), (101L, "never seen before"))
      .toDF("doc_id", "text")
    val before = Dedup.incrementalExactDedup(probe, "doc_id", "text", table, "probe")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    before shouldBe Set(101L)

    // compact everything except the in-flight probe batch (retry safety:
    // its directory must survive byte-identical so a replay stays stable)
    val files = Dedup.compactFingerprints(spark, table, excludeBatch = "probe")
    batchDirs.count(_ == "batch=probe") shouldBe 1
    batchDirs.count(_.startsWith("batch=compact-")) shouldBe 1
    batchDirs.size shouldBe 2
    files should be < 11 // was >= 11 data files across 11 dirs

    // identical decisions after compaction: the replayed probe batch and
    // a fresh batch repeating old + probe-era texts
    val replay = Dedup.incrementalExactDedup(probe, "doc_id", "text", table, "probe")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    replay shouldBe Set(101L)
    val next = Dedup.incrementalExactDedup(
      Seq((200L, "unique text number 7"), (201L, "never seen before"),
        (202L, "fresh after compaction")).toDF("doc_id", "text"),
      "doc_id", "text", table, "after")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    next shouldBe Set(202L)

    // idempotent: a second compaction folds probe+after+compact dirs and
    // still rejects all known texts
    Dedup.compactFingerprints(spark, table)
    spark.read.parquet(table).select("fp").distinct().count() shouldBe 12
  }

  test("a retried micro-batch re-emits its own documents (retry safety)") {
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-fp2-").toString + "/fp"
    val batch = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")

    val first = Dedup.incrementalExactDedup(batch, "doc_id", "text", table, "7")
    first.select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L)

    // Structured Streaming replays batch 7 after a failed sink write: the
    // replay must NOT anti-join against its own first attempt's
    // fingerprints (that would mark the docs seen and emit them nowhere)
    val replay = Dedup.incrementalExactDedup(batch, "doc_id", "text", table, "7")
    replay.select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L)

    // a LATER batch does see batch 7's fingerprints exactly once
    val next = Dedup.incrementalExactDedup(
      Seq((9L, "alpha beta"), (10L, "epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text", table, "8")
    next.select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(10L)
    spark.read.parquet(table).select("fp").distinct().count() shouldBe 3
  }

  test("incremental minhash: empty history reproduces the in-batch operator; " +
      "history pairs flag cross-batch near-dups; replay is stable") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val table = java.nio.file.Files
      .createTempDirectory("graft-mhsig").toString + "/sigs"
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .where(col("doc_id") % 5 === 0)

    val incr = Dedup.incrementalMinhashLsh(docs, "doc_id", "text",
        table, batchId = "b1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val eager = Dedup.minhashLshCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    incr.map(p => (p._1, p._2)).toSet shouldBe eager
    all(incr.map(_._3)) should be > 0.0 // banded pairs share >= 1 component

    // batch 2: one exact copy of a batch-1 doc (new id), one novel text —
    // only the copy pairs, against its HISTORY original, with estimate 1
    val src = docs.orderBy("doc_id").limit(1)
      .select(col("doc_id"), col("text")).as[(Long, String)].head()
    val batch2 = Seq(
      (900001L, src._2),
      (900002L, "totally unrelated fresh words nothing shared here at all "
        + "xs1 xs2 xs3 xs4 xs5 xs6 xs7 xs8")).toDF("doc_id", "text")
    val got2 = Dedup.incrementalMinhashLsh(batch2, "doc_id", "text",
        table, batchId = "b2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    got2.map(p => (p._1, p._2)) should contain(src._1, 900001L)
    got2.filter(p => p._1 == src._1 && p._2 == 900001L)
      .head._3 shouldBe 1.0
    got2.map(p => (p._1, p._2)).count(p =>
      p._1 == 900002L || p._2 == 900002L) shouldBe 0

    // replaying batch 2 must not pair against its own first attempt
    val replay = Dedup.incrementalMinhashLsh(batch2, "doc_id", "text",
        table, batchId = "b2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    replay.toSet shouldBe got2.toSet
  }

  test("incremental semantic dedup: empty history reproduces semanticDedup; " +
      "a cross-batch near-dup drops even with a smaller id; replay is stable") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val table = java.nio.file.Files
      .createTempDirectory("graft-semh").toString + "/emb"
    val embs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

    // batch 1 vs empty history == the in-batch operator, row for row
    val incr = Dedup.incrementalSemanticDedup(embs, "vec_id", "embedding",
        "label", 0.4, table, batchId = "b1")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val eager = Dedup.semanticDedup(embs, "vec_id", "embedding", "label", 0.4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    incr shouldBe eager
    incr.nonEmpty shouldBe true

    // batch 2: a near-identical copy of a history survivor under a SMALLER
    // id must still drop (its cluster's survivor already shipped — min-id
    // would re-emit it); a doc in a block history never saw must survive
    val src = embs.where(col("vec_id") === lit(incr.min))
      .select(col("label"), col("embedding")).head()
    val srcLabel = src.getAs[Number](0).intValue()
    val srcEmb = src.getSeq[Float](1)
    val batch2 = Seq(
      (-5L, srcLabel, srcEmb.map(x => x * 2.0f)), // same direction => cos 1
      (-6L, 999999, srcEmb)) // unseen block: no cross pairs by construction
      .toDF("vec_id", "label", "embedding")
    val out2 = Dedup.incrementalSemanticDedup(batch2, "vec_id", "embedding",
        "label", 0.4, table, batchId = "b2")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    out2 should contain(-6L)
    out2.contains(-5L) shouldBe false

    // replaying batch 2 must not pair against its own first attempt
    val replay = Dedup.incrementalSemanticDedup(batch2, "vec_id", "embedding",
        "label", 0.4, table, batchId = "b2")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    replay shouldBe out2
  }

  test("compactAll folds every incremental table in one call, " +
      "sparing the in-flight batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft-call").toString
    val fpT = base + "/fp"; val sigT = base + "/sig"
    val spanT = base + "/span"; val shT = base + "/sh"; val embT = base + "/emb"

    def docs(ids: Range, tag: String) = ids.map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta $tag word$i"))
      .toDF("doc_id", "text")
    def embs(ids: Range) = ids.map(i =>
      (i.toLong, 1, Seq.tabulate(4)(d => (i % 3 + d + 1).toDouble)))
      .toDF("vec_id", "label", "embedding")

    // two settled batches per table
    Seq("b1" -> (1 to 4), "b2" -> (5 to 8)).foreach { case (bid, r) =>
      Dedup.incrementalExactDedup(docs(r, bid), "doc_id", "text", fpT, bid).collect()
      Dedup.incrementalMinhashLsh(docs(r, "same"), "doc_id", "text", sigT,
        batchId = bid).collect()
      Dedup.incrementalDuplicateSpans(docs(r, "same"), "doc_id", "text", spanT,
        k = 3, batchId = bid).collect()
      Dedup.incrementalSimhash(docs(r, "same"), "doc_id", "text", shT,
        batchId = bid).collect()
      Dedup.incrementalSemanticDedup(embs(r), "vec_id", "embedding", "label",
        0.99, embT, batchId = bid).collect()
    }

    // the in-flight probe batch, run BEFORE compaction
    def probeAll(): Seq[Set[Any]] = Seq(
      Dedup.incrementalExactDedup(docs(9 to 12, "b1"), "doc_id", "text",
        fpT, "b3").select("doc_id").collect().map(_.get(0): Any).toSet,
      Dedup.incrementalMinhashLsh(docs(9 to 12, "same"), "doc_id", "text",
        sigT, batchId = "b3").collect().map(_.toSeq: Any).toSet,
      Dedup.incrementalDuplicateSpans(docs(9 to 12, "same"), "doc_id", "text",
        spanT, k = 3, batchId = "b3").collect().map(_.toSeq: Any).toSet,
      Dedup.incrementalSimhash(docs(9 to 12, "same"), "doc_id", "text",
        shT, batchId = "b3").collect().map(_.toSeq: Any).toSet,
      Dedup.incrementalSemanticDedup(embs(9 to 12), "vec_id", "embedding",
        "label", 0.99, embT, batchId = "b3")
        .select("vec_id").collect().map(_.get(0): Any).toSet)
    val before = probeAll()

    def batchDirs(t: String): Set[String] =
      new java.io.File(t).listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("batch=")).toSet
    val tables = Seq(fpT, sigT, spanT, shT, embT)
    tables.foreach(t => batchDirs(t).size shouldBe 3)

    val counts = Dedup.compactAll(spark,
      fingerprints = Seq(fpT), signatures = Seq(sigT),
      spanCounts = Seq(spanT), simhash = Seq(shT), embeddings = Seq(embT),
      excludeBatch = "b3", targetFileBytes = 1L << 30)
    counts.keySet shouldBe tables.toSet

    // b1+b2 folded into one compact dir per table; in-flight b3 untouched
    tables.foreach { t =>
      val dirs = batchDirs(t)
      dirs.size shouldBe 2
      dirs should contain("batch=b3")
      dirs.count(_.startsWith("batch=compact-")) shouldBe 1
    }

    // replaying the in-flight batch against the compacted history is
    // bit-identical — the novel/pair/survivor sets did not change
    probeAll() shouldBe before
  }

  test("incremental minhash fails loudly when history k mismatches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val table = java.nio.file.Files
      .createTempDirectory("graft-mhk").toString + "/sigs"
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    Dedup.incrementalMinhashLsh(docs, "doc_id", "text", table,
      k = 8, batchId = "b1").collect()
    // a different k on the same table would zip-pad est_jaccard with
    // nulls and silently deflate estimates — must raise instead
    val e = intercept[Exception] {
      Dedup.incrementalMinhashLsh(docs, "doc_id", "text", table,
        k = 16, batchId = "b2").collect()
    }
    e.getMessage should include("history sig length != k=16")
  }

  test("incremental simhash: empty history reproduces the in-batch operator; " +
      "a later near-identical batch pairs against history; replay is stable") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val table = java.nio.file.Files
      .createTempDirectory("graft-shfp").toString + "/fps"
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")

    val incr = Dedup.incrementalSimhash(docs, "doc_id", "text",
        table, batchId = "b1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val eager = Dedup.simhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    incr shouldBe eager

    // batch 2: an exact copy of a batch-1 doc under a new id pairs against
    // the HISTORY original at hamming 0; replay doesn't self-pair
    val src = docs.orderBy("doc_id").limit(1)
      .select(col("doc_id"), col("text")).as[(Long, String)].head()
    val batch2 = Seq((910001L, src._2)).toDF("doc_id", "text")
    val got2 = Dedup.incrementalSimhash(batch2, "doc_id", "text",
        table, batchId = "b2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    got2.map(p => (p._1, p._2)) should contain(src._1, 910001L)
    got2.filter(p => p._1 == src._1 && p._2 == 910001L).head._3 shouldBe 0
    val replay = Dedup.incrementalSimhash(batch2, "doc_id", "text",
        table, batchId = "b2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    replay.toSet shouldBe got2.toSet

    // fold the dirs; a third batch reads the same history
    Dedup.compactSimhash(spark, table) should be >= 1
    val post = Dedup.incrementalSimhash(
        Seq((920001L, src._2)).toDF("doc_id", "text"), "doc_id", "text",
        table, batchId = "b3")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    post should contain allOf ((src._1, 920001L), (910001L, 920001L))
  }

  test("priority dedup keeps the highest-priority member, min id on ties") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      // group A: priorities 1,2,1 -> id 6 (the only priority-2 row) wins
      (5L, "alpha beta gamma", 1),
      (6L, "ALPHA  beta GAMMA", 2),
      (7L, "alpha beta gamma", 1),
      // group B: all priority 1 -> min id 8 wins
      (9L, "delta epsilon", 1),
      (8L, "delta  EPSILON", 1),
      // group C: two priority-3 rows tie -> min id 20 of that rank, even
      // though a lower-priority row has the global min id 19
      (19L, "zeta eta", 1),
      (21L, "zeta ETA", 3),
      (20L, "ZETA eta", 3)
    ).toDF("doc_id", "text", "prio")
    val groups = Dedup.exactGroupsBy(docs, "doc_id", "text", col("prio"))
      .select("keep_id", "dup_cnt").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    groups shouldBe Set((6L, 3L), (8L, 2L), (20L, 3L))
  }

  test("an all-NULL-priority group still keeps its min-id member") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (5L, "alpha beta", None: Option[Int]),
      (6L, "ALPHA beta", None),
      (7L, "gamma delta", Some(2)),
      (8L, "GAMMA delta", Some(1))
    ).toDF("doc_id", "text", "prio")
    Dedup.exactGroupsBy(docs, "doc_id", "text", col("prio"))
      .select("keep_id").collect().map(_.getLong(0)).toSet shouldBe
      Set(5L, 7L) // NULLs rank as 0 -> min id 5; real priorities -> 7
  }

  test("priority dedup with constant priority equals plain exactGroups") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val plain = Dedup.exactGroups(docs, "doc_id", "text")
      .select("keep_id", "dup_cnt").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val flat = Dedup.exactGroupsBy(docs, "doc_id", "text", lit(1))
      .select("keep_id", "dup_cnt").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    flat shouldBe plain
  }
}
