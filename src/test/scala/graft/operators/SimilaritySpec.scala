package graft.operators

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.functions.GraftFunctions.cosine_sim

/** ANN quality + dimension-safety checks (VERDICT r1 #6): the LSH path must
  * (a) work at the data's true dimensionality with no hardcoded width, and
  * (b) recall a meaningful fraction of the exact top-k — measured against
  * [[Similarity.bruteForceTopK]] on the sf0.001 embeddings fixture.
  */
class SimilaritySpec extends AnyFunSuite with Matchers with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val embs = graft.core.Tables.load(spark, sfDir, "embeddings")

  test("inferDim matches the fixture's embedding width") {
    val d = Similarity.inferDim(embs, "embedding")
    d shouldBe embs.select(org.apache.spark.sql.functions.size(col("embedding"))).head().getInt(0)
    d should be > 0
  }

  test("lshTopK recall vs exact top-k on the fixture") {
    val k = 10
    val exact = Similarity.bruteForceTopK(embs, "vec_id", "embedding", 0L, k)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val approx = Similarity.lshTopK(embs, "vec_id", "embedding", 0L, k)
      .select("vec_id").collect().map(_.getLong(0)).toSet

    approx.size shouldBe k // the union of buckets holds at least k candidates
    val recall = (exact & approx).size.toDouble / k
    withClue(s"recall $recall (exact=$exact approx=$approx): ") {
      recall should be >= 0.7
    }
  }

  test("filteredTopK: exact top-k restricted to the allowed set") {
    import spark.implicits._
    val allowed = embs.where(col("vec_id") % 3 === 1)
      .select(col("vec_id").as("doc_id"))
    val got = Similarity.filteredTopK(embs, allowed, "vec_id", "doc_id",
      "embedding", queryId = 0L, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // reference: brute-force over everything, then filter + take 5
    val want = Similarity.bruteForceTopK(embs, "vec_id", "embedding", 0L,
      k = Int.MaxValue - 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .filter(_._1 % 3 == 1).take(5)
    got shouldBe want
    // the query vector (vec 0, not in the allowed set) was still usable
    got.map(_._1).foreach(id => id % 3 shouldBe 1)
  }

  test("batchLshTopK: each query's batch ranking equals its per-query lshTopK") {
    val queries = embs.where(col("vec_id") % 400 === 0) // a few query vectors
    val batch = Similarity.batchLshTopK(embs, queries, "vec_id", "embedding",
      k = 5)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
      }
    batch.keySet should not be empty
    batch.foreach { case (q, ids) =>
      val single = Similarity.lshTopK(embs, "vec_id", "embedding", q, k = 5)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      withClue(s"query $q: ") { ids shouldBe single }
    }
  }

  test("more planes shrink the candidate bucket (the scale lever)") {
    val d = Similarity.inferDim(embs, "embedding")
    def bucketSize(nPlanes: Int): Long = {
      val planes = Similarity.hyperplanes(nPlanes, d)
      val withBucket = embs.withColumn("b", Similarity.lshBucket(col("embedding"), planes))
      val qb = withBucket.where(col("vec_id") === 0L).select("b").head().getInt(0)
      withBucket.where(col("b") === qb).count()
    }
    val n = embs.count()
    val b2 = bucketSize(2)
    val b4 = bucketSize(4)
    b2 should be < n
    b4 should be < b2 // each extra plane halves the expected bucket
  }

  test("ivfTopK: full probe equals brute force; recall rises with probes") {
    val k = 10
    val exact = Similarity.bruteForceTopK(embs, "vec_id", "embedding", 0L, k)
      .select("vec_id").collect().map(_.getLong(0)).toSet

    def recallAt(nProbe: Int): Double = {
      val ivf = Similarity.ivfTopK(embs, "vec_id", "embedding", 0L, k,
        nList = 16, nProbe = nProbe)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      ivf.size shouldBe k
      (exact & ivf).size.toDouble / k
    }

    // probing every cell IS the exact scan — must match brute force
    recallAt(16) shouldBe 1.0
    // more probes never hurt; a quarter of the cells must beat nothing
    val r4 = recallAt(4)
    val r8 = recallAt(8)
    withClue(s"recall@4=$r4 recall@8=$r8: ") {
      r8 should be >= r4
      r4 should be > 0.0
    }
  }

  test("persisted IVF index: pruned scan reads only nProbe cell partitions, ranking matches eager path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-index-").toString
    val (nList, nProbe, k) = (16, 4, 10)
    Similarity.writeIvfIndex(embs, "vec_id", "embedding", dir, nList = nList)

    val qv = embs.where(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>")).head()
      .getSeq[Double](0).toArray
    val indexed = Similarity.ivfTopKIndexed(spark, dir, "vec_id", "embedding",
      qv, queryId = 0L, k = k, nProbe = nProbe)

    // identical ranking to the eager per-call-fit path: same seed + same
    // data => same KMeans cells, so the probed candidate set is identical
    val eager = Similarity.ivfTopK(embs, "vec_id", "embedding", 0L, k,
      nList = nList, nProbe = nProbe)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    indexed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe eager

    // the posting scan must touch at most nProbe of the cell=N partition
    // directories — the 100 TB claim, asserted on the executed plan
    val totalCells = new java.io.File(s"$dir/postings").listFiles()
      .count(_.getName.startsWith("cell="))
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val selected = scans(indexed.queryExecution.executedPlan)
      .map(_.selectedPartitions.partitionCount).sum
    withClue(s"selected $selected of $totalCells cell partitions: ") {
      selected should be <= nProbe
      selected should be < totalCells
    }

    // the full-probe indexed query IS the exact scan
    val exact = Similarity.bruteForceTopK(embs, "vec_id", "embedding", 0L, k)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val full = Similarity.ivfTopKIndexed(spark, dir, "vec_id", "embedding",
      qv, queryId = 0L, k = k, nProbe = nList)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    full shouldBe exact
  }

  test("ivfCell (expression path) assigns every fixture vector to the KMeans cell") {
    // the maintenance path must reproduce the BUILD assignment exactly, or
    // appended vectors land in cells queries won't probe for them
    val (assigned, centroids) = Similarity.ivfAssign(embs, "vec_id", "embedding", 16, 42L)
    val viaModel = assigned.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaExpr = Similarity.ivfPostings(embs, "vec_id", "embedding", centroids)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    viaExpr shouldBe viaModel
  }

  test("appendIvfIndex makes new vectors queryable without a refit") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-append-").toString
    Similarity.writeIvfIndex(embs, "vec_id", "embedding", dir)

    val qv = embs.where(col("vec_id") === 7L)
      .select(col("embedding").cast("array<double>")).head()
      .getSeq[Double](0).toArray
    // append an exact copy of vector 7 under a new id: it must become the
    // top hit of a pruned query (same cell as its twin, sim 1.0)
    Similarity.appendIvfIndex(spark, dir,
      Seq((9999L, qv)).toDF("vec_id", "embedding"), "vec_id", "embedding")
    val top = Similarity.ivfTopKIndexed(spark, dir, "vec_id", "embedding",
      qv, queryId = 7L, k = 1).collect()
    top.head.getLong(0) shouldBe 9999L
    top.head.getDouble(1) shouldBe 1.0 +- 1e-9
  }

  test("persisted LSH index: pruned scan reads only the probe partitions, results identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-index-").toString
    Similarity.writeLshIndex(embs, "vec_id", "embedding", dir)

    val qv = embs.where(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>")).head()
      .getSeq[Double](0).toArray
    val indexed = Similarity.lshTopKIndexed(spark, dir, "vec_id", "embedding",
      qv, queryId = 0L, k = 10)

    // identical ranking to the index-free path (same planes, same buckets)
    val direct = Similarity.lshTopK(embs, "vec_id", "embedding", 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    indexed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe direct

    // the scan must touch at most nTables of the (table, bucket) partition
    // directories — this IS the 100 TB claim, asserted on the plan
    val totalPartitions = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("table="))
      .map(_.listFiles().count(_.getName.startsWith("bucket="))).sum
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val selected = scans(indexed.queryExecution.executedPlan)
      .map(_.selectedPartitions.partitionCount).sum
    withClue(s"selected $selected of $totalPartitions partitions: ") {
      selected should be <= 12 // nTables
      selected should be < totalPartitions
    }
  }

  test("persisted LSH index honors a non-default seed end-to-end") {
    // regression: lshPostings once dropped the seed, so an index built with
    // seed 42 was bucketed under seed 11 while queries probed with 42 —
    // recall silently collapsed. Identical-vector lookup proves build and
    // probe use the same plane family.
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-seed-").toString
    Similarity.writeLshIndex(embs, "vec_id", "embedding", dir, seed = 42L)
    val qv = embs.where(col("vec_id") === 3L)
      .select(col("embedding").cast("array<double>")).head()
      .getSeq[Double](0).toArray
    val top = Similarity.lshTopKIndexed(spark, dir, "vec_id", "embedding",
      qv, queryId = -1L, k = 1, seed = 42L).collect()
    top.head.getLong(0) shouldBe 3L // its own bucket must contain it
    top.head.getDouble(1) shouldBe 1.0 +- 1e-9
  }

  test("cosine_sim rejects mismatched dimensions instead of truncating") {
    import spark.implicits._
    val df = Seq((Array(1.0, 0.0, 0.0), Array(1.0, 0.0))).toDF("a", "b")
    val ex = intercept[Throwable] {
      df.select(cosine_sim(col("a"), col("b"))).collect()
    }
    // may surface bare or wrapped in SparkException depending on codegen path
    (Option(ex.getMessage).getOrElse("") + Option(ex.getCause).map(_.getMessage).getOrElse(""))
      .should(include("dimension mismatch"))
  }

  test("cosine_sim agrees with a plain-Scala reference on the fixture") {
    val rows = embs.limit(50).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val q = rows(0L)
    def ref(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val viaExpr = Similarity.bruteForceTopK(embs.limit(50), "vec_id", "embedding", 0L, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    viaExpr.foreach { case (id, sim) =>
      sim shouldBe (math.rint(ref(q, rows(id)) * 10000) / 10000.0 +- 1e-9)
    }
  }

  test("semantic decontamination flags exactly the planted near-probe vectors") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),   // identical direction to probe 100
      (2L, Array(0.0f, 1.0f)),   // orthogonal: clean
      (3L, Array(0.9f, 0.1f))    // near probe 100
    ).toDF("vec_id", "embedding")
    val probes = Seq((100L, Array(2.0f, 0.0f))).toDF("vec_id", "embedding")
    val flagged = Similarity.embeddingContaminationPairs(
        corpus, probes, "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    flagged.map(p => (p._1, p._2)).toSet shouldBe Set((1L, 100L), (3L, 100L))
    flagged.find(_._1 == 1L).get._3 shouldBe 1.0
  }
  test("hardNegatives: exact label-excluded top-k vs a driver-side sweep") {
    val k = 5
    val probes = embs.where(col("vec_id") % 50 === 0)
    val corpus = embs.where(col("vec_id") % 50 =!= 0)
    val got = Similarity.hardNegatives(corpus, probes,
        "vec_id", "embedding", "label", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    // driver-side brute force over the small fixture
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("embedding"), col("label"))
        .collect().map(r => (r.getLong(0),
          r.getSeq[Float](1).map(_.toDouble).toArray, r.get(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val c = rows(corpus)
    val expected = rows(probes).flatMap { case (qid, qv, ql) =>
      c.filter(_._3 != ql)
        .map { case (id, v, _) =>
          (id, BigDecimal(cos(v, qv)).setScale(4,
            BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .sortBy { case (id, sim) => (-sim, id) }
        .take(k).zipWithIndex
        .map { case ((id, _), r) => (qid, (r + 1).toLong, id) }
    }.toSet
    got.toSet shouldBe expected

    // no same-label id ever surfaces
    val labels = embs.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    got.foreach { case (qid, _, id) => labels(id) should not be labels(qid) }
  }
}
