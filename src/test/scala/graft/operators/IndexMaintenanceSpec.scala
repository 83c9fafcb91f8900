package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Drift-triggered ANN index maintenance: a drifted stream appended under
  * the stale coarse quantizer straddles a cell boundary and measurably
  * loses recall; `maintainIvfIndex` detects the drift against the
  * fit-time anchor, refits, and recall recovers. Non-drifted batches take
  * the cheap append path.
  */
class IndexMaintenanceSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val dim = 4

  /** Tight cluster around axis `c` with tiny deterministic noise. */
  private def baseVec(i: Long): Seq[Double] = {
    val c = (i % 4).toInt
    (0 until dim).map(j =>
      (if (j == c) 1.0 else 0.0) + ((i * 7 + j * 13) % 11 - 5) / 500.0)
  }

  /** Drifted cluster centered EXACTLY on (e1+e2)/sqrt(2) — the boundary
    * between the fitted e1 and e2 cells — spread a little along (e1-e2)
    * with alternating sign, so the STALE quantizer splits near-identical
    * vectors between two cells (o² enters the cosine, o enters the cell
    * assignment: parity-symmetric neighbors, parity-split cells).
    */
  private def driftVec(i: Long): Seq[Double] = {
    val d = math.sqrt(2) / 2
    val o = (if (i % 2 == 0) 1 else -1) * (0.01 + (i % 5) * 0.004)
    Seq(d + o, d - o, 0.0, 0.0)
  }

  /** The boundary query: exactly (e1+e2)/sqrt(2), equidistant from both
    * stale cells and from both drift parities.
    */
  private val qv = Array(math.sqrt(2) / 2, math.sqrt(2) / 2, 0.0, 0.0)

  private def df(ids: Range, f: Long => Seq[Double]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, f(i.toLong))).toDF("vec_id", "embedding")
  }

  private def topIds(res: DataFrame): Seq[Long] =
    res.collect().map(_.getLong(0)).toSeq

  /** Ground-truth top-10 around `qv`: brute force with the query planted
    * under an id outside every corpus range.
    */
  private def truthTop10(all: DataFrame): Set[Long] = {
    import spark.implicits._
    val withQ = all.unionByName(Seq((999999L, qv.toSeq)).toDF("vec_id", "embedding"))
    topIds(Similarity.bruteForceTopK(withQ, "vec_id", "embedding",
      queryId = 999999L, k = 10)).toSet
  }

  test("drifted appends lose recall; maintainIvfIndex refits and recovers") {
    val base = df(0 until 200, baseVec)
    val drifted = df(1000 until 1100, driftVec)
    val truth = truthTop10(base.unionByName(drifted))
    truth.forall(_ >= 1000L) shouldBe true // true neighbors are the drifted cluster
    truth.exists(_ % 2 == 0) shouldBe true // ...from BOTH parities
    truth.exists(_ % 2 == 1) shouldBe true

    val path = graft.io.Spill.tempDir("graft-ivfmnt-") + "/idx"
    Similarity.writeIvfIndex(base, "vec_id", "embedding", path, nList = 4)

    // stale quantizer: append only, probe the single nearest fitted cell
    Similarity.appendIvfIndex(spark, path, drifted, "vec_id", "embedding")
    val stale = topIds(Similarity.ivfTopKIndexed(spark, path,
      "vec_id", "embedding", qv, queryId = 999999L, k = 10, nProbe = 1))
    val staleRecall = stale.count(truth).toDouble / 10
    withClue(s"stale recall $staleRecall: ") { staleRecall should be < 0.9 }

    // rebuild the pre-append index, then route the same batch through
    // maintenance: the drift detector must choose REFIT
    Similarity.writeIvfIndex(base, "vec_id", "embedding", path, nList = 4)
    Similarity.indexDrift(spark, path, drifted, "embedding") should be < 0.95
    Similarity.maintainIvfIndex(spark, path, drifted,
      "vec_id", "embedding", minCentroidCos = 0.95, nList = 4) shouldBe true
    val fresh = topIds(Similarity.ivfTopKIndexed(spark, path,
      "vec_id", "embedding", qv, queryId = 999999L, k = 10, nProbe = 1))
    val freshRecall = fresh.count(truth).toDouble / 10
    withClue(s"post-refit recall $freshRecall (stale $staleRecall): ") {
      freshRecall should be > staleRecall
      freshRecall shouldBe 1.0
    }
    // the refit FOLDED the increments: postings = base + batch, once each
    spark.read.parquet(s"$path/postings").count() shouldBe 300L
  }

  test("a non-drifted batch takes the append path under the same threshold") {
    val base = df(0 until 200, baseVec)
    val more = df(2000 until 2060, baseVec) // same distribution
    val path = graft.io.Spill.tempDir("graft-ivfmnt-") + "/idx"
    Similarity.writeIvfIndex(base, "vec_id", "embedding", path, nList = 4)

    Similarity.indexDrift(spark, path, more, "embedding") should be >= 0.95
    Similarity.maintainIvfIndex(spark, path, more,
      "vec_id", "embedding", minCentroidCos = 0.95, nList = 4) shouldBe false
    spark.read.parquet(s"$path/postings").count() shouldBe 260L
    // centroids untouched by the append path (fit ran exactly once)
    Similarity.readIvfCentroids(spark, path).length shouldBe 4
  }

  test("a REPLAYED append (duplicated posting rows) cannot emit an id " +
      "twice in any IVF top-k, and the next refit folds the duplicates " +
      "away") {
    val base = df(0 until 200, baseVec)
    val batch = df(2000 until 2060, baseVec)
    val path = graft.io.Spill.tempDir("graft-ivfmnt-") + "/idx"
    Similarity.writeIvfIndex(base, "vec_id", "embedding", path, nList = 4)
    Similarity.appendIvfIndex(spark, path, batch, "vec_id", "embedding")
    val once = topIds(Similarity.ivfTopKIndexed(spark, path,
      "vec_id", "embedding", qv, queryId = 999999L, k = 10, nProbe = 4))
    // a crashed-and-retried maintain replays the SAME batch: the
    // mode-append layout now holds its rows twice
    Similarity.appendIvfIndex(spark, path, batch, "vec_id", "embedding")
    spark.read.parquet(s"$path/postings").count() shouldBe 320L
    val replayed = topIds(Similarity.ivfTopKIndexed(spark, path,
      "vec_id", "embedding", qv, queryId = 999999L, k = 10, nProbe = 4))
    replayed.distinct should have size 10 // no id surfaces twice
    replayed shouldBe once // and the ranking is byte-identical
    // a drifted batch forces the refit, which folds the exact-duplicate
    // rows instead of carrying them into the fresh layout
    val drifted = df(1000 until 1100, driftVec)
    Similarity.maintainIvfIndex(spark, path, drifted,
      "vec_id", "embedding", minCentroidCos = 0.95, nList = 4) shouldBe true
    spark.read.parquet(s"$path/postings").count() shouldBe 360L
  }

  test("an index without a fit-time anchor fails loud on drift checks") {
    val base = df(0 until 40, baseVec)
    val path = graft.io.Spill.tempDir("graft-ivfmnt-") + "/idx"
    Similarity.writeIvfIndex(base, "vec_id", "embedding", path, nList = 2)
    // simulate a pre-anchor index
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete() }
    rm(new java.io.File(s"$path/anchor"))
    an[IllegalStateException] should be thrownBy
      Similarity.indexDrift(spark, path, base, "embedding")
  }
}
