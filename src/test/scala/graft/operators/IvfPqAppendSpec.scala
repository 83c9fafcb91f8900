package graft.operators

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The batch append into an IVF-PQ index: appended vectors are coded
  * under the index's FIXED centroids and codebook, so an exact copy of an
  * indexed vector gets its twin's code — and so its twin's ADC distance —
  * and the appended rows are exactly the [[Similarity.ivfPqPostings]] rows
  * a streaming maintainer would sink for the same batch.
  */
class IvfPqAppendSpec extends AnyFunSuite with Matchers with SparkSpec {

  test("appendIvfPqIndex: a copy ranks at its twin's distance, coded as ivfPqPostings codes it") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 200L).map(id => id -> Array.fill(16)(rnd.nextGaussian()))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-append-").toString
    Similarity.writeIvfPqIndex(vecs.toDF("vec_id", "embedding"), "vec_id",
      "embedding", dir, nList = 4, m = 4, ksub = 8)
    val qv = vecs(7)._2
    val batch = Seq((9999L, qv)).toDF("vec_id", "embedding")
    Similarity.appendIvfPqIndex(spark, dir, batch, "vec_id", "embedding")

    // every cell probed and every posting ranked: the copy and its twin
    // are both there
    val top = Similarity.ivfPqTopKIndexed(spark, dir, "vec_id", qv,
        queryId = -1L, k = 201, nProbe = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    top.keySet should contain allOf (7L, 9999L)
    top(9999L) shouldBe top(7L)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell"), col("pq")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]](2).toSeq))
    val appended = rows(spark.read.parquet(s"$dir/postings")
      .where(col("vec_id") === 9999L))
    appended.toSeq shouldBe rows(Similarity.ivfPqPostings(batch, "vec_id",
      "embedding", Similarity.readIvfCentroids(spark, dir),
      Similarity.readPqCodebook(spark, dir))).toSeq
    appended should have length 1
  }
}
