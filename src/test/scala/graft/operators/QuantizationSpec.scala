package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** int8 quantization: exact code assignment, NaN handling, parity of the
  * imperative expression with its HOF twin, and the +/-127 range on the
  * real embeddings fixture.
  */
class QuantizationSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val embs = graft.core.Tables.load(spark, sfDir, "embeddings")

  private def vecs(rows: Seq[(Long, Seq[Double])]) = {
    import spark.implicits._
    rows.toDF("id", "emb")
  }

  test("codes are floor(x*scale+0.5) with scale 127/maxabs") {
    val out = Quantization.quantize(
      vecs(Seq((0L, Seq(1.0, -0.5, 0.25)), (1L, Seq(0.0, 0.0)))), "emb")
      .orderBy(col("id")).collect()
    out(0).getAs[Double]("scale") shouldBe 127.0
    out(0).getAs[Seq[Int]]("q") shouldBe Seq(127, -63, 32)
    // zero vector: scale 0, all-zero codes, no divide-by-zero
    out(1).getAs[Double]("scale") shouldBe 0.0
    out(1).getAs[Seq[Int]]("q") shouldBe Seq(0, 0)
  }

  test("NaN element: scale NaN, ALL codes 0, identical across both twins") {
    // a NaN element poisons maxabs -> scale NaN -> every product NaN; the
    // imperative twin's NaN.toInt is 0, and the HOF twin pins the same 0
    // explicitly so parity holds regardless of spark.sql.ansi.enabled
    val df = vecs(Seq((0L, Seq(1.0, Double.NaN, -0.5)), (1L, Seq(0.5, 0.25))))
    Seq(Quantization.quantize(df, "emb"), Quantization.quantizeHof(df, "emb"))
      .foreach { out =>
        val rows = out.orderBy(col("id")).collect()
        rows(0).getAs[Double]("scale").isNaN shouldBe true
        rows(0).getAs[Seq[Int]]("q") shouldBe Seq(0, 0, 0)
        rows(1).getAs[Seq[Int]]("q") shouldBe Seq(127, 64)
      }
  }

  test("imperative Int8Quantize is value-identical to the HOF twin") {
    val imp = Quantization.quantize(embs, "embedding")
      .select(col("vec_id"), col("scale"), col("q"))
    val hof = Quantization.quantizeHof(embs, "embedding")
      .select(col("vec_id"), col("scale"), col("q"))
    imp.exceptAll(hof).count() shouldBe 0L
    hof.exceptAll(imp).count() shouldBe 0L
  }

  test("max-magnitude component always maps to +/-127 (no overflow)") {
    val out = Quantization.quantize(embs, "embedding")
      .select(array_max(transform(col("q"), x => abs(x))).as("m"))
      .agg(min(col("m")), max(col("m"))).head()
    out.getInt(0) shouldBe 127
    out.getInt(1) shouldBe 127
  }
}
