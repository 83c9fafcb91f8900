package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.operators.{Chunking, Packing, Pii, Quantization}

/** The round-8 cleaning operators in their STREAMING form: chunking, PII
  * scrubbing, and quantization are map-only, so the exact same operator
  * code runs unchanged inside a micro-batch (the Structured Streaming
  * contract for stateless transforms — same DataFrame, incremental
  * execution). Sequence packing is order-dependent per shard, so its
  * streaming form is per-micro-batch via foreachBatch — each batch packs
  * independently, the semantics a continuously-arriving corpus wants
  * (sequences never straddle an arrival boundary).
  */
class StreamingCleaningSpec extends AnyFunSuite with Matchers with SparkSpec {

  test("chunk + PII scrub compose in one streaming pipeline") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[(Long, String)]
    val cleaned = Pii.scrub(
      Chunking.chunk(input.toDF().toDF("doc_id", "text"),
        "doc_id", "text", size = 4, stride = 4),
      "chunk_text")

    var rows = Vector.empty[(Long, Long, String)]
    val query = cleaned.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint())
      .foreachBatch { (b: DataFrame, _: Long) =>
        rows ++= b.collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Long]("n_email"), r.getAs[String]("chunk_text_redacted")))
      }.start()

    try {
      input.addData((1L, "contact a@b.org now then four more words here"))
      query.processAllAvailable()
      input.addData((2L, "clean text only"))
      query.processAllAvailable()
    } finally query.stop()

    rows.sortBy(r => (r._1, r._3)) shouldBe Vector(
      (1L, 1L, "contact <EMAIL> now then"),
      (1L, 0L, "four more words here"),
      (2L, 0L, "clean text only")).sortBy(r => (r._1, r._3))
  }

  test("quantization runs unchanged on a stream") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[(Long, Seq[Double])]
    val quantized = Quantization.quantize(
      input.toDF().toDF("vec_id", "embedding"), "embedding")

    var rows = Vector.empty[(Long, Double, Seq[Int])]
    val query = quantized.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint())
      .foreachBatch { (b: DataFrame, _: Long) =>
        rows ++= b.collect().map(r => (r.getAs[Long]("vec_id"),
          r.getAs[Double]("scale"), r.getAs[Seq[Int]]("q")))
      }.start()

    try {
      input.addData((0L, Seq(1.0, -0.5)), (1L, Seq(0.0, 0.0)))
      query.processAllAvailable()
    } finally query.stop()

    val byId = rows.map(r => r._1 -> r).toMap
    byId(0L)._2 shouldBe 127.0
    byId(0L)._3 shouldBe Seq(127, -63)
    byId(1L)._2 shouldBe 0.0
    byId(1L)._3 shouldBe Seq(0, 0)
  }

  test("sequence packing per micro-batch via foreachBatch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[(Long, Long, Long)]

    var packed = Vector.empty[(Long, Long, Long)] // (id, seq_id, batch)
    val query = input.toDF().toDF("id", "tokens", "shard")
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint())
      .foreachBatch { (b: DataFrame, epoch: Long) =>
        packed ++= Packing.packGreedy(b, "id", "tokens", "shard", budget = 100)
          .collect().map(r => (r.getLong(0), r.getLong(2), epoch))
      }.start()

    try {
      input.addData((0L, 60L, 0L), (1L, 60L, 0L))
      query.processAllAvailable()
      input.addData((2L, 60L, 0L))
      query.processAllAvailable()
    } finally query.stop()

    val byId = packed.map(p => p._1 -> p).toMap
    // within the first batch: 60+60 > 100, so two sequences
    byId(0L)._2 should not be byId(1L)._2
    // doc 2 arrived later: packs from seq 0 of ITS batch — sequences
    // never straddle an arrival boundary
    byId(2L)._2 shouldBe 0L
    packed.map(_._3).distinct.size shouldBe 2
  }
}
