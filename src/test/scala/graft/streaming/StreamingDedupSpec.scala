package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Streaming dedup — q37's streaming form (VERDICT r1 #7): the built-in
  * watermarked path (`dropDuplicatesWithinWatermark`) drops duplicates
  * that arrive in LATER micro-batches, which a batch `dropDuplicates` per
  * batch could never do.
  */
class StreamingDedupSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("dropDuplicatesWithinWatermark removes cross-batch duplicates") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[(Timestamp, String)]
    val deduped = input.toDF().toDF("ts", "event_id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

    var emitted = Vector.empty[String]
    val query = deduped.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        emitted ++= b.collect().map(_.getString(1))
      }.start()

    try {
      input.addData((ts(0), "e1"), (ts(1), "e2"), (ts(1), "e1"))
      query.processAllAvailable()
      input.addData((ts(2), "e1"), (ts(3), "e3")) // e1 again, within watermark
      query.processAllAvailable()
      emitted.sorted shouldBe Vector("e1", "e2", "e3")
    } finally query.stop()
  }
}
