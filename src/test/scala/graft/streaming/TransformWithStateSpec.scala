package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.model.CountAndTotal

/** Spark 4 `transformWithState` form of the purchases aggregate: explicit
  * RocksDB-backed ValueState, per-record emission (the reference's
  * cache-disabled granularity — every input yields an updated aggregate
  * downstream, not one update per micro-batch).
  */
class TransformWithStateSpec extends AnyFunSuite with Matchers with SparkSpec {

  test("countAndTotalTws emits the running aggregate per input record") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    val input = MemoryStream[(String, Double)]
    val out = StatefulOps.countAndTotalTws(input.toDS())

    var emitted = Vector.empty[(String, CountAndTotal)]
    val query = out.writeStream.outputMode("update")
      .option("checkpointLocation", checkpoint())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[(String, CountAndTotal)], _: Long) =>
        emitted ++= b.collect()
      }.start()

    try {
      input.addData(("7-101", 2.0), ("7-101", 3.0), ("9-200", 5.0))
      query.processAllAvailable()
      // per-record granularity: BOTH intermediate updates of 7-101 emitted
      emitted.filter(_._1 == "7-101").map(_._2) shouldBe Vector(
        CountAndTotal(1L, 2.0), CountAndTotal(2L, 5.0))
      emitted.filter(_._1 == "9-200").map(_._2) shouldBe Vector(CountAndTotal(1L, 5.0))

      // state persists across micro-batches
      input.addData(("7-101", 10.0))
      query.processAllAvailable()
      emitted.filter(_._1 == "7-101").map(_._2).last shouldBe CountAndTotal(3L, 15.0)
    } finally {
      query.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
