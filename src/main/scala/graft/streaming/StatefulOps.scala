package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues}

import graft.model.CountAndTotal

/** Custom stateful operators (SURVEY §2.6 "Stateful custom ops") — the
  * engine's Processor-API surface. The reference's only custom processor is
  * a pass-through that captures record context
  * (`resilience/RetrieveContextTransformer.java:9-22`); the north-star scope
  * needs real keyed state beyond built-in aggregation, expressed on Spark's
  * public `transformWithState` API so state lives in the streaming state
  * store (checkpointed, partitioned by key — scales with the cluster, not
  * the driver). Keyed dedup needs no custom operator: the built-in
  * `dropDuplicatesWithinWatermark` covers it (`StreamingDedupSpec`).
  */
object StatefulOps {

  /** The purchases aggregate (reference A2: `count += 1; total += qty`) on
    * Spark 4's `transformWithState` — the modern explicit-state API
    * (SURVEY §2.6 maps stateful custom ops here): versioned `ValueState`
    * with optional TTL, timers, RocksDB-backed. Emits the UPDATED
    * (key, count, total) for every input record, which is exactly the
    * reference's cache-disabled per-record emission granularity
    * (`WordCountTopologyTest.java:33` sets cache=0) — finer than the
    * per-micro-batch updates of the built-in aggregation path.
    *
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`).
    */
  class CountAndTotalProcessor(ttl: TTLConfig)
      extends StatefulProcessor[String, (String, Double), (String, CountAndTotal)] {

    @transient private var state: org.apache.spark.sql.streaming.ValueState[CountAndTotal] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[CountAndTotal](
        "countAndTotal", Encoders.product[CountAndTotal], ttl)

    override def handleInputRows(key: String, rows: Iterator[(String, Double)],
        timers: TimerValues): Iterator[(String, CountAndTotal)] = {
      var cur = if (state.exists()) state.get() else CountAndTotal(0L, 0.0)
      val out = Vector.newBuilder[(String, CountAndTotal)]
      rows.foreach { case (_, quantity) =>
        cur = CountAndTotal(cur.count + 1, cur.total + quantity)
        out += ((key, cur)) // per-record emission, reference granularity
      }
      state.update(cur)
      out.result().iterator
    }
  }

  /** Run [[CountAndTotalProcessor]] over a keyed (key, quantity) stream.
    * Public entry point: a candidate state layout for the restart-safe serving
    * view (ROADMAP item 7).
    */
  def countAndTotalTws(ds: Dataset[(String, Double)],
      ttl: TTLConfig = TTLConfig.NONE): Dataset[(String, CountAndTotal)] = {
    implicit val outEnc: Encoder[(String, CountAndTotal)] =
      Encoders.tuple(Encoders.STRING, Encoders.product[CountAndTotal])
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    ds.groupByKey(_._1)
      .transformWithState(new CountAndTotalProcessor(ttl),
        TimeMode.None(), OutputMode.Update())
  }
}
