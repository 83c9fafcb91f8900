package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues}

import graft.model.CountAndTotal

/** Custom stateful operators (SURVEY §2.6 "Stateful custom ops") — the
  * engine's Processor-API surface. The reference's only custom processor is
  * a pass-through that captures record context
  * (`resilience/RetrieveContextTransformer.java:9-22`); the north-star scope
  * needs real keyed state beyond built-in aggregation, expressed on Spark's
  * public `flatMapGroupsWithState` API so state lives in the streaming state
  * store (checkpointed, partitioned by key — scales with the cluster, not
  * the driver).
  */
object StatefulOps {

  /** Streaming first-seen dedup: emit each key's first record, drop every
    * later one — `dropDuplicates` semantics but with explicit, inspectable
    * state.
    *
    * Works in batch too (state is trivially empty): dedups within the
    * batch, which is exactly the batch twin's meaning. State here never
    * expires: one marker per key ever seen.
    */
  def firstSeen[K, V](ds: Dataset[V])(key: V => K)(
      implicit ke: Encoder[K], ve: Encoder[V]): Dataset[V] = {
    implicit val stateEnc: Encoder[Long] = Encoders.scalaLong
    ds.groupByKey(key).flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
      (_: K, values: Iterator[V], state: GroupState[Long]) =>
        if (state.exists) Iterator.empty
        else {
          state.update(1L)
          Iterator.single(values.next())
        }
    }
  }

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

  /** Run [[CountAndTotalProcessor]] over a keyed (key, quantity) stream. */
  def countAndTotalTws(ds: Dataset[(String, Double)],
      ttl: TTLConfig = TTLConfig.NONE): Dataset[(String, CountAndTotal)] = {
    implicit val outEnc: Encoder[(String, CountAndTotal)] =
      Encoders.tuple(Encoders.STRING, Encoders.product[CountAndTotal])
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    ds.groupByKey(_._1)
      .transformWithState(new CountAndTotalProcessor(ttl),
        TimeMode.None(), OutputMode.Update())
  }

  /** One conversation turn, as fed to [[conversationTws]]. */
  case class Turn(key: String, ts: Long, seq: Long, role: String,
      content: String)

  /** One assembled transcript emission. */
  case class Transcript(key: String, n_turns: Long, n_kept: Long,
      tokens_kept: Long, transcript: String)

  /** Streaming twin of [[graft.operators.Conversations.assemble]]:
    * per-conversation state holds the turns the token budget can still
    * reach, new turns merge in (ts, seq) order, and every micro-batch
    * emits the key's UPDATED budgeted transcript — the SFT-prep
    * assembly running continuously over an event stream.
    *
    * State is BOUNDED BY THE BUDGET, not the stream: once newer turns
    * hold the full budget, older turns can never re-enter the kept
    * suffix (token counts are non-negative, suffix sums only grow), so
    * eviction at trim time is safe and a conversation's state never
    * exceeds ~budget tokens + one oversized head — the 100 TB posture.
    * A turn arriving LATE (older than everything the budget reaches)
    * trims immediately; batch ≡ streaming equivalence therefore holds
    * exactly (spec-pinned against the batch operator on the union of
    * micro-batches), because the batch walk would discard it too.
    */
  class ConversationProcessor(tokenBudget: Long)
      extends StatefulProcessor[String, Turn, Transcript] {
    require(tokenBudget > 0, "tokenBudget must be positive")

    @transient private var turns:
      org.apache.spark.sql.streaming.ValueState[Vector[Turn]] = _
    @transient private var total:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      turns = getHandle.getValueState[Vector[Turn]]("turns",
        Encoders.kryo[Vector[Turn]], TTLConfig.NONE)
      total = getHandle.getValueState[Long]("total",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    private def tok(t: Turn): Long =
      t.content.split("\\s+").count(_.nonEmpty).toLong

    override def handleInputRows(key: String, rows: Iterator[Turn],
        timers: TimerValues): Iterator[Transcript] = {
      val incoming = rows.toVector
      val merged = ((if (turns.exists()) turns.get() else Vector.empty)
        ++ incoming).sortBy(t => (t.ts, t.seq))
      // trim from the head: keep the maximal recent suffix <= budget,
      // plus nothing else — evicted turns are unreachable forever
      var sum = 0L; var keep = 0
      val it = merged.reverseIterator
      while (it.hasNext && { val t = it.next(); sum += tok(t); sum <= tokenBudget })
        keep += 1
      val kept = merged.takeRight(keep)
      turns.update(kept)
      val n = (if (total.exists()) total.get() else 0L) + incoming.size
      total.update(n)
      Iterator.single(Transcript(key, n, kept.size.toLong,
        kept.map(tok).sum,
        kept.map(t => s"${t.role}: ${t.content}").mkString("\n")))
    }
  }

  /** Run [[ConversationProcessor]] over a [[Turn]] stream. */
  def conversationTws(ds: Dataset[Turn],
      tokenBudget: Long): Dataset[Transcript] = {
    implicit val outEnc: Encoder[Transcript] = Encoders.product[Transcript]
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    ds.groupByKey(_.key)
      .transformWithState(new ConversationProcessor(tokenBudget),
        TimeMode.None(), OutputMode.Update())
  }
}
