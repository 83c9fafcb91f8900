package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Sink abstraction — the engine's `Produced` analog (reference:
  * `streams/WordCountTopology.java:36` `Produced.with(Serdes.String(),
  * Serdes.Long())`, JSON sink `streams/PurchasesTopology.java:70`).
  *
  * [[Sinks.jsonRecords]] is the serde step: any keyed DataFrame becomes the
  * `(key STRING, value STRING)` wire framing with a JSON value — what
  * `GsonSerde.java:20-25` did per record, here a codegen'd `to_json` over
  * the whole batch. Sinks then write that framing to files (test/batch
  * tier) or Kafka (production tier; connector jar required at runtime).
  */
object Sinks {

  /** Frame a DataFrame as (key, value<json of all non-key columns>).
    * Public entry point: the reference's JSON sink framing, pending the
    * runnable service (ROADMAP item 10).
    */
  def jsonRecords(df: DataFrame, keyCol: String): DataFrame = {
    val payload = df.columns.filter(_ != keyCol).map(col)
    df.select(col(keyCol).cast("string").as("key"),
      to_json(struct(payload.toSeq: _*)).as("value"))
  }
}

sealed trait RecordSink {
  def write(df: DataFrame): Unit
  def writeStream(df: DataFrame, checkpointDir: String,
      outputMode: String = "append"): StreamingQuery
}

/** File-backed sink (S3/S4 batch/test tier): any Spark file format. */
final case class FileSink(
    path: String,
    format: String = "parquet",
    options: Map[String, String] = Map.empty) extends RecordSink {

  override def write(df: DataFrame): Unit =
    df.write.format(format).options(options).mode("overwrite").save(path)

  override def writeStream(df: DataFrame, checkpointDir: String,
      outputMode: String = "append"): StreamingQuery =
    df.writeStream.format(format).options(options)
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .option("path", path)
      .start()
}

/** Kafka sink — production wiring point; see [[KafkaSource]] caveat. */
final case class KafkaSink(
    bootstrapServers: String,
    topic: String) extends RecordSink {

  override def write(df: DataFrame): Unit =
    df.write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .save()

  override def writeStream(df: DataFrame, checkpointDir: String,
      outputMode: String = "append"): StreamingQuery =
    df.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .start()
}
