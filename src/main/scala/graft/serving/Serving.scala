package graft.serving

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Store registry + streaming→serving wiring (SURVEY §7.1 module 6).
  *
  * The reference materializes aggregates into named, queryable state stores
  * and lists them via cluster metadata (`services/MetadataService.java:48-60`).
  * Here a [[ServingTable]] plays the store role and this registry plays the
  * metadata role; the continuous maintenance loop is a Structured Streaming
  * query in update mode whose `foreachBatch` upserts each micro-batch's
  * changed keys into the table.
  *
  * Serving state lives in two places only: the maintenance query's
  * checkpointed state store (durable, partitioned across the cluster) and
  * one in-memory [[ServingTable]] per store (the read view). A table fails
  * loud at its `maxEntries` bound; a keyspace past one driver shards the
  * tier across [[HttpApi]] instances, each maintaining its own key slice.
  */
final class Serving {

  private val tables = TrieMap.empty[String, ServingTable]

  def register(table: ServingTable): ServingTable = {
    tables.put(table.name, table); table
  }

  def table(name: String): Option[ServingTable] = tables.get(name)

  /** Store names, sorted — the `/metadata` listing body. */
  def storeNames: Seq[String] = tables.keys.toSeq.sorted

  /** Start the continuous maintenance query for `aggregated` (an update-mode
    * streaming aggregate, e.g. [[graft.streaming.Topologies.wordCount]] over
    * a streaming source) into a named serving table.
    *
    * Update output mode means each micro-batch delivers exactly the keys
    * whose aggregate changed — the upsert cost is proportional to the
    * *delta*, not the full keyspace, which is what makes the pattern hold
    * when the aggregate itself is large. Checkpointing makes the maintenance
    * loop restartable (reference relies on the changelog topic for the same
    * guarantee, SURVEY §3.1 step 4).
    */
  def maintain(aggregated: DataFrame, name: String, keyCol: String,
      checkpointDir: String): StreamingQuery = {
    val t = register(new ServingTable(name, keyCol))
    aggregated.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: DataFrame, _: Long) => t.upsert(batch))
      .queryName(name)
      .start()
  }
}
