package graft.serving

import java.util.concurrent.ConcurrentSkipListMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** A continuously-maintained, driver-resident serving view — the engine's
  * analog of the reference's queryable RocksDB state store (reference:
  * `streams/PurchasesTopology.java:53-55` `Materialized.as(...)`, read side
  * `services/WordCountService.java:88-108`).
  *
  * Rows arrive from a streaming query's `foreachBatch` upsert (update-mode
  * semantics: latest value per key wins) and are served to the HTTP layer
  * with the reference's three access patterns: point `get`, sorted prefix
  * scan, and full scan (scatter-gather merge is implicit — the driver sees
  * all partitions' state, SURVEY §2.4 Q4).
  *
  * Scale posture: the serving view is the *edge* of the engine — the one
  * place `collect()` is legitimate (SURVEY §7.4). It holds only the
  * aggregated/keyed result (bounded by key cardinality, not input size);
  * the durable copy of that state is the maintenance query's checkpointed
  * state store, which rebuilds this view on restart. Past `maxEntries` the
  * table fails loud ([[ServingTable.CapacityExceeded]]) instead of
  * slow-OOMing the driver on a high-cardinality key stream; a keyspace
  * larger than one driver shards the serving tier by key
  * ([[HttpApi.shard]]), one table per instance.
  */
final class ServingTable(val name: String, val keyCol: String,
    val maxEntries: Int = ServingTable.DefaultMaxEntries) {

  require(maxEntries > 0, "maxEntries must be positive")

  private val state = new ConcurrentSkipListMap[String, Map[String, Any]]()

  /** Upsert one micro-batch (or a batch DataFrame) of keyed rows. When the
    * map is at `maxEntries` and a NEW key arrives this throws
    * [[ServingTable.CapacityExceeded]] (rows already applied stay applied —
    * the maintenance query then fails its batch and surfaces the error,
    * rather than retrying into the same wall).
    */
  def upsert(batch: DataFrame): Unit = {
    val cols = batch.columns.filter(_ != keyCol)
    batch.collect().foreach { row =>
      val k = Option(row.getAs[Any](keyCol)).map(_.toString).getOrElse("null")
      if (state.size() >= maxEntries && !state.containsKey(k))
        throw new ServingTable.CapacityExceeded(name, maxEntries)
      state.put(k, cols.map(c => c -> row.getAs[Any](c)).toMap)
    }
  }

  /** Point lookup (reference: `ReadOnlyKeyValueStore.get`,
    * `WordCountService.java:101`).
    */
  def get(key: String): Option[Map[String, Any]] = Option(state.get(key))

  /** All entries of a key prefix, in key order — the reference encodes
    * this as `range(key + "-00000", key + "-99999")`; a real lexicographic
    * prefix scan is strictly more general.
    */
  def prefix(p: String): Seq[(String, Map[String, Any])] =
    // tailMap positions at the prefix in O(log n); a dropWhile from the
    // first key would make every prefix scan O(total keys)
    state.tailMap(p, true).asScala.iterator
      .takeWhile(_._1.startsWith(p)).toSeq

  /** Full scan (scatter-gather analog, reference:
    * `PurchasesService.java:58-94` — the merge loop disappears because the
    * driver holds every partition's state).
    */
  def all: Seq[(String, Map[String, Any])] = state.asScala.toSeq

  def size: Int = state.size()
}

object ServingTable {

  /** Default key-cardinality bound: ~1M entries of a small aggregate row
    * is on the order of a few hundred MB of driver heap — comfortably
    * inside the default driver sizing, and two orders of magnitude above
    * the reference demo's keyspaces.
    */
  val DefaultMaxEntries: Int = 1 << 20

  final class CapacityExceeded(table: String, max: Int)
      extends IllegalStateException(
        s"serving table '$table' is full ($max entries): the key stream's " +
          "cardinality exceeds the configured bound; raise maxEntries, " +
          "aggregate to a coarser key, or shard the serving tier")
}
