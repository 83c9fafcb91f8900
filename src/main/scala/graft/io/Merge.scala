package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Upsert (SCD-1 merge) without a table format: last-write-wins per key,
  * expressed as `updates ∪ (target ANTI-JOIN updates)` — one hash shuffle
  * on the key, no full-outer join, no driver round-trip. At 100 TB pair it
  * with a partitioned target and prune both sides to the touched
  * partitions before calling; a real lakehouse table format adds snapshot
  * isolation on top, the merge plan itself is this one.
  */
object Merge {

  /** Plan form: all `updates` rows plus every `target` row whose key has
    * no update. Schemas must match by name (`unionByName`). Delete support:
    * pass tombstone rows in `updates` flagged by `tombstoneCol`; they win
    * the merge (shadowing the target row) and are then dropped, so a
    * delete is "upsert a tombstone".
    *
    * MULTIPLE UPDATE ROWS PER KEY (a CDC batch carrying several versions):
    * pass `versionCol` and only the HIGHEST version per key enters the
    * merge — without it every update row would survive and break the
    * table's key uniqueness (lakehouse MERGE raises on multiple matches
    * for the same reason). Callers without a version column must
    * pre-collapse updates to one row per key.
    */
  def upsert(target: DataFrame, updates: DataFrame, keyCols: Seq[String],
      tombstoneCol: Option[String] = None,
      versionCol: Option[String] = None): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column")
    val ups = versionCol match {
      case Some(v) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*)
          .orderBy(col(v).desc)
        updates.withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1).drop("__rn")
      case None => updates
    }
    val merged = ups.unionByName(
      target.join(ups.select(keyCols.map(col): _*).distinct(),
        keyCols, "left_anti"))
    tombstoneCol match {
      case Some(t) => merged.where(!coalesce(col(t), lit(false))).drop(t)
      case None => merged
    }
  }

  /** Apply an upsert to a parquet path in place, via the same
    * temp-sibling + rename swap as [[Layout.compact]] (a lazy
    * read-then-overwrite of the same path would lose the table). Not
    * atomic for concurrent readers — same caveat as compact. A missing
    * target is an empty table: the updates become its first contents.
    */
  def upsertWrite(spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], tombstoneCol: Option[String] = None,
      versionCol: Option[String] = None): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) {
      val merged = upsert(updates.limit(0), updates, keyCols, tombstoneCol, versionCol)
      merged.write.mode("overwrite").parquet(path)
      return
    }
    val target = spark.read.parquet(path)
    val merged = upsert(target, updates, keyCols, tombstoneCol, versionCol)
    Swap.swapInto(spark, path, "merge") { tmp =>
      merged.write.mode("overwrite").parquet(tmp)
    }
  }

  /** Continuous parquet upsert — the durable twin of
    * [[graft.serving.Serving.maintain]]'s in-memory serving view: each
    * micro-batch of an UPDATE-mode streaming aggregate (exactly the keys
    * whose value changed) merges into the parquet table via
    * [[upsertWrite]].
    *
    * Exactly-once to the table through stop/restart: the checkpoint
    * replays at-least-once, and the merge is idempotent — a replayed
    * micro-batch carries the same per-key latest values, so re-upserting
    * it rewrites identical rows rather than duplicating or double-counting
    * (the spec drives a kill/restart to pin this). The table stays one row
    * per key, queryable by any reader between batches.
    * Public entry point: streaming maintenance of a merged parquet table.
    */
  def maintainParquet(aggregated: DataFrame, path: String,
      keyCols: Seq[String], checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    aggregated.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: DataFrame, _: Long) =>
        upsertWrite(batch.sparkSession, path, batch, keyCols))
      .start()
}
