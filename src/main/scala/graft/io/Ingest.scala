package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Ingest-edge resilience: the reference's poison-pill posture (SURVEY
  * §2.5 R1 — skip the bad record, keep the pipeline alive, never retry a
  * deterministic failure) applied to DESERIALIZATION. A record whose value
  * does not parse is routed to a dead-letter frame with its raw bytes
  * preserved for forensics; everything else continues as typed columns.
  *
  * Works identically on batch and streaming frames (pure per-row
  * expressions), and on any record framing with a string value column —
  * files read as text, or the Kafka source's `value` — because the parse
  * is `from_json` over the value, not a format reader option.
  */
object Ingest {

  /** Split records into (parsed-ok, dead-letter). `ok` carries the parsed
    * schema columns plus any passthrough columns; `dead` carries the
    * original row untouched. A value that is not a JSON object matching
    * ANY part of the schema dead-letters — as does a NULL value (a Kafka
    * tombstone is not a parseable document); a value with missing/extra
    * fields parses permissively (absent fields null) — the same tolerance
    * as the reference's Gson serde. A binary value column (e.g. the Kafka
    * source's raw `value`) is cast to string before parsing.
    * Public entry point: the reference's poison-pill dead-lettering, pending
    * the runnable service (ROADMAP item 10).
    */
  def jsonDeadLetterSplit(records: DataFrame, valueCol: String,
      schemaDDL: String): (DataFrame, DataFrame) = {
    val schema = StructType.fromDDL(schemaDDL)
    // PERMISSIVE from_json yields an all-null STRUCT (not a null struct)
    // for garbage, indistinguishable from a legitimately-all-null doc —
    // the corrupt-record column is the reliable malformed signal. The
    // sentinel is randomized so neither the caller's schema nor a document
    // FIELD of the same name can collide with it (a well-formed document
    // carrying the sentinel field would parse INTO the corrupt column and
    // false-positive to the dead letter).
    val corruptCol = "__corrupt_" + java.util.UUID.randomUUID().toString.take(8)
    val parsed = records.withColumn("__parsed",
      from_json(col(valueCol).cast("string"),
        schema.add(corruptCol, org.apache.spark.sql.types.StringType),
        Map("columnNameOfCorruptRecord" -> corruptCol)))
    val malformed = col(s"__parsed.$corruptCol").isNotNull || col(valueCol).isNull
    val ok = parsed.where(!malformed)
      .select((records.columns.filter(_ != valueCol).map(col).toSeq ++
        schema.fieldNames.map(f => col(s"__parsed.$f"))): _*)
    val dead = parsed.where(malformed).drop("__parsed")
    (ok, dead)
  }
}
