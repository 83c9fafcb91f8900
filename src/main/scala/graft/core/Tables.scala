package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Access to the graft star schema (see `/root/repo/FIXTURES.md` §2).
  *
  * Scans stay fully declarative (`spark.read.parquet`) so Catalyst keeps
  * predicate pushdown, column pruning and partition pruning — check
  * `PushedFilters` / `ReadSchema` in `df.explain("formatted")` when composing.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") rebuildNanosTs(spark, df) else df
  }

  /** events.parquet stores `ts` as parquet TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects ([PARQUET_TYPE_ILLEGAL]). With
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set here defensively and in
    * [[Engine.builder]]) the column arrives as LongType nanos; rebuild it as
    * a micro-precision timestamp with *integer* division — `ts/1000` in SQL
    * is a Double division, and Double's 53-bit mantissa corrupts epoch-nanos
    * (~1.7e18) — truncating exactly like DuckDB's TIMESTAMP_NS->TIMESTAMP
    * cast, so oracle comparisons stay bit-identical at micro precision.
    */
  private def rebuildNanosTs(spark: SparkSession, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.LongType
    if (df.schema.exists(f => f.name == "ts" && f.dataType == LongType))
      // TIMESTAMP_NTZ (session tz is UTC, so the cast is the identity):
      // written back to parquet as isAdjustedToUTC=false, matching how the
      // other fixture tables' naive timestamps round-trip to the oracle
      df.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
    else df
  }

  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
