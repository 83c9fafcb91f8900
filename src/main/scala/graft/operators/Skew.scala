package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit skew mitigation for aggregations (SURVEY §4.1: the reference's
  * composite-key design exists to spread a skewed per-customer stream;
  * Spark's AQE handles skewed *joins* at runtime, but a single hot GROUP BY
  * key still funnels every row of that key through one reduce task).
  *
  * [[saltedAgg]] is the classic two-phase rewrite: aggregate on
  * (key, salt) first — the hot key's rows spread over `buckets` reduce
  * tasks — then combine the partials per key. Correct for any algebraic
  * aggregate (here count/sum); results are identical to the direct groupBy.
  */
object Skew {

  /** count + sum per key, salted into `buckets` partial groups.
    *
    * Phase 1 shuffles on (key, pmod(hash-ish salt, buckets)) — the salt is
    * derived from `spark_partition_id` + a per-row monotonic id so it needs
    * no extra column and stays deterministic *in aggregate* (any salt
    * assignment yields the same final sums).
    */
  def saltedAgg(df: DataFrame, keyCol: String, valueCol: String,
      buckets: Int = 32): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    val salted = df.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(buckets.toLong)))
    salted
      .groupBy(col(keyCol), col("__salt"))
      .agg(count(lit(1)).as("__cnt"),
        sum(col(valueCol).cast("decimal(38,9)")).as("__sum"))
      .groupBy(col(keyCol))
      .agg(sum(col("__cnt")).as("count"),
        sum(col("__sum")).cast("double").as("total"))
  }

  /** Direct (unsalted) twin for equivalence checks and small keyspaces.
    * Public entry point: reference twin that `SkewMultimodalSpec` compares
    * [[saltedAgg]] with.
    */
  def directAgg(df: DataFrame, keyCol: String, valueCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("count"),
        sum(col(valueCol).cast("decimal(38,9)")).cast("double").as("total"))

  /** Salt one side of a hot-key equi-join by replicating the build side:
    * each probe row gets a random-ish salt in [0, buckets); the build side
    * is exploded `buckets` times so every (key, salt) probe partition finds
    * its match. AQE's skew-join split usually makes this unnecessary — use
    * it when the skew is known ahead of time and AQE's post-hoc split is
    * too late (e.g. the first shuffle already OOMs).
    */
  def saltedJoinKeys(probe: DataFrame, build: DataFrame, keyCol: String,
      buckets: Int = 8): (DataFrame, DataFrame, Column) = {
    val p = probe.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(buckets.toLong)).cast("int"))
    val b = build.withColumn("__salt",
      explode(array((0 until buckets).map(lit): _*)))
    (p, b, p(keyCol) === b(keyCol) && p("__salt") === b("__salt"))
  }
}
