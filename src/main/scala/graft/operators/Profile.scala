package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column profiling — the "know your data before training on it" pass: per
  * column, the null count, distinct count, and min/max (rendered as
  * strings so mixed-type profiles share one schema), plus the table row
  * count on every row for context.
  *
  * Shape: ONE scan. All per-column aggregates run in a single `agg` (one
  * aggregation over the table), and the wide one-row result is unpivoted
  * to a row per column with a map-only `stack`. Exact distinct counts
  * plan through Spark's Expand (a data duplication per distinct column) —
  * the right default for profile-sized column lists and the only form an
  * external engine can replay exactly; pass `approxDistinct = true` at
  * 100 TB to swap in `approx_count_distinct` (HLL, no Expand),
  * spec-gated for tolerance rather than oracle-gated.
  */
object Profile {

  def profile(df: DataFrame, columns: Seq[String],
      approxDistinct: Boolean = false): DataFrame = {
    require(columns.nonEmpty, "at least one column to profile")
    columns.foreach(c => require(df.columns.contains(c), s"no column $c"))
    def nDistinct(c: Column): Column =
      if (approxDistinct) approx_count_distinct(c) else count_distinct(c)
    // Backquote wherever a name is parsed (col() reads dots as struct
    // access; expr() chokes on dashes) so columns that aren't bare
    // identifiers profile correctly.
    def bq(n: String): String = "`" + n.replace("`", "``") + "`"
    // count(when(...)) so an empty table profiles to 0 nulls, not NULL
    // (sum over zero rows is NULL); matches the count(*)-count(col) oracle.
    val aggs: Seq[Column] = count(lit(1)).as("__rows") +: columns.flatMap(c =>
      Seq(
        count(when(col(bq(c)).isNull, lit(1))).as(s"__nulls_$c"),
        nDistinct(col(bq(c))).as(s"__distinct_$c"),
        min(col(bq(c))).cast("string").as(s"__min_$c"),
        max(col(bq(c))).cast("string").as(s"__max_$c")))
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // unpivot the one-row wide result: stack is map-only over one row
    val stackArgs = columns.map(c =>
      s"'${c.replace("'", "''")}', ${bq(s"__nulls_$c")}, ${bq(s"__distinct_$c")}, " +
        s"${bq(s"__min_$c")}, ${bq(s"__max_$c")}").mkString(", ")
    wide.select(col("__rows").as("n_rows"), expr(
      s"stack(${columns.size}, $stackArgs) AS (col_name, n_nulls, n_distinct, min_v, max_v)"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_v"), col("max_v"))
  }

  /** Adaptive per-group floor: keep rows at or above their OWN group's
    * q-quantile of `valueCol` — the per-language quality gate a
    * multilingual corpus needs, where one global threshold over-filters
    * low-resource languages whose score distribution simply sits lower
    * (CCNet filters per language for exactly this reason).
    *
    * Shape: the thresholds are one hash aggregate producing a row per
    * group, broadcast back onto the scan — the corpus itself never
    * shuffles. Exact interpolated percentile so an external engine can
    * replay membership (q108); thresholds are rounded to 9 decimals so
    * the boundary comparison agrees bit-for-bit cross-engine. At 100 TB
    * swap in [[groupQuantileFloorApprox]]: same shape with
    * `approx_percentile`, tolerance-gated in `ProfileSpec` rather than
    * oracle-replayed.
    */
  def groupQuantileFloor(df: DataFrame, groupCol: String, valueCol: String,
      q: Double): DataFrame =
    floorBy(df, groupCol, valueCol,
      call_function("percentile", col(valueCol), lit(q)))

  /** [[groupQuantileFloor]] with the sketch-based percentile — no exact
    * sort state per group, the 100 TB form.
    */
  def groupQuantileFloorApprox(df: DataFrame, groupCol: String,
      valueCol: String, q: Double): DataFrame =
    floorBy(df, groupCol, valueCol,
      percentile_approx(col(valueCol), lit(q), lit(10000)))

  private def floorBy(df: DataFrame, groupCol: String, valueCol: String,
      quantile: Column): DataFrame = {
    val thr = df.groupBy(col(groupCol))
      .agg(round(quantile, 9).as("__thr"))
    df.join(broadcast(thr), Seq(groupCol))
      .where(col(valueCol) >= col("__thr"))
      .drop("__thr")
  }
}
