package graft.battery

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One battery row: the query `name`, its DataFrame builder over
  * (session, scale-factor directory), and its DuckDB `oracle` — SQL over
  * the same fixture tables with IDENTICAL column names and row order.
  * The oracle is built on first use, so assembling the builders never
  * pays for the SQL.
  *
  * Cross-engine determinism rules used throughout the battery:
  *   - Double SUMs go through DECIMAL(38,9) (exact arithmetic, so shuffle
  *     order cannot perturb the result) and cast back to DOUBLE. On the
  *     DuckDB side the decimal is cast VARCHAR-then-DOUBLE: DuckDB's direct
  *     decimal->double cast is not correctly rounded once the unscaled
  *     value passes 2^53 (observed 1-ulp drift at sf0.1 sums ~1e10), while
  *     its string->double parse — like Spark's Decimal.toDouble — is;
  *   - every query ends in a total ORDER BY with a unique tiebreaker;
  *   - cosine similarities are rounded to 4 decimals before compare/sort.
  */
final class Row(val name: String,
    val build: (SparkSession, String) => DataFrame, oracleSql: => String) {
  lazy val oracle: String = oracleSql
}

object Row {
  def apply(name: String, build: (SparkSession, String) => DataFrame,
      oracle: => String): Row = new Row(name, build, oracle)
}
