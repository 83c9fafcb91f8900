package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.battery._
import graft.battery.RelationalRows.q14JoinMultiway

/** The t2 query battery, assembled from the per-family
  * [[graft.battery.Row]] lists. Every query name maps SURVEY §2's operator
  * inventory and carries its DuckDB oracle in the same row, so
  * [[queries]] and [[oracleSql]] have one key set by construction.
  */
object SparkEntry {

  private lazy val rows: Seq[Row] = {
    val all = Seq(RelationalRows.rows, DedupRows.rows, VectorRows.rows,
      RetrievalRows.rows, TextRows.rows, PipelineRows.rows,
      ClassifyRows.rows, MediaRows.rows, HeavyRows.rows).flatten
    val dup = all.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(dup.isEmpty, s"battery rows declared twice: ${dup.mkString(", ")}")
    all
  }

  /** One DataFrame builder per battery row. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rows.map(r => r.name -> r.build).toMap

  /** DuckDB twin for each query (column names + ordering match the Spark
    * side exactly; see the determinism rules on [[graft.battery.Row]]).
    */
  def oracleSql: Map[String, String] = rows.map(r => r.name -> r.oracle).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q3-shaped multiway join (SURVEY §2.6 joins).
    */
  def entry(spark: SparkSession): DataFrame =
    q14JoinMultiway(spark, "/root/testdata/sf0.001")
}
