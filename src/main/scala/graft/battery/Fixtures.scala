package graft.battery

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** The DataFrame-side helpers every battery family builds on. */
object Fixtures {
  /** Exact decimal-backed sum of a double column, returned as double. */
  private[battery] def dsum(c: Column): Column = sum(c.cast("decimal(38,9)")).cast("double")

  /** The fixture table `name` under the scale-factor directory `dir`. */
  private[battery] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)
}
