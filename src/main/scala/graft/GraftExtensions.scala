package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions

/** Cluster-wide injection point for graft's custom expressions — the
  * idiomatic way to ship a function library to every session of a real
  * deployment (SURVEY §2.6 UDF/UDAF surface):
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * [[graft.core.Engine.builder]] applies the same extension to every
  * session it builds, so local tools, tests and clusters run one function
  * set and one optimizer.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinPrefilter)
  }
}
