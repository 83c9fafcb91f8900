package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local SparkSession for the test suites — one session per forked
  * test JVM (suites run sequentially in sbt's single fork), sized small so
  * streaming micro-batches don't pay 32-task shuffles on 10-row fixtures.
  */
trait SparkSpec { self: Suite =>
  lazy val spark: SparkSession = SparkSpec.session

  /** Fresh checkpoint dir per call (streaming queries must not share one). */
  def checkpoint(): String =
    Files.createTempDirectory("graft-ckpt").toString
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.core.Engine.builder("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
