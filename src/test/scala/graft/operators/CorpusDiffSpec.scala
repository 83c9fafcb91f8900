package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Snapshot diffing: all four statuses from one hashed full join. */
class CorpusDiffSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def snap(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("id", "txt")
  }

  test("per-document statuses: added, removed, changed, unchanged") {
    val old = snap(1L -> "same", 2L -> "before", 3L -> "gone")
    val neu = snap(1L -> "same", 2L -> "after", 4L -> "new")
    val out = CorpusDiff.diff(old, neu, "id", "txt")
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    out shouldBe Array((1L, "unchanged"), (2L, "changed"),
      (3L, "removed"), (4L, "added"))
    // identical snapshots: every document unchanged
    CorpusDiff.diff(old, old, "id", "txt").collect()
      .map(_.getString(1)).toSet shouldBe Set("unchanged")
  }
}
