package graft.serving

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The serving view's explicit cardinality bound: a driver-resident map
  * must fail LOUD on a key stream that outgrows it, not OOM — and updates
  * to existing keys must never trip the guard (update-mode streams rewrite
  * hot keys every batch).
  */
class ServingTableSpec extends AnyFunSuite with Matchers with SparkSpec {

  test("upsert past maxEntries fails loud; existing-key updates never trip") {
    import spark.implicits._
    val t = new ServingTable("bounded", "k", maxEntries = 3)

    t.upsert(Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "n"))
    t.size shouldBe 3

    // rewriting existing keys at the cap is the steady state of an
    // update-mode aggregate — must keep working
    t.upsert(Seq(("a", 10L), ("c", 30L)).toDF("k", "n"))
    t.get("a").get("n") shouldBe 10L

    val ex = intercept[ServingTable.CapacityExceeded] {
      t.upsert(Seq(("b", 20L), ("d", 4L)).toDF("k", "n"))
    }
    ex.getMessage should include("'bounded' is full (3 entries)")
    // rows before the overflowing key stayed applied (fail-loud, not
    // rollback — the maintenance query surfaces the error)
    t.get("b").get("n") shouldBe 20L
    t.get("d") shouldBe None
    t.size shouldBe 3
  }

  test("default bound leaves normal upserts untouched") {
    import spark.implicits._
    val t = new ServingTable("default", "k")
    t.upsert((1 to 100).map(i => (s"k$i", i.toLong)).toDF("k", "n"))
    t.size shouldBe 100
    t.prefix("k1").size shouldBe 12 // k1, k10..k19, k100
    // prefix answers in key order, not upsert order
    t.prefix("k1").map(_._1) shouldBe
      (Seq("k1", "k10", "k100") ++ (11 to 19).map(i => s"k$i"))

    // update-mode semantics: a re-upserted key's LATEST value wins on
    // every read path, and the key is still held once
    t.upsert(Seq(("k10", 1000L), ("k10", 1001L)).toDF("k", "n"))
    t.get("k10").get("n") shouldBe 1001L
    t.prefix("k10").map { case (k, v) => (k, v("n")) } shouldBe
      Seq(("k10", 1001L), ("k100", 100L))
    t.all.collect { case ("k10", v) => v("n") } shouldBe Seq(1001L)
    t.all.map(_._1) shouldBe (1 to 100).map(i => s"k$i").sorted

    // a miss is None on point reads and empty on scans
    t.get("nope") shouldBe None
    t.prefix("nope") shouldBe empty
  }

  test("maxEntries must be positive") {
    an[IllegalArgumentException] should be thrownBy
      new ServingTable("bad", "k", maxEntries = 0)
  }
}
