package graft.core

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** [[Jobs.parallel]] failure semantics: a failed item rethrows only after
  * its in-flight siblings finish, so no Spark job outlives the call.
  */
class JobsSpec extends AnyFunSuite with Matchers with SparkSpec {

  test("a failure waits for the sibling inside a Spark job, then " +
      "rethrows with no job left running") {
    val sc = spark.sparkContext
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Jobs.parallel(sc, Seq(0, 1), maxInFlight = 2) {
        case 0 =>
          sc.parallelize(1 to 4, 4).map { x => Thread.sleep(1500); x }
            .collect()
          siblingDone.set(true)
        case _ =>
          Thread.sleep(200)
          throw new IllegalStateException("boom")
      }
    }
    e.getMessage shouldBe "boom"
    siblingDone.get shouldBe true
    sc.statusTracker.getActiveJobIds shouldBe empty
  }

  test("the first failure wins and items queued behind it never start") {
    val started = new AtomicBoolean(false)
    val e = intercept[IllegalArgumentException] {
      Jobs.parallel(spark.sparkContext, Seq(0, 1, 2), maxInFlight = 1) {
        case 0 => throw new IllegalArgumentException("first")
        case _ => started.set(true)
      }
    }
    e.getMessage shouldBe "first"
    started.get shouldBe false
  }

  test("results keep item order") {
    Jobs.parallel(spark.sparkContext, 1 to 6, maxInFlight = 3) { i =>
      Thread.sleep((7 - i) * 20L); i * i
    } shouldBe Seq(1, 4, 9, 16, 25, 36)
  }
}
