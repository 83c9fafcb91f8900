package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Skew salting equivalence: salted aggregate and join == the plain forms. */
class SkewMultimodalSpec extends AnyFunSuite with Matchers with SparkSpec {

  test("saltedAgg == directAgg on a skewed key distribution") {
    import spark.implicits._
    // 90% of rows on one hot key
    val rows = (1 to 2000).map { i =>
      val k = if (i % 10 != 0) "hot" else s"cold-${i % 37}"
      (k, (i % 100) * 0.25)
    }
    val df = rows.toDF("k", "v").repartition(8)

    val direct = Skew.directAgg(df, "k", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = Skew.saltedAgg(df, "k", "v", buckets = 16)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    salted shouldBe direct
  }

  test("saltedJoinKeys matches the plain equi-join row-for-row") {
    import spark.implicits._
    val probe = (1 to 500).map(i => (if (i % 5 != 0) "hot" else "cold", i)).toDF("k", "v")
    val build = Seq(("hot", 10), ("cold", 20)).toDF("k", "w")

    val plain = probe.join(build, "k")
      .select("k", "v", "w").collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val (p, b, cond) = Skew.saltedJoinKeys(probe, build, "k", buckets = 4)
    val saltedJoin = p.join(b, cond)
      .select(p("k"), p("v"), b("w")).collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    saltedJoin shouldBe plain
  }
}
