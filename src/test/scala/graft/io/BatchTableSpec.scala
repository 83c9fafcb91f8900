package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The `batch=<id>` history protocol the incremental operators share:
  * replay exclusion, the missing-table and all-numeric-id reads, and the
  * one compaction scaffold under both an idempotent and an additive fold.
  */
class BatchTableSpec extends AnyFunSuite with Matchers with SparkSpec {
  import spark.implicits._

  private def table(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-bt-$name").toString + "/t"

  private def rows(df: DataFrame): Set[(String, Long)] =
    df.as[(String, Long)].collect().toSet

  test("a replayed batch id is excluded from its own history") {
    val t = table("replay")
    BatchTable.overwrite(Seq(("a", 1L)).toDF("k", "v"), t, "b1")
    BatchTable.overwrite(Seq(("b", 2L)).toDF("k", "v"), t, "b2")
    // the replay of b2 sees only b1, before and after rewriting itself
    rows(BatchTable.history(spark, t, "k STRING, v BIGINT", "b2")) shouldBe
      Set(("a", 1L))
    BatchTable.overwrite(Seq(("c", 3L)).toDF("k", "v"), t, "b2")
    rows(BatchTable.history(spark, t, "k STRING, v BIGINT", "b2")) shouldBe
      Set(("a", 1L))
    // a later batch sees b2's LAST attempt only, never both attempts
    rows(BatchTable.history(spark, t, "k STRING, v BIGINT", "b3")) shouldBe
      Set(("a", 1L), ("c", 3L))
  }

  test("a missing table reads as an empty frame of the given schema") {
    val h = BatchTable.history(spark, table("missing"),
      "fp STRING, cnt BIGINT", "b1")
    h.schema.toDDL shouldBe
      org.apache.spark.sql.types.StructType.fromDDL("fp STRING, cnt BIGINT").toDDL
    h.count() shouldBe 0
  }

  test("all-numeric batch ids read as strings") {
    val t = table("numeric")
    BatchTable.overwrite(Seq(("a", 1L)).toDF("k", "v"), t, "0")
    BatchTable.overwrite(Seq(("b", 2L)).toDF("k", "v"), t, "1")
    // inferred partition values would type `batch` as int here and the
    // comparison against a non-numeric id would fail or drop everything
    rows(BatchTable.history(spark, t, "k STRING, v BIGINT", "oneshot-x")) shouldBe
      Set(("a", 1L), ("b", 2L))
    rows(BatchTable.history(spark, t, "k STRING, v BIGINT", "1")) shouldBe
      Set(("a", 1L))
    BatchTable.batchId(null) should startWith("oneshot-")
    BatchTable.batchId("7") shouldBe "7"
  }

  test("a distinct fold and a sum fold compact with identical reads") {
    def fill(t: String): Unit = Seq("b1", "b2", "b3").zipWithIndex.foreach {
      case (b, i) =>
        BatchTable.overwrite(Seq(("x", 1L), (s"k$i", i.toLong)).toDF("k", "v"), t, b)
    }
    def dirs(t: String): Seq[String] = {
      val root = new Path(t)
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(root).map(_.getPath.getName).filter(_.startsWith("batch=")).toSeq
    }
    val distinctT = table("distinct")
    fill(distinctT)
    val distinctBefore = BatchTable.history(spark, distinctT,
      "k STRING, v BIGINT", "b3").distinct()
    val want = rows(distinctBefore)
    BatchTable.compact(spark, distinctT, "b3", 128L << 20)(_.distinct()) should be >= 1
    rows(BatchTable.history(spark, distinctT, "k STRING, v BIGINT", "b3")
      .distinct()) shouldBe want
    dirs(distinctT) should contain("batch=b3")
    dirs(distinctT).count(_.startsWith("batch=compact-")) shouldBe 1
    dirs(distinctT) should have size 2

    val sumT = table("sum")
    fill(sumT)
    def sums(t: String) = rows(BatchTable.history(spark, t, "k STRING, v BIGINT", "b3")
      .groupBy("k").agg(sum("v").as("v")))
    val sumBefore = sums(sumT)
    BatchTable.compactSumFold(spark, sumT, Seq("k"), "v", excludeBatch = "b3") should be >= 1
    sums(sumT) shouldBe sumBefore
    dirs(sumT) should contain("batch=b3")
    dirs(sumT) should have size 2
    // a second compaction with nothing new to fold changes neither read
    BatchTable.compact(spark, distinctT, "b3", 128L << 20)(_.distinct())
    BatchTable.compactSumFold(spark, sumT, Seq("k"), "v", excludeBatch = "b3")
    rows(BatchTable.history(spark, distinctT, "k STRING, v BIGINT", "b3")
      .distinct()) shouldBe want
    sums(sumT) shouldBe sumBefore
  }

  test("a crash between fold-write and source-delete recovers for a distinct fold") {
    val t = table("crash")
    val root = new Path(t)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    BatchTable.overwrite(Seq(("a", 1L), ("x", 9L)).toDF("k", "v"), t, "b1")
    BatchTable.overwrite(Seq(("b", 2L), ("x", 9L)).toDF("k", "v"), t, "b2")
    val fold: DataFrame => DataFrame = _.distinct()
    def read = BatchTable.history(spark, t, "k STRING, v BIGINT", "none")
    val truth = read.as[(String, Long)].collect().sorted.toSeq

    // crash state: completed fold + its sources + the marker (the process
    // died after the fold's write, before deleting the sources)
    fold(spark.read.parquet(s"$t/batch=b1", s"$t/batch=b2"))
      .write.parquet(s"$t/batch=compact-crashed")
    val marker = new Path(root, "_compact_inflight")
    val out = fs.create(marker, true)
    out.write("batch=compact-crashed\nbatch=b1\nbatch=b2".getBytes("UTF-8"))
    out.close()
    BatchTable.compact(spark, t, null, 128L << 20)(fold)
    fs.exists(marker) shouldBe false
    fs.exists(new Path(root, "batch=b1")) shouldBe false
    fs.exists(new Path(root, "batch=b2")) shouldBe false
    // the recovered table holds each row once, as the sources did together
    read.as[(String, Long)].collect().sorted.toSeq shouldBe truth.distinct

    // partial fold (no _SUCCESS) under the marker: rolled back, sources kept
    BatchTable.overwrite(Seq(("c", 3L)).toDF("k", "v"), t, "b3")
    fs.mkdirs(new Path(root, "batch=compact-partial"))
    val out2 = fs.create(marker, true)
    out2.write("batch=compact-partial\nbatch=b3".getBytes("UTF-8"))
    out2.close()
    BatchTable.compact(spark, t, "b3", 128L << 20)(fold)
    fs.exists(new Path(root, "batch=compact-partial")) shouldBe false
    fs.exists(new Path(root, "batch=b3")) shouldBe true
    fs.exists(marker) shouldBe false
    read.where(col("k") === "c").count() shouldBe 1
  }
}
