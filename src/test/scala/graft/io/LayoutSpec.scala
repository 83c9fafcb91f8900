package graft.io

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** [[Layout]]'s small-file compaction and its release manifest pair. */
class LayoutSpec extends AnyFunSuite with Matchers with SparkSpec {

  test("compact collapses a many-small-files table and round-trips contents") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-").toString + "/t"
    (1 to 10000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(64).write.parquet(dir)
    def parquetFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    parquetFiles should be >= 32
    val before = spark.read.parquet(dir).as[(Long, String)].collect().toSet

    val n = Layout.compact(spark, dir, targetFileBytes = 512L << 10)
    n should be < 32
    parquetFiles shouldBe n
    spark.read.parquet(dir).as[(Long, String)].collect().toSet shouldBe before
    // no leftover temp/backup dirs
    new java.io.File(dir).getParentFile.listFiles()
      .map(_.getName).count(_.contains("compact-")) shouldBe 0
  }

  test("release manifest: write, verify intact, detect tamper / " +
      "missing / extra files; totals match the dataset") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest-")
      .toString + "/rel"
    (1 to 500).map(i => (i.toLong, s"doc $i")).toDF("id", "txt")
      .repartition(4).write.parquet(dir)
    val n = Layout.writeManifest(spark, dir)
    n should be >= 2
    // manifest totals match the dataset
    val man = scala.io.Source.fromFile(s"$dir/_MANIFEST.json").mkString
    man should include(""""rows":500""")
    Layout.verifyManifest(spark, dir) shouldBe empty
    // tamper: flip a byte inside one data file
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val raf = new java.io.RandomAccessFile(f, "rw")
    try { raf.seek(f.length() / 2); raf.writeByte(0x55) }
    finally raf.close()
    Layout.verifyManifest(spark, dir) shouldBe Seq(f.getName)
    // restore confidence boundary: a MISSING listed file also reports
    f.delete() shouldBe true
    Layout.verifyManifest(spark, dir) shouldBe Seq(f.getName)
    // an EXTRA unlisted parquet file is corruption too, not an append
    val extra = new java.io.File(dir, "zz-extra.parquet")
    java.nio.file.Files.write(extra.toPath, Array[Byte](1, 2, 3))
    Layout.verifyManifest(spark, dir) should contain("zz-extra.parquet")
  }
}
