package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.functions.TextFunctions

/** The injectivity precondition behind [[Dedup.ngramJaccardPairs]]'s
  * hashed shuffle keys: on every fixture SF and each shingle width the
  * battery uses, the corpus's distinct word shingles and their distinct
  * xxhash64 values are equally many — so hashed-key pair building is
  * bit-identical to the string-key pair building the DuckDB oracle
  * replays. A fixture or tokenizer change that introduces a collision
  * fails here instead of silently breaking oracle parity.
  */
class ShingleHashSpec extends AnyFunSuite with Matchers with SparkSpec {

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); n <- Seq(2, 3))
    test(s"xxhash64 is injective on the $sf documents' $n-word shingles") {
      val docs = graft.core.Tables.load(spark, s"/root/testdata/$sf",
        "documents")
      val row = docs
        .select(TextFunctions.words(col("text")).as("w"))
        .where(org.apache.spark.sql.functions.size(col("w")) >= n)
        .select(explode(TextFunctions.wordShingles(col("w"), n)).as("s"))
        .distinct()
        .agg(count(lit(1)), countDistinct(xxhash64(col("s"))))
        .first()
      row.getLong(0) should be > 0L
      row.getLong(1) shouldBe row.getLong(0)
    }
}
