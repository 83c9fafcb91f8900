package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, min, slice}

import graft.SparkEntry
import graft.functions.TextFunctions
import graft.operators.LexicalIndex
import graft.io.Spill

/** `batch`: battery rows (the plan's `rows`), each run exactly as the
  * engine's own battery harness runs a row — build the DataFrame through
  * `SparkEntry.queries`, execute it into the `noop` sink — with
  * `Spill.releaseAll()` after the row, outside the timed window.
  *
  * Like `graft.Bench`, a warm-up pass over the rows comes first: it pays
  * the JVM's JIT and code-generation warm-up, which follows the host's
  * load more than the engine's work, and counts as set-up (`warm_s`). It
  * executes each row into parquet instead of `noop`, so run.py can digest
  * the results against the oracle. Then a fixed number of timed passes
  * (`passes`) over the same rows; each row reports its fastest pass,
  * since a busy host only ever adds time. The count is fixed, not derived
  * from `seconds`, because warming goes on over the first passes: a
  * faster engine must not buy itself warmer passes. The traced run also
  * times, in process, the `LexicalIndex` calls behind every
  * `/search/bm25` request.
  */
object Batch {
  /** One row, its DataFrame executed by `sink`: its wall ms. */
  private def row(spark: SparkSession, ctx: Ctx, name: String, dir: String,
      trace: String)(sink: DataFrame => Unit): Double = {
    val (build, exec) = try ctx.spans.timed("battery.row", trace,
        attrs = Map("row" -> name)) { id =>
      val t0 = Clock.ms()
      val df = ctx.spans.timed("battery.build", trace, id)(_ =>
        SparkEntry.queries(name)(spark, dir))
      val t1 = Clock.ms()
      ctx.spans.timed("battery.exec", trace, id)(_ => sink(df))
      (t1 - t0, Clock.ms() - t1)
    } finally Spill.releaseAll()
    Util.log(f"$trace: build $build%.0f ms, exec $exec%.0f ms")
    build + exec
  }

  def run(spark: SparkSession, ctx: Ctx): Map[String, Any] = {
    val rows = ctx.plan.get("rows").elements().asScala.map(_.asText()).toSeq
    val dir = ctx.path("tables")
    // the warm-up pass executes each row into parquet, for the digest
    val warm = rows.map(n => row(spark, ctx, n, dir, s"warm/$n")(
      _.write.mode("overwrite").parquet(ctx.work.resolve("out").resolve(n).toString))).sum

    // each timed pass: every row's wall ms
    val passes = (0 until ctx.int("passes")).map(p => rows.map(n =>
      row(spark, ctx, n, dir, s"$n/$p")(_.write.format("noop").mode("overwrite").save())))
    val best = rows.indices.map(i => passes.map(_(i)).min)

    // traced run: an index build and a one-query indexed BM25, as a
    // `/search/bm25` request runs it, on the same corpus
    if (ctx.spans.enabled) {
      val docs = spark.read.parquet(s"$dir/documents.parquet").repartition(32)
      val index = ctx.work.resolve("index").toString
      for (i <- 1 to 3) ctx.spans.timed("operators.index_build", s"index/$i")(_ =>
        LexicalIndex.write(docs, "doc_id", "text", index, nBuckets = 16))
      val query = docs.where(col("doc_id") === docs.agg(min("doc_id")).first().getLong(0))
        .select(col("doc_id"), slice(TextFunctions.words(col("text")), 1, 8).as("qterms"))
      for (i <- 1 to 3) ctx.spans.timed("operators.bm25_indexed", s"bm25/$i")(_ =>
        LexicalIndex.bm25TopKIndexed(spark, index, query, "doc_id", "qterms", 5).collect())
    }
    Map("correct" -> true, "heap_live_mb" -> Util.heapLiveMb(), "warm_s" -> warm / 1000,
      "rows" -> rows.zip(best).map { case (n, ms) => Map("row" -> n, "best_ms" -> ms) },
      "pass_ms" -> passes.map(_.sum).toSeq,
      "attempted" -> rows.size * passes.size, "failed" -> 0, "latency_ms" -> best,
      "throughput_rps" -> rows.size / (best.sum / 1000), "wall_s" -> best.sum / 1000)
  }
}
