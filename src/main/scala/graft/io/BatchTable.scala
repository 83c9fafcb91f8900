package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

/** The replay-safe batch table: the ONE home of the `batch=<id>` history
  * protocol the incremental operators (the `Dedup.incremental*` family,
  * `NaiveBayes.trainIncremental`) keep their cross-run state in. A fed
  * batch [[overwrite]]s its own directory and its [[history]] read
  * EXCLUDES that directory, so a replayed batch never sees its own first
  * attempt (which would e.g. mark its documents seen and drop them
  * forever, or double-count them); callers materialize their result
  * before the overwrite, so the returned plan cannot re-read a history
  * that already holds the batch. Deterministic recompute plus an
  * overwrite keyed by the batch id makes a retry invisible.
  */
object BatchTable {

  /** `id`, or a fresh one-shot id when the caller has none (no replay
    * exists to collide with).
    */
  def batchId(id: String): String =
    Option(id).getOrElse(
      "oneshot-" + java.util.UUID.randomUUID().toString.take(12))

  /** Every batch directory under `path` except `exclude`, read with the
    * explicit schema `ddl` (the `batch` column dropped). The schema is
    * explicit because partition-value inference would type `batch` as int
    * when every existing directory id happens to be numeric (streaming
    * epoch ids), and the `=!=` against a non-numeric id then crashes
    * under ANSI (or NULLs out the whole history without it). A missing
    * `path` (first batch) is an empty frame of `ddl`; it is checked
    * before the read because Spark logs a FileNotFoundException trace
    * for every missing path it is handed.
    */
  def history(spark: SparkSession, path: String, ddl: String,
      exclude: String): DataFrame = {
    def empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(ddl))
    val dir = new org.apache.hadoop.fs.Path(path)
    if (!dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir)) empty
    else try spark.read.schema(ddl + ", batch STRING").parquet(path)
      .where(col("batch") =!= exclude).drop("batch")
    catch { case e: org.apache.spark.sql.AnalysisException
        if e.getCondition == "PATH_NOT_FOUND" => empty
    }
  }

  /** Write `df` as batch `batch` of the table at `path`, replacing any
    * earlier attempt of the same batch.
    */
  def overwrite(df: DataFrame, path: String, batch: String): Unit =
    df.write.mode("overwrite").parquet(s"$path/batch=$batch")

  /** Fold all `batch=<id>` dirs (minus `excludeBatch`, the possibly
    * in-flight one) through `fold` into ONE `batch=compact-<id>` dir
    * targeting `targetFileBytes` files. Returns the parquet data-file
    * count after compaction.
    *
    * Crash discipline: the fold is written before the sources are
    * deleted, under an `_compact_inflight` marker (target + source
    * names) removed after the delete. A retry first completes or rolls
    * back the recorded fold — sources are deleted iff the target finished
    * (`_SUCCESS`), a partial target is dropped. An additive fold
    * ([[compactSumFold]]) needs this: re-summing a fold together with its
    * sources would bake doubled values in permanently. Sums can still
    * read double between fold-write and delete; callers tolerate that.
    */
  def compact(spark: SparkSession, path: String, excludeBatch: String,
      targetFileBytes: Long)(fold: DataFrame => DataFrame): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(root, "_compact_inflight")
    // recover a crashed predecessor before reading anything: finish its
    // delete if the fold completed, drop the partial fold if not
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList finally in.close()
      lines match {
        case target :: staleSources =>
          val targetPath = new org.apache.hadoop.fs.Path(root, target)
          if (fs.exists(new org.apache.hadoop.fs.Path(targetPath, "_SUCCESS")))
            staleSources.foreach(n =>
              fs.delete(new org.apache.hadoop.fs.Path(root, n), true))
          else fs.delete(targetPath, true)
        case Nil =>
      }
      fs.delete(marker, false)
    }
    val sources = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("batch="))
      .filterNot(p => excludeBatch != null && p.getName == s"batch=$excludeBatch")
    if (sources.length <= 1) return dataFileCount(fs, root)
    val bytes = sources.map(p => fs.getContentSummary(p).getLength).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val target = "compact-" + java.util.UUID.randomUUID().toString.take(12)
    val out = fs.create(marker, true)
    try out.write((s"batch=$target" +: sources.map(_.getName))
      .mkString("\n").getBytes("UTF-8")) finally out.close()
    overwrite(fold(spark.read.parquet(sources.map(_.toString).toIndexedSeq: _*))
      .coalesce(nFiles), path, target)
    sources.foreach(fs.delete(_, true))
    fs.delete(marker, false)
    dataFileCount(fs, root)
  }

  /** Parquet data files anywhere under `root`. */
  def dataFileCount(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Int = {
    val it = fs.listFiles(root, true)
    Iterator.continually(it).takeWhile(_.hasNext)
      .count(_.next().getPath.getName.endsWith(".parquet"))
  }

  /** [[compact]] for count tables whose rows are ADDITIVE (a sum over the
    * batch dirs is the true value): `sum(sumCol)` per `keyCols`.
    */
  def compactSumFold(spark: SparkSession, path: String,
      keyCols: Seq[String], sumCol: String, excludeBatch: String = null,
      targetFileBytes: Long = 128L << 20): Int = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    compact(spark, path, excludeBatch, targetFileBytes)(
      _.groupBy(keyCols.map(col): _*).agg(sum(col(sumCol)).as(sumCol)))
  }
}
