package graft.io

import org.apache.spark.sql.DataFrame

/** Physical-layout helpers for parquet datasets: spread a single-split
  * scan across the session's cores, compact a directory's small files, and
  * write and verify a release manifest (per-file bytes, rows and md5).
  */
object Layout {

  /** Round-robin-spread `df` to the session's default parallelism when
    * its physical scan would otherwise produce fewer partitions — the
    * CPU-heavy per-document stages (quality gates, tokenize+FIM) are
    * otherwise serialized onto one core whenever the corpus arrives as a
    * single small file (one input split), which is the bench fixture
    * shape. Scale-adaptive by construction: at production scale the
    * input's own splits already meet the parallelism floor and this is
    * the identity — no shuffle is ever added to a well-split scan.
    * Results are unaffected: every consumer in this codebase is
    * partitioning-invariant by the determinism contract (order-invariant
    * aggregates, per-row deterministic draws).
    *
    * The partition probe is restricted to SCAN-SHAPED plans (leaf +
    * per-row operators only): `df.rdd` on a plan containing exchanges
    * materializes every upstream query stage under AQE — the shuffles
    * actually run and the result is discarded, since both branches
    * return a freshly-planned frame (round-20 advisor item). A frame
    * that already contains a shuffle/join/aggregate is returned
    * unchanged: its parallelism is AQE-managed (and a caller-written
    * `repartition` is an explicit choice this helper must respect), so
    * the single-split-scan problem this fixes cannot apply. For
    * scan-shaped plans `df.rdd` plans no stages and the exact probe is
    * cheap.
    */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    import org.apache.spark.sql.catalyst.plans.logical._
    val scanShaped = !df.queryExecution.optimizedPlan.exists {
      case _: LeafNode | _: Project | _: Filter | _: Generate |
           _: SubqueryAlias => false
      case _ => true
    }
    if (!scanShaped || df.rdd.getNumPartitions >= p) df
    else df.repartition(p)
  }

  /** Compact a parquet directory to ~`targetFileBytes` files (the
    * small-files problem: streaming sinks and fine-grained partition
    * writes accumulate kilobyte files whose per-file open/footer/task
    * overhead eventually dominates scans; at 100 TB a 128 MB target keeps
    * task count ≈ data/128 MB).
    *
    * NEVER reads and overwrites the source path in one lazy plan (that
    * self-overwrite loses the data): the compacted copy lands in a temp
    * sibling, then two renames swap it in. The swap window is not atomic
    * for concurrent readers — run it when the table is not being queried,
    * or layer a manifest/table format on top for online compaction.
    * Returns the resulting file count.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val total = fs.getContentSummary(hPath).getLength
    val n = math.max(1, math.ceil(total.toDouble / targetFileBytes).toInt)
    Swap.swapInto(spark, path, "compact") { tmp =>
      spark.read.parquet(path).coalesce(n)
        .write.mode("overwrite").parquet(tmp)
    }
    fs.listStatus(hPath).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Write a RELEASE MANIFEST beside an already-written parquet
    * dataset: one `_MANIFEST.json` line per data file with
    * (path, bytes, rows, md5), plus a trailing summary line with
    * file/row/byte totals. The reproducibility handshake of a corpus
    * release — a consumer verifies the download against the manifest,
    * and two releases diff at file granularity before
    * [[graft.operators.CorpusDiff]] diffs at document granularity.
    * Hashing is [[hashFiles]]' one distributed job; only the file list
    * returns to the driver, which writes the manifest JSON. Fails on a
    * file that cannot be read.
    */
  def writeManifest(spark: org.apache.spark.sql.SparkSession,
      path: String): Int = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val hashed = hashFiles(spark, hPath, withRows = true).map {
      case (name, bytes, rows, Some(md5)) => (name, bytes, rows, md5)
      case (name, _, _, None) =>
        throw new java.io.IOException(s"unreadable data file $name under $path")
    }
    val lines = hashed.map { case (name, bytes, rows, md5) =>
      s"""{"file":"$name","bytes":$bytes,"rows":$rows,"md5":"$md5"}"""
    } :+ s"""{"files":${hashed.length},"rows":${hashed.map(_._3).sum},"bytes":${hashed.map(_._2).sum}}"""
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(hPath, "_MANIFEST.json"), true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    hashed.length
  }

  /** Verify a dataset against its `_MANIFEST.json`: recompute every
    * file's md5/bytes (the same distributed job as [[writeManifest]])
    * and return the mismatching or missing file names (empty = the
    * release is intact). Extra files not in the manifest also report —
    * a partial overwrite is corruption, not an append — and so does a
    * file that cannot be read.
    * Public entry point: the consumer half of the manifest pair; writers call
    * [[writeManifest]].
    */
  def verifyManifest(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[String] = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(hPath, "_MANIFEST.json"))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val entry = """"file":"([^"]+)","bytes":(\d+),"rows":(\d+),"md5":"([0-9a-f]+)"""".r
    val want = entry.findAllMatchIn(text)
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(4))).toMap
    val got = hashFiles(spark, hPath, withRows = false)
      .map { case (name, bytes, _, md5) => name -> (bytes, md5.getOrElse("unreadable")) }
      .toMap
    val bad = got.collect { case (n, g) if !want.get(n).contains(g) => n }
    val missing = want.keySet -- got.keySet
    (bad ++ missing).toSeq.sorted
  }

  /** The md5-per-file job of the manifest pair: ONE distributed job, a
    * task per parquet file directly under `hPath` (streaming 8 MiB reads,
    * never a whole file in memory). Returns (name, bytes, rows, md5)
    * sorted by name; `rows` comes from the parquet FOOTER (a metadata
    * read, not a data scan) when `withRows`, else -1. A filesystem-level
    * read/checksum failure gives md5 None (local FS keeps .crc sidecars,
    * so a tampered file throws here) and the caller decides whether that
    * fails the call or reports the file.
    */
  private def hashFiles(spark: org.apache.spark.sql.SparkSession,
      hPath: org.apache.hadoop.fs.Path,
      withRows: Boolean): Array[(String, Long, Long, Option[String])] = {
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(hPath)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.toString, s.getPath.getName, s.getLen)).toSeq
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    spark.sparkContext
      .parallelize(files, math.max(1, files.length))
      .map { case (full, name, bytes) =>
        val p = new org.apache.hadoop.fs.Path(full)
        val md5 = try {
          val in = p.getFileSystem(conf.value).open(p)
          val md = java.security.MessageDigest.getInstance("MD5")
          try {
            val buf = new Array[Byte](8 << 20)
            var n = in.read(buf)
            while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
          } finally in.close()
          Some(md.digest().map("%02x".format(_)).mkString)
        } catch { case _: java.io.IOException => None }
        val rows = if (!withRows || md5.isEmpty) -1L else {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(p, conf.value))
          try r.getRecordCount finally r.close()
        }
        (name, bytes, rows, md5)
      }.collect().sortBy(_._1)
  }
}
