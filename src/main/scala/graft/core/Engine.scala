package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Plays the role of the reference's properties-file bootstrap (reference:
  * `services/src/main/java/io/confluent/main/WordCount.java:55-64`) as a typed
  * config surface. Defaults are tuned for `local[N]` testing but every choice is
  * cluster-safe at 100 TB:
  *
  *   - AQE on (incl. skew-join + partition coalescing) so runtime statistics can
  *     re-plan shuffles regardless of scale factor;
  *   - shuffle partitions follow the local core count (the 200 default is wrong
  *     for local mode; on a real cluster the caller overrides to ~2-3x cores);
  *   - UTC session timezone pinned for oracle parity and cross-engine
  *     reproducibility;
  *   - parquet timestamps written as TIMESTAMP_MICROS (INT96 is deprecated and
  *     non-portable to other readers).
  */
object Engine {

  /** Local parallelism; the driver exports SPARK_GRAFT_CPUS. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Cluster-agnostic base configuration. */
  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      // graft's SQL functions and optimizer rule, in every session built
      // here (a cluster ships the same set via spark.sql.extensions)
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Spark 4's default, pinned explicitly: null-handling parity with
      // the DuckDB oracle (e.g. size(null) = NULL, not the legacy -1)
      // must not depend on a user's spark-defaults overriding it. The
      // stats folds are additionally null-safe (TextFunctions.sizeOrNull)
      // so correctness does not hinge on this flag alone.
      .config("spark.sql.ansi.enabled", "true")
      // JSON mutation ([[graft.functions.JsonFunctions.jsonSetFields]])
      // models a document as map<string,variant>; LAST_WIN makes
      // map_concat overwrite an existing key IN PLACE (keeping its
      // position), which is exactly RFC 7386 merge-patch's update
      // semantics — the default EXCEPTION policy would throw instead
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // fixture events.parquet is TIMESTAMP(NANOS); read as long, rebuilt
      // to a micros timestamp in Tables.load (see Tables.rebuildNanosTs)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Bounded driver-side bookkeeping: the status store retains full
      // physical-plan STRINGS per SQL execution (default cap 1000) even
      // with the UI off — multi-MB each for deep pipeline plans, which
      // on a long-lived session (the 200-query bench battery, a
      // streaming driver) grows into GBs of non-collectable heap and
      // starves the working queries. 24 executions of lookback is
      // plenty for debugging; a cluster run can raise it explicitly.
      .config("spark.sql.ui.retainedExecutions", "24")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      // ContextCleaner frees shuffle files/broadcasts only on JVM GC;
      // its default 30 min safety-net GC is longer than many whole
      // workloads, letting hundreds of GB of dead shuffle data pile up
      // on executors with large heaps that rarely collect. 5 min bounds
      // the debris without measurable GC overhead.
      .config("spark.cleaner.periodicGC.interval", "5min")

  /** Local session sized to the container. */
  def local(appName: String = "graft"): SparkSession = {
    val spark = builder(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
