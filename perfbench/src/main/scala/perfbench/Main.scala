package perfbench

import java.nio.file.Paths

import graft.core.Engine

/** Entry point of the measuring JVM:
  * `perfbench.Main <workload> <work dir> <trace 0|1> <seconds>`.
  *
  * Reads `plan.json` (the seeded inputs `run.py` generated) from the work
  * directory, runs one workload against the engine as shipped —
  * `Engine.local`, no configuration added — and writes its raw samples
  * to `result.json` (and, when tracing, every span to `spans.jsonl`).
  * `run.py` turns those into metrics and judges correctness.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, workDir, trace, seconds) = args
    val work = Paths.get(workDir)
    val spans = new Spans(trace == "1")
    val ctx = Ctx(Json.read(work.resolve("plan.json")), work,
      seconds.toDouble, Engine.cpus, spans)
    val t0 = Clock.ms()
    val spark = Engine.local("perfbench")
    val sessionMs = Clock.ms() - t0
    Util.log(s"$workload: session up")
    val sparkTrace = new SparkTrace(spans)
    if (spans.enabled) spark.sparkContext.addSparkListener(sparkTrace)
    val progress = new ProgressLog(spans)
    spark.streams.addListener(progress)
    val gc0 = Util.gcMs()
    val out: Map[String, Any] =
      try workload match {
        case "lookup" => Lookup.run(spark, ctx, progress)
        case "batch" => Batch.run(spark, ctx)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Map("correct" -> false, "errors" -> Seq(s"$workload aborted: $e"))
      }
    Util.log(s"$workload: done")
    val jvm = Map("session_s" -> sessionMs / 1000, "rss_peak_mb" -> Util.rssPeakMb(),
      "gc_ms" -> (Util.gcMs() - gc0), "heap_used_mb" -> Util.heapUsedMb())
    Json.write(work.resolve("result.json"), jvm ++ out)
    spans.write(work.resolve("spans.jsonl"))
    spark.stop()
    // HttpServer dispatch and Spark's own non-daemon threads must not keep
    // the JVM alive once the result is written
    sys.exit(0)
  }
}
