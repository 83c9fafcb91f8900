package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.Engine

/** Headless substitute for the Spark UI's stage table and SQL tab
  * (optimization guide §1.1, §7.1-7.2). Each named battery query is built
  * and executed ONCE in one session; the tool prints
  *
  *   - the eager sub-executions (spills, checkpoint/count/isEmpty probes)
  *     that ran while the DataFrame was built, most expensive first;
  *   - one line per stage of the whole row, worst first: which STAGE
  *     burns the time (span, executor run/CPU/GC, input, shuffle, spill);
  *   - the operator trees with non-zero SQL metrics of the four costliest
  *     sub-executions and of the AQE-final tail plan, which runs through
  *     its own QueryExecution (`toRdd.foreach`) so the metrics are its own.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.tools.Profile
  * q199_training_export [query ...]"`. Dev-only; JIT warmup is the
  * caller's concern (profile a row twice, read the second report). The
  * top-level AdaptiveSparkPlanExec's current plan has no public accessor
  * and is read reflectively.
  */
object Profile {
  private final class Stage {
    var name = ""
    var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inputBytes = 0L; var shufReadB = 0L; var shufWriteB = 0L
    var memSpill = 0L; var diskSpill = 0L
    var fetchWaitMs = 0L
    var firstLaunch = Long.MaxValue; var lastFinish = 0L
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <queryName> [queryName ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a scale-factor data directory"))
    val spark = Engine.local("graft-profile")
    spark.sparkContext.setLogLevel("ERROR")

    val subs = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, QueryExecution, Long)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = subs.add((funcName, qe, durationNs))
      override def onFailure(funcName: String, qe: QueryExecution,
          e: Exception): Unit = ()
    })
    val stages = mutable.LinkedHashMap.empty[Int, Stage]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stages.synchronized {
        val a = stages.getOrElseUpdate(e.stageId, new Stage)
        a.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.inputBytes += m.inputMetrics.bytesRead
          a.shufReadB += m.shuffleReadMetrics.totalBytesRead
          a.shufWriteB += m.shuffleWriteMetrics.bytesWritten
          a.memSpill += m.memoryBytesSpilled; a.diskSpill += m.diskBytesSpilled
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        }
        val ti = e.taskInfo
        if (ti != null) {
          a.firstLaunch = math.min(a.firstLaunch, ti.launchTime)
          a.lastFinish = math.max(a.lastFinish, ti.finishTime)
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          stages.getOrElseUpdate(e.stageInfo.stageId, new Stage)
            .name = e.stageInfo.name.takeWhile(_ != '\n').take(90)
        }
    })

    args.foreach { n =>
      subs.clear()
      stages.synchronized(stages.clear())
      spark.sparkContext.setJobDescription(n)
      val t0 = System.nanoTime()
      val qe = graft.SparkEntry.queries(n)(spark, sfDir).queryExecution
      val t1 = System.nanoTime()
      qe.toRdd.foreach(_ => ())
      val t2 = System.nanoTime()
      Thread.sleep(1000) // listener bus + metric accumulators drain async
      println(f"===== $n  build=${(t1 - t0) / 1e9}%.2fs  tail=${(t2 - t1) / 1e9}%.2fs =====")

      import scala.jdk.CollectionConverters._
      val eager = subs.asScala.toSeq.sortBy(-_._3)
      println(s"--- ${eager.size} eager sub-executions, by duration ---")
      eager.foreach { case (fn, _, ns) => println(f"  ${ns / 1e9}%7.2f s  $fn") }

      println(f"${"stage"}%6s ${"tasks"}%5s ${"span_s"}%7s ${"run_s"}%7s " +
        f"${"cpu_s"}%7s ${"gc_s"}%6s ${"in_MB"}%8s ${"shR_MB"}%8s " +
        f"${"shW_MB"}%8s ${"spill_MB"}%8s ${"fetch_s"}%7s  name")
      def mb(b: Long) = f"${b / 1048576.0}%8.1f"
      val rows = stages.synchronized(stages.toSeq).sortBy(-_._2.runMs)
      rows.foreach { case (id, a) =>
        val span = if (a.lastFinish > 0) (a.lastFinish - a.firstLaunch) / 1e3 else 0.0
        println(f"$id%6d ${a.tasks}%5d $span%7.2f ${a.runMs / 1e3}%7.2f " +
          f"${a.cpuNs / 1e9}%7.2f ${a.gcMs / 1e3}%6.2f ${mb(a.inputBytes)} " +
          f"${mb(a.shufReadB)} ${mb(a.shufWriteB)} " +
          f"${mb(a.memSpill + a.diskSpill)} ${a.fetchWaitMs / 1e3}%7.2f  ${a.name}")
      }
      println(f"TOTAL run=${rows.map(_._2.runMs).sum / 1e3}%.2f s  " +
        f"shufWrite=${mb(rows.map(_._2.shufWriteB).sum)} MB  stages=${rows.size}")

      eager.take(4).foreach { case (fn, sqe, ns) =>
        println(f"--- sub-execution [$fn ${ns / 1e9}%.2fs] ---")
        walk(sqe.executedPlan, 1)
      }
      println("--- tail plan ---")
      walk(qe.executedPlan, 0)
    }
    spark.stop()
  }

  private def fmt(v: Long, name: String, metricType: String): String =
    // switch on the metric's declared type: nsTiming values are
    // nanoseconds, and rendering them as ms misattributes hot operators
    // by 1e6x
    if (metricType == "nsTiming") f"${v / 1e6}%.1fms"
    else if (metricType == "timing") s"${v}ms"
    else if (metricType == "size" || name.contains("size") ||
      name.contains("bytes") || name.contains("Bytes")) {
      if (v >= 10485760) s"${v / 1048576}MB"
      else if (v >= 10240) s"${v / 1024}KB" else s"${v}B"
    } else if (name.contains("time") || name.contains("duration")) {
      s"${v}ms"
    } else v.toString

  private def interesting(name: String): Boolean =
    name == "numOutputRows" || name.contains("time") ||
      name.contains("duration") || name.contains("dataSize") ||
      name.contains("spill") || name.contains("peak") ||
      name.contains("bytes written") || name.contains("shuffle bytes")

  private def walk(p: SparkPlan, depth: Int): Unit = {
    val ms = p.metrics.toSeq
      .filter { case (k, m) => m.value > 0 && interesting(k) }
      .sortBy(_._1)
      .map { case (k, m) => s"$k=${fmt(m.value, k, m.metricType)}" }
      .mkString(" ")
    println(("  " * depth) + p.nodeName + (if (ms.isEmpty) "" else s"  [$ms]"))
    p match {
      case a: AdaptiveSparkPlanExec =>
        current(a).foreach(walk(_, depth + 1))
      case q: QueryStageExec => walk(q.plan, depth + 1)
      case r: ReusedExchangeExec =>
        println(("  " * (depth + 1)) + s"(reuses ${r.child.nodeName})")
      case _ => p.children.foreach(walk(_, depth + 1))
    }
    p.subqueries.foreach { sq =>
      println(("  " * (depth + 1)) + "[subquery]")
      walk(sq, depth + 2)
    }
  }

  private def current(a: AdaptiveSparkPlanExec): Option[SparkPlan] =
    // no public accessor for the in-flight/final physical plan; fall back
    // through the known field names across Spark versions
    Seq("currentPhysicalPlan", "org$apache$spark$sql$execution$adaptive$" +
      "AdaptiveSparkPlanExec$$currentPhysicalPlan")
      .flatMap { f =>
        try {
          val fld = classOf[AdaptiveSparkPlanExec].getDeclaredField(f)
          fld.setAccessible(true)
          Some(fld.get(a).asInstanceOf[SparkPlan])
        } catch { case _: Throwable => None }
      }.headOption
}
