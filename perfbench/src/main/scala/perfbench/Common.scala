package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Monotonic clock shared by every span and sample of a run: milliseconds
  * since the run started, with full nanosecond resolution. Wall-clock
  * instants reported by Spark (epoch ms) convert through the same origin.
  */
object Clock {
  private val originNs = System.nanoTime()
  val originEpochMs: Double = System.currentTimeMillis().toDouble
  def ms(): Double = (System.nanoTime() - originNs) / 1e6
  def fromEpochMs(epochMs: Double): Double = epochMs - originEpochMs
}

/** One traced interval. `parent` is 0 for a root; spans of one request,
  * micro-batch or battery row share `trace`.
  */
final case class Span(id: Long, parent: Long, trace: String, name: String,
    start: Double, end: Double, attrs: Map[String, Any] = Map.empty)

/** In-memory span buffer, written out once when the run ends. Disabled
  * (the untraced run), every call is a no-op apart from running the body.
  */
final class Spans(val enabled: Boolean) {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) buf.add(s)

  /** Time `body` as a span; the body receives the span's id so it can
    * parent its own children.
    */
  def timed[T](name: String, trace: String, parent: Long = 0L,
      attrs: Map[String, Any] = Map.empty)(body: Long => T): T = {
    val id = nextId()
    val t0 = Clock.ms()
    try body(id)
    finally add(Span(id, parent, trace, name, t0, Clock.ms(), attrs))
  }

  def all: Seq[Span] = buf.asScala.toSeq

  def write(path: Path): Unit = if (enabled) {
    val lines = all.sortBy(_.start).map { s =>
      Json.render(Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "name" -> s.name, "start" -> s.start, "end" -> s.end) ++ s.attrs)
    }
    Files.write(path, lines.asJava, UTF_8)
  }
}

/** Spark-side tracing through the public listener APIs only: one span per
  * job (with its tasks' executor time, CPU, shuffle and spill totals) and
  * one span per streaming micro-batch, whose children are the phases of
  * the progress report's `durationMs`.
  */
final class SparkTrace(spans: Spans) extends SparkListener {
  private final class Acc(val jobId: Int, val start: Double,
      val props: java.util.Properties) {
    var tasks = 0L; var runMs = 0.0; var cpuMs = 0.0
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  private val jobs = mutable.Map.empty[Int, Acc]
  private val stageToJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Acc(e.jobId, Clock.fromEpochMs(e.time.toDouble), e.properties)
    e.stageIds.foreach(stageToJob(_) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageToJob.get(e.stageId); acc <- jobs.get(j); m <- Option(e.taskMetrics)) {
      acc.tasks += 1
      acc.runMs += m.executorRunTime
      acc.cpuMs += m.executorCpuTime / 1e6
      acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { acc =>
      val props = Option(acc.props)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      // micro-batch jobs carry their query id and a "batch = N" description
      val batch = prop("spark.job.description")
        .flatMap(d => "batch = (\\d+)".r.findFirstMatchIn(d)).map(_.group(1).toLong)
      val stream = prop("sql.streaming.queryId")
      spans.add(Span(spans.nextId(), 0L, "job", "core.job", acc.start,
        Clock.fromEpochMs(e.time.toDouble),
        Map("job_id" -> acc.jobId, "tasks" -> acc.tasks, "run_ms" -> acc.runMs,
          "cpu_ms" -> acc.cpuMs, "shuffle_read" -> acc.shuffleRead,
          "shuffle_write" -> acc.shuffleWrite, "spill" -> acc.spill,
          "ok" -> e.jobResult.isInstanceOf[JobSucceeded.type]) ++
          stream.map("query_id" -> _) ++ batch.map("batch_id" -> _)))
    }
  }
}

/** Streaming progress as micro-batch spans, when tracing: one span per
  * batch whose children are the phases of its `durationMs`.
  */
final class ProgressLog(spans: Spans) extends StreamingQueryListener {
  // the order MicroBatchExecution runs its phases in
  private val phases = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (spans.enabled) {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = Clock.fromEpochMs(
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
      val end = start + d.getOrElse("triggerExecution", 0L)
      val trace = s"${p.name}/${p.batchId}"
      val id = spans.nextId()
      val state = p.stateOperators.headOption
      spans.add(Span(id, 0L, trace, "streaming.batch", start, end,
        Map("query" -> p.name, "query_id" -> p.id.toString, "batch_id" -> p.batchId,
          "rows" -> p.numInputRows,
          "state_rows" -> state.map(_.numRowsTotal).getOrElse(0L),
          "state_mem_bytes" -> state.map(_.memoryUsedBytes).getOrElse(0L))))
      var at = start
      phases.foreach { ph =>
        val len = d.getOrElse(ph, 0L).toDouble
        spans.add(Span(spans.nextId(), id, trace, s"streaming.$ph", at, at + len))
        at += len
      }
    }
}

object Json {
  val mapper = new ObjectMapper()

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => o.put(k.toString, toJava(x)) }
      o
    case xs: Iterable[_] => xs.map(toJava).toList.asJava
    case xs: Array[_] => xs.toSeq.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }

  def render(v: Any): String = mapper.writeValueAsString(toJava(v))
  def write(path: Path, v: Any): Unit = Files.writeString(path, render(v))
  def read(path: Path): JsonNode = mapper.readTree(Files.readString(path))

  /** A JSON document as nested Scala values with every number as an exact
    * BigDecimal, so `{"total":5}` equals `{"total":5.0}`.
    */
  def canonical(n: JsonNode): Any =
    if (n.isObject) n.fields().asScala.map(e => e.getKey -> canonical(e.getValue)).toMap
    else if (n.isArray) n.elements().asScala.map(canonical).toVector
    else if (n.isNumber) BigDecimal(n.decimalValue()).bigDecimal.stripTrailingZeros()
    else if (n.isNull) null
    else n.asText()

  def canonical(s: String): Any = canonical(mapper.readTree(s))
}

/** Run-wide context handed to every workload. */
final case class Ctx(plan: JsonNode, work: Path, seconds: Double,
    cpus: Int, spans: Spans) {
  def str(k: String): String = plan.get(k).asText()
  def path(k: String): String = work.resolve(str(k)).toString
  def num(k: String): Double = plan.get(k).asDouble()
  def int(k: String): Int = plan.get(k).asInt()
}

object Util {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this JVM (VmHWM) in MB. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

  def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum

  /** Heap that survives full collections: what the run retains. Each
    * further collection reclaims what Spark's ContextCleaner released
    * (broadcast and shuffle bookkeeping) once the one before cleared the
    * weak references it tracks; a third one settles what a second still
    * left after many queries.
    */
  def heapLiveMb(): Double = {
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(500); System.gc()
    heapUsedMb()
  }

  def heapUsedMb(): Double =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0

  /** Progress note on stderr (the JVM log), stamped with run time. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${Clock.ms() / 1000}%7.2f s  $msg")

  /** `xs` as `parts` contiguous chunks: a stream appended chunk by chunk
    * is read as that many input partitions, like a partitioned topic.
    */
  def chunks[T](xs: Seq[T], parts: Int): Seq[Seq[T]] =
    xs.grouped(math.max(1, (xs.size + parts - 1) / parts)).toSeq

  def readLines(p: String): Seq[String] =
    Files.readAllLines(Paths.get(p), UTF_8).asScala.toSeq
}
