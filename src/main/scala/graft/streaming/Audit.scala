package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.model.AuditOffset

/** Offset audit trail (SURVEY §2.5 R2; reference:
  * `interceptors/FailProofInterceptor.java:21-44` mirrors consumed offsets to
  * an `audit-offsets` topic). Structured Streaming already checkpoints
  * offsets transactionally; this listener reproduces the *audit* side:
  * every micro-batch's per-source end offsets are captured as
  * [[AuditOffset]] rows which a caller can drain to any sink.
  */
final class AuditListener(appId: String) extends StreamingQueryListener {
  private val buffer = new ConcurrentLinkedQueue[AuditOffset]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    p.sources.foreach { s =>
      buffer.add(AuditOffset(appId, s.description, p.batchId, String.valueOf(s.endOffset)))
    }
  }

  /** Drain captured audit rows (e.g. into a DataFrame for an audit sink). */
  def drain(): Seq[AuditOffset] = {
    val out = Vector.newBuilder[AuditOffset]
    var v = buffer.poll()
    while (v != null) { out += v; v = buffer.poll() }
    out.result()
  }

  /** Register this listener on `spark`'s streaming query manager.
    * Public entry point: offset audit, pending the runnable service (ROADMAP
    * item 10).
    */
  def attach(spark: SparkSession): this.type = {
    spark.streams.addListener(this); this
  }

  /** Reference parity (`interceptors/FailProofInterceptor.java:87-110`:
    * configure() re-reads the audit topic from earliest and surfaces
    * the last committed offsets BEFORE the stream consumes): on
    * restart, read the checkpoint's last COMMITTED batch and seed its
    * per-source end offsets into this trail, so a drained audit log
    * shows where the recovering query resumes before any new batch's
    * rows land. Spark's checkpoint is the offset store being audited
    * (the reference's is its audit topic): `commits/` names the last
    * batch whose sink write completed, `offsets/<id>` holds that
    * batch's serialized per-source end offsets (line 1 the version
    * marker, line 2 stream metadata, one offset line per source after
    * that). Returns the replayed rows (empty on a fresh checkpoint —
    * nothing committed, nothing to replay).
    * Public entry point: offset audit, pending the runnable service (ROADMAP
    * item 10).
    */
  def replayCommitted(spark: SparkSession, checkpoint: String): Seq[AuditOffset] = {
    val commits = new org.apache.hadoop.fs.Path(s"$checkpoint/commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(commits)) return Seq.empty
    val committed = fs.listStatus(commits).filter(_.isFile)
      .flatMap(st => st.getPath.getName.toLongOption)
    if (committed.isEmpty) return Seq.empty
    val last = committed.max
    val in = fs.open(new org.apache.hadoop.fs.Path(s"$checkpoint/offsets/$last"))
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    // line 1: "v1"; line 2: batch metadata JSON; lines 3+: one
    // serialized end offset per source, in source declaration order.
    // Spark serializes a source with NO committed offset as a literal
    // "-" line — drop those rather than report "-" as an endOffset.
    val rows = lines.drop(2).zipWithIndex
      .filter { case (off, _) => off.trim != "-" }
      .map { case (off, i) =>
        AuditOffset(appId, s"checkpoint-replay:source-$i", last, off)
      }
    rows.foreach(buffer.add)
    rows
  }
}
