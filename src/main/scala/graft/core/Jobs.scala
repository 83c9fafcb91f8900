package graft.core

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicReference

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.SparkContext

/** Bounded concurrent Spark jobs (optimization guide §2.6): independent
  * actions submitted from a SMALL dedicated pool so the next job's tasks
  * back-fill executors freed by the current job's tail — without the two
  * failure modes of `ExecutionContext.global` (round-20 advisor item):
  * unbounded fan-out floods the scheduler when the item count grows past
  * the core count, and `global`'s threads do not inherit the caller's
  * SparkContext local properties, so job descriptions/groups (and
  * caller-side group cancellation) silently miss the spawned jobs.
  *
  * `parallel` snapshots the caller thread's Spark local properties
  * (job group, description, scheduler pool) and installs them in each
  * worker thread before running `f`. The pool is per-call and torn down
  * at the join. A failed item rethrows at the join (the first failure
  * wins) only after every in-flight sibling has finished, so no job it
  * started outlives the call; items not yet started when a failure lands
  * are skipped. FIFO scheduling keeps the back-fill behaviour the guide
  * describes.
  */
object Jobs {

  /** Guide §2.6: "2-3 jobs in flight is plenty"; 4 covers the slightly
    * wider local[32] rigs without flooding a real cluster's scheduler.
    */
  val DefaultMaxInFlight = 4

  def parallel[A, B](sc: SparkContext, items: Seq[A],
      maxInFlight: Int = DefaultMaxInFlight)(f: A => B): Seq[B] = {
    require(maxInFlight >= 1, "maxInFlight must be >= 1")
    if (items.isEmpty) return Seq.empty
    if (items.size == 1) return items.map(f)
    // snapshot the caller's thread-local Spark properties through the
    // public per-key API (the Properties object itself is private[spark])
    val keys = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel", "spark.scheduler.pool")
    val snap = keys.map(k => k -> sc.getLocalProperty(k))
      .collect { case (k, v) if v != null => (k, v) }
    val pool = Executors.newFixedThreadPool(math.min(items.size, maxInFlight))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val failure = new AtomicReference[Throwable]()
    try {
      // every body catches its own failure, so each future completes and
      // the join below waits for all of them (fatal errors included)
      val done = items.toVector.map(a => Future {
        if (failure.get != null) None
        else {
          snap.foreach { case (k, v) => sc.setLocalProperty(k, v) }
          try Some(f(a))
          catch { case e: Throwable => failure.compareAndSet(null, e); None }
        }
      }).map(Await.result(_, Duration.Inf))
      Option(failure.get).foreach(e => throw e)
      done.map(_.get)
    } finally pool.shutdown()
  }
}
