package graft.operators

import java.util.concurrent.ExecutionException
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

/** Run independent Spark actions concurrently on one session — the
  * documented multi-job pattern (guide §2.6: actions are only sequential
  * because driver code calls them sequentially; a small pool lets the
  * next job's tasks back-fill executors freed by the current job's
  * tail). Shared by the scorecard's frame/digest pipeline and the
  * multi-branch batch entries whose serial eager checkpoints were
  * job-count bound (q_cramers_v, pipeline_clone).
  *
  * Failure containment (r16, hoisted here from Scorecard r18): every
  * thunk's jobs are tagged with one call-scoped job group (setJobGroup
  * is thread-local, so the tag is applied inside each pool thread, with
  * interruptOnCancel). If any thunk throws, the whole group is cancelled
  * and the pool is shut down with interruption BEFORE the failure
  * propagates — a failing thunk never leaves sibling jobs running to
  * completion on the shared session after the caller has thrown. */
object ParJobs {

  /** Run `thunks` concurrently and return their results in order. The
    * caller waits at most `timeout` (`Duration.Inf` for batch work that
    * must finish); on timeout, failure or interrupt the group is
    * cancelled before the error propagates, and an interrupt is
    * re-asserted on the calling thread. A fatal error in a thunk fails
    * the call (wrapped in an `ExecutionException`) instead of leaving
    * the wait to run out. */
  def run[A](spark: SparkSession, desc: String, timeout: Duration, threads: Int = 8)(
      thunks: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val sc = spark.sparkContext
    val group = s"$desc-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val work = Future.sequence(thunks.map(t => Future {
      sc.setJobGroup(group, desc, interruptOnCancel = true)
      // a fatal error would kill the pool thread without completing the
      // future; box it so the wait ends with the failure
      try t()
      catch { case e: Throwable if !NonFatal(e) => throw new ExecutionException(e) }
      finally sc.clearJobGroup()
    }))
    try Await.result(work, timeout)
    catch {
      case e @ (NonFatal(_) | _: InterruptedException) =>
        // cancelJobGroupAndFutureJobs is STICKY: a sibling thunk that was
        // mid-planning (no active job yet) and submits after the failure
        // is cancelled too — plain cancelJobGroup only kills jobs already
        // running, leaving that race open
        try sc.cancelJobGroupAndFutureJobs(group) catch { case NonFatal(_) => () }
        pool.shutdownNow()
        if (e.isInstanceOf[InterruptedException]) Thread.currentThread().interrupt()
        throw e
    } finally pool.shutdown()
  }

  /** Materialize independent frames concurrently (each eagerly
    * localCheckpointed so the work happens inside this call). */
  def materialize(spark: SparkSession, desc: String,
      mk: Seq[() => DataFrame], timeout: Duration, threads: Int = 8): Seq[DataFrame] =
    run(spark, desc, timeout, threads)(mk.map(m => () => m().localCheckpoint(true)))
}
