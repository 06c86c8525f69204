package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.BenchShims
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch microseconds; `op` is shared by
  * every span of one benchmark operation; `parent` is 0 for an op's root. */
final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, op: Long)

/** Counters read at the layer boundaries: Spark's scheduler and planner
  * through listeners, filesystem calls and bytes, and JVM GC time. */
final case class Counters(
    jobs: Long = 0, writeJobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
    analysisMs: Long = 0, optimizationMs: Long = 0, physicalMs: Long = 0,
    fsReadOps: Long = 0, fsWriteOps: Long = 0, fsWritten: Long = 0,
    gcMs: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, writeJobs - o.writeJobs,
    stages - o.stages, tasks - o.tasks,
    taskMs - o.taskMs, shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    spill - o.spill, analysisMs - o.analysisMs, optimizationMs - o.optimizationMs,
    physicalMs - o.physicalMs, fsReadOps - o.fsReadOps, fsWriteOps - o.fsWriteOps,
    fsWritten - o.fsWritten, gcMs - o.gcMs)
}

/** The benchmark's tracer. Spans around the calls into each engine layer
  * are kept in memory and written out when the run ends; Spark job spans
  * come from a scheduler listener and hang under the innermost benchmark
  * span open when the job started. Nothing is recorded while `on` is
  * false, so one run can interleave traced and untraced passes. */
final class Tracer(spark: SparkSession) {
  @volatile var on = false
  private val t0Nanos = System.nanoTime()
  private val t0Micros = System.currentTimeMillis() * 1000L
  def nowMicros: Long = t0Micros + (System.nanoTime() - t0Nanos) / 1000L

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Long, String, Long)] // (id, name, start)
  private var nextId = 1L
  private var opId = 0L
  // Spark-side tallies, written on the listener thread
  private val lock = new Object
  private var c = Counters()
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val writers = mutable.Set.empty[Int]
  private val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val progress = mutable.ArrayBuffer.empty[(String, Map[String, Long], Long)]

  /** Run `body` as span `name`; the outermost span opens a new op. */
  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    if (open.isEmpty) opId += 1
    val id = nextId; nextId += 1
    val start = nowMicros
    open = (id, name, start) :: open
    try body finally {
      val parent = open.tail.headOption.map(_._1).getOrElse(0L)
      open = open.tail
      spans += Span(id, name, start, nowMicros, parent, opId)
    }
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = BenchShims.drainListenerBus(spark.sparkContext)

  def snapshot(): Counters = {
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    lock.synchronized(c).copy(
      fsReadOps = CountingLocalFileSystem.reads.get,
      fsWriteOps = CountingLocalFileSystem.writes.get,
      fsWritten = fs.map(_.getBytesWritten).sum,
      gcMs = gc)
  }

  /** Wall time inside [from, to] (epoch micros) covered by a running job. */
  def busyMicros(from: Long, to: Long): Long = {
    val iv = lock.synchronized(jobSpans.toList)
      .map { case (_, s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** StreamingQueryProgress durations seen while tracing: (query id,
    * durationMs, input rows). */
  def streamProgress: Seq[(String, Map[String, Long], Long)] = lock.synchronized(progress.toList)

  /** All spans, benchmark spans and Spark job spans, the latter parented
    * by interval containment. */
  def allSpans: Seq[Span] = {
    val bench = spans.toList
    val jobs = lock.synchronized(jobSpans.toList).map { case (job, s, e) =>
      val host = bench.filter(b => b.start <= s && s <= b.end)
        .sortBy(b => b.end - b.start).headOption
      Span(nextId + job, s"spark.job.$job", s, e, host.map(_.id).getOrElse(0L),
        host.map(_.op).getOrElse(0L))
    }
    bench ++ jobs
  }

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) lock.synchronized {
      c = c.copy(jobs = c.jobs + 1)
      jobStarts(e.jobId) = nowMicros
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobSpans += ((e.jobId, s, nowMicros)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      val i = e.stageInfo
      val m = i.taskMetrics
      lock.synchronized {
        c = c.copy(stages = c.stages + 1, tasks = c.tasks + i.numTasks)
        // a write job is one with a stage that wrote output files
        stageJob.remove(i.stageId).filter(_ => m != null && m.outputMetrics.bytesWritten > 0)
          .filter(writers.add).foreach(_ => c = c.copy(writeJobs = c.writeJobs + 1))
        if (m != null) c = c.copy(
          taskMs = c.taskMs + m.executorRunTime,
          shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
          shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
          spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val planner = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = if (on) {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      lock.synchronized {
        c = c.copy(analysisMs = c.analysisMs + ms("analysis"),
          optimizationMs = c.optimizationMs + ms("optimization"),
          physicalMs = c.physicalMs + ms("planning"))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on && e.progress.numInputRows > 0) lock.synchronized {
        progress += ((e.progress.id.toString,
          e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          e.progress.numInputRows))
      }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(planner)
    spark.streams.addListener(streams)
  }
}
