package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spans recorded by the benchmark around each call into a module, and a
  * listener that charges every Spark job, and the stages and tasks under
  * it, to the span that submitted it. The span id travels to the
  * scheduler as a thread-local job property. Everything stays in memory
  * until [[write]] at the end of the run.
  *
  * Times are epoch microseconds. Spans use a nanoTime clock anchored to
  * the wall clock once, so they line up with the listener's job times
  * (which are wall-clock milliseconds). */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val anchorNanos = System.nanoTime()
  private val anchorMicros = System.currentTimeMillis() * 1000L
  private def nowMicros: Long = anchorMicros + (System.nanoTime() - anchorNanos) / 1000L

  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val jobBuf = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private var stack: List[Long] = Nil
  private var nextId = 1L
  private val overhead = new java.util.concurrent.atomic.AtomicLong(0L)

  if (enabled) sc.addSparkListener(new Listener)

  /** Runs `f` inside a span named `name` (a no-op when tracing is off). */
  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      val id = synchronized { val i = nextId; nextId += 1; i }
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setLocalProperty(SpanKey, id.toString)
      val start = nowMicros
      overhead.addAndGet(System.nanoTime() - t0)
      try f
      finally {
        val t1 = System.nanoTime()
        val end = nowMicros
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
        synchronized(spanBuf += Span(id, parent, name, start, end))
        overhead.addAndGet(System.nanoTime() - t1)
      }
    }

  /** Forgets everything recorded so far (set-up is not measured). */
  def reset(): Unit = synchronized {
    spanBuf.clear(); jobBuf.clear(); overhead.set(0L)
  }

  /** Waits until the listener has seen the end of every job it saw start. */
  def settle(timeoutMs: Long = 10000L): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobBuf.values.exists(_.end < 0)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
  }

  def spans: Seq[Span] = synchronized(spanBuf.toVector)
  def jobs: Seq[Job] = synchronized(jobBuf.values.map(_.copy()).toVector)
  def overheadNanos: Long = overhead.get()

  /** Jobs charged to each span id. */
  def jobsBySpan: Map[Long, Seq[Job]] = jobs.groupBy(_.span)

  /** Writes spans and jobs as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      for (s <- spans)
        w.write(s"""{"type":"span","id":${s.id},"parent":${s.parent},"name":"${s.name}","start_us":${s.start},"end_us":${s.end}}""" + "\n")
      for (j <- jobs)
        w.write(s"""{"type":"job","id":${j.id},"span":${j.span},"start_us":${j.start},"end_us":${j.end},"stages":${j.stages},"tasks":${j.tasks},"executor_run_ms":${j.runMs},"scheduler_wait_ms":${j.waitMs},"records_read":${j.recordsRead},"bytes_read":${j.bytesRead},"bytes_written":${j.bytesWritten},"shuffle_write_bytes":${j.shuffleWrite},"spill_bytes":${j.spill}}""" + "\n")
    } finally w.close()
  }

  private final class Listener extends SparkListener {
    private def timed(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      Tracer.this.synchronized(f)
      overhead.addAndGet(System.nanoTime() - t0)
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val span = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong)
        .getOrElse(0L)
      jobBuf(e.jobId) = Job(e.jobId, span, e.time * 1000L)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobBuf.get(e.jobId).foreach(_.end = e.time * 1000L)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
      val info = e.stageInfo
      stageSubmitted(info.stageId) =
        info.submissionTime.getOrElse(System.currentTimeMillis())
      stageJob.get(info.stageId).flatMap(jobBuf.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      for (jobId <- stageJob.get(e.stageId); job <- jobBuf.get(jobId)) {
        job.tasks += 1
        job.waitMs += math.max(0L,
          e.taskInfo.launchTime - stageSubmitted.getOrElse(e.stageId, e.taskInfo.launchTime))
        val m = e.taskMetrics
        if (m != null) {
          job.runMs += m.executorRunTime
          job.recordsRead += m.inputMetrics.recordsRead
          job.bytesRead += m.inputMetrics.bytesRead
          job.bytesWritten += m.outputMetrics.bytesWritten
          job.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          job.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long) {
    def micros: Long = end - start
  }

  /** One Spark job and the totals of the tasks that ran under it. */
  final case class Job(id: Int, span: Long, start: Long, var end: Long = -1L,
      var stages: Int = 0, var tasks: Long = 0L, var runMs: Long = 0L,
      var waitMs: Long = 0L, var recordsRead: Long = 0L, var bytesRead: Long = 0L,
      var bytesWritten: Long = 0L, var shuffleWrite: Long = 0L, var spill: Long = 0L)
}
