package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Benchmark-side trace: named spans around calls into the library, plus a
  * SparkListener that records every job, task and SQL execution with its
  * timestamps. Attribution happens after the run (see perfbench/metrics.py):
  * a job belongs to the innermost span that was open when it started, and a
  * task belongs to the job whose stage ran it. Attribution is by time window
  * rather than by job group because `MLForecast.fit` submits its per-model
  * jobs from `Future` threads, which carry no job-group property.
  *
  * Everything stays in memory and is written once, by [[toJson]].
  */
final class Tracer extends SparkListener {
  final case class Span(id: Int, name: String, parent: Int, cycle: Int,
                        startMs: Long, var endMs: Long,
                        startNs: Long, var endNs: Long)
  final case class Job(id: Int, startMs: Long, var endMs: Long, var ok: Boolean)
  final case class Task(job: Int, stage: Int, durationMs: Long, runMs: Long,
                        shuffleRead: Long, shuffleWrite: Long, spill: Long)

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val jobs = ArrayBuffer.empty[Job]
  private val tasks = ArrayBuffer.empty[Task]
  private val sqlStarts = ArrayBuffer.empty[Long]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  @volatile private var lastEventNs = System.nanoTime()
  private val epochNs = System.nanoTime()

  /** Runs `body` inside a span; spans opened inside it become its children. */
  def span[T](name: String, cycle: Int)(body: => T): T = {
    val s = synchronized {
      val s = Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1), cycle,
        System.currentTimeMillis(), -1L, System.nanoTime(), -1L)
      spans += s; stack = s :: stack; s
    }
    try body
    finally synchronized {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      stack = stack.tail
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, -1L, ok = false)
    e.stageIds.foreach(stageJob(_) = e.jobId)
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach { j =>
      j.endMs = e.time; j.ok = e.jobResult == JobSucceeded
    }
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val (run, read, write, spill) =
      if (m == null) (0L, 0L, 0L, 0L)
      else (m.executorRunTime,
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled)
    tasks += Task(stageJob.getOrElse(e.stageId, -1), e.stageId,
      e.taskInfo.duration, run, read, write, spill)
    lastEventNs = System.nanoTime()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlStarts += s.time; lastEventNs = System.nanoTime()
    }
    case _ =>
  }

  /** Listener events arrive asynchronously; wait until every started job
    * has ended and the bus has been quiet for a moment.
    */
  def drain(timeoutMs: Long = 15000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def settled = synchronized(jobs.forall(_.endMs >= 0)) &&
      System.nanoTime() - lastEventNs > 300L * 1000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }

  def toJson: String = synchronized {
    val sp = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"cycle":${s.cycle},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"start_ns":${s.startNs - epochNs},"end_ns":${s.endNs - epochNs}}""")
    val jb = jobs.map(j => s"""{"id":${j.id},"start_ms":${j.startMs},"end_ms":${j.endMs},"ok":${j.ok}}""")
    val tk = tasks.map(t =>
      s"""[${t.job},${t.stage},${t.durationMs},${t.runMs},${t.shuffleRead},${t.shuffleWrite},${t.spill}]""")
    s"""{"spans":[${sp.mkString(",")}],"jobs":[${jb.mkString(",")}],""" +
      s""""task_fields":["job","stage","duration_ms","run_ms","shuffle_read_b","shuffle_write_b","spill_b"],""" +
      s""""tasks":[${tk.mkString(",")}],"sql_starts_ms":[${sqlStarts.mkString(",")}]}"""
  }
}
