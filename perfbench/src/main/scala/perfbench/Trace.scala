package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBridge, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a graft layer. Times are JVM nanoTime; `end` stays
  * -1 while the span is open.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    thread: Long, start: Long, @volatile var end: Long = -1L)

/** One Spark job as the listeners saw it: its interval and the counters
  * of its stages and tasks. `end` stays -1 until the job ends.
  */
final class Job(val start: Long) {
  var end = -1L
  var stages, tasks, taskFailures = 0L
  var runMs, cpuNs, gcMs, inputRows = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes, outputBytes = 0L
}

/** In-memory span recorder plus the Spark listeners that record every
  * job with its counters.
  *
  * With `enabled = false` no span is recorded and no listener is
  * registered: the untraced run pays nothing for tracing. Jobs are not
  * tied to spans here: run.py bills each job to the innermost span whose
  * interval holds the job's start. That also covers jobs the server under
  * test submits from its own handler threads, which no span of the
  * harness can reach.
  */
final class Trace(val enabled: Boolean, val runId: String) {
  private val ids = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile private var sc: SparkContext = _

  // epoch-ms ↔ nanoTime mapping for listener event times
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def nanosAt(epochMs: Long): Long = nano0 + (epochMs - epoch0) * 1000000L

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  /** (phase start nanoTime, planning ms) of every finished query. */
  private val planning = mutable.ArrayBuffer.empty[(Long, Long)]

  def attach(context: SparkContext,
      session: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    sc = context
    context.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
        val job = new Job(nanosAt(e.time))
        jobs(e.jobId) = job
        e.stageIds.foreach(stageJob(_) = job)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
        jobs.get(e.jobId).foreach(_.end = nanosAt(e.time))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Trace.this.synchronized {
          stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
        stageJob.get(e.stageId).foreach { j =>
          j.tasks += 1
          if (e.reason != Success) j.taskFailures += 1
          Option(e.taskMetrics).foreach { m =>
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.inputRows += m.inputMetrics.recordsRead
            j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            j.spillBytes += m.diskBytesSpilled
            j.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
    })
    session.listenerManager.register(new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = {
        val phases = qe.tracker.phases
        if (phases.nonEmpty) Trace.this.synchronized {
          planning += ((nanosAt(phases.values.map(_.startTimeMs).min),
            phases.values.map(_.durationMs).sum))
        }
      }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = record(qe)
    })
  }

  /** Time `body` as a span of `layer`, nested in this thread's open span. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get.headOption.getOrElse(0L)
      val s = Span(ids.getAndIncrement(), parent, name, layer,
        Thread.currentThread.getId, System.nanoTime())
      spans.add(s)
      stack.set(s.id :: stack.get)
      try body
      finally {
        s.end = System.nanoTime()
        stack.set(stack.get.tail)
      }
    }

  /** Block until every listener event queued so far has been handled. */
  def drain(): Unit = if (enabled && sc != null) PerfbenchBridge.drainListeners(sc)

  private def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Everything recorded, as plain maps for the JSON trace file: spans,
    * jobs with their counters, and planning records. Times are
    * nanoseconds relative to the trace's creation.
    */
  def dump(): Map[String, Any] = synchronized {
    def rel(t: Long) = if (t < 0) -1L else t - nano0
    Map(
      "run_id" -> runId,
      "spans" -> allSpans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "thread" -> s.thread,
        "start_ns" -> rel(s.start), "end_ns" -> rel(s.end))),
      "jobs" -> jobs.values.toSeq.map(j => Map(
        "start_ns" -> rel(j.start), "end_ns" -> rel(j.end), "jobs" -> 1L,
        "stages" -> j.stages, "tasks" -> j.tasks,
        "task_failures" -> j.taskFailures, "task_run_ms" -> j.runMs,
        "task_cpu_ns" -> j.cpuNs, "task_gc_ms" -> j.gcMs,
        "input_rows" -> j.inputRows,
        "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "shuffle_read_bytes" -> j.shuffleReadBytes,
        "spill_bytes" -> j.spillBytes, "output_bytes" -> j.outputBytes)),
      "planning" -> planning.toSeq.map { case (t, ms) => Seq(rel(t), ms) })
  }

  /** nanoTime → the trace's relative clock, for timestamps the workloads
    * report next to the spans. */
  def rel(t: Long): Long = t - nano0
}
