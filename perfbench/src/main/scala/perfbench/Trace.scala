package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (-1 for the root); times are `System.nanoTime` values.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, var endNs: Long = -1L)

/** In-memory span recorder: spans are opened and closed around calls into
  * the engine's layers and written out once, when the run ends.
  */
final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def apply[T](name: String)(body: => T): T = {
    val s = Span(all.size, stack.headOption.getOrElse(-1), name, System.nanoTime())
    all += s
    stack = s.id :: stack
    try body
    finally { s.endNs = System.nanoTime(); stack = stack.tail }
  }
}

/** Counters attributed to the query (and phase) that launched the work.
  * Every field is a sum over the tasks, stages or jobs it saw.
  */
final class Counters {
  var jobs, constructJobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, schedDelayMs, gcMs = 0L
  var shuffleWriteB, shuffleReadB, spillB, resultB = 0L
  var inputB, inputRows, recordsWritten = 0L

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "construct_jobs" -> constructJobs, "stages" -> stages,
    "tasks" -> tasks, "failed_tasks" -> failedTasks, "task_run_ms" -> taskRunMs,
    "task_cpu_ns" -> taskCpuNs, "sched_delay_ms" -> schedDelayMs, "gc_ms" -> gcMs,
    "shuffle_write_b" -> shuffleWriteB, "shuffle_read_b" -> shuffleReadB,
    "spill_b" -> spillB, "result_b" -> resultB, "input_b" -> inputB,
    "input_rows" -> inputRows, "records_written" -> recordsWritten)
}

object Trace {
  /** Local properties the harness sets around each query's phases; Spark
    * copies them into every job, and threads started under them inherit them.
    */
  val QueryKey = "perfbench.query"
  val PhaseKey = "perfbench.phase"
}

/** Spark execution counters per query, from Spark's own listener bus. */
final class ExecListener extends SparkListener {
  val byQuery = mutable.Map.empty[String, Counters]
  private val stageQuery = mutable.Map.empty[Int, String]

  private def of(props: java.util.Properties): Option[(String, String)] =
    Option(props).flatMap(p => Option(p.getProperty(Trace.QueryKey))
      .map(_ -> Option(p.getProperty(Trace.PhaseKey)).getOrElse("")))

  private def counters(q: String): Counters = byQuery.getOrElseUpdate(q, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    of(e.properties).foreach { case (q, phase) =>
      val c = counters(q)
      c.jobs += 1
      if (phase == "construct") c.constructJobs += 1
      e.stageIds.foreach(stageQuery(_) = q)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    of(e.properties).foreach { case (q, _) => stageQuery(e.stageInfo.stageId) = q }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageQuery.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageQuery.get(e.stageId).foreach { q =>
      val c = counters(q)
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.resultB += m.resultSize
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputB += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.recordsWritten += m.outputMetrics.recordsWritten
        // the same decomposition Spark's own UI uses for scheduler delay
        val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
        c.schedDelayMs += math.max(0L, e.taskInfo.duration - busy - e.taskInfo.gettingResultTime)
      }
    }
  }
}

/** Micro-batch counts and durations of the `availableNow` streams. */
final class StreamListener extends StreamingQueryListener {
  var batches = 0L
  var batchMs = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    batches += 1
    batchMs += Option(e.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
  }
}
