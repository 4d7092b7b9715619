package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkBridge
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Listener-event sums for one attribution key (`<request>|<phase>`). */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var taskMs, runMs, cpuNs, gcMs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L

  def toJava: java.util.Map[String, Any] = Json.obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "task_ms" -> taskMs, "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "input_bytes" -> inputBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes)
}

/** Scheduler and SQL-execution events, attributed to requests through the
  * `perfbench.key` local property that every request thread sets (and that
  * stream execution threads inherit from the request that started them).
  * All state is touched only from the listener-bus thread; readers call
  * [[org.apache.spark.sql.perfbench.SparkBridge.drainListeners]] first. */
final class Recorder extends SparkListener {
  val counters = mutable.LinkedHashMap.empty[String, Counters]
  /** key -> (phase, startMs, endMs) from the sink's QueryPlanningTracker. */
  val plans = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(String, Long, Long)]]
  /** Job group of a stream execution thread (its run id) -> request key. */
  val runKey = mutable.HashMap.empty[String, String]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val execKey = mutable.HashMap.empty[Long, String]

  private def c(key: String) = counters.getOrElseUpdate(key, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val key = props.flatMap(p => Option(p.getProperty(Harness.KeyProp))).getOrElse("none")
    c(key).jobs += 1
    e.stageIds.foreach(stageKey(_) = key)
    for (p <- props; g <- Option(p.getProperty("spark.jobGroup.id")) if g != key) runKey(g) = key
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c(stageKey.getOrElse(e.stageInfo.stageId, "none")).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val k = c(stageKey.getOrElse(e.stageId, "none"))
    k.tasks += 1
    if (e.reason != Success) k.failedTasks += 1
    if (e.taskInfo != null) k.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      k.runMs += m.executorRunTime
      k.cpuNs += m.executorCpuTime
      k.gcMs += m.jvmGCTime
      k.inputBytes += m.inputMetrics.bytesRead
      k.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      k.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      k.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(execKey(s.executionId) = _)
    case s: SparkListenerSQLExecutionEnd =>
      for (key <- execKey.remove(s.executionId) if key.endsWith("|sink");
           qe <- SparkBridge.queryExecution(s)) {
        val buf = plans.getOrElseUpdate(key, mutable.ArrayBuffer.empty)
        qe.tracker.phases.foreach { case (phase, ps) => buf += ((phase, ps.startTimeMs, ps.endTimeMs)) }
      }
    case _ =>
  }
}

/** Every micro-batch progress report, kept raw until the run ends. */
final class StreamRecorder extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
