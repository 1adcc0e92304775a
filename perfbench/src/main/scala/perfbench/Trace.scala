package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Execution counters of one op span, summed over the jobs it caused. */
final class OpCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var taskGcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  /** per stage (max task ms, summed task ms, task count): skew input */
  val stageTasks = mutable.Map.empty[Int, (Long, Long, Long)]
  var batches = 0L
  var batchInputRows = 0L
  val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

/** SparkListener + StreamingQueryListener that attribute every job, task and
  * micro-batch to the op span that is open when the event is processed. The
  * harness drains the listener bus before it closes a span, so events never
  * spill into the next op. Counters live in memory until the run ends.
  */
final class Trace extends SparkListener {
  @volatile private var open: OpCounters = _
  private val stageOwner = mutable.Map.empty[Int, OpCounters]

  def begin(): OpCounters = synchronized {
    open = new OpCounters
    open
  }

  def end(): Unit = synchronized { open = null }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val c = open
    if (c != null) {
      c.jobs += 1
      c.stages += e.stageIds.size
      e.stageIds.foreach(stageOwner(_) = c)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = stageOwner.getOrElse(e.stageId, open)
    val m = e.taskMetrics
    if (c != null && m != null) {
      c.tasks += 1
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.taskGcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
      val (mx, sum, n) = c.stageTasks.getOrElse(e.stageId, (0L, 0L, 0L))
      c.stageTasks(e.stageId) =
        (math.max(mx, m.executorRunTime), sum + m.executorRunTime, n + 1)
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val c = open
        if (c != null) {
          c.batches += 1
          c.batchInputRows += e.progress.numInputRows
          e.progress.durationMs.forEach((k, v) => c.phaseMs(k) += v.longValue)
        }
      }
  }
}
