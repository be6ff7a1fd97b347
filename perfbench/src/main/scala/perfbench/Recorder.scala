package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Counters the harness's listener keeps for one tag. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskRunMs = 0L
  var spillBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L
  var outputRows = 0L
  var resultBytes = 0L
  var streams = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; taskRunMs += o.taskRunMs
    spillBytes += o.spillBytes; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; fetchWaitMs += o.fetchWaitMs
    inputBytes += o.inputBytes; inputRows += o.inputRows
    outputBytes += o.outputBytes; outputRows += o.outputRows
    resultBytes += o.resultBytes; streams += o.streams
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "task_run_ms" -> taskRunMs,
    "spill_bytes" -> spillBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "fetch_wait_ms" -> fetchWaitMs,
    "input_bytes" -> inputBytes, "input_rows" -> inputRows,
    "output_bytes" -> outputBytes, "output_rows" -> outputRows,
    "result_bytes" -> resultBytes, "streams" -> streams)
}

/** Aggregates scheduler events by the tag the harness sets as a local
  * property around each call into the engine. Local properties travel
  * with every job the call starts, including jobs that broadcast
  * threads and stream executions start on the caller's behalf, so a
  * job is never charged to the wrong query or phase.
  */
final class Recorder extends SparkListener {
  private val byTag = mutable.HashMap.empty[String, Counters]
  private val stageTag = mutable.HashMap.empty[Int, String]

  private def tagOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Recorder.TagKey)))
      .getOrElse(Recorder.Untagged)

  private def counters(tag: String): Counters =
    byTag.getOrElseUpdate(tag, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    counters(tagOf(e.properties)).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageTag(e.stageInfo.stageId) = tagOf(e.properties)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      counters(stageTag.getOrElse(e.stageInfo.stageId, Recorder.Untagged))
        .stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageTag.getOrElse(e.stageId, Recorder.Untagged))
    c.tasks += 1
    if (!e.taskInfo.successful) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRows += m.outputMetrics.recordsWritten
      c.resultBytes += m.resultSize
    }
  }

  /** The tag of the call in progress. One client drives the engine,
    * so every stream that starts while a call runs belongs to it.
    */
  @volatile var currentTag: String = Recorder.Untagged

  /** Counts stream starts under the tag of the call that started them. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit =
      Recorder.this.synchronized {
        counters(currentTag).streams += 1
      }
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Sum of the counters whose tag satisfies `p`. */
  def sum(p: String => Boolean): Counters = synchronized {
    val out = new Counters
    byTag.foreach { case (t, c) => if (p(t)) out.add(c) }
    out
  }
}

object Recorder {
  val TagKey = "perfbench.tag"
  val Untagged = "untagged"
}
