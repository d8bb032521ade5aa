package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import scala.collection.mutable

/** Local properties the harness sets on the driver thread. Spark copies
  * them into every job and stage it submits, and into the threads a
  * stream starts, so listener events name the query that caused them. */
object Tags {
  val Query = "perfbench.query"
  val Phase = "perfbench.phase"
}

/** Counts of one query, summed from listener events. */
final class Counts {
  var jobs, constructJobs, stages, oneTaskStages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, inputBytes, inputRows = 0L
}

/** A job's span: which query and phase submitted it, and when. */
final case class JobSpan(query: String, phase: String, startMs: Long, endMs: Long)

/** Scheduler, executor, shuffle and input counts per tagged query. */
final class TraceListener extends SparkListener {
  private val open = mutable.Map[Int, (String, String, Long)]()
  private val stageQuery = mutable.Map[Int, String]()
  val counts = mutable.Map[String, Counts]()
  val jobs = mutable.ArrayBuffer[JobSpan]()

  private def of(q: String): Counts = counts.getOrElseUpdate(q, new Counts)
  private def tag(p: java.util.Properties, key: String): String =
    Option(p).flatMap(x => Option(x.getProperty(key))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val q = tag(e.properties, Tags.Query)
    val phase = tag(e.properties, Tags.Phase)
    open(e.jobId) = (q, phase, e.time)
    e.stageIds.foreach(s => stageQuery.getOrElseUpdate(s, q))
    val c = of(q)
    c.jobs += 1
    if (phase == "construct") c.constructJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (q, phase, t0) =>
      jobs += JobSpan(q, phase, t0, e.time)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo
    val q = Option(tag(e.properties, Tags.Query)).filter(_.nonEmpty)
      .getOrElse(stageQuery.getOrElse(s.stageId, ""))
    stageQuery(s.stageId) = q
    val c = of(q)
    c.stages += 1
    if (s.numTasks == 1) c.oneTaskStages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageQuery.getOrElse(e.stageId, ""))
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
    }
  }
}

/** One micro-batch as `StreamingQueryProgress` reports it. */
final case class Batch(query: String, runId: java.util.UUID, inputRows: Long,
                       triggerMs: Long, commitMs: Long, droppedRows: Long,
                       stateRows: Seq[Long], statePartitions: Int)

/** Micro-batch progress per tagged query. `onQueryStarted` is delivered
  * on the thread that starts the stream, so `current` names the query
  * being built when a stream starts; later progress of that run is
  * attributed by its run id. */
final class StreamTrace extends StreamingQueryListener {
  @volatile var current: String = ""
  private val runQuery = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
  val batches = mutable.ArrayBuffer[Batch]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = runQuery.put(e.runId, current)

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    val b = Batch(
      runQuery.getOrDefault(p.runId, ""), p.runId, p.numInputRows,
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum,
      ops.map(_.numRowsTotal), if (ops.isEmpty) 0 else ops.map(_.numShufflePartitions).max.toInt)
    synchronized { batches += b }
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
