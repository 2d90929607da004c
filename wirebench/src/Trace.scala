package graft.wirebench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the traced run saw it. */
final class Job(val id: Int, val start: Long, val site: String, val streaming: Boolean) {
  @volatile var end: Long = -1L
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var rowsRead = 0L
}

/** One Dataset action: when its last Catalyst phase ended (just before
  * its jobs ran) and its total Catalyst phase time.
  */
final case class Action(at: Long, planMs: Double)

/** Everything the traced run learns from Spark's own events: one record
  * per job (call site, stages, tasks, CPU, shuffle written, spill, rows read) and one per
  * Dataset action (Catalyst phase times). Registered by the bench; the
  * engine is not changed.
  */
final class Trace extends SparkListener with QueryExecutionListener {

  private val jobsById = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val actionBuf = mutable.ArrayBuffer.empty[Action]

  // SQL execution id -> call site of the action that started it: jobs
  // that AQE or a broadcast submits from their own threads carry no
  // graft frames themselves, only the execution id
  private val execSites = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execSites(s.executionId) = s.details }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).flatMap(execSites.get)
    // a streaming micro-batch carries its query id as a local property
    val streaming = Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null)
    val j = new Job(e.jobId, e.time, (e.stageInfos.map(_.details) ++ exec).mkString("\n"), streaming)
    jobsById(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      j.rowsRead += m.inputMetrics.recordsRead
    }
  }

  // stamped from the tracker, not on delivery: the listener bus delivers
  // this callback asynchronously, possibly after the op has ended
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val planMs = phases.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble
      synchronized { actionBuf += Action(phases.map(_.endTimeMs).max, planMs) }
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def jobs: Seq[Job] = synchronized(jobsById.values.toSeq)
  def actions: Seq[Action] = synchronized(actionBuf.toSeq)
}

object Trace {

  /** Store phase of a job, by the `graft.*` method in its call site. */
  def storePhase(site: String): String =
    if (site.contains("graft.store.Store.compactDay")) "compact"
    else if (site.contains("graft.store.Store.appendData")) "append"
    else if (site.contains("graft.store.Store.commitUnioned") ||
      site.contains("graft.store.Store.commitMetadata") ||
      site.contains("graft.store.Store.computeSliceState")) "meta"
    else "other"

  /** Layer of a job that ran inside an op of kind `op`; a job that
    * matches no rule goes to the op's `<layer>.other`.
    */
  def layerOf(op: String, job: Job): String = op match {
    case "put" => s"store.${storePhase(job.site)}"
    case "query" =>
      if (job.site.contains("graft.api.QueryApi") || job.site.contains("graft.query.")) "query.exec"
      else "query.other"
    case "gate" =>
      if (job.streaming) "batch.streaming"
      else if (job.site.contains("graft.pipeline.") || job.site.contains("graft.PipelineQueries"))
        "batch.pipeline"
      else "batch.other"
    case _ => "unattributed"
  }

  /** Length of the union of `[start, end]` intervals, in ms. */
  def unionMs(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = curE.max(e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
