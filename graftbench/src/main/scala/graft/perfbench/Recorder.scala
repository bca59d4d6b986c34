package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Everything the benchmark learns from Spark's public listener APIs.
  * The block-update side (storage memory) is always on, because an
  * end-to-end metric needs it; jobs, stages, tasks and query
  * executions are recorded only in a traced run. Events are aggregated
  * as they arrive and read after the listener bus has drained. */
final class Recorder(traced: Boolean) extends SparkListener with QueryExecutionListener {
  import Recorder._

  /** Recording is switched off outside traced passes. */
  @volatile var active: Boolean = false
  private def on: Boolean = traced && active

  private val lock = new Object
  private val jobsById = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stagesRun = mutable.HashMap.empty[Int, (Long, Long)] // stage -> interval
  private val taskAgg = mutable.HashMap.empty[Int, TaskAgg] // by job
  private val execs = mutable.ArrayBuffer.empty[Exec]
  private val blocks = mutable.HashMap.empty[String, (Long, Long)]
  private var storageNow = 0L
  private var storagePeak = 0L
  private val stores = mutable.ArrayBuffer.empty[BlockStore]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) lock.synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobsById(e.jobId) = Job(e.jobId, group, e.time * 1000000L, -1L, e.stageIds, ok = false)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) lock.synchronized {
    jobsById.get(e.jobId).foreach { j =>
      jobsById(e.jobId) = j.copy(end = e.time * 1000000L, ok = e.jobResult == JobSucceeded)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) lock.synchronized {
    val i = e.stageInfo
    stagesRun(i.stageId) = (i.submissionTime.getOrElse(0L) * 1000000L,
      i.completionTime.getOrElse(0L) * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) lock.synchronized {
    stageJob.get(e.stageId).foreach { job =>
      val a = taskAgg.getOrElseUpdate(job, new TaskAgg)
      a.tasks += 1
      if (!e.taskInfo.successful) a.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.deserMs += m.executorDeserializeTime
        a.gcMs += m.jvmGCTime
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
        a.outputBytes += m.outputMetrics.bytesWritten
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        a.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
    val info = e.blockUpdatedInfo
    val id = info.blockId.name
    val prev = blocks.get(id)
    val oldMem = prev.fold(0L)(_._1)
    if (info.storageLevel.isValid) {
      blocks(id) = (info.memSize, info.diskSize)
      if (on && prev.isEmpty)
        stores += BlockStore(Clock.now(), info.blockId.isRDD, info.memSize, info.diskSize)
    } else blocks.remove(id)
    storageNow += (if (info.storageLevel.isValid) info.memSize else 0L) - oldMem
    storagePeak = math.max(storagePeak, storageNow)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) record(qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    if (on) record(qe, 0L)

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    val write = writeKind(qe)
    lock.synchronized { execs += Exec(Clock.now(), durationNs, planMs, write) }
  }

  /** Peak bytes of Spark storage memory in use since the last reset. */
  def storagePeakBytes: Long = lock.synchronized(storagePeak)
  def resetStoragePeak(): Unit = lock.synchronized { storagePeak = storageNow }

  def jobs: Seq[Job] = lock.synchronized(jobsById.values.toSeq)
  /** Intervals of the job's stages that ran; the others were skipped. */
  def stagesRunOf(job: Job): Seq[(Long, Long)] =
    lock.synchronized(job.stageIds.flatMap(stagesRun.get))
  def tasksOf(job: Job): TaskAgg = lock.synchronized(taskAgg.getOrElse(job.id, new TaskAgg))
  /** Query executions recorded since the last drain. */
  def drainExecs(): Seq[Exec] = lock.synchronized { val r = execs.toSeq; execs.clear(); r }
  def blockStores: Seq[BlockStore] = lock.synchronized(stores.toSeq)
}

object Recorder {
  final case class Job(id: Int, group: Option[String], start: Long, end: Long,
      stageIds: Seq[Int], ok: Boolean)

  /** Task metrics summed over one job's tasks. */
  final class TaskAgg {
    var tasks, failed = 0L
    var runMs, cpuNs, deserMs, gcMs, peakExecMem, spillBytes = 0L
    var inputBytes, inputRecords, outputBytes = 0L
    var shuffleReadBytes, fetchWaitMs, shuffleWriteBytes, shuffleWriteRecords, shuffleWriteNs = 0L
  }

  /** One completed query execution (a Dataset action or command);
    * `write` names the kind of table write it performed, if any. */
  final case class Exec(at: Long, durationNs: Long, planMs: Long, write: Option[String])

  final case class BlockStore(at: Long, rdd: Boolean, memBytes: Long, diskBytes: Long)

  /** "append" for a write into an existing table, "create" for a table
    * (re)created by the write, None for anything else. */
  def writeKind(qe: QueryExecution): Option[String] = {
    val node = qe.logical.nodeName
    if (node.contains("InsertInto") || node.contains("AppendData")) Some("append")
    else if (node.contains("CreateTable") || node.contains("CreateDataSourceTable") ||
      node.contains("ReplaceTable")) Some("create")
    else None
  }
}
