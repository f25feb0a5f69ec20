package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine totals at one instant; per-query figures are differences. */
final case class EngineCounts(
    jobs: Long, stages: Long, tasks: Long, runMs: Long, gcMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, peakExecMem: Long,
    outRecords: Long, outBytes: Long) {
  def -(o: EngineCounts): EngineCounts = EngineCounts(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, runMs - o.runMs, gcMs - o.gcMs,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite, spill - o.spill,
    peakExecMem, outRecords - o.outRecords, outBytes - o.outBytes)
}

/** Spark's scheduler events, summed: jobs, stages, tasks and the task
  * metrics the executor reports. Jobs are also counted by the source file
  * that submitted them (the job's call site, e.g. `StoreHttp.scala`).
  */
final class EngineListener extends SparkListener {
  private var c = EngineCounts(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val byCaller = scala.collection.mutable.Map.empty[String, Long]

  def counts: EngineCounts = synchronized(c)
  def jobsFrom(file: String): Long = synchronized(byCaller.getOrElse(file, 0L))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
    // a job's last stage is named after its call site: "collect at X.scala:12"
    e.stageInfos.sortBy(_.stageId).lastOption.foreach { s =>
      val file = s.name.split(" at ").lastOption.getOrElse("").split(":").head
      byCaller(file) = byCaller.getOrElse(file, 0L) + 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    synchronized {
      c = c.copy(
        tasks = c.tasks + 1,
        runMs = c.runMs + m.executorRunTime,
        gcMs = c.gcMs + m.jvmGCTime,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory),
        outRecords = c.outRecords + m.outputMetrics.recordsWritten,
        outBytes = c.outBytes + m.outputMetrics.bytesWritten)
    }
  }
}

/** One micro-batch's progress report: its `durationMs` phases. */
final case class BatchProgress(
    batchId: Long, inputRows: Long, startEpochMs: Long, durationMs: Map[String, Long])

/** Micro-batch progress of every streaming query in the session. */
final class ProgressListener extends StreamingQueryListener {
  private val buf = ArrayBuffer.empty[BatchProgress]

  def batches: Seq[BatchProgress] = buf.synchronized(buf.toVector)
  def clear(): Unit = buf.synchronized(buf.clear())

  /** Progress reports are delivered asynchronously: wait for `n`. */
  def await(n: Int, timeoutMs: Long = 5000): Seq[BatchProgress] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (batches.size < n && System.currentTimeMillis() < deadline) Thread.sleep(10)
    batches
  }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    // progress reports also arrive for idle triggers; only data batches count
    if (p.numInputRows > 0) buf.synchronized {
      buf += BatchProgress(p.batchId, p.numInputRows,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.entrySet().toArray.map { x =>
          val kv = x.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]]
          kv.getKey -> kv.getValue.longValue
        }.toMap)
    }
  }
}

/** Point lookups as the plan executed them: a `collect` over a filtered
  * scan. Records the rows the scan produced, from the plan's SQL metrics.
  */
final class LookupListener extends QueryExecutionListener {
  private val rows = ArrayBuffer.empty[Long]

  def rowsExamined: Seq[Long] = rows.synchronized(rows.toVector)

  def await(n: Int, timeoutMs: Long = 5000): Seq[Long] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (rowsExamined.size < n && System.currentTimeMillis() < deadline) Thread.sleep(10)
    rowsExamined.take(n)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (funcName == "collect") {
      val plan = Plans.unwrap(qe.executedPlan)
      if (plan.exists(_.isInstanceOf[FilterExec])) {
        val scanned = plan.collectLeaves()
          .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
        rows.synchronized(rows += scanned)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Plans {
  def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case other => other
  }
}
