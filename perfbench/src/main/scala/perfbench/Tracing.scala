package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark runtime totals from the scheduler's listener API: tasks, stages,
  * executor time, GC, shuffle and spill, plus each task's launch and
  * finish time for the wall-time reconciliation. */
final class TaskStats extends SparkListener {
  private val tasks = ArrayBuffer.empty[(Long, Long)] // (launch ms, finish ms)
  private var stages = 0L
  private var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  @volatile private var lastEventNs = System.nanoTime()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { lastEventNs = System.nanoTime(); stages += 1 }
  override def onOtherEvent(e: SparkListenerEvent): Unit = lastEventNs = System.nanoTime()

  /** Listener delivery is asynchronous: wait until the bus has been quiet
    * for 100 ms (at most 2 s) before reading totals. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 2000000000L
    while (System.nanoTime() - lastEventNs < 100000000L && System.nanoTime() < deadline)
      Thread.sleep(10)
  }

  /** Totals since the previous call, and the tasks' (launch, finish). */
  def drain(): Map[String, Any] = synchronized {
    val r = Map(
      "tasks" -> tasks.size, "stages" -> stages, "executor_run_ms" -> runMs,
      "executor_cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "shuffle_write_bytes" -> shuffleWrite,
      "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spill,
      "task_times" -> tasks.map { case (l, f) => Seq(l, f) }.toList)
    tasks.clear(); stages = 0
    runMs = 0; cpuNs = 0; gcMs = 0; shuffleWrite = 0; shuffleRead = 0; spill = 0
    r
  }
}

object TaskStats {
  def attach(spark: SparkSession): TaskStats = {
    val l = new TaskStats
    spark.sparkContext.addSparkListener(l)
    l
  }
}

/** SQL executions from the scheduler bus's SQL-execution events, each as
  * (kind, ms). The bus is shared by every session of the context, so this
  * also sees the executions a streaming query runs in its own session.
  * The kind comes from the physical plan: a write into the results or DLQ
  * directory, or the transfer map itself. */
final class SqlExecutions(resultsDir: String, dlqDir: String) extends SparkListener {
  private val started = scala.collection.mutable.Map.empty[Long, (String, Long)]
  private val runs = ArrayBuffer.empty[(String, Double)]

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        started(s.executionId) = (SqlExecutions.kind(s.physicalPlanDescription, resultsDir, dlqDir), s.time)
      case end: SparkListenerSQLExecutionEnd =>
        started.remove(end.executionId).foreach { case (k, t0) => runs += ((k, (end.time - t0).toDouble)) }
      case _ =>
    }
  }

  def snapshot: List[(String, Double)] = synchronized(runs.toList)
}

object SqlExecutions {
  def kind(plan: String, resultsDir: String, dlqDir: String): String = {
    val write = plan.contains("InsertIntoHadoopFsRelationCommand")
    if (write && plan.contains(dlqDir)) "sink_dlq"
    else if (write && plan.contains(resultsDir)) "sink_results"
    else if (plan.contains("MapPartitions")) "transfer"
    else "other"
  }
}

/** Every micro-batch's progress report, from the streaming listener API. */
final class StreamProgress extends StreamingQueryListener {
  val batches = ArrayBuffer.empty[Map[String, Any]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { batches += StreamProgress.record(e.progress) }
  def snapshot: List[Map[String, Any]] = synchronized(batches.toList)
}

object StreamProgress {
  import scala.jdk.CollectionConverters._
  def record(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Map[String, Any] = Map(
    "batch_id" -> p.batchId,
    "timestamp_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
    "rows" -> p.numInputRows,
    "durations_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
}
