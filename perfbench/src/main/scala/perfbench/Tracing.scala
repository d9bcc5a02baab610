package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.JsonAST.JObject
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-memory span and counter records of a traced run, written out once
  * at exit. Harness spans (pass, entry, build, execute) carry their
  * parent; job, stage and streaming-batch records carry times only and
  * are placed in the tree by time afterwards. Times are epoch
  * milliseconds; harness spans keep the sub-millisecond part.
  */
object Trace {
  @volatile var recording = false
  @volatile var pass = 0L
  private val records = new ConcurrentLinkedQueue[String]
  private val ids = new AtomicLong
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  def record(kind: String, fields: JObject): Unit =
    if (recording)
      records.add(compact(render(("kind" -> kind) ~ ("pass" -> pass) ~ fields)))

  private val starts = new java.util.concurrent.ConcurrentHashMap[Long, (String, String, Long, Double)]

  def open(kind: String, name: String, parent: Long): Long = {
    val id = ids.incrementAndGet()
    starts.put(id, (kind, name, parent, nowMs))
    id
  }

  def close(id: Long): Unit = {
    val (kind, name, parent, start) = starts.remove(id)
    record(kind, ("id" -> id) ~ ("name" -> name) ~ ("parent" -> parent) ~
      ("start" -> start) ~ ("end" -> nowMs))
  }

  def write(path: String): Unit =
    Files.write(Paths.get(path), records.asScala.mkString("", "\n", "\n").getBytes(UTF_8))
}

/** Jobs and stages, with each stage's task counters summed. Added for
  * the traced passes only.
  */
object JobListener extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val taskSums = mutable.Map.empty[(Int, Int), Array[Long]]
  // task ms, scan task ms, write task ms, failed tasks
  private def sums(stage: Int, attempt: Int) =
    taskSums.getOrElseUpdate((stage, attempt), Array.fill(4)(0L))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { start =>
      Trace.record("job", ("id" -> e.jobId) ~ ("start" -> start) ~ ("end" -> e.time))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = sums(e.stageId, e.stageAttemptId)
    val m = e.taskMetrics
    val ms = e.taskInfo.duration
    s(0) += ms
    if (m != null && m.inputMetrics.bytesRead > 0) s(1) += m.executorRunTime
    if (m != null && m.outputMetrics.bytesWritten > 0) s(2) += m.executorRunTime
    if (e.reason != Success) s(3) += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val s = taskSums.remove((i.stageId, i.attemptNumber())).getOrElse(Array.fill(4)(0L))
    val start = i.submissionTime.getOrElse(0L)
    Trace.record("stage",
      ("id" -> i.stageId) ~ ("job" -> stageJob.getOrElse(i.stageId, -1)) ~
      ("start" -> start) ~ ("end" -> i.completionTime.getOrElse(start)) ~
      ("tasks" -> i.numTasks) ~ ("task_ms" -> s(0)) ~
      ("scan_task_ms" -> s(1)) ~ ("write_task_ms" -> s(2)) ~
      ("failed_tasks" -> s(3)) ~
      ("run_ms" -> m.executorRunTime) ~ ("cpu_ns" -> m.executorCpuTime) ~
      ("gc_ms" -> m.jvmGCTime) ~
      ("in_bytes" -> m.inputMetrics.bytesRead) ~
      ("in_rows" -> m.inputMetrics.recordsRead) ~
      ("out_bytes" -> m.outputMetrics.bytesWritten) ~
      ("out_rows" -> m.outputMetrics.recordsWritten) ~
      ("sw_bytes" -> m.shuffleWriteMetrics.bytesWritten) ~
      ("sr_bytes" -> (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead)) ~
      ("fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime) ~
      ("spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
  }
}

/** Catalyst phase times and physical-plan shape of every query. */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Trace.recording) {
      val phases = qe.tracker.phases
      def ms(phase: String) = phases.get(phase).map(_.durationMs).getOrElse(0L)
      val nodes = PlanListener.nodes(qe.executedPlan)
      Trace.record("plan",
        ("analysis_ms" -> ms("analysis")) ~ ("optimizer_ms" -> ms("optimization")) ~
        ("planning_ms" -> ms("planning")) ~ ("nodes" -> nodes.size) ~
        ("exchanges" -> nodes.count(_.isInstanceOf[Exchange])))
    }

  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
}

object PlanListener {
  /** Every operator of a physical plan, adaptive stages unwrapped. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

/** One record per streaming micro-batch. */
class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    def ms(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    Trace.record("batch",
      ("name" -> s"${p.name}#${p.batchId}") ~ ("start" -> start) ~
      ("end" -> (start + ms("triggerExecution"))) ~
      ("rows" -> p.numInputRows) ~ ("add_batch_ms" -> ms("addBatch")) ~
      ("wal_commit_ms" -> ms("walCommit")) ~
      ("planning_ms" -> ms("queryPlanning")) ~
      ("state_rows" -> p.stateOperators.map(_.numRowsTotal).sum) ~
      ("late_rows" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum))
  }
}
