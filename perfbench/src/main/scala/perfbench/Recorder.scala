package perfbench

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable

import com.codahale.metrics.{Histogram, Reservoir, Snapshot}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Exact running sums of Spark's codegen histograms. `CodegenMetrics` keeps
  * a sampling reservoir, which cannot give exact totals, so each histogram's
  * reservoir is wrapped once with a summing one. Counts come from the
  * histogram itself.
  */
object Codegen {
  private final class Summing(inner: Reservoir) extends Reservoir {
    val sum = new LongAdder
    override def size(): Int = inner.size()
    override def update(value: Long): Unit = { sum.add(value); inner.update(value) }
    override def getSnapshot: Snapshot = inner.getSnapshot
  }

  private def wrap(h: Histogram): Summing = {
    val f = classOf[Histogram].getDeclaredField("reservoir")
    f.setAccessible(true)
    f.get(h) match {
      case s: Summing => s
      case r: Reservoir => val s = new Summing(r); f.set(h, s); s
    }
  }

  private lazy val timeMs = wrap(CodegenMetrics.METRIC_COMPILATION_TIME)
  private lazy val sourceBytes = wrap(CodegenMetrics.METRIC_SOURCE_CODE_SIZE)

  def install(): Unit = { timeMs; sourceBytes; () }

  /** (compiles, compile ms, generated source bytes) since JVM start. */
  def totals(): (Long, Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, timeMs.sum.sum(), sourceBytes.sum.sum())

}

/** Per-stage task aggregate, filled from task-end events. */
final class StageAgg(val stageId: Int, val attempt: Int) {
  var submitMs = -1L
  var completeMs = -1L
  var tasks, failedTasks, emptyTasks = 0L
  var runMs, cpuNs, deserMs, shuffleRead, shuffleWrite, spill = 0L
  var schedWaitMs, taskWallMs = 0L

  def toMap: Map[String, Any] = Map(
    "stage" -> stageId, "attempt" -> attempt, "submit_ms" -> submitMs,
    "complete_ms" -> completeMs,
    "tasks" -> tasks, "failed_tasks" -> failedTasks, "empty_tasks" -> emptyTasks,
    "run_ms" -> runMs, "cpu_ms" -> cpuNs / 1e6, "deser_ms" -> deserMs,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "sched_wait_ms" -> schedWaitMs, "task_wall_ms" -> taskWallMs)
}

/** Outside-in recorder of the engine's layers, through Spark's listener
  * bus:
  *
  *   - Catalyst: every SQL execution's `QueryPlanningTracker` phases and
  *     executed-plan size, read from the execution-end event (the event
  *     `QueryExecutionListener`s are fed from; plans are never forced a
  *     second time), with start/end times and the job group it ran under;
  *   - execution: a `SparkListener` for jobs (call site, job group),
  *     stages and task metrics;
  *   - streaming: a `StreamingQueryListener` for micro-batch durations and
  *     state-store commit time.
  *
  * Listeners are attached only in a traced run, so the untraced runs that
  * give the end-to-end metrics pay nothing. Records are appended on the
  * listener-bus threads and read after [[detach]] has drained the bus.
  */
final class Recorder(spark: SparkSession) {
  private val jobs = mutable.ArrayBuffer[Map[String, Any]]()
  private val jobEnds = mutable.Map[Int, Long]()
  private val stages = mutable.LinkedHashMap[(Int, Int), StageAgg]()
  private val execStarts = mutable.Map[Long, Map[String, Any]]()
  private val execEnds = mutable.Map[Long, Long]()
  private val actions = mutable.Map[Long, Map[String, Any]]()
  private val batches = mutable.ArrayBuffer[Map[String, Any]]()
  private val streams = mutable.ArrayBuffer[Map[String, Any]]()

  private def stage(id: Int, attempt: Int): StageAgg =
    stages.getOrElseUpdate((id, attempt), new StageAgg(id, attempt))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs.synchronized {
        jobs += Map("job" -> e.jobId, "start_ms" -> e.time,
          "group" -> prop("spark.jobGroup.id"),
          "exec" -> prop("spark.sql.execution.id").map(_.toLong),
          // The result stage is named after the action's call site.
          "call_site" -> prop("callSite.short").orElse(
            e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)),
          "stages" -> e.stageIds)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobEnds(e.jobId) = e.time
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.synchronized {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.submitMs = e.stageInfo.submissionTime.getOrElse(-1L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      if (s.submitMs < 0) s.submitMs = i.submissionTime.getOrElse(-1L)
      s.completeMs = i.completionTime.getOrElse(-1L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stages.synchronized {
      val s = stage(e.stageId, e.stageAttemptId)
      val info = e.taskInfo
      s.tasks += 1
      if (!info.successful) s.failedTasks += 1
      if (s.submitMs >= 0) s.schedWaitMs += math.max(0L, info.launchTime - s.submitMs)
      s.taskWallMs += math.max(0L, info.finishTime - info.launchTime)
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.deserMs += m.executorDeserializeTime
        val sr = m.shuffleReadMetrics
        s.shuffleRead += sr.remoteBytesRead + sr.localBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        if (m.inputMetrics.recordsRead + sr.recordsRead == 0) s.emptyTasks += 1
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execStarts.synchronized {
        execStarts(s.executionId) = Map("start_ms" -> s.time,
          "group" -> s.jobGroupId)
      }
      case s: SparkListenerSQLExecutionEnd =>
        execStarts.synchronized(execEnds(s.executionId) = s.time)
        PerfbenchBridge.queryExecution(s).foreach(qe =>
          recordAction(s.executionId, qe, s.errorMessage.forall(_.isEmpty)))
      case _ =>
    }
  }

  private val planHelper = new AdaptiveSparkPlanHelper {}

  private def recordAction(id: Long, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    // Only read a plan the execution itself produced.
    val nodes =
      if (!ok || !phases.contains("planning")) 0
      else try planHelper.collect(qe.executedPlan) { case p => p }.size
      catch { case scala.util.control.NonFatal(_) => 0 }
    actions.synchronized {
      actions(id) = Map(
        "phases" -> phases.map { case (k, v) => k -> Seq(v.startTimeMs, v.endTimeMs) },
        "nodes" -> nodes)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streams.synchronized {
        streams += Map("run_id" -> e.runId.toString,
          "start_ms" -> java.time.Instant.parse(e.timestamp).toEpochMilli)
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      batches.synchronized {
        batches += Map("run_id" -> p.runId.toString, "batch" -> p.batchId,
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "trigger_ms" -> dur("triggerExecution"), "add_batch_ms" -> dur("addBatch"),
          "commit_ms" -> (dur("commitOffsets") + dur("walCommit")),
          "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum)
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Everything recorded so far, as plain maps for the raw run record. */
  def records: Map[String, Any] = {
    val js = jobs.synchronized {
      jobs.map { j =>
        j + ("end_ms" -> jobEnds.getOrElse(j("job").asInstanceOf[Int], -1L))
      }.toList
    }
    val ex = execStarts.synchronized {
      val ids = (execStarts.keySet ++ actions.synchronized(actions.keySet)).toList.sorted
      ids.map { id =>
        Map("exec" -> id, "end_ms" -> execEnds.getOrElse(id, -1L)) ++
          execStarts.getOrElse(id, Map.empty) ++
          actions.synchronized(actions.getOrElse(id, Map.empty))
      }
    }
    Map("jobs" -> js,
      "stages" -> stages.synchronized(stages.values.map(_.toMap).toList),
      "executions" -> ex,
      "batches" -> batches.synchronized(batches.toList),
      "streams" -> streams.synchronized(streams.toList))
  }
}
