package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Where a piece of work belongs: pass index, key (or harness step) and
  * phase. Travels with every Spark job as driver-thread local properties,
  * which streaming executions inherit even though they replace the job
  * group with their own run id. */
final case class Attr(pass: Int, key: String, phase: String)

object Attr {
  val PassProp = "perfbench.pass"
  val KeyProp = "perfbench.key"
  val PhaseProp = "perfbench.phase"

  def of(props: java.util.Properties): Option[Attr] =
    Option(props).flatMap { p =>
      Option(p.getProperty(KeyProp)).map { k =>
        Attr(p.getProperty(PassProp).toInt, k, p.getProperty(PhaseProp))
      }
    }
}

/** Per-(pass, key, phase) layer counters. Time fields are milliseconds
  * unless the name says otherwise. */
final class Agg {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedDelayMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var inputRecords = 0L; var blockBytes = 0L
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  var graftRulesNs = 0L; var codegenCompiles = 0L
  var streamBatches = 0L; var triggerMs = 0L; var addBatchMs = 0L
  var queryPlanningMs = 0L; var latestOffsetMs = 0L; var walCommitMs = 0L
  var commitOffsetsMs = 0L; var streamQueryMs = 0L
  var stateRows = 0L; var stateBytes = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "exec_run_ms" -> runMs, "exec_cpu_ms" -> cpuNs / 1e6, "exec_gc_ms" -> gcMs,
    "sched_delay_ms" -> schedDelayMs,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "input_records" -> inputRecords,
    "block_bytes" -> blockBytes,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs, "graft_rules_ms" -> graftRulesNs / 1e6,
    "codegen_compiles" -> codegenCompiles,
    "stream_batches" -> streamBatches, "stream_trigger_ms" -> triggerMs,
    "stream_add_batch_ms" -> addBatchMs,
    "stream_query_planning_ms" -> queryPlanningMs,
    "stream_latest_offset_ms" -> latestOffsetMs,
    "stream_wal_commit_ms" -> walCommitMs,
    "stream_commit_offsets_ms" -> commitOffsetsMs,
    "stream_query_ms" -> streamQueryMs,
    "stream_state_rows" -> stateRows, "stream_state_bytes" -> stateBytes)
}

final case class JobSpan(id: Int, attr: Attr, startMs: Long, var endMs: Long)
final case class StageSpan(id: Int, attempt: Int, jobId: Int, attr: Attr,
    var startMs: Long, var endMs: Long, var tasks: Int)

/** The in-memory trace of one traced JVM run. Listener callbacks arrive on
  * the listener-bus thread; the harness drains the bus at every phase
  * boundary, so `current` is the phase an asynchronously delivered event
  * (block updates, query-execution callbacks) belongs to. Everything is
  * kept in memory and written once when the run ends. */
object Trace {
  @volatile var current: Attr = Attr(-1, "setup", "setup")

  private val aggs = mutable.LinkedHashMap.empty[Attr, Agg]
  val jobs = mutable.ArrayBuffer.empty[JobSpan]
  val stages = mutable.ArrayBuffer.empty[StageSpan]
  private val stageAttr = mutable.HashMap.empty[(Int, Int), StageSpan]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobById = mutable.HashMap.empty[Int, JobSpan]
  private val queryAttr = mutable.HashMap.empty[java.util.UUID, (Attr, Long)]
  private val queryState = mutable.HashMap.empty[java.util.UUID, (Long, Long)]

  def agg(a: Attr): Agg = synchronized { aggs.getOrElseUpdate(a, new Agg) }
  def snapshot: Seq[(Attr, Agg)] = synchronized { aggs.toSeq }

  // ---- Spark scheduler events -------------------------------------------
  object SchedulerListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.synchronized {
      Attr.of(e.properties).foreach { a =>
        val j = JobSpan(e.jobId, a, e.time, e.time)
        jobs += j; jobById(e.jobId) = j
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
        agg(a).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.synchronized {
      jobById.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.synchronized {
        Attr.of(e.properties).foreach { a =>
          val i = e.stageInfo
          val s = StageSpan(i.stageId, i.attemptNumber(),
            stageJob.getOrElse(i.stageId, -1), a,
            i.submissionTime.getOrElse(System.currentTimeMillis()), 0L, i.numTasks)
          stages += s; stageAttr((i.stageId, i.attemptNumber())) = s
          agg(a).stages += 1
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.synchronized {
        val i = e.stageInfo
        stageAttr.get((i.stageId, i.attemptNumber())).foreach { s =>
          s.endMs = i.completionTime.getOrElse(System.currentTimeMillis())
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.synchronized {
      stageAttr.get((e.stageId, e.stageAttemptId)).foreach { s =>
        val g = agg(s.attr); val info = e.taskInfo; val m = e.taskMetrics
        g.tasks += 1
        if (m != null) {
          g.runMs += m.executorRunTime; g.cpuNs += m.executorCpuTime
          g.gcMs += m.jvmGCTime
          g.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          g.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          g.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          g.inputRecords += m.inputMetrics.recordsRead
          // the scheduler-delay definition of Spark's own stage page
          val gettingResult =
            if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
          g.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        Trace.synchronized { agg(current).blockBytes += b.memSize + b.diskSize }
    }
  }

  // ---- Catalyst: every action's QueryExecution -------------------------
  def addTracker(qe: QueryExecution, a: Attr): Unit = {
    val t = qe.tracker
    val ph = t.phases
    val graftNs = t.rules.collect {
      case (name, r) if name.startsWith("graft.") => r.totalTimeNs
    }.sum
    synchronized {
      val g = agg(a)
      g.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
      g.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
      g.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
      g.graftRulesNs += graftNs
    }
  }

  // ---- streaming: progress of every query, keyed by run id -------------
  def queryStarted(runId: java.util.UUID): Unit = synchronized {
    queryAttr(runId) = (current, System.nanoTime())
  }
  def queryProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit =
    synchronized {
      queryAttr.get(p.runId).foreach { case (a, _) =>
        val g = agg(a); val d = p.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        g.streamBatches += 1
        g.triggerMs += ms("triggerExecution"); g.addBatchMs += ms("addBatch")
        g.queryPlanningMs += ms("queryPlanning")
        g.latestOffsetMs += ms("latestOffset"); g.walCommitMs += ms("walCommit")
        g.commitOffsetsMs += ms("commitOffsets")
        if (p.stateOperators.nonEmpty)
          queryState(p.runId) = (p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  def queryTerminated(runId: java.util.UUID): Unit = synchronized {
    queryAttr.get(runId).foreach { case (a, t0) =>
      val g = agg(a)
      g.streamQueryMs += (System.nanoTime() - t0) / 1000000L
      queryState.remove(runId).foreach { case (rows, bytes) =>
        g.stateRows += rows; g.stateBytes += bytes
      }
    }
  }
}

/** Registered through `spark.sql.queryExecutionListeners`, so every
  * session (including the child sessions the streaming operators create)
  * reports its actions. */
final class TraceQueryListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.addTracker(qe, Trace.current)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    Trace.addTracker(qe, Trace.current)
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`, for
  * the same reason. Query start is delivered synchronously on the thread
  * that starts the query, i.e. inside the key's build phase. */
final class TraceStreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = Trace.queryStarted(e.runId)
  override def onQueryProgress(e: QueryProgressEvent): Unit = Trace.queryProgress(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = Trace.queryTerminated(e.runId)
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
}
