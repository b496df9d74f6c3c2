package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Trace records, kept in memory and written out when the run ends.
  *
  * Every job is tagged by the harness with two local properties on the
  * driver thread — the op id and the phase (builder, plan, exec, or a
  * store call) — and Spark copies them into the job's properties, so a
  * job span carries its op id no matter when the listener bus delivers
  * it. Only jobs of passes listed in [[tracedPasses]] are recorded; the
  * others cost one property lookup.
  */
object Trace {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  /** Pass ids (the op-id prefix before the first '.') being traced. */
  val tracedPasses: java.util.Set[String] = ConcurrentHashMap.newKeySet()

  /** Finished records, one JSON object each. */
  val records = new ConcurrentLinkedQueue[String]()

  def traced(op: String): Boolean =
    op != null && tracedPasses.contains(op.takeWhile(_ != '.'))

  def str(s: String): String = if (s == null) "null" else {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def obj(fields: (String, Any)*): String = fields.map { case (k, v) =>
    str(k) + ":" + (v match {
      case null => "null"
      case s: String => str(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case o => o.toString
    })
  }.mkString("{", ",", "}")
}

/** Per-job accumulators, filled from task ends. */
final class JobAcc(val id: Int, val op: String, val phase: String,
    val submitMs: Long) {
  var stages = 0
  var tasks = 0
  var taskFailures = 0
  var firstTaskMs = Long.MaxValue
  var taskNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inBytes = 0L
  var inRecords = 0L
  var outBytes = 0L
}

/** Job, stage and task listener, registered through `spark.extraListeners`
  * so the engine needs no hook. All callbacks run on the listener bus
  * thread, one at a time.
  */
class JobListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobAcc]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.map(_.getProperty(Trace.OpKey)).orNull
    if (Trace.traced(op)) {
      val acc = new JobAcc(e.jobId, op,
        props.map(_.getProperty(Trace.PhaseKey)).orNull, e.time)
      jobs.put(e.jobId, acc)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
  }

  private def accOf(stageId: Int): JobAcc =
    Option(stageJob.get(stageId)).map(j => jobs.get(j)).orNull

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val acc = accOf(e.stageInfo.stageId)
    if (acc != null) acc.stages += 1
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val acc = accOf(e.stageId)
    if (acc != null)
      acc.firstTaskMs = math.min(acc.firstTaskMs, e.taskInfo.launchTime)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val acc = accOf(e.stageId)
    if (acc != null) {
      acc.tasks += 1
      if (!e.taskInfo.successful) acc.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        acc.taskNs += m.executorRunTime * 1000000L
        acc.gcMs += m.jvmGCTime
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        acc.spill += m.diskBytesSpilled
        acc.inBytes += m.inputMetrics.bytesRead
        acc.inRecords += m.inputMetrics.recordsRead
        acc.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val acc = jobs.remove(e.jobId)
    if (acc != null) {
      Trace.records.add(Trace.obj(
        "kind" -> "job", "id" -> acc.id, "op" -> acc.op,
        "phase" -> acc.phase, "start" -> acc.submitMs, "end" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded), "stages" -> acc.stages,
        "tasks" -> acc.tasks, "task_failures" -> acc.taskFailures,
        "first_task" ->
          (if (acc.firstTaskMs == Long.MaxValue) -1L else acc.firstTaskMs),
        "task_s" -> acc.taskNs / 1e9, "gc_s" -> acc.gcMs / 1e3,
        "shuffle_write" -> acc.shuffleWrite,
        "shuffle_read" -> acc.shuffleRead, "spill" -> acc.spill,
        "input_bytes" -> acc.inBytes, "input_records" -> acc.inRecords,
        "output_bytes" -> acc.outBytes))
    }
  }
}

/** Streaming progress listener, registered through the static conf
  * `spark.sql.streaming.streamingQueryListeners`. Progress events carry no
  * local properties, so each is recorded with its batch start time and
  * attributed to the op whose span holds it.
  */
class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    Trace.records.add(Trace.obj(
      "kind" -> "batch", "query" -> p.id.toString, "batch" -> p.batchId,
      "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
      "add_batch_ms" -> d.getOrElse("addBatch", 0L),
      "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
      "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
      "rows" -> p.numInputRows))
  }
}
