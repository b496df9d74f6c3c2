package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom stateful streaming: gap-based sessionization via
  * `flatMapGroupsWithState` — the arbitrary-state API for semantics the
  * built-in windows can't express (the batch twin is `Ext.sessionize`).
  *
  * State per user = the open session (start, last-seen, count). An
  * incoming batch's events extend the open session or close it and open a
  * new one; CLOSED sessions are emitted downstream (append semantics).
  * Event-time timeout closes idle sessions.
  *
  * Scale: state is O(active users), partitioned by the group key across
  * executors by the state store; each microbatch touches only keys present
  * in the batch plus timed-out ones.
  */
object SessionState {

  /** Carries the raw `ts` alongside the derived micros: the watermark is
    * tracked on the `ts` attribute and must survive into the stateful
    * operator's input (projecting it away breaks event-time timeout).
    */
  case class Event(user_id: Long, ts: java.sql.Timestamp, ts_us: Long)
  case class OpenSession(start_us: Long, last_us: Long, n: Long)
  case class ClosedSession(user_id: Long, start_us: Long, end_us: Long,
    n_events: Long)

  val GapUs: Long = 1800L * 1000000L // 30 min

  /** Transition function: fold the batch's (sorted) events into the open
    * session, emitting every session closed along the way.
    */
  def updateSessions(userId: Long, events: Iterator[Event],
      state: GroupState[OpenSession]): Iterator[ClosedSession] = {
    val sorted = events.toSeq.sortBy(_.ts_us)
    var open = state.getOption
    val closed = Seq.newBuilder[ClosedSession]
    if (state.hasTimedOut) {
      open.foreach(s =>
        closed += ClosedSession(userId, s.start_us, s.last_us, s.n))
      open = None
      state.remove()
    }
    sorted.foreach { e =>
      open match {
        case Some(s) if e.ts_us - s.last_us <= GapUs =>
          // min/max guards: a late (out-of-order but within-watermark)
          // event from a later microbatch must never regress the span
          open = Some(OpenSession(math.min(s.start_us, e.ts_us),
            math.max(s.last_us, e.ts_us), s.n + 1))
        case Some(s) =>
          closed += ClosedSession(userId, s.start_us, s.last_us, s.n)
          open = Some(OpenSession(e.ts_us, e.ts_us, 1))
        case None =>
          open = Some(OpenSession(e.ts_us, e.ts_us, 1))
      }
    }
    open.foreach { s =>
      state.update(s)
      state.setTimeoutTimestamp(s.last_us / 1000 + GapUs / 1000)
    }
    closed.result().iterator
  }

  /** Sentinel user for the end-of-replay drain event: filtered out AFTER
    * the watermark node (so only its event-time effect survives), it
    * advances the watermark past every open session's timeout.
    */
  val DrainUser = -1L

  /** Wire the stateful operator over a streaming (or batch-test) events
    * DataFrame with event-time semantics. The drain-sentinel filter sits
    * AFTER the stateful operator, NOT before it: a pre-operator
    * `filter(user_id =!= DrainUser)` is deterministic, so Catalyst
    * pushes it through the EventTimeWatermark node INTO the parquet
    * scan — the sentinel row then never reaches the watermark operator
    * and the drain silently does nothing (observed: batch input 10000,
    * not 10001). Downstream of `flatMapGroupsWithState` nothing can be
    * pushed (the operator is an opaque function), so filtering the
    * sentinel's own session row there is safe; its open state simply
    * dies with the query (its timeout sits past its own watermark).
    */
  def sessionStream(spark: SparkSession,
      events: org.apache.spark.sql.DataFrame): Dataset[ClosedSession] = {
    import spark.implicits._
    events
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(updateSessions)
      .filter(_.user_id != DrainUser)
  }

  /** Run against the finite fixture replay AND DRAIN: one far-future
    * sentinel event (the "watermark heartbeat" a production pipeline
    * injects to flush a quiescent stream) advances the watermark past
    * every open session's timeout, so the sink ends up with EVERY
    * session — equal to the batch sessionizer row for row, which is
    * what makes `q_stream_sessions` oracle-checkable. Without the
    * drain, sessions still open at end-of-replay (last event within
    * watermark-delay + gap of the stream's max event time) would never
    * emit — which sessions those are is an execution property, not a
    * function of the data.
    *
    * The fixture dir is read-only, so the replay runs from a SPOOL copy
    * (registered for JVM-exit cleanup) and the sentinel is placed there
    * BEFORE the query starts: the first listing takes both files into
    * one data batch (sessions fold per user from the batch's sorted
    * events, so co-arrival is harmless), and the engine's follow-up
    * watermark batch fires every timeout. Appending the sentinel to a
    * RUNNING stateful query is not reliable — observed on Spark 4.1:
    * after its watermark-propagation batches the flatMapGroupsWithState
    * query stopped ingesting newly listed files, while the same source
    * under a stateless sink picked them up immediately.
    */
  def runToMemory(spark: SparkSession, dir: String,
      tableName: String): org.apache.spark.sql.streaming.StreamingQuery =
    runToMemoryIn(spark, spark, dir, tableName)

  /** [[runToMemory]] with the stream running in `child`, a throwaway
    * `spark.newSession()`, and the sentinel's fixture read in its parent
    * `spark` (see [[graft.engine.Tables.loadIn]]).
    */
  def runToMemoryIn(child: SparkSession, spark: SparkSession, dir: String,
      tableName: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val spool = graft.engine.TempArtifacts.tempDir(s"graft_spool_$tableName")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dir, "events.parquet"),
      java.nio.file.Paths.get(spool, "events.parquet")): Unit
    appendDrainSentinel(spark, dir, spool)
    val q = sessionStream(child,
        EventStream.readEvents(child, spool, glob = "*.parquet"))
      .writeStream.format("memory").queryName(tableName)
      .outputMode("append").start()
    q.processAllAvailable()
    // the timeout batch that emits the drained tail is a NO-DATA batch
    // run right after the last data batch (watermark propagation), and
    // processAllAvailable only awaits data offsets. Await the EVENT, not
    // wall-clock quiet: drained = some completed batch ingested zero
    // rows AFTER the cumulative input reached the whole spool (replay +
    // sentinel) — a loaded host can delay the trigger thread, but it
    // cannot fake a completed zero-input batch in the progress log.
    // count the spool with the STREAM's schema and glob — exactly what
    // the source will ingest, with no schema inference (a Spark-written
    // fixture makes events.parquet a directory, which Files.copy copies
    // as an empty dir: the batch count and the stream then agree on
    // seeing only the sentinel)
    val totalRows = child.read.schema(EventStream.eventSchema)
      .option("pathGlobFilter", "*.parquet").parquet(spool).count()
    def drained(): Boolean = {
      val ps = q.recentProgress.sortBy(_.batchId)
      val cum = ps.scanLeft(0L)(_ + _.numInputRows).drop(1)
      ps.zip(cum).exists { case (p, c) =>
        c >= totalRows && p.numInputRows == 0 }
    }
    var guard = 0
    while (!drained() && guard < 600) { // 30 s ceiling, normally ~1 poll
      Thread.sleep(50)
      q.processAllAvailable()
      guard += 1
    }
    q
  }

  /** One drain event far past max event time + watermark delay + gap,
    * written into the spool with the stream's schema (TimestampType ts,
    * readable alongside the copied fixture file).
    */
  private def appendDrainSentinel(spark: SparkSession, dir: String,
      spool: String): Unit = {
    val maxRow = graft.engine.Tables.events(spark, dir)
      .agg(max(unix_micros(col("ts")))).head()
    // empty replay: any sentinel drains a stream with no sessions
    val maxUs = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    // 2 h watermark delay + 30 min gap + 1 h margin
    val sentinelUs = maxUs + (2L * 3600 + 1800 + 3600) * 1000000L
    val sentinelTs = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(sentinelUs / 1000000L,
        (sentinelUs % 1000000L) * 1000L))
    val out = java.nio.file.Files.createTempDirectory("graft_drain")
    spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(
          -1L, sentinelTs, DrainUser, "drain", 0.0, "{}")),
        EventStream.eventSchema)
      .coalesce(1).write.mode("overwrite").parquet(out.toString)
    val part = java.nio.file.Files.list(out).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error("drain sentinel parquet not written"))
    java.nio.file.Files.move(part,
      java.nio.file.Paths.get(spool, "zz_drain.parquet")): Unit
    graft.engine.TempArtifacts.delete(out.toString)
  }
}
