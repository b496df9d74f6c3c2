package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Structured Streaming surface (beyond-reference: the reference is pure
  * batch, SURVEY.md §2.7 — this extends the same event-time semantics as
  * the batch `q_event_window` to unbounded input).
  *
  * The events fixture is replayed as a file stream; the pipeline is the
  * canonical watermark + tumbling-window aggregation. At scale this is the
  * same plan Spark runs continuously: state store keyed by (window,
  * event_type), late data dropped past the watermark, output appended once
  * windows finalize.
  */
object EventStream {

  /** events.parquet schema as readStream needs it declared up front.
    * The fixture stores `ts` as tz-less INT64 micros; declaring
    * TimestampType reads those as UTC instants (session tz is UTC and
    * NTZ inference is disabled engine-wide — [[graft.GraftSession]]),
    * the same instants [[graft.engine.Tables.events]] yields.
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming DataFrame over a fixture dir (file-source replay). The
    * default glob selects just the events table out of a fixture dir; a
    * spool-dir caller (the sessionization drain) widens it to pick up
    * files it appends after the initial replay.
    *
    * The physical `ts` layout is SNIFFED from the existing files' parquet
    * footers exactly like [[graft.engine.Tables.events]]: a
    * nanos-generation fixture (TIMESTAMP(NANOS), read as a nano-epoch
    * long under `nanosAsLong`) gets the long-schema branch + micros
    * truncation instead of a runtime decode failure mid-stream. If the
    * footer probe finds no files yet (an empty spool dir), the current
    * micros generation is assumed — the drain callers seed the dir
    * before starting the query.
    *
    * The sniff is a batch schema inference, which on Spark 4.1 runs one
    * Spark job per call. It is not memoized through the
    * [[graft.engine.Tables.schema]] catalog on purpose: a spool-dir
    * caller's glob matches files written during the run, so what it
    * matches is not a fixed fixture table.
    */
  def readEvents(spark: SparkSession, dir: String,
      glob: String = "events.parquet"): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsIsLong = scala.util.Try(
      spark.read.option("pathGlobFilter", glob).parquet(dir)
        .schema("ts").dataType == LongType
    ).getOrElse(false)
    // file-stream sources take a directory; the glob selects the table
    if (tsIsLong) {
      val longSchema = StructType(eventSchema.map(f =>
        if (f.name == "ts") f.copy(dataType = LongType) else f))
      spark.readStream
        .schema(longSchema)
        .option("pathGlobFilter", glob)
        .parquet(dir)
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    } else
      spark.readStream
        .schema(eventSchema)
        .option("pathGlobFilter", glob)
        .parquet(dir)
  }

  /** Watermarked tumbling-window aggregation: counts + exact decimal sums
    * per (1-hour window, event_type) — the streaming twin of the batch
    * `q_event_window`.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Run the pipeline to completion against the (finite) fixture replay
    * into an in-memory table; returns the query for the caller to stop.
    * `complete` mode because tests want every window, including ones the
    * watermark has not finalized.
    */
  def runToMemory(spark: SparkSession, dir: String,
      tableName: String): StreamingQuery = {
    val q = windowedCounts(readEvents(spark, dir))
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode("complete")
      .start()
    q.processAllAvailable()
    q
  }
}
