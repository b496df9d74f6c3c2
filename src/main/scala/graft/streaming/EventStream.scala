package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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

  /** Streaming DataFrame over a fixture dir's events table (file-source
    * replay), resolved in `spark` itself — [[readEventsIn]] with no
    * child session.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    readEventsIn(spark, spark, dir)

  /** [[readEvents]] into `child`, a throwaway `spark.newSession()`: the
    * physical `ts` type comes from the events schema its parent `spark`
    * resolved ([[graft.engine.Tables.schema]], as
    * [[graft.engine.Tables.loadIn]]), so the read launches no job. A
    * nanos-generation fixture (TIMESTAMP(NANOS), a nano-epoch long under
    * `nanosAsLong`) gets the long schema and the micros truncation
    * instead of a runtime decode failure mid-stream.
    */
  def readEventsIn(child: SparkSession, spark: SparkSession,
      dir: String): DataFrame =
    fileStream(child, dir, "events.parquet",
      graft.engine.Tables.schema(spark, dir, "events")("ts").dataType)

  /** Streaming DataFrame over a spool dir the sessionization drain
    * appends to after the initial replay. Its files are written during
    * the run, so `ts`'s layout is sniffed from their footers (one Spark
    * job); an empty spool reads as the micros generation.
    */
  def readSpool(spark: SparkSession, spool: String): DataFrame = {
    spark.conf.set(graft.engine.Tables.NanosAsLong, "true")
    val ts = scala.util.Try(
      spark.read.option("pathGlobFilter", "*.parquet").parquet(spool)
        .schema("ts").dataType
    ).getOrElse(TimestampType)
    fileStream(spark, spool, "*.parquet", ts)
  }

  /** The file stream over `dir`'s files matching `glob` (file-stream
    * sources take a directory; the glob selects the table), `ts`
    * declared as `tsType` and normalized by
    * [[graft.engine.Tables.microsTs]].
    */
  private def fileStream(spark: SparkSession, dir: String, glob: String,
      tsType: DataType): DataFrame = {
    spark.conf.set(graft.engine.Tables.NanosAsLong, "true")
    val schema = StructType(eventSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    graft.engine.Tables.microsTs(spark.readStream.schema(schema)
      .option("pathGlobFilter", glob).parquet(dir))
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
}
