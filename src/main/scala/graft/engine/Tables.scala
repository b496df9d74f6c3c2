package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, StructType}

/** Parquet loaders for the driver fixtures (TESTDATA.md / FIXTURES.md §B).
  *
  * Schema catalog: a bare `spark.read.parquet` runs a schema-inference
  * Spark job on every call (on Spark 4.1 each one is a
  * `parquet at Tables.scala` job), so each table's schema is resolved
  * ONCE per (session, table path) by that same inference, memoized in
  * [[SessionMemo]], and every load hands it to the reader
  * (`spark.read.schema(s).parquet`), which then plans with no job. Only
  * the `StructType` is memoized, never a DataFrame: each load still lists
  * the table's files, so data rewritten under the same schema is read
  * fresh. The contract: a fixture table's SCHEMA is immutable within a
  * session; its data may be rewritten; [[SessionMemo.evictSession]], or
  * [[SessionMemo.invalidate]] of the table's `graft:schema:<path>` key,
  * makes the next load resolve it again.
  *
  * Scale notes (100 TB design): each loader is a plain columnar scan — no
  * eager action — so Catalyst can push filters and prune columns into the
  * scan (`PushedFilters` / `ReadSchema` in `.explain("formatted")`). The
  * reference instead infers schemas from JSON with an eager sampling job
  * per table on every read (`Databricks Notebook.py:34,48,62,80,94,108`);
  * here the data source hands Catalyst a known schema, and inference runs
  * once per table and session, not once per read.
  */
object Tables {
  /** The ten fixture tables. */
  val Names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def path(dir: String, name: String): String =
    s"$dir/$name.parquet"

  /** The table's schema as Spark's parquet inference resolves it, run
    * once per (session, table path). `events` resolves under
    * `nanosAsLong` (see [[events]]): the conf is set here, inside the
    * memoized compute, so no load — a bare `load(s, d, "events")`
    * included — can memoize an events schema the session cannot read.
    */
  def schema(spark: SparkSession, dir: String, name: String): StructType =
    SessionMemo.getOrCompute(spark, s"graft:schema:${path(dir, name)}") {
      if (name == "events") spark.conf.set(NanosAsLong, "true")
      spark.read.parquet(path(dir, name)).schema
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    loadIn(spark, spark, dir, name)

  /** [[load]] into `child`, a throwaway `spark.newSession()`, with the
    * schema its parent `spark` resolved. A child that resolved its own
    * would pin a memo entry and an application-end listener on the shared
    * SparkContext until the application ends. The child's SQLConf is its
    * own, so `events` sets `nanosAsLong` on the child as resolution set
    * it on the parent.
    */
  def loadIn(child: SparkSession, spark: SparkSession, dir: String,
      name: String): DataFrame = {
    val s = schema(spark, dir, name)
    if ((child ne spark) && name == "events")
      child.conf.set(NanosAsLong, "true")
    child.read.schema(s).parquet(path(dir, name))
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts has shipped in two physical layouts across fixture
    * generations: parquet TIMESTAMP(NANOS) (Spark rejects nanos outright —
    * read as a nano-epoch long via `nanosAsLong` and truncate to micros,
    * the same floor DuckDB applies), and tz-less TIMESTAMP(MICROS) (read
    * as a UTC-instant TimestampType — NTZ inference is disabled
    * engine-wide, see [[graft.GraftSession]]). The LongType guard picks
    * the right normalization per file, so either generation yields the
    * same UTC instants. The streaming surface sniffs the same physical
    * layout from the footers before declaring its readStream schema
    * ([[graft.streaming.EventStream.readEvents]]), so both loaders track
    * fixture regenerations together.
    *
    * Side effect, by design: `nanosAsLong` is a session-wide SQLConf (no
    * per-read option exists), so after the events schema is resolved any
    * other nanos-timestamp parquet in the session also reads as longs
    * instead of failing fast. [[schema]] sets it once per resolution; the
    * value is constant, so the write is idempotent and safe under
    * concurrent queries.
    */
  def events(s: SparkSession, d: String): DataFrame = eventsIn(s, s, d)

  /** [[events]] into a throwaway child session, as [[loadIn]]. */
  def eventsIn(child: SparkSession, s: SparkSession, d: String)
      : DataFrame = {
    val raw = loadIn(child, s, d, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
