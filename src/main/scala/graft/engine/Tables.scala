package graft.engine

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType,
  StructType}

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

  private[graft] val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

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
    * engine-wide, see [[graft.GraftSession]]). [[microsTs]] picks the
    * right normalization per file, so either generation yields the same
    * UTC instants. The streaming surface declares its readStream `ts`
    * with the type [[schema]] resolved and normalizes through the same
    * [[microsTs]] ([[graft.streaming.EventStream.readEvents]]), so both
    * loaders track fixture regenerations together.
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
      : DataFrame =
    microsTs(loadIn(child, s, d, "events"))

  /** `ts` as a UTC-instant TIMESTAMP: a nanos-generation file's
    * nano-epoch long (under `nanosAsLong`) truncated to micros, the floor
    * DuckDB applies; a micros file passes through. Batch and stream alike.
    */
  private[graft] def microsTs(events: DataFrame): DataFrame =
    if (events.schema("ts").dataType == LongType)
      events.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else events
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

/** A planted row set: a few literal rows unioned into a fixture table to
  * pin the edge cases the fixture lacks (nulls, quotes, newlines,
  * non-ASCII text, duplicate ids). The contract:
  *
  *  - ids sit above the fixture's id range (documents and events stop
  *    below 900000 up to sf0.1), so a planted row never collides with a
  *    fixture row unless it is meant to;
  *  - both engines read this one value: the Spark side gets [[frame]] or
  *    [[onto]], the DuckDB oracle gets [[valuesSql]] or [[ontoSql]], and
  *    the column list is stated only here;
  *  - [[valuesSql]] is the only DuckDB literal renderer for planted rows:
  *    each cell is rendered by the type the row type's encoder gives its
  *    column — a string quoted with `'` doubled and each newline spliced
  *    as `' || chr(10) || '`, a number bare, a null or `None`
  *    `CAST(NULL AS <type>)`.
  *
  * The schema comes from the encoder, so building the value needs no
  * session, and [[frame]] is the same local relation `rows.toDF(cols)`
  * builds.
  */
final class PlantedRows[T <: Product: TypeTag](val cols: Seq[String],
    val rows: Seq[T]) {
  private val encoder: Encoder[T] = Encoders.product[T]

  /** The column types, from the row type's encoder. */
  val schema: StructType = {
    val fields = encoder.schema.fields
    require(fields.length == cols.length,
      s"${cols.length} column names for a ${fields.length}-column row type")
    // fail fast on a column type the literal renderer lacks
    fields.foreach(f => PlantedRows.sqlType(f.dataType))
    StructType(fields.zip(cols).map { case (f, c) => f.copy(name = c) })
  }

  /** The rows as a local relation with the planted column names. */
  def frame(spark: SparkSession): DataFrame =
    spark.createDataset(rows)(encoder).toDF(cols: _*)

  /** `base`'s planted columns with the rows unioned in by name. */
  def onto(base: DataFrame): DataFrame =
    base.select(cols.map(col): _*).unionByName(frame(base.sparkSession))

  /** The rows as a DuckDB relation: `(VALUES …) v(<cols>)`. */
  def valuesSql: String =
    rows.map(_.productIterator.zip(schema.iterator)
        .map { case (v, f) => PlantedRows.literal(v, f.dataType) }
        .mkString("(", ", ", ")"))
      .mkString("(VALUES ", ", ", s") v(${cols.mkString(", ")})")

  /** The DuckDB twin of [[onto]]: `SELECT <cols> FROM <from>` with the
    * rows unioned in; `from` is a table, a CTE or a parenthesized query.
    */
  def ontoSql(from: String): String =
    s"SELECT ${cols.mkString(", ")} FROM $from\n  UNION ALL SELECT * FROM $valuesSql"
}

object PlantedRows {
  def apply[T <: Product: TypeTag](cols: String*)(rows: T*): PlantedRows[T] =
    new PlantedRows(cols, rows)

  private def sqlType(t: DataType): String = t match {
    case StringType => "VARCHAR"
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case other => throw new IllegalArgumentException(
      s"no DuckDB literal for a planted $other column")
  }

  /** One cell as a DuckDB literal of its column type `t`. */
  private[graft] def literal(v: Any, t: DataType): String = v match {
    case null | None => s"CAST(NULL AS ${sqlType(t)})"
    case Some(x) => literal(x, t)
    case s: String =>
      s"'${s.replace("'", "''").replace("\n", "' || chr(10) || '")}'"
    case n => n.toString
  }
}
