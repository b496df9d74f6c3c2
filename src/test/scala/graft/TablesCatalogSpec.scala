package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{LongType, StringType}

import graft.engine.{Ext, PlantedRows, SessionMemo, SqlEntry, Tables, TextOps}
import graft.streaming.{EventStream, StreamingQueries}

/** The fixture schema catalog: [[Tables.schema]] resolves each table's
  * schema once per (session, table path) and every load reads with it.
  * Also the planted rows unioned into the fixture tables: one
  * [[PlantedRows]] value gives both the Spark frame and the DuckDB
  * `VALUES` rendering.
  */
class TablesCatalogSpec extends SparkSpec {

  /** Spark jobs launched while `body` runs. The listener bus is async, so
    * queued job-start events get a moment to drain before the read.
    */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      Thread.sleep(1000)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a second load of one table in one session launches no job") {
    SessionMemo.evictSession(spark)
    Tables.orders(spark, sf)
    assert(jobsDuring(Tables.orders(spark, sf)) === 0)
  }

  test("registering the SQL views launches no job once the schemas are " +
      "resolved") {
    SqlEntry.registerTables(spark, sf)
    assert(jobsDuring(SqlEntry.registerTables(spark, sf)) === 0)
  }

  test("session eviction makes the next load resolve the schema again") {
    Tables.customer(spark, sf)
    SessionMemo.evictSession(spark)
    assert(jobsDuring(Tables.customer(spark, sf)) === 1)
    assert(jobsDuring(Tables.customer(spark, sf)) === 0)
  }

  test("the memoized schema of every fixture table equals Spark's " +
      "inferred schema") {
    SessionMemo.evictSession(spark)
    Tables.Names.foreach { t =>
      val memo = Tables.schema(spark, sf, t)
      // events resolves under nanosAsLong, which the resolution left set
      assert(memo === spark.read.parquet(s"$sf/$t.parquet").schema, t)
      assert(Tables.load(spark, sf, t).schema === memo, t)
    }
  }

  test("a bare events load sets nanosAsLong before it memoizes") {
    val child = spark.newSession()
    try {
      Tables.load(child, sf, "events")
      assert(child.conf.get("spark.sql.legacy.parquet.nanosAsLong") ===
        "true")
    } finally SessionMemo.evictSession(child)
  }

  test("a stream read of the fixture events launches no job once the " +
      "schema is resolved") {
    Tables.schema(spark, sf, "events")
    assert(jobsDuring(EventStream.readEvents(spark, sf)) === 0)
  }

  test("data rewritten under the same schema is read fresh") {
    val dir = suiteTempDir("graft-catalog")
    def write(n: Int): Unit =
      Tables.region(spark, sf).limit(n)
        .write.mode("overwrite").parquet(s"$dir/region.parquet")
    write(2)
    assert(Tables.region(spark, dir).count() === 2)
    write(4)
    assert(Tables.region(spark, dir).count() === 4)
  }

  test("stream builders resolve through the parent session: repeated " +
      "calls hook no child session") {
    Tables.region(spark, sf) // the parent itself is hooked from here on
    val before = SessionMemo.hookedSessions
    (1 to 2).foreach { _ =>
      StreamingQueries.streamEnrich(spark, sf)
      StreamingQueries.streamDistinct(spark, sf)
      StreamingQueries.streamSessions(spark, sf)
    }
    assert(SessionMemo.hookedSessions === before)
  }

  test("planted literal: a single quote is doubled") {
    assert(PlantedRows.literal("it's", StringType) === "'it''s'")
  }

  test("planted literal: a newline splices in chr(10)") {
    assert(PlantedRows.literal("a\nb", StringType) ===
      "'a' || chr(10) || 'b'")
    // quotes are doubled before the splice adds its own
    assert(PlantedRows.literal("x'\n", StringType) ===
      "'x''' || chr(10) || ''")
  }

  test("planted literal: a null String is a typed NULL") {
    assert(PlantedRows.literal(null, StringType) === "CAST(NULL AS VARCHAR)")
  }

  test("planted literal: None for a Long column is a BIGINT NULL") {
    val p = PlantedRows[(Long, Option[Long])]("id", "n")(
      (1L, None), (2L, Some(7L)))
    assert(p.valuesSql ===
      "(VALUES (1, CAST(NULL AS BIGINT)), (2, 7)) v(id, n)")
    assert(PlantedRows.literal(None, LongType) === "CAST(NULL AS BIGINT)")
  }

  test("planted literal: CJK and combining marks pass through unchanged") {
    // a combining acute (U+0301, written as an escape so no editor
    // precomposes it) and Thai vowel marks stay as written
    val s = "大规模语料 cafe\u0301 ภาษาไทย"
    assert(PlantedRows.literal(s, StringType) === s"'$s'")
  }

  test("planted rows: a multi-column row renders every cell by its type") {
    assert(Ext.StatsPlantedRows.valuesSql === "(VALUES " +
      "(994001, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), " +
      "CAST(NULL AS BIGINT)), " +
      "(994002, CAST(NULL AS VARCHAR), 'srcX', CAST(NULL AS BIGINT))) " +
      "v(doc_id, lang, source, n_chars)")
    assert(Ext.StatsPlantedRows.ontoSql("documents") ===
      "SELECT doc_id, lang, source, n_chars FROM documents\n" +
      s"  UNION ALL SELECT * FROM ${Ext.StatsPlantedRows.valuesSql}")
  }

  test("planted rows onto a base equal the hand-written select and union") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val planted = TextOps.HtmlPlantedRows
    val viaValue = planted.onto(docs)
    val byHand = docs.select("doc_id", "text")
      .unionByName(planted.rows.toDF("doc_id", "text"))
    assert(planted.frame(spark).schema === planted.schema)
    assert(viaValue.schema === byHand.schema)
    assert(viaValue.queryExecution.optimizedPlan.sameResult(
      byHand.queryExecution.optimizedPlan))
    assert(viaValue.collect().toSeq === byHand.collect().toSeq)
  }
}
