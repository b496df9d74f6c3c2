package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.engine.{SessionMemo, SqlEntry, Tables}
import graft.streaming.StreamingQueries

/** The fixture schema catalog: [[Tables.schema]] resolves each table's
  * schema once per (session, table path) and every load reads with it.
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
}
