package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import graft.engine.Tables

/** Engine robustness: every query survives empty inputs (0-row tables with
  * the real schemas) and concurrent execution in one session.
  */
class RobustnessSpec extends SparkSpec {

  /** An empty mirror of the fixture dir: same schemas, zero rows. */
  lazy val emptyDir: String = {
    val dir = suiteTempDir("graft-empty")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      Tables.load(spark, sf, t).limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    // events: preserve the nanos-as-long raw layout expectations by writing
    // the normalized form; Tables.events falls through when ts is already
    // a timestamp
    Tables.events(spark, sf).limit(0)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** ML needs labeled rows; ANN/near-dup assume a 64-dim corpus — the
    * rest must handle empty inputs gracefully.
    */
  val emptyExclusions: Set[String] =
    Set("ml_train_eval", "ml_describe", "ml_cross_validate")

  test("every query runs on empty inputs without throwing") {
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!emptyExclusions(name)) {
        val n = fn(spark, emptyDir).count()
        assert(n >= 0, s"$name")
      }
    }
  }

  /** A dirty mirror: a small slice of every real table, with adversarial
    * rows injected into the tables a 100 TB corpus actually gets dirty
    * in — documents with null/empty/whitespace/1-token text, embeddings
    * with zero vectors, null vectors and mismatched dims, events with
    * null type/value/props/user. Queries must degrade (null cosines, no
    * shingles, dropped rows), never throw.
    */
  lazy val dirtyDir: String = {
    val dir = suiteTempDir("graft-dirty")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach { t =>
      Tables.load(spark, sf, t).limit(20)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    Tables.load(spark, sf, "documents").limit(20)
      .unionByName(spark.sql(
        """SELECT CAST(900001 AS BIGINT) AS doc_id,
          |  CAST(NULL AS STRING) AS text, 'en' AS lang, 'syn' AS source,
          |  CAST(0 AS BIGINT) AS n_chars
          |UNION ALL SELECT 900002, '', 'en', 'syn', 0
          |UNION ALL SELECT 900003, 'single', 'en', 'syn', 6
          |UNION ALL SELECT 900004, '   ', 'en', 'syn', 3""".stripMargin))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Tables.load(spark, sf, "embeddings").limit(20)
      .unionByName(spark.sql(
        """SELECT CAST(900001 AS BIGINT) AS vec_id,
          |  transform(sequence(1, 64), i -> CAST(0.0 AS FLOAT))
          |    AS embedding, CAST(1 AS INT) AS label
          |UNION ALL SELECT 900002, CAST(NULL AS ARRAY<FLOAT>), 2
          |UNION ALL SELECT 900003,
          |  CAST(array(1.0, 2.0, 3.0) AS ARRAY<FLOAT>), 3""".stripMargin))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Tables.events(spark, sf).limit(20)
      .unionByName(spark.sql(
        """SELECT CAST(900001 AS BIGINT) AS event_id,
          |  CAST(NULL AS TIMESTAMP) AS ts, CAST(NULL AS BIGINT) AS user_id,
          |  CAST(NULL AS STRING) AS event_type,
          |  CAST(NULL AS DOUBLE) AS value, CAST(NULL AS STRING) AS props
          |UNION ALL SELECT 900002, TIMESTAMP '2024-01-01 00:00:00',
          |  7, 'click', -1.5, '{bad json'""".stripMargin))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("every query survives adversarial rows without throwing") {
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!emptyExclusions(name)) {
        val n = fn(spark, dirtyDir).count()
        assert(n >= 0, s"$name")
      }
    }
  }

  test("queries execute concurrently in one session") {
    val names = Seq("q_agg_multi", "q_pivot_dummies", "q_join_inner",
      "q_basetable_star", "q_text_quality", "q_window_running",
      "q_dedup_exact", "q_sessionize")
    val futures = names.map { n =>
      Future(n -> SparkEntry.queries(n)(spark, sf).count())
    }
    val results = Await.result(Future.sequence(futures), 120.seconds)
    results.foreach { case (n, c) => assert(c > 0, s"$n empty") }
  }

  test("robust outliers: over-2^52 cent values fail loudly, not wrongly") {
    import org.apache.spark.sql.functions._
    // a value domain beyond 2^52 cents makes double rounding inexact —
    // the guard must abort the job with its message instead of letting
    // the engine and the oracle round differently and hash-diverge
    val dir = suiteTempDir("graft-bigvals")
    def writeEvents(v: Double): Unit =
      Tables.events(spark, sf).limit(5)
        .withColumn("value", lit(v))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // just inside the bound: runs clean
    writeEvents(((1L << 52) / 100L).toDouble - 1e6)
    assert(graft.engine.Ext.robustOutliers(spark, dir).collect()
      .nonEmpty)
    // beyond the bound: loud failure carrying the guard's message
    writeEvents(((1L << 52) / 100L).toDouble * 4)
    val ex = intercept[Exception] {
      graft.engine.Ext.robustOutliers(spark, dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("exceeds 2^52")),
      s"guard message absent: ${messages(ex)}")
  }
}
