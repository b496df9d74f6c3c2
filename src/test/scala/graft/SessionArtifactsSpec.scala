package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.engine.SessionMemo

/** Session-owned artifacts: the index dirs, index tables and
  * materialized inputs a session keeps between queries belong to that
  * session's memo. Another session never touches them, and the owner's
  * eviction releases all of them.
  */
class SessionArtifactsSpec extends SparkSpec {

  /** Queries that build a memo-owned dir, with a part of its name. */
  private val builds = Seq(
    "q_ann_incremental" -> "graft_cell_index_",
    "q_mv_refresh" -> "graft_mv_base_",
    "q_csv_quarantine" -> "graft-csv-q",
    "q_dedup_incremental_bucketed" -> "graft_corpus_band_index_v",
    "q_substring_incremental_bucketed" -> "graft_substr_sid_index_v")

  /** The two bucketed index tables' catalog name prefixes. */
  private val tablePrefixes =
    Seq("graft_corpus_band_index_v", "graft_substr_sid_index_v")

  private def rows(s: SparkSession, q: String): Seq[String] =
    SparkEntry.queries(q)(s, sf).collect().map(_.toString).sorted.toSeq

  private def tempDirs: Set[String] = {
    val ls = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try ls.iterator.asScala.map(_.getFileName.toString)
      .filter(n => builds.exists(b => n.contains(b._2))).toSet
    finally ls.close()
  }

  private def indexTables: Set[String] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(n => tablePrefixes.exists(n.startsWith)).toSet

  test("a second session on one fixture dir leaves the first session's " +
      "artifacts intact") {
    val broken = builds.map(_._1).filterNot { q =>
      val first = rows(spark, q)
      val other = spark.newSession()
      try assert(rows(other, q) === first, q)
      finally SessionMemo.evictSession(other)
      Try(rows(spark, q)).toOption.contains(first)
    }
    assert(broken.isEmpty,
      s"a second session broke the first's artifacts: ${broken.mkString(", ")}")
  }

  test("eviction removes every dir and index table the builds created") {
    SessionMemo.evictSession(spark)
    val dirsBefore = tempDirs
    val tablesBefore = indexTables
    val other = spark.newSession()
    builds.foreach { case (q, _) => rows(spark, q); rows(other, q) }
    val built = tempDirs -- dirsBefore
    builds.foreach { case (q, part) =>
      assert(built.exists(_.contains(part)), s"$q built no dir")
    }
    assert((indexTables -- tablesBefore).nonEmpty)
    SessionMemo.evictSession(other)
    SessionMemo.evictSession(spark)
    assert((tempDirs -- dirsBefore).isEmpty,
      s"dirs outlive eviction: ${(tempDirs -- dirsBefore).mkString(", ")}")
    assert((indexTables -- tablesBefore).isEmpty,
      s"tables outlive eviction: ${indexTables.mkString(", ")}")
  }
}
