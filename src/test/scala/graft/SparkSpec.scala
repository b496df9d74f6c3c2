package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession per suite (SURVEY.md §5: one session, sf0.001
  * fixtures, UTC, small shuffle partitions).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.getOrCreate(4)

  val sf = "/root/testdata/sf0.001"

  private val suiteDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]

  /** A fresh temp dir owned by this suite and deleted in `afterAll`.
    * Every call registers its own dir, so (unlike the prefix-keyed
    * `TempArtifacts.tempDir`) a later call never deletes one in use.
    */
  def suiteTempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toFile
    suiteDirs.add(dir)
    dir.toString
  }

  override protected def afterAll(): Unit =
    try suiteDirs.forEach(d => graft.engine.TempArtifacts.rm(d))
    finally super.afterAll()
}
