package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession per suite (SURVEY.md §5: one session, sf0.001
  * fixtures, UTC, small shuffle partitions).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.getOrCreate(4)

  val sf = "/root/testdata/sf0.001"
}
