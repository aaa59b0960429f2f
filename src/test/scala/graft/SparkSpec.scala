package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites — one per JVM via getOrCreate (the
  * reference used one in-memory SQLite per test file; SURVEY.md §5).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkConfigs.local(4)

  def sqlTs(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}
