package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites, from the same factory as
  * Bench and Verify (the forked test JVM builds it once). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.build()

  lazy val sf: String = "/root/testdata/sf0.001"
}
