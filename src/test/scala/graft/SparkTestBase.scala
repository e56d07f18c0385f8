package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession from
  * [[GraftSession]] (the gate's config), pinned to local[4] with 4 shuffle
  * partitions, so the test run doesn't pay session startup per suite.
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession(
    "spark.master" -> "local[4]",
    "spark.app.name" -> "graft-test",
    "spark.sql.shuffle.partitions" -> "4")
}
