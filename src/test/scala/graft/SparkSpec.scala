package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, sequential suites). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    // quieter than WARN: expected-failure specs would flood the test log
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val Sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf: String = SparkSpec.Sf
}
