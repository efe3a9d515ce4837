package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps
  * the suite runtime dominated by actual query work, not startup). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  TestSpark.spark.sparkContext.setLogLevel("ERROR")
}
