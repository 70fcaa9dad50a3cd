package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession =
    Harness.session("local[4]", partitions = 4, logLevel = "ERROR")
}

abstract class SparkSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark
}
