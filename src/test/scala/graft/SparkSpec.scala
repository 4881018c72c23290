package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
object SparkSpec {
  lazy val spark: SparkSession = Session.local(cores = 8)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf0001 = "/root/testdata/sf0.001"
}
