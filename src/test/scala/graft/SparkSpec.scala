package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * startup dominates test wall-clock otherwise), set up by the same
  * [[GraftSession]] as Bench and Verify, on a fixed 4 cores. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession(cpus = 4)
}
