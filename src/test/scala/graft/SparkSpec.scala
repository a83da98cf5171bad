package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.api.GraftSession

/** Shared local session for all suites (one JVM-wide session, specs run in
  * the forked test JVM).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.create("local[4]", "graft-test", 4)
}

abstract class SparkSpec extends AnyFunSuite {
  // the test harness opts into test-only plugins (InMemory failure
  // injection) the way the reference confines them to its e2e jars
  sys.props("graft.test.sinks") = "true"

  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
