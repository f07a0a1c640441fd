package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide instance — Spark
  * session startup dominates test wall-clock otherwise). It is the
  * product engine config (`GraftSession`, no memory budget) on a fixed
  * 4 cores, so suites test the engine the component runs. */
object TestSpark {
  val Threads = 4

  lazy val spark: SparkSession = {
    val s = GraftSession.build(Threads)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"
}
