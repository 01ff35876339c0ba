package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites run in one
  * forked JVM under `Test / fork`). It is the production posture from
  * [[Session]] at a fixed 4 cores, so results do not depend on the host. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = Session(cpus = 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
}
