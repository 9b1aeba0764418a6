package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * session startup dominates test wall-clock otherwise). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  /** Smoke-scale testdata (~6k lineitem rows). */
  val sf = "/root/testdata/sf0.001"
}

object SparkSuite {
  /** Four cores whatever the host, so specs see one plan shape. */
  lazy val session: SparkSession = LocalSession(4)
}
