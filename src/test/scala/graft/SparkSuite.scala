package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * session startup dominates test wall-clock otherwise). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  /** Smoke-scale testdata (~6k lineitem rows). */
  val sf = "/root/testdata/sf0.001"

  /** How many Spark jobs `body` launches. */
  def jobsOf(body: => Unit): Int = jobsIn(body).size

  /** The Spark jobs `body` launches, in start order. */
  def jobsIn(body: => Unit): Seq[SparkSuite.Job] = {
    val group = s"spark-suite-${System.nanoTime}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkSuite.Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(SparkSuite.Job(e.jobId, e.stageInfos.maxBy(_.stageId).name,
            e.stageInfos.size))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, getClass.getSimpleName)
      try body
      finally spark.sparkContext.clearJobGroup()
      org.apache.spark.sql.graftglue.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.toArray(Array.empty[SparkSuite.Job]).toSeq.sortBy(_.id)
  }
}

object SparkSuite {
  /** Four cores whatever the host, so specs see one plan shape. */
  lazy val session: SparkSession = LocalSession(4)

  /** One job: its call site (`<api> at <file>:<line>`, the name of its
    * final stage) and its stages, skipped ones included; a job that
    * reads a shuffle has more than one. */
  case class Job(id: Int, site: String, stages: Int)
}
