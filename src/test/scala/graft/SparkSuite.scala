package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftglue.{isMapStage, scopesOf}
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SmallSort

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
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          val last = e.stageInfos.maxBy(_.stageId)
          jobs.add(SparkSuite.Job(e.jobId, last.name, e.stageInfos.size,
            isMapStage(last), scopesOf(last)))
        }
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

  /** `body` planned without [[SmallSort]], so every global sort takes
    * Spark's range-partitioned plan. A frame plans once, so `body` must
    * build the frames it runs. */
  def withRangeSorts[A](body: => A): A = {
    val experimental = session.experimental
    val installed = experimental.extraStrategies
    experimental.extraStrategies = installed.filterNot(_ == SmallSort)
    try body
    finally experimental.extraStrategies = installed
  }

  /** One job: its call site (`<api> at <file>:<line>`, the name of its
    * final stage), its stages, skipped ones included (a job that reads
    * a shuffle has more than one), whether its final stage is a
    * shuffle-map stage, and that stage's RDD operation scopes. */
  case class Job(id: Int, site: String, stages: Int, mapStage: Boolean,
                 scopes: Seq[String]) {
    /** A range partitioner's sampling job: a result stage that ends in
      * the exchange's own RDDs. */
    def samplesRanges: Boolean = !mapStage && scopes.lastOption.contains("Exchange")
  }
}
