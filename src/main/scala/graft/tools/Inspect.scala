package graft.tools

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graftglue.{isMapStage, scopesOf}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, LocalSession, SparkEntry}

/** Look inside registered queries. For each named query: its rows, one
  * line per Spark job that building and driving it ran (duration,
  * stages, tasks, and its last stage's kind and RDD operation scopes:
  * `map` for a shuffle-map stage, `result` otherwise; a `result` stage
  * whose last scope is `Exchange` is a range partitioner's sampling
  * job), and the `explain("formatted")` plan AQE finalized
  * during the drive. The query is driven once with [[Bench.drive]], the
  * non-prunable noop sink, so the job table and the plan are those of
  * the cost `Bench` times; timing itself stays with `Bench`
  * (`SPARK_GRAFT_ONLY`, `SPARK_GRAFT_REPEAT`).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... \
  *   sbt "runMain graft.tools.Inspect s17_ann_graph_lsh q01_pricing_summary"
  */
object Inspect {

  private final case class Job(id: Int, start: Long, stages: Int, tasks: Int,
                               kind: String, scopes: Seq[String]) {
    @volatile var end: Long = start
  }

  private final class Jobs extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, Job]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val last = e.stageInfos.maxBy(_.stageId)
      jobs.put(e.jobId, Job(e.jobId, e.time, e.stageInfos.size, e.stageInfos.map(_.numTasks).sum,
        if (isMapStage(last)) "map" else "result", scopesOf(last)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  /** The last successful SQL execution: the drive, which runs after
    * every collect the build makes. */
  private final class LastExecution extends QueryExecutionListener {
    @volatile var qe: Option[QueryExecution] = None
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      this.qe = Some(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    args.foreach { name =>
      val jobs = new Jobs
      val last = new LastExecution
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(last)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      Bench.drive(df)
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graftglue.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(last)

      println(s"==== $name @ $dir")
      df.show(100, truncate = false)
      val js = jobs.jobs.values.asScala.toSeq.sortBy(_.id)
      println(f"wall=$wall%.2fs jobs=${js.size} jobSum=${js.map(j => j.end - j.start).sum / 1e3}%.2fs")
      js.foreach { j =>
        println(f"  job ${j.id}%4d ${(j.end - j.start) / 1e3}%7.2fs stages=${j.stages}%3d " +
          f"tasks=${j.tasks}%5d ${j.kind}%6s: ${j.scopes.mkString(", ")}")
      }
      println(last.qe.fold("(no SQL execution)")(_.explainString(FormattedMode)))
    }
    spark.stop()
  }
}
