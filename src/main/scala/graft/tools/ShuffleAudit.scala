package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.SparkEntry

/** Shuffle-volume audit: executes each registered query (full
  * materialization via `toRdd.foreach` — non-prunable, the Bench drive
  * discipline) and reads the AQE-final plan's SQLMetrics to report how
  * many bytes each query actually MOVED: shuffle bytes/records written,
  * sort/aggregate spill, and parquet bytes scanned.
  *
  * This is the number the 100 TB grade turns on — a plan gate proves
  * the SHAPE (broadcast vs sort-merge, map-side partials), this proves
  * the VOLUME: corpus text/payloads never shuffling shows up as
  * shuffle_bytes orders of magnitude below scan_bytes, and a regression
  * that starts moving documents through an exchange is a number jump,
  * not a silent slowdown. Spill > 0 at a test SF means partitions are
  * already memory-marginal and would OOM-thrash at 100×.
  *
  * Usage: runMain graft.tools.ShuffleAudit [sfDir] [outJson]
  *   env SPARK_GRAFT_ONLY=prefix,prefix — the [[SparkEntry.only]] selector.
  * Output: one JSON object per query on stdout (sorted by
  * shuffle_bytes desc) + the full map written to outJson
  * (default shuffle_audit.json).
  */
object ShuffleAudit {

  /** AQE-aware plan flatten + metric-key sums, exposed for the spec
    * canary: the SQLMetric keys ("shuffleBytesWritten", "spillSize",
    * "filesSize") are Spark-internal strings — a rename in a Spark
    * upgrade would silently zero the audit, so ShuffleAuditSpec pins
    * that a groupBy reads nonzero through THESE keys. */
  private[graft] def flattenPlan(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      // a reused exchange MIRRORS the original exchange's SQLMetrics —
      // descending would double-count the shuffle (r15 ADVICE); the
      // original is reached through its own stage, and metricSum's
      // accumulator-id dedupe backstops any mirrored metric object
      case _: ReusedExchangeExec => Seq.empty
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    // subquery plans (scalar subqueries, the 1-row BNLJ splices) hang
    // off expressions, not children — walk them too or their shuffles
    // are silently omitted (r15 ADVICE)
    (p +: kids.flatMap(flattenPlan)) ++ p.subqueries.flatMap(flattenPlan)
  }

  /** Sums dedupe by ACCUMULATOR ID: reuse wrappers can surface the
    * same SQLMetric instance at several tree positions, and a metric
    * must count once no matter how many nodes mirror it. */
  private[graft] def metricSum(plan: Seq[SparkPlan], key: String): Long =
    plan.flatMap(_.metrics.get(key)).map(m => m.id -> m.value)
      .toMap.values.sum

  /** Stage-level shuffle/spill accumulator across ALL jobs a query
    * triggers — the r17 correction to the plan-metric walk: an eager
    * `localCheckpoint` TRUNCATES the plan, so every exchange inside a
    * checkpointed subtree (the graph builds, the sketch stores — the
    * heaviest family) materializes in SEPARATE jobs the final plan's
    * SQLMetrics never see (s17 read 0.04 MB at sf10 while its build
    * shuffled ~10⁸ rows). The listener counts what the plan walk
    * can't; both totals are reported. */
  private final class StageShuffleListener
      extends org.apache.spark.scheduler.SparkListener {
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    val shuffleRecords = new java.util.concurrent.atomic.AtomicLong()
    val spillBytes = new java.util.concurrent.atomic.AtomicLong()
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        spillBytes.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  private[graft] def audit(s: SparkSession)(
      mk: => org.apache.spark.sql.DataFrame): Map[String, Long] = {
    val lst = new StageShuffleListener
    s.sparkContext.addSparkListener(lst)
    try {
      val df = mk // frame construction may itself run checkpoint
      // jobs — build INSIDE the listener window
      df.queryExecution.toRdd.foreach(_ => ()) // materialize every row
      org.apache.spark.sql.graftglue.drainListenerBus(s)
      val plan = flattenPlan(df.queryExecution.executedPlan)
      Map(
        "shuffle_bytes" -> metricSum(plan, "shuffleBytesWritten"),
        "shuffle_records" -> metricSum(plan, "shuffleRecordsWritten"),
        "spill_bytes" -> metricSum(plan, "spillSize"),
        "scan_bytes" -> metricSum(plan, "filesSize"),
        "shuffle_bytes_all_jobs" -> lst.shuffleBytes.get,
        "shuffle_records_all_jobs" -> lst.shuffleRecords.get,
        "spill_bytes_all_jobs" -> lst.spillBytes.get)
    } finally s.sparkContext.removeSparkListener(lst)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outPath = if (args.length > 1) args(1) else "shuffle_audit.json"
    val spark = graft.LocalSession()
    // spark.driver.memory is inert in local mode (the JVM is already
    // up — r15 ADVICE); the heap must come from sbt -mem / JAVA_OPTS.
    // Print what the audit actually ran with so spill numbers are
    // interpretable against the real heap.
    System.err.println(f"shuffle_audit: driver max heap = " +
      f"${Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)}%.1f GiB " +
      "(set via sbt -mem / JAVA_OPTS, NOT spark.driver.memory)")

    val only = SparkEntry.only(SparkEntry.queries.keys)
    val selected = SparkEntry.queries.filter { case (name, _) => only(name) }
      .toSeq.sortBy(_._1)

    val rows = selected.flatMap { case (name, fn) =>
      try {
        Some((audit(spark)(fn(spark, sfDir)): Map[String, Any]) +
          ("name" -> name))
      } catch {
        case e: Exception =>
          System.err.println(s"shuffle_audit: $name failed: ${e.getMessage}")
          None
      }
    }
    val sorted = rows.sortBy(-_("shuffle_bytes_all_jobs").asInstanceOf[Long])
    def js(m: Map[String, Any]): String =
      s"""{"name":"${m("name")}","shuffle_bytes":${m("shuffle_bytes")},""" +
        s""""shuffle_records":${m("shuffle_records")},""" +
        s""""spill_bytes":${m("spill_bytes")},"scan_bytes":${m("scan_bytes")},""" +
        s""""shuffle_bytes_all_jobs":${m("shuffle_bytes_all_jobs")},""" +
        s""""shuffle_records_all_jobs":${m("shuffle_records_all_jobs")},""" +
        s""""spill_bytes_all_jobs":${m("spill_bytes_all_jobs")}}"""
    sorted.foreach(m => println(js(m)))
    val body = sorted.map(js).mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      body.getBytes("UTF-8"))
    println(s"""{"shuffle_audit":"ok","n":${sorted.size},"out":"$outPath"}""")
    spark.stop()
  }
}
