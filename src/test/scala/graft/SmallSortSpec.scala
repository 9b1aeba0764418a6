package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkSuite.withRangeSorts
import graft.plans.OnePartitionExec

/** [[graft.plans.SmallSort]]: a global sort of an input AQE would put in
  * one partition runs in that partition, with no range-sampling job,
  * and a larger input keeps Spark's range plan. Each gate is checked
  * against the range plan of the same query ([[SparkSuite.withRangeSorts]]),
  * so a detector that cannot fail fails its own canary. */
class SmallSortSpec extends SparkSuite {

  private val fixture = "perfbench/fixture/sf0.001"

  /** `p` and everything under it, through adaptive wrappers and
    * materialized query stages. */
  private def flat(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: flat(a.executedPlan)
    case q: QueryStageExec => p +: flat(q.plan)
    case _ => p +: p.children.flatMap(flat)
  }

  private def rangeExchanges(p: SparkPlan): Int = flat(p).count {
    case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
    case _ => false
  }

  test("q01, q13, q31, d05 and m09 run no range-sampling job on the benchmark fixture, " +
       "and each runs fewer jobs than its range plan") {
    for (q <- Seq("q01_pricing_summary", "q13_events_tumbling", "q31_topk_per_group",
                  "d05_dup_clusters", "m09_cdc_chunks")) {
      def drive() = jobsIn(Bench.drive(SparkEntry.queries(q)(spark, fixture)))
      val small = drive()
      val range = withRangeSorts(drive())
      assert(range.exists(_.samplesRanges), s"$q: canary, the range plan samples: $range")
      assert(!small.exists(_.samplesRanges), s"$q: $small")
      assert(small.size < range.size, s"$q: ${small.size} jobs, range plan ${range.size}")
    }
  }

  test("AQE's runtime statistics take a sort whose static estimate is large to one partition") {
    def sorted() = spark.range(0, 20000000L).groupBy((col("id") % 3).as("k")).count()
      .orderBy(col("k").desc)
    val df = sorted()
    assert(rangeExchanges(df.queryExecution.executedPlan) == 1,
      s"the static estimate plans a range sort:\n${df.queryExecution.executedPlan}")
    val jobs = jobsIn(assert(df.collect().map(_.getLong(0)).toSeq == Seq(2L, 1L, 0L)))
    val range = withRangeSorts(jobsIn(sorted().collect()))
    assert(rangeExchanges(df.queryExecution.executedPlan) == 0,
      s"AQE re-planned:\n${df.queryExecution.executedPlan}")
    assert(flat(df.queryExecution.executedPlan).exists(_.isInstanceOf[OnePartitionExec]))
    assert(!jobs.exists(_.samplesRanges) && range.exists(_.samplesRanges), s"$jobs\n$range")
    assert(jobs.size == 3 && range.size == 4, s"${jobs.size} jobs, range plan ${range.size}")
  }

  test("a limited or already single-partition input runs no more jobs than the range plan, " +
       "with no exchange added") {
    val frames: Seq[() => DataFrame] = Seq(
      () => spark.range(1000).select(col("id").as("k")).limit(50).orderBy(col("k").desc),
      () => spark.range(1000).select((col("id") % 7).as("k"), col("id")).coalesce(1)
        .orderBy(col("k"), col("id").desc))
    /** The rows of `df` and the jobs collecting them ran. */
    def run(df: DataFrame): (Seq[Row], Int) = {
      var rows = Seq.empty[Row]
      val jobs = jobsOf { rows = df.collect().toSeq }
      (rows, jobs)
    }
    for (frame <- frames) {
      val df = frame()
      val (rows, jobs) = run(df)
      val (want, range) = withRangeSorts(run(frame()))
      assert(rows == want)
      assert(jobs <= range, s"$jobs jobs, range plan $range")
      val exchanges = flat(df.queryExecution.executedPlan).collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size <= 1, exchanges.mkString("\n"))
    }
  }

  test("rows already on the driver are sorted there: one local scan, no exchange") {
    import spark.implicits._
    val df = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("id", "v").orderBy(col("id").desc)
    assert(df.as[(Long, String)].collect().toSeq == Seq((3L, "c"), (2L, "b"), (1L, "a")))
    assert(df.queryExecution.executedPlan match {
      case _: LocalTableScanExec => true
      case _ => false
    }, df.queryExecution.executedPlan)
  }

  test("above the coalescing size, or without AQE, the sort keeps its range exchange") {
    def plan() = spark.range(1000).select((col("id") % 7).as("k"), col("id"))
      .repartition(4).orderBy("k", "id").queryExecution.executedPlan
    assert(rangeExchanges(plan()) == 0 && flat(plan()).exists(_.isInstanceOf[OnePartitionExec]))
    for ((key, value) <- Seq("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b",
                             "spark.sql.adaptive.enabled" -> "false")) {
      spark.conf.set(key, value)
      try assert(rangeExchanges(plan()) == 1, s"$key=$value:\n${plan()}")
      finally spark.conf.unset(key)
    }
    // with parallelism not first, the advisory size is the bound
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1b")
    try assert(rangeExchanges(plan()) == 1, plan())
    finally {
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.parallelismFirst")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    }
  }
}
