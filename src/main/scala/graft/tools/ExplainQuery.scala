package graft.tools
import org.apache.spark.sql.SparkSession
/** Dev aid: write a registered query's `.explain("formatted")` output
  * to a file — the per-round plan evidence (`plans/r{N}/<q>_before.txt`
  * / `_after.txt`). Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_PLAN_DIR=plans/r17 \
  *     sbt "runMain graft.tools.ExplainQuery s17_ann_graph_lsh=_before ..."
  * Each arg is `<query>[=<suffix>]` (suffix defaults to empty). Runs on
  * the same local[cpus]/shuffle-partitions config as Bench so plan
  * shapes (AQE thresholds, partition counts) match what the bench
  * executes.
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(spark) // SQL functions + fork-free file:// I/O
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r17"))
    java.nio.file.Files.createDirectories(outDir)
    args.foreach { a =>
      val (name, suffix) = a.split("=", 2) match {
        case Array(n, sfx) => (n, sfx)
        case Array(n)      => (n, "")
      }
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"$name$suffix.txt"),
        (s"-- $name @ $dir (cpus=$cpus)\n" + txt).getBytes("UTF-8"))
      println(s"wrote ${outDir.resolve(s"$name$suffix.txt")}")
    }
    spark.stop()
  }
}
