package graft

import org.apache.spark.sql.SparkSession

/** The one way to start graft: a local session with shuffle partitions
  * equal to its cores, UTC session time, no UI and WARN logging, with
  * graft attached through [[GraftExtensions.register]]. Every main and
  * the spec suite build their session here. */
object LocalSession {

  /** A main's session: `SPARK_GRAFT_CPUS` cores, 4 when unset. */
  def apply(): SparkSession =
    apply(sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4))

  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }
}
