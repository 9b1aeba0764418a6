package graft

import org.apache.spark.sql.SparkSession

/** The one way to start graft: a local session with shuffle partitions
  * equal to its cores, UTC session time, no UI and WARN logging, with
  * graft attached through [[GraftExtensions.register]]. Every main and
  * the spec suite build their session here. */
object LocalSession {

  /** A main's session: `SPARK_GRAFT_CPUS` cores, 4 when unset. */
  def apply(): SparkSession = apply(cores(sys.env.get("SPARK_GRAFT_CPUS")))

  /** The `SPARK_GRAFT_CPUS` value as a core count. */
  private[graft] def cores(value: Option[String]): Int =
    positiveEnv("SPARK_GRAFT_CPUS", value, default = 4)

  /** A main's whole-number setting from environment variable `name`:
    * `default` when unset; a value that is not a whole number of at
    * least 1 fails naming the variable and the value. */
  private[graft] def positiveEnv(name: String, value: Option[String], default: Int): Int =
    value.fold(default) { v =>
      v.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
        s"$name must be a whole number of at least 1, got '$v'"))
    }

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
