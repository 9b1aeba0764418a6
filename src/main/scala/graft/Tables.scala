package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Warehouse table access. Tables are hive-less parquet files laid out as
  * `dir/<name>.parquet` (see /root/repo/TESTDATA.md). Reading through
  * `spark.read.parquet` keeps the scan columnar + vectorized and lets
  * Catalyst push filters and prune columns down to the parquet reader —
  * the property we rely on for the 100 TB design point.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Estimated (scan-task count, total data bytes) for a parquet path,
    * mirroring Spark's own split sizing (`FilePartition.maxSplitBytes`):
    * maxSplit = min(maxPartitionBytes, max(openCostInBytes,
    * (Σ(len + openCost)) / defaultParallelism)), splits = Σ ceil(len /
    * maxSplit). The r17 form modeled only maxPartitionBytes, so a
    * splittable file Spark would already scan with >= cores tasks could
    * still trigger a redundant full-table shuffle (r17 ADVICE). Pure
    * file metadata (one local listStatus), no data read. */
  private def estimatedSplits(spark: SparkSession,
                              path: String): (Long, Long) = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val maxPB = spark.sessionState.conf.filesMaxPartitionBytes.max(1L)
    val openCost = spark.sessionState.conf.filesOpenCostInBytes.max(1L)
    def walk(st: org.apache.hadoop.fs.FileStatus): Seq[Long] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq
          .filterNot(f => { val n = f.getPath.getName
            n.startsWith("_") || n.startsWith(".") })
          .flatMap(walk)
      else Seq(st.getLen)
    try {
      val lens = walk(fs.getFileStatus(hPath))
      val bytes = lens.sum
      val perCore = lens.map(_ + openCost).sum /
        spark.sparkContext.defaultParallelism.max(1)
      val maxSplit = math.min(maxPB, math.max(openCost, perCore)).max(1L)
      (lens.map(l => (l + maxSplit - 1) / maxSplit).sum, bytes)
    } catch {
      case scala.util.control.NonFatal(_) => (Long.MaxValue, Long.MaxValue)
    }
  }

  /** Fan-out floor: a table smaller than this many bytes never fans out
    * — the repartition exchange plus `cores` near-empty tasks is pure
    * overhead on a dimension lookup (region/nation/supplier class;
    * r17 ADVICE item 3). Overridable per session for other deployments;
    * the default is deliberately far below one scan split so every
    * kernel-heavy table (documents/embeddings, whose COMPUTE per byte —
    * not byte count — is what the fan-out parallelizes) keeps fanning.
    * A value that is not a non-negative whole number of bytes fails the
    * load with the key and the value named. */
  private def fanMinBytes(spark: SparkSession): Long =
    spark.conf.getOption(FanoutMinBytesKey).map { v =>
      v.trim.toLongOption.filter(_ >= 0L).getOrElse(throw new IllegalArgumentException(
        s"$FanoutMinBytesKey must be a non-negative number of bytes, got '$v'"))
    }.getOrElse(65536L)

  private val FanoutMinBytesKey = "spark.graft.fanoutMinBytes"

  /** Input-skew repair (optimization guide §2.5: "one huge unsplittable
    * file ... repartition immediately after the read"; §6 input split
    * size). The testdata tables ship as ONE parquet file with ONE row
    * group, so a scan cannot split below it: every scan-stage kernel
    * (shingling, hashing, explodes — the dominant cost of the text/
    * vector operators) runs in a single task while the other cores
    * idle. When the estimated scan parallelism is below the session's
    * core count, fan the read out to `defaultParallelism` partitions
    * (round-robin; deterministic under `sortBeforeRepartition`, and
    * every registered query is order-insensitive — total-order sorted
    * and oracle-hash-checked). SCALE-ADAPTIVE by construction: a
    * production input (many files / row groups, splits ≥ cores) takes
    * the `df` branch and no exchange is ever added — this is not a
    * local[32] constant, it is the generic unsplittable-input repair.
    * Callers whose 100 TB law is "the payload/text never crosses an
    * exchange" (m-family media, x27 export) pass `fan = false` and
    * keep their scan-local plans. */
  private def fanout(spark: SparkSession, dir: String, name: String,
                     df: DataFrame): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    val minBytes = fanMinBytes(spark) // parsed on every load, not only when it decides
    val (splits, bytes) = estimatedSplits(spark, s"$dir/$name.parquet")
    if (splits < cores && bytes >= minBytes)
      df.repartition(cores)
    else df
  }

  def t(spark: SparkSession, dir: String, name: String,
        fan: Boolean = true): DataFrame = {
    // The events.ts column has shipped as parquet TIMESTAMP(NANOS) —
    // unreadable in Spark 4 unless surfaced as a long — and as
    // TIMESTAMP(MICROS) without timezone — surfaced as TIMESTAMP_NTZ,
    // which watermarks and unix_micros reject. Normalize BOTH physical
    // encodings to session-tz TimestampType here, and FORCE the
    // session timezone to UTC the same way the legacy flag is forced:
    // the NTZ→TimestampType cast reinterprets wall-clock time in the
    // session zone, so the two encodings only read identical instants
    // under UTC — a caller in another zone would silently read
    // shifted timestamps.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    val normalized = df.schema.fields.foldLeft(df) { (acc, f) =>
      if (f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType)
        acc.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      else if (f.name == "ts" &&
          f.dataType == org.apache.spark.sql.types.TimestampNTZType)
        acc.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      else acc
    }
    if (fan) fanout(spark, dir, name, normalized) else normalized
  }

  /** Register every table as a temp view so `spark.sql(...)` works too. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
}
