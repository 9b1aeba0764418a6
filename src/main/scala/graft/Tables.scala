package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Warehouse table access. Tables are hive-less parquet files laid out as
  * `dir/<name>.parquet` (see TESTDATA.md). Reading through
  * `spark.read.parquet` keeps the scan columnar + vectorized and lets
  * Catalyst push filters and prune columns down to the parquet reader —
  * the property we rely on for the 100 TB design point.
  *
  * Cost model of one [[t]] load, all on the driver and with no Spark
  * job: one walk of the table path, one parquet footer read (the
  * schema, Parquet being self-describing), and Spark's own resolution
  * of the file source, which lists the path again. A plain
  * `spark.read.parquet(path)` would also launch a schema-inference job
  * to read that one footer; [[t]] passes the schema it read instead.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Every leaf file a load of `path` sees, sorted by path: the names
    * Spark's file index lists (data files plus the `_metadata` and
    * `_common_metadata` summaries; never `_SUCCESS`, `.crc` or
    * `._COPYING_` files), found by one local walk. The split estimate
    * and the schema footer are both chosen from it. Empty when the
    * path does not exist. */
  private def leafFiles(fs: FileSystem, path: Path): Seq[FileStatus] = {
    def listed(n: String): Boolean =
      (isData(n) && !n.endsWith("._COPYING_")) ||
        n.startsWith("_common_metadata") || n.startsWith("_metadata")
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq.filter(f => listed(f.getPath.getName))
          .flatMap(walk)
      else Seq(st)
    try walk(fs.getFileStatus(path)).sortBy(_.getPath.toString)
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** Whether a scan reads a leaf of this name (Spark's `isDataPath`):
    * not a summary, marker or hidden file. */
  private def isData(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) || name.startsWith("."))

  /** The schema Spark's own inference gives the table, read from one
    * footer on the driver. Inference without `mergeSchema` touches one
    * file: `_common_metadata`, else `_metadata`, else the first data
    * file (`ParquetUtils.inferSchema`). It converts that footer with the
    * converter `ParquetFileFormat.mergeSchemasInParallel` builds from
    * the same five session flags, but inside a Spark job, one per load
    * even for a single file. None when there is no file to read. */
  private def footerSchema(spark: SparkSession, conf: Configuration,
                           leaves: Seq[FileStatus]): Option[StructType] = {
    def named(n: String) = leaves.find(_.getPath.getName == n)
    named("_common_metadata").orElse(named("_metadata"))
      .orElse(leaves.find(f => isData(f.getPath.getName))).map { f =>
        val sql = spark.sessionState.conf
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = sql.isParquetBinaryAsString,
          assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
          inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
          nanosAsLong = sql.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation =
            sql.parquetReaderRespectUnknownTypeAnnotation)
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, meta), converter)
      }
  }

  /** Estimated (scan-task count, total data bytes) of a table's data
    * files, mirroring Spark's own split sizing
    * (`FilePartition.maxSplitBytes`): maxSplit = min(maxPartitionBytes,
    * max(openCostInBytes, (Σ(len + openCost)) / defaultParallelism)),
    * splits = Σ ceil(len / maxSplit). The r17 form modeled only
    * maxPartitionBytes, so a splittable file Spark would already scan
    * with >= cores tasks could still trigger a redundant full-table
    * shuffle (r17 ADVICE). Pure file metadata, no data read. */
  private def estimatedSplits(spark: SparkSession,
                              leaves: Seq[FileStatus]): (Long, Long) = {
    val maxPB = spark.sessionState.conf.filesMaxPartitionBytes.max(1L)
    val openCost = spark.sessionState.conf.filesOpenCostInBytes.max(1L)
    val lens = leaves.filter(f => isData(f.getPath.getName)).map(_.getLen)
    val bytes = lens.sum
    val perCore = lens.map(_ + openCost).sum /
      spark.sparkContext.defaultParallelism.max(1)
    val maxSplit = math.min(maxPB, math.max(openCost, perCore)).max(1L)
    (lens.map(l => (l + maxSplit - 1) / maxSplit).sum, bytes)
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
  private def fanout(spark: SparkSession, leaves: Seq[FileStatus],
                     df: DataFrame): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    val minBytes = fanMinBytes(spark) // parsed on every load, not only when it decides
    val (splits, bytes) = estimatedSplits(spark, leaves)
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
    val (df, leaves) = read(spark, s"$dir/$name.parquet")
    val normalized = normalizeTs(df)
    if (fan) fanout(spark, leaves, normalized) else normalized
  }

  /** Load any parquet path (a file or a directory, e.g. a saved model)
    * the way [[t]] loads a table, with its schema read from one footer
    * on the driver and no Spark job, but without [[t]]'s ts
    * normalization and fan-out. */
  def parquet(spark: SparkSession, path: String): DataFrame = read(spark, path)._1

  /** The footer-schema read behind [[t]] and [[parquet]], with the leaf
    * files it listed. */
  private def read(spark: SparkSession, path: String): (DataFrame, Seq[FileStatus]) = {
    val p = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val leaves = leafFiles(p.getFileSystem(conf), p)
    val df = footerSchema(spark, conf, leaves) match {
      case Some(schema) => spark.read.schema(schema)
        .option("mergeSchema", "false").parquet(path)
      // nothing to read a schema from: Spark's reader raises its own
      // AnalysisException (PATH_NOT_FOUND, UNABLE_TO_INFER_SCHEMA)
      case None => spark.read.parquet(path)
    }
    (df, leaves)
  }

  /** The events.ts normalization [[t]] applies to a raw read. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (acc, f) =>
      if (f.name == "ts" && f.dataType == LongType)
        acc.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else if (f.name == "ts" && f.dataType == TimestampNTZType)
        acc.withColumn("ts", col("ts").cast(TimestampType))
      else acc
    }

  /** Register every table as a temp view so `spark.sql(...)` works too,
    * and the `graft_query` table function over the same `dir`
    * ([[GraftExtensions.queryFunction]]); a second call rebinds both. */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    all.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
    spark.sessionState.tableFunctionRegistry.createOrReplaceTempFunction(
      "graft_query", GraftExtensions.queryFunction(spark, dir), "scala_udf")
  }
}
