package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source-side operators (reference SURVEY.md §2.1, §2.7).
  *
  * The reference's incremental extract is a hand-rolled watermark loop
  * over MongoDB (retrieval.py:30-60, 208-215): read last-processed date
  * from SQLite, scan one day, persist the new watermark. Here the scan
  * is a predicate-pushdown read and the watermark is a tiny parquet
  * state table — Structured Streaming's checkpoint subsumes this in the
  * streaming path (graft.streaming.Windows).
  */
object Ingest {

  /** S1: time-range scan with the predicate pushed to the source —
    * Catalyst turns this into parquet row-group pruning (the analog of
    * the reference's $gte/$lte Mongo find, retrieval.py:66-75). */
  def rangeScan(df: DataFrame, tsCol: String,
                start: String, end: String): DataFrame =
    df.filter(col(tsCol) >= lit(start).cast("timestamp") &&
              col(tsCol) <= lit(end).cast("timestamp"))

  /** S2: count pushed through Catalyst's partial/final aggregate. */
  def rangeCount(df: DataFrame, tsCol: String,
                 start: String, end: String): Long =
    rangeScan(df, tsCol, start, end).count()

  /** S3: the reference's 20-minute chunked scan (retrieval.py:189-196)
    * — as a declarative bucket column; Spark's partitioned scan makes
    * the hand-chunking unnecessary, the bucket is for grouping. */
  def timeBuckets(df: DataFrame, tsCol: String,
                  minutes: Int = 20): DataFrame =
    df.withColumn("bucket_start",
      timestamp_seconds(floor(unix_timestamp(col(tsCol)) / (minutes * 60))
        * (minutes * 60)))

  /** S4: file scan pruned by modification time — native read options
    * replace the reference's blob-list filter (normalization.py:61-63). */
  def filesModifiedBetween(spark: SparkSession, path: String,
                           after: String, before: String): DataFrame =
    spark.read
      .option("modifiedAfter", after)
      .option("modifiedBefore", before)
      .text(path)

  /** Watermark state (C1): last processed timestamp, kept as a 1-row
    * parquet table. Read returns the epoch default when absent
    * (retrieval.py:49-51 semantics). */
  def readWatermark(spark: SparkSession, stateDir: String,
                    default: String = "2024-09-01 00:00:00"): String =
    try {
      val rows = graft.Tables.parquet(spark, stateDir)
        .agg(max(col("watermark")).as("w")).collect()
      Option(rows(0).getString(0)).getOrElse(default)
    } catch {
      // ONLY the missing-state-path case maps to the epoch default; a
      // transient read failure must propagate — silently resetting the
      // watermark would reprocess the entire history into the sink
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("PATH_NOT_FOUND") ||
             e.getMessage.toLowerCase.contains("path does not exist") => default
    }

  def writeWatermark(spark: SparkSession, stateDir: String, value: String): Unit = {
    import spark.implicits._
    Seq(value).toDF("watermark").coalesce(1)
      .write.mode("overwrite").parquet(stateDir)
  }
}
