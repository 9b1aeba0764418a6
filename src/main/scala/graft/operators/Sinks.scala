package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, ForeachWriter, Row}
import org.apache.spark.sql.functions._

/** Sink operators (reference SURVEY.md §2.4).
  *
  * K1 — partitioned JSONL warehouse sink (normalization.py:110-130):
  * the reference hand-builds `dt=YYYY-MM-DD/hr=HH` paths and uploads
  * JSONL batches; in Spark this is `partitionBy("dt","hr").json` — task-
  * attempt file naming replaces the random suffix, the commit protocol
  * replaces the SQLite is_done flag (normalization.py:45-51), and at
  * 100 TB the partition columns give hive-style pruning on read.
  *
  * K2/K3 — batched RPC publisher (retrieval.py:123-169): per-partition
  * client (the Beam start_bundle amortization) + bounded batches. The
  * transport is pluggable; tests inject an in-memory publisher.
  *
  * Cost model for K1: a partitioned write's cost grows with the number
  * of output files, one per task per non-empty partition, more than
  * with its bytes: each file is a task-attempt file, its `.crc`, their
  * directories and a commit rename. On `file://` that is metadata work
  * through [[graft.io.LocalFs]], which sessions get from
  * [[graft.GraftExtensions.register]]; stock Hadoop without `libhadoop`
  * also forks a `chmod` process for every file and directory.
  */
object Sinks {

  /** K1: append `dt`/`hr` processing-time partitions and write JSONL. */
  def writePartitionedJsonl(df: DataFrame, outDir: String): Unit =
    df
      .withColumn("dt", date_format(current_timestamp(), "yyyy-MM-dd"))
      .withColumn("hr", date_format(current_timestamp(), "HH"))
      .write.partitionBy("dt", "hr").mode("append").json(outDir)

  /** dt/hr partition columns derived from an event-time column — the
    * projection shared by the batch JSONL writer below and the
    * streaming [[graft.streaming.NormalizationJob]]. try_cast keeps a
    * malformed timestamp STRING (the normalize stage emits strings)
    * from failing the job under ANSI mode: it lands in the null
    * partition instead, preserving the row. */
  def withEventTimePartitions(df: DataFrame, tsCol: String): DataFrame = {
    val ts = expr(s"try_cast(`$tsCol` AS TIMESTAMP)")
    df
      .withColumn("dt", date_format(ts, "yyyy-MM-dd"))
      .withColumn("hr", date_format(ts, "HH"))
  }

  /** K1 (event-time variant): partitions derived from an event-time
    * column instead of the wall clock — what the reference *should* do
    * so late data lands in its own partition (SURVEY.md §2.7 C5). */
  def writePartitionedJsonlByEventTime(df: DataFrame, tsCol: String, outDir: String): Unit =
    withEventTimePartitions(df, tsCol)
      .write.partitionBy("dt", "hr").mode("append").json(outDir)

  /** K1 (sharded-export variant): the x27 writer — partitioned JSONL
    * keyed by an integer shard column instead of dt/hr. `overwrite`
    * is the exactly-once discipline for a BATCH export: Spark's
    * commit protocol publishes task output only on job success, and a
    * re-run after any partial/killed attempt replaces the whole tree,
    * so the export is idempotent — the read-back equals the plan no
    * matter how many attempts died before one committed (the
    * SQLite-is_done replacement, normalization.py:45-51, applied to
    * shards). */
  def writeShardedJsonl(df: DataFrame, shardCol: String,
                        outDir: String): Unit =
    df.write.partitionBy(shardCol).mode("overwrite").json(outDir)

  /** K2: publish rows in bounded batches with one client per partition.
    * `openClient` runs once per partition (start_bundle semantics,
    * retrieval.py:127-129); `publish` gets at most `maxBatch` records
    * per call; at-least-once on task retry, like the reference's
    * blocking future.result() (retrieval.py:137-140). */
  def publishBatched[C](ds: Dataset[String], maxBatch: Int = 50)
                       (openClient: () => C)
                       (publish: (C, Seq[String]) => Unit)
                       (close: C => Unit): Unit =
    ds.foreachPartition { (it: Iterator[String]) =>
      val client = openClient()
      try it.grouped(maxBatch).foreach(b => publish(client, b.toSeq))
      finally close(client)
    }

  /** K3: per-element sink as a ForeachWriter (streaming-compatible). */
  class StringForeachWriter(send: String => Unit) extends ForeachWriter[String] {
    override def open(partitionId: Long, epochId: Long): Boolean = true
    override def process(value: String): Unit = send(value)
    override def close(errorOrNull: Throwable): Unit = ()
  }
}
