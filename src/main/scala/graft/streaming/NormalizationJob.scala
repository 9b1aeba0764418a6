package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.operators.{Normalize, Sinks}

/** The reference's E2 normalization pipeline (normalization.py:133-165)
  * assembled as ONE restartable Structured Streaming query:
  *
  *   file source (lines)                     — S5, normalization.py:139
  *     → parse array / explode / 13-key whitelist / stringify
  *                                           — P3, normalization.py:81-107
  *     → dt/hr-partitioned JSONL sink        — K1, normalization.py:110-130
  *
  * Where the reference runs this as a cron-restarted batch with SQLite
  * `is_done` bookkeeping (normalization.py:45-51 — marked done BEFORE
  * the work happens, so a crash loses a window), this query is the
  * engine-native replacement: the checkpoint's offset log replaces the
  * bookkeeping, and the streaming file sink's commit log
  * (`_spark_metadata`) makes output EXACTLY-ONCE across kill/restart —
  * a `foreachBatch` + append would only be at-least-once, which is why
  * the native sink is used. Kill the process at any point, start again
  * on the same checkpoint: already-committed input files are skipped,
  * half-written output is invisible to readers.
  *
  * Malformed input lines survive as all-null rows (PERMISSIVE parse)
  * and land in the null (`__HIVE_DEFAULT_PARTITION__`) dt/hr partition
  * rather than failing the query — the reference's error-tolerant map
  * (retrieval.py:104-113), without losing the evidence.
  *
  * At 100 TB: the source lists new files incrementally
  * (`maxFilesPerTrigger` bounds a batch), the transform is a narrow
  * projection (no shuffle anywhere), and the dt/hr layout gives
  * hive-style partition pruning to every downstream reader.
  *
  * Cost model: on small inputs a micro-batch costs its fixed commit
  * work, not its bytes — an offset write-ahead-log entry and a commit
  * log entry (each a temp file plus a `FileContext` rename, with `.crc`
  * siblings), a `_spark_metadata` entry, and one task-attempt file plus
  * commit rename per non-empty dt/hr partition. That is filesystem
  * metadata work only because the session went through
  * [[graft.GraftExtensions.register]]: on a host without `libhadoop`,
  * stock Hadoop forks `chmod` for every file and directory created and
  * `readlink` for both ends of every checkpoint rename (see
  * [[graft.io.LocalFs]]).
  */
object NormalizationJob {

  /** Start the pipeline; returns the running query. Restart = call
    * again with the same `checkpointDir` after the previous instance
    * stopped or died. */
  def start(spark: SparkSession, srcDir: String, outDir: String,
            checkpointDir: String, eventTimeKey: String = "createdAt",
            maxFilesPerTrigger: Int = 1000): StreamingQuery = {
    val lines = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(srcDir)
    val normalized = Normalize.normalizeJsonLines(lines, "value")
    Sinks.withEventTimePartitions(normalized, eventTimeKey)
      .writeStream
      .format("json")
      .partitionBy("dt", "hr")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(0L))
      .start()
  }
}
