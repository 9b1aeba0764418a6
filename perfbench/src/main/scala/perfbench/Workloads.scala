package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.{Bench, SparkEntry}
import graft.operators.{Normalize, Sinks}
import graft.streaming.NormalizationJob

/** What one pass did: per-operation latencies in seconds, and each
  * failed operation or check with its reason. */
final case class PassResult(ops: Seq[(String, Double)], attempted: Int,
                            failures: Seq[String],
                            stream: Seq[StreamingQueryProgress] = Nil,
                            published: (Long, Long) = (0L, 0L),
                            fingerprints: Map[String, (Long, String)] = Map.empty,
                            steps: Map[String, Double] = Map.empty)

/** A workload: a fixed list of operations over seeded inputs. `pass`
  * runs them all once; with `check` it also verifies every output. */
sealed trait Workload {
  def name: String
  /** Usual wall time of one warm pass on a 4-core box, in seconds. */
  def passSeconds: Double
  def pass(spark: SparkSession, tr: Tracer, passNo: Int, check: Boolean): PassResult
}

object Workloads {
  def byName(name: String, inputs: String, goldens: Map[String, (Long, String)],
             work: String, expect: Option[Inputs.EtlExpect],
             dump: Option[String]): Workload = name match {
    case "queries" => new QueryWorkload(name, Queries, inputs, goldens, dump)
    case "etl_normalize" => new EtlWorkload(inputs, work, expect.get)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val names: Seq[String] = Seq("etl_normalize", "queries")

  /** Warehouse queries, sent as SQL text through `spark.sql`: a scan +
    * aggregate, an event-time window (Spark-dialect form) and the custom
    * top-k-per-group plan. */
  val SqlQueries: Seq[String] = Seq(
    "q01_pricing_summary", "q13_events_tumbling", "q31_topk_per_group")

  /** LLM-data operators, built through the DataFrame registry: minhash
    * LSH, connected components over checkpoints, cosine pairs and
    * content-defined chunking. */
  val OperatorQueries: Seq[String] = Seq(
    "d02_minhash_lsh", "d05_dup_clusters", "s02_cosine_pairs", "m09_cdc_chunks")

  val Queries: Seq[String] = SqlQueries ++ OperatorQueries

  /** The Spark-dialect form where the engine has one, else the oracle
    * SQL, which then runs verbatim in Spark. */
  def sqlText(q: String): String =
    SparkEntry.sparkSql.getOrElse(q, SparkEntry.oracleSql(q))

  /** Operator module of a registry query, by its family prefix. */
  def module(q: String): String = q.head match {
    case 'd' => "Dedup"
    case 's' => "Similarity"
    case 'm' => "Multimodal"
    case _ => "Warehouse"
  }
}

/** Queries at a fixed list: build the frame (through `spark.sql` for
  * [[Workloads.SqlQueries]], the DataFrame registry otherwise), drive it
  * with [[Bench.drive]]; the check compares a row count and fingerprint
  * with the variant's golden. */
final class QueryWorkload(val name: String, queries: Seq[String], dir: String,
                          goldens: Map[String, (Long, String)],
                          dump: Option[String]) extends Workload {
  val passSeconds = 5.5

  def pass(spark: SparkSession, tr: Tracer, passNo: Int, check: Boolean): PassResult = {
    val ops = mutable.ArrayBuffer.empty[(String, Double)]
    val failures = mutable.ArrayBuffer.empty[String]
    val fps = mutable.LinkedHashMap.empty[String, (Long, String)]
    var attempted = 0
    queries.foreach { q =>
      tr.traceId = s"$name/$passNo/$q"
      attempted += 1
      val t0 = System.nanoTime()
      try {
        val df = tr.span(s"query:$q") {
          val df =
            if (Workloads.SqlQueries.contains(q)) tr.span("sql") { spark.sql(Workloads.sqlText(q)) }
            else tr.span(s"build:${Workloads.module(q)}") { SparkEntry.queries(q)(spark, dir) }
          // the check collects the frame instead: the same plan, whose
          // rows are then compared
          if (!check) tr.span("drive") { Bench.drive(df) }
          df
        }
        ops += q -> (System.nanoTime() - t0) / 1e9
        if (check) {
          attempted += 1
          val got = Stats.fingerprint(df)
          fps(q) = got
          dump.foreach(d => df.write.mode("overwrite").parquet(s"$d/$q"))
          goldens.get(q) match {
            case Some(want) if want == got =>
            case Some(want) => failures += s"$q: got rows=${got._1} fp=${got._2}, golden rows=${want._1} fp=${want._2}"
            case None => failures += s"$q: no golden (rows=${got._1} fp=${got._2})"
          }
        }
      } catch {
        case NonFatal(e) => failures += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
    }
    PassResult(ops.toSeq, attempted, failures.toSeq, fingerprints = fps.toMap)
  }
}

/** The reference pipeline: batch normalize → partitioned JSONL sink,
  * the same files drained by the streaming job, then a dt/hr range read
  * back, typed, re-validated and published in batches. */
final class EtlWorkload(src: String, work: String, expect: Inputs.EtlExpect) extends Workload {
  val name = "etl_normalize"
  val passSeconds = 3.8
  val MaxFilesPerTrigger = 1

  val dataSchema: StructType =
    StructType(Normalize.whitelist.map(StructField(_, StringType)))

  def pass(spark: SparkSession, tr: Tracer, passNo: Int, check: Boolean): PassResult = {
    val out = EtlWorkload.outDir(work)
    Inputs.deleteTree(new File(out))
    val (batchOut, streamOut, ckpt) = (s"$out/batch", s"$out/stream", s"$out/ckpt")
    val steps = mutable.LinkedHashMap.empty[String, Double]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var progress: Seq[StreamingQueryProgress] = Nil
    var published = (0L, 0L)
    def step(label: String)(body: => Unit): Unit = {
      tr.traceId = s"$name/$passNo/$label"
      attempted += 1
      val t0 = System.nanoTime()
      try { tr.span(label)(body); steps(label) = (System.nanoTime() - t0) / 1e9 }
      catch { case NonFatal(e) => failures += s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
    }

    step("sink") {
      val lines = spark.read.text(src)
      Sinks.writePartitionedJsonlByEventTime(
        Normalize.normalizeJsonLines(lines), "createdAt", batchOut)
    }
    step("stream") {
      val q = NormalizationJob.start(spark, src, streamOut, ckpt,
        maxFilesPerTrigger = MaxFilesPerTrigger)
      tr.bindStream(q.id.toString, tr.current)
      try q.processAllAvailable() finally q.stop()
      progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    }
    step("publish") {
      EtlWorkload.records.set(0); EtlWorkload.batches.set(0)
      val typed = tr.span("readback") {
        Normalize.asBalanceLog(spark.read.schema(dataSchema).json(batchOut)
          .where(col("hr").between(Inputs.ReadbackHours._1, Inputs.ReadbackHours._2)))
      }
      val json = Normalize.validateJson(Normalize.toJsonString(typed), "json", typed.schema)
        .where(col("parsed").isNotNull).select("json").as(Encoders.STRING)
      Sinks.publishBatched(json, maxBatch = 50)(() => new AtomicLong())(
        (c, b) => { c.addAndGet(b.size); EtlWorkload.batches.incrementAndGet() })(
        c => EtlWorkload.records.addAndGet(c.get))
      published = (EtlWorkload.records.get, EtlWorkload.batches.get)
    }

    if (check) failures ++= verify(spark, batchOut, streamOut, published._1, () => attempted += 1)
    // the commit units: the batch job, every micro-batch, the publish job
    val ops = steps.get("sink").map("sink" -> _).toSeq ++
      progress.map(p => "micro-batch" -> p.durationMs.get("triggerExecution").toDouble / 1e3) ++
      steps.get("publish").map("publish" -> _).toSeq
    PassResult(ops, attempted, failures.toSeq, progress, published, steps = steps.toMap)
  }

  /** The generator's invariants, each one check. */
  private def verify(spark: SparkSession, batchOut: String, streamOut: String,
                     published: Long, tick: () => Unit): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    def expectEq(what: String, got: Long, want: Long): Unit = {
      tick()
      if (got != want) bad += s"$what: got $got, want $want"
    }
    try {
      val batch = spark.read.schema(dataSchema).json(batchOut)
      val stream = spark.read.schema(dataSchema).json(streamOut)
      val stats = batch.agg(count(col("_id")), count(when(col("dt").isNull, 1)),
        countDistinct(col("_id"))).head()
      expectEq("records in = non-null rows out", stats.getLong(0), expect.records)
      expectEq("malformed lines = null-partition rows", stats.getLong(1), expect.malformed)
      expectEq("distinct _id = non-null rows", stats.getLong(2), expect.records)
      // multiset difference in one shuffle: +1 per batch row, -1 per stream row
      val cols = batch.columns.toSeq.map(col)
      val diff = batch.select(lit(1).as("side") +: cols: _*)
        .unionByName(stream.select(lit(-1).as("side") +: cols: _*))
        .groupBy(cols: _*).agg(sum("side").as("n")).where(col("n") =!= 0).count()
      expectEq("stream output = batch output (rows off)", diff, 0)
      expectEq("published = rows in read-back range", published, expect.inReadback)
    } catch {
      case NonFatal(e) => bad += s"verify: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    }
    bad.toSeq
  }
}

object EtlWorkload {
  /** Output of the pass in progress (and of the last one, until the next). */
  def outDir(work: String): String = s"$work/etl-run"
  /** The in-process publish target: records and batches received. */
  val records = new AtomicLong()
  val batches = new AtomicLong()
}
