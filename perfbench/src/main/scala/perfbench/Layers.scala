package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Bench
import graft.functions.Hashing
import graft.operators.Normalize

/** Per-layer metrics of a traced pass, the one-off layer probes, and
  * the span dump. */
object Layers {

  val Modules = Seq("Dedup", "Similarity", "Multimodal")

  /** Every per-layer metric with its unit, in report order: the
    * `per_layer` list of the checkout's BENCHMARK.json. */
  def names(root: String): Seq[(String, String)] =
    new ObjectMapper().readTree(new File(s"$root/BENCHMARK.json")).get("per_layer")
      .elements.asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  /** Per-layer metrics of one traced pass. */
  def of(spark: SparkSession, tr: Tracer, r: PassResult, wall: Double,
         cores: Int, gcS: Double, expect: Option[Inputs.EtlExpect],
         etlOut: String): Map[String, Double] = {
    val spans = tr.allSpans
    val bySpan = tr.execBySpan
    val buildIds = spans.filter(_.name.startsWith("build:")).map(_.id).toSet
    def total(ids: Long => Boolean) = {
      val a = new ExecAgg
      bySpan.foreach { case (id, x) => if (ids(id)) a += x }
      a
    }
    val all = total(_ => true)
    val build = total(buildIds)
    val exec = total(id => !buildIds(id))
    def dur(p: String => Boolean) = spans.filter(s => p(s.name)).map(_.seconds).sum
    val buildS = dur(_.startsWith("build:"))
    val qes = tr.drainQes()
    val execWall = math.max(1e-9, wall - buildS)

    val base = Map(
      "sql.analyze_s" -> dur(_ == "sql"),
      "catalyst.optimize_s" -> qes.map(_.optimizationMs).sum / 1e3,
      "catalyst.plan_s" -> qes.map(_.planningMs).sum / 1e3,
      "catalyst.plan_chars" -> qes.map(_.planChars).sum.toDouble,
      "build_s" -> buildS,
      "build.jobs" -> build.jobs.toDouble,
      "drive_s" -> dur(_ == "drive"),
      "exec.jobs" -> exec.jobs.toDouble,
      "exec.stages" -> exec.stages.toDouble,
      "exec.skipped_stages" -> exec.skippedStages.toDouble,
      "exec.tasks" -> exec.tasks.toDouble,
      "exec.task_s" -> exec.taskMs / 1e3,
      "exec.cpu_s" -> exec.cpuNs / 1e9,
      "exec.task_wait_s" -> exec.waitMs / 1e3,
      "exec.efficiency" -> exec.taskMs / 1e3 / (execWall * cores),
      "exec.task_failures" -> exec.taskFailures.toDouble,
      "scan.bytes" -> all.scanBytes.toDouble,
      "shuffle.write_bytes" -> all.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> all.shuffleRead.toDouble,
      "shuffle.fetch_wait_s" -> all.fetchWaitMs / 1e3,
      "spill.bytes" -> all.spillBytes.toDouble,
      "materialize.blocks" -> tr.rddBlocks.get.toDouble,
      "materialize.bytes" -> tr.rddBlockBytes.get.toDouble,
      "materialize.retained_bytes" -> spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum.toDouble,
      "jvm.gc_s" -> gcS) ++
      Modules.map(m => s"build.${m}_s" -> dur(_ == s"build:$m"))

    val etl = expect.map { e =>
      val progress = r.stream
      def phase(k: String) =
        progress.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
      val files = walk(new File(s"$etlOut/batch")).filter(_.getName.startsWith("part-"))
      val inRange = files.filter { f =>
        val hr = f.getParentFile.getName.stripPrefix("hr=")
        hr.forall(_.isDigit) &&
          hr.toInt >= Inputs.ReadbackHours._1 && hr.toInt <= Inputs.ReadbackHours._2
      }
      val publishIds = spans.filter(s => s.name == "publish" || s.name == "readback").map(_.id).toSet
      val sinkBytes = files.map(_.length).sum.toDouble
      etlRates(r, e) ++ Map(
        "sink.write_s" -> r.steps.getOrElse("sink", 0.0),
        "sink.bytes" -> sinkBytes,
        "sink.files" -> files.size.toDouble,
        "sink.bytes_per_input_byte" -> sinkBytes / e.bytes,
        "stream.batches" -> progress.size.toDouble,
        "stream.add_batch_s" -> phase("addBatch"),
        "stream.latest_offset_s" -> phase("latestOffset"),
        "stream.query_planning_s" -> phase("queryPlanning"),
        "stream.wal_commit_s" -> phase("walCommit"),
        "stream.commit_offsets_s" -> phase("commitOffsets"),
        "stream.trigger_overhead_s" -> (phase("triggerExecution") - phase("addBatch")),
        "readback.files_read" -> inRange.size.toDouble,
        "readback.scan_bytes" -> total(publishIds).scanBytes.toDouble,
        "publish.records" -> r.published._1.toDouble,
        "publish.batches" -> r.published._2.toDouble)
    }.getOrElse(Map.empty)
    base ++ etl
  }

  /** The reference pipeline's throughputs, from one pass's step times. */
  def etlRates(r: PassResult, e: Inputs.EtlExpect): Map[String, Double] = {
    val batchLatencies = r.stream.map(_.durationMs.get("triggerExecution").toDouble / 1e3)
    Map(
      "etl.rows_per_s" -> e.records / r.steps.getOrElse("sink", Double.NaN),
      "stream.rows_per_s" -> e.records / r.steps.getOrElse("stream", Double.NaN),
      "stream.batch_p50_s" -> (if (batchLatencies.isEmpty) 0.0 else Stats.median(batchLatencies)),
      "readback_s" -> r.steps.getOrElse("publish", 0.0))
  }

  /** Layer probes run once after the passes: the hashing kernels called
    * directly on the workload's documents, and the normalize stage
    * driven alone by the noop sink. */
  def probes(workload: String, spark: SparkSession,
             inputs: String): Map[String, Double] = workload match {
    case "queries" =>
      val texts = spark.read.parquet(s"$inputs/documents.parquet").select("text")
        .collect().map(_.getString(0)).filter(_ != null)
      val bytes = texts.map(_.getBytes(StandardCharsets.UTF_8))
      val nBytes = bytes.map(_.length.toLong).sum.toDouble
      val shingles = texts.map(Hashing.shingleHashes(_, 3))
      Map(
        "kernel.shingle_ns_per_byte" ->
          nsPerRep(texts.foreach(Hashing.shingleHashes(_, 3))) / nBytes,
        "kernel.minhash_ns_per_doc" ->
          nsPerRep(shingles.foreach(s => Hashing.minhashMinima(s.toSeq))) / texts.length,
        "kernel.cdc_ns_per_byte" ->
          nsPerRep(bytes.foreach(Hashing.cdcChunks(_, 8, 64))) / nBytes)
    case "etl_normalize" =>
      val n = Normalize.normalizeJsonLines(spark.read.text(inputs))
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); Bench.drive(n); (System.nanoTime() - t0) / 1e9 }
      Map(
        "normalize_s" -> Stats.median(times),
        "normalize.records" -> n.where(col("_id").isNotNull).count().toDouble,
        "normalize.malformed_rows" ->
          n.where(Normalize.whitelist.map(col(_).isNull).reduce(_ && _)).count().toDouble)
    case _ => Map.empty
  }

  /** Median nanoseconds of one call of `body`, repeated for at least
    * 200 ms after one warm-up call. */
  private def nsPerRep(body: => Unit): Double = {
    body
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    val until = System.nanoTime() + 200000000L
    while (System.nanoTime() < until || times.size < 5) {
      val t0 = System.nanoTime(); body; times += (System.nanoTime() - t0).toDouble
    }
    Stats.median(times.toSeq)
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)

  /** Spans as JSON lines with self time and jobs launched. */
  def writeSpans(path: String, spans: Seq[Span], jobs: Map[Long, Long]): Unit = {
    val self = Stats.selfTimes(spans.map(s => (s.id, s.parent, s.start, s.end)))
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    val om = new ObjectMapper()
    val lines = spans.sortBy(_.start).map { s =>
      val o = om.createObjectNode()
      o.put("id", s.id).put("trace", s.trace).put("parent", s.parent).put("name", s.name)
        .put("start_s", (s.start - t0) / 1e9).put("dur_s", s.seconds)
        .put("self_s", self(s.id) / 1e9).put("jobs", jobs.getOrElse(s.id, 0L))
      om.writeValueAsString(o)
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Committed expected outputs: per variant file, workload → query →
  * (rows, fingerprint). Fields written by the oracle confirmation
  * (`oracle`) are kept while the expected values do not change. */
object Goldens {
  private val om = new ObjectMapper()

  def read(path: String): Map[String, Map[String, (Long, String)]] = {
    val f = new File(path)
    if (!f.exists) return Map.empty
    val root = om.readTree(f)
    root.fieldNames.asScala.map { w =>
      w -> root.get(w).fieldNames.asScala.map { q =>
        val n = root.get(w).get(q)
        q -> (n.get("rows").asLong, n.get("fp").asText)
      }.toMap
    }.toMap
  }

  def write(path: String, workload: String, fps: Map[String, (Long, String)]): Unit = {
    val f = new File(path)
    val root = if (f.exists) om.readTree(f).asInstanceOf[ObjectNode] else om.createObjectNode()
    val old = Option(root.get(workload))
    val w = om.createObjectNode()
    fps.toSeq.sortBy(_._1).foreach { case (q, (rows, fp)) =>
      val prev = old.flatMap(o => Option(o.get(q)))
      val n = om.createObjectNode().put("rows", rows).put("fp", fp)
      prev.filter(p => p.get("rows").asLong == rows && p.get("fp").asText == fp)
        .flatMap(p => Option(p.get("oracle"))).foreach(n.set[JsonNode]("oracle", _))
      w.set[JsonNode](q, n)
    }
    root.set[JsonNode](workload, w)
    f.getParentFile.mkdirs()
    om.writerWithDefaultPrettyPrinter().writeValue(f, root)
  }

  /** Merge query → oracle SQL into the dump's `oracle_sql.json`. */
  def writeOracles(path: String, sql: Map[String, String]): Unit = {
    val f = new File(path)
    val root = if (f.exists) om.readTree(f).asInstanceOf[ObjectNode] else om.createObjectNode()
    sql.foreach { case (q, text) => root.put(q, text) }
    f.getParentFile.mkdirs()
    om.writerWithDefaultPrettyPrinter().writeValue(f, root)
  }
}
