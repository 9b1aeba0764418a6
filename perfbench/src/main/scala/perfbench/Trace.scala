package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `trace` groups the spans of one
  * workload/pass/query; `parent` is 0 for a root span. */
final case class Span(id: Long, trace: String, parent: Long, name: String,
                      start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Task-level totals of the jobs attributed to one span. */
final class ExecAgg {
  var jobs, stages, skippedStages, tasks, taskFailures = 0L
  var taskMs, cpuNs, waitMs, scanBytes = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillBytes = 0L

  def +=(o: ExecAgg): Unit = {
    jobs += o.jobs; stages += o.stages; skippedStages += o.skippedStages
    tasks += o.tasks; taskFailures += o.taskFailures; taskMs += o.taskMs
    cpuNs += o.cpuNs; waitMs += o.waitMs; scanBytes += o.scanBytes
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
  }
}

/** Catalyst phases of one finished query execution. */
final case class QeRecord(analysisMs: Long,
                          optimizationMs: Long, planningMs: Long,
                          planChars: Long)

/** In-memory span recorder plus the listeners that attribute Spark's
  * own job/stage/task, block and query-execution events to spans.
  *
  * Attribution: [[span]] sets the span id as the local property
  * [[SpanKey]] around its body, so every job the body launches carries
  * it in `SparkListenerJobStart.properties`. Jobs of a streaming query
  * run on the query's own thread; they are attributed through the
  * query id Spark stamps on them ([[StreamKey]]) and [[bindStream]].
  * Listener events arrive asynchronously; [[fence]] waits until every
  * event posted before it has been seen.
  *
  * An inactive tracer runs bodies directly, records nothing and has no
  * listener registered. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile var traceId: String = ""

  // listener state, written only on the listener-bus thread
  private val jobSpanProp = new ConcurrentHashMap[Int, String]()
  private val jobStreamProp = new ConcurrentHashMap[Int, String]()
  private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val jobSubmitted = new ConcurrentHashMap[Int, java.util.Set[Int]]()
  private val jobAgg = new ConcurrentHashMap[Int, ExecAgg]()
  private val streamSpan = new ConcurrentHashMap[String, Long]()
  private val fences = new ConcurrentHashMap[String, CountDownLatch]()
  val rddBlocks = new AtomicLong()
  val rddBlockBytes = new AtomicLong()
  private val qes = new java.util.concurrent.ConcurrentLinkedQueue[QeRecord]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      p.flatMap(x => Option(x.getProperty(FenceKey))).foreach { f =>
        Option(fences.get(f)).foreach(_.countDown()); return
      }
      p.flatMap(x => Option(x.getProperty(SpanKey))).foreach(jobSpanProp.put(e.jobId, _))
      p.flatMap(x => Option(x.getProperty(StreamKey))).foreach(jobStreamProp.put(e.jobId, _))
      jobStages.put(e.jobId, e.stageIds)
      e.stageIds.foreach(stageJob.put(_, e.jobId))
      agg(e.jobId).jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val id = e.stageInfo.stageId
      stageSubmit.put(id, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      Option(stageJob.get(id)).foreach { j =>
        agg(j).stages += 1
        jobSubmitted.computeIfAbsent(j, _ => ConcurrentHashMap.newKeySet[Int]()).add(id)
      }
    }
    // a stage of the job that never ran in it: its shuffle output was reused
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStages.get(e.jobId)).foreach { st =>
        val ran = Option(jobSubmitted.get(e.jobId)).map(_.size).getOrElse(0)
        agg(e.jobId).skippedStages += st.size - ran
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        val a = agg(j)
        a.tasks += 1
        if (e.reason != Success) a.taskFailures += 1
        val m = e.taskMetrics
        if (m != null) {
          a.taskMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.scanBytes += m.inputMetrics.bytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        Option(stageSubmit.get(e.stageId)).foreach { s =>
          a.waitMs += math.max(0L, e.taskInfo.launchTime - s)
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        rddBlocks.incrementAndGet()
        rddBlockBytes.addAndGet(b.memSize + b.diskSize)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val chars = try qe.optimizedPlan.treeString.length.toLong
                  catch { case scala.util.control.NonFatal(_) => 0L }
      qes.add(QeRecord(ms("analysis"), ms("optimization"), ms("planning"), chars))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  @volatile private var on = false
  def active: Boolean = on
  def active_=(v: Boolean): Unit = if (v != on) {
    on = v
    if (v) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    } else {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  private def agg(job: Int): ExecAgg = jobAgg.computeIfAbsent(job, _ => new ExecAgg)

  /** Run `body` as a child span of the current one. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val parents = stack.get
      val prevProp = sc.getLocalProperty(SpanKey)
      stack.set(id :: parents)
      sc.setLocalProperty(SpanKey, id.toString)
      val trace = traceId
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        spans.synchronized {
          spans += Span(id, trace, parents.headOption.getOrElse(0L), name, start, end)
        }
        stack.set(parents)
        sc.setLocalProperty(SpanKey, prevProp)
      }
    }

  /** The id of the innermost open span on this thread (0 at root). */
  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Attribute the jobs of streaming query `queryId` to span `spanId`. */
  def bindStream(queryId: String, spanId: Long): Unit =
    if (on) streamSpan.put(queryId, spanId)

  /** Block until the listeners have seen every event posted before this
    * call: a marker job is submitted and its start awaited (the bus
    * delivers events to a listener in order). */
  def fence(): Unit = if (on) {
    val key = java.util.UUID.randomUUID().toString
    val latch = new CountDownLatch(1)
    fences.put(key, latch)
    val prev = sc.getLocalProperty(FenceKey)
    sc.setLocalProperty(FenceKey, key)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(FenceKey, prev)
    latch.await(30, TimeUnit.SECONDS)
    // query-execution callbacks ride a separate bus queue: wait until
    // it stops producing
    var n = -1
    var tries = 0
    while (n != qes.size && tries < 20) { n = qes.size; Thread.sleep(25); tries += 1 }
    fences.remove(key)
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** The span a job belongs to, or 0 when it was launched outside any. */
  def spanOfJob(job: Int): Long =
    Option(jobStreamProp.get(job)).flatMap(q => Option(streamSpan.get(q)))
      .map(_.longValue)
      .orElse(Option(jobSpanProp.get(job)).map(_.toLong))
      .getOrElse(0L)

  /** Exec totals per span id (jobs launched outside spans under 0). */
  def execBySpan: Map[Long, ExecAgg] = {
    val out = mutable.Map.empty[Long, ExecAgg]
    jobAgg.asScala.foreach { case (job, a) =>
      out.getOrElseUpdate(spanOfJob(job), new ExecAgg) += a
    }
    out.toMap
  }

  /** The Catalyst phases of every query execution finished since the
    * last call. */
  def drainQes(): Seq[QeRecord] = {
    val b = mutable.ArrayBuffer.empty[QeRecord]
    var r = qes.poll()
    while (r != null) { b += r; r = qes.poll() }
    b.toSeq
  }

  /** Forget every recorded span and event total (between passes). */
  def reset(): Unit = {
    spans.synchronized(spans.clear())
    jobAgg.clear(); jobSpanProp.clear(); jobStreamProp.clear()
    jobStages.clear(); stageJob.clear()
    stageSubmit.clear(); jobSubmitted.clear(); qes.clear(); streamSpan.clear()
    rddBlocks.set(0); rddBlockBytes.set(0)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val FenceKey = "perfbench.fence"
  /** Set by Spark on every job of a micro-batch (StreamExecution.QUERY_ID_KEY). */
  val StreamKey = "sql.streaming.queryId"
}
