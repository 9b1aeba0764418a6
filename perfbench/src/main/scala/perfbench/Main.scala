package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftExtensions, SparkEntry, Tables}

/** The benchmark program. One run: seeded inputs, several timed
  * set-ups, untimed warm-up passes (the first checks every output), then
  * a fixed number of timed passes that takes about `--seconds`. With `--trace 1` untraced and
  * traced passes alternate and the per-layer metrics of the traced ones
  * are printed. The last stdout line is the result JSON.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --root DIR
  *   Main --workload W --seed N --write-goldens --root DIR
  */
object Main {

  /** Set-ups are timed until at least this many warm ones have filled
    * at least this many seconds; `setup_s` is their median. The first
    * set-up is cold (class loading, JIT) and left out. */
  val MinWarmSetups = 4
  val WarmSetupSeconds = 2.0
  /** Untimed passes before the timed ones; the first checks every
    * output. The pass after it still runs 10-30% slower than later ones
    * while the JIT compiles, so it is left untimed too. */
  val WarmPasses = 2
  /** Timed passes at least; a traced run alternates untraced and traced
    * passes, so it has two untraced and one traced. */
  val MinPasses = 3

  /** Timed passes of a run: as many as fill `seconds` at the workload's
    * usual pass time. The count depends on `seconds` alone, not on how
    * fast the passes run: passes get faster as the JIT warms up, so a
    * loop that stopped at a deadline would take its medians over more,
    * and faster, passes whenever a run was quick. */
  def timedPasses(w: Workload, seconds: Double): Int =
    math.max(MinPasses, math.ceil(seconds / w.passSeconds).toInt)

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, root: String, writeGoldens: Boolean)

  def parse(a: Seq[String]): Args = {
    val m = a.sliding(2, 1).collect { case Seq(k, v) if k.startsWith("--") => k -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(req("--workload"), req("--seed").toLong, m.getOrElse("--seconds", "10").toDouble,
      m.getOrElse("--trace", "0") == "1", req("--root"), a.contains("--write-goldens"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq)
    require(Workloads.names.contains(args.workload), s"unknown workload ${args.workload}")
    val bench = s"${args.root}/perfbench"
    val work = s"$bench/.work"
    new File(work).mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()

    // ---- inputs (not set-up: generated once per seed and cached) ------
    val genStart = System.nanoTime()
    var genSession: Option[SparkSession] = None
    lazy val gen = { val s = session(cores, work); genSession = Some(s); s }
    val (inputs, expect) =
      if (args.workload == "etl_normalize") {
        val (src, e) = Inputs.etl(work, args.seed); (src, Some(e))
      } else (Inputs.tables(gen, s"$bench/fixture/sf0.001", work, args.seed), None)
    genSession.foreach(_.stop())
    val genS = (System.nanoTime() - genStart) / 1e9
    val variant = Inputs.variant(args.seed)
    val goldenFile = s"$bench/goldens/v$variant.json"
    val goldens = Goldens.read(goldenFile).getOrElse(args.workload, Map.empty)

    // ---- set-up, timed several times; the last session is kept --------
    def setUp(): (SparkSession, Double, Double) = {
      val t0 = System.nanoTime()
      val s = session(cores, work)
      val t1 = System.nanoTime()
      GraftExtensions.register(s)
      graft.plans.TopKPerGroup.register(s)
      if (args.workload != "etl_normalize") Tables.registerAll(s, inputs)
      (s, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    }
    val setups = mutable.ArrayBuffer(setUp())
    while (setups.size <= MinWarmSetups ||
           setups.tail.map(x => x._2 + x._3).sum < WarmSetupSeconds) {
      setups.last._1.stop()
      setups += setUp()
    }
    val spark = setups.last._1
    val warmSetups = setups.tail.toSeq
    val setupS = Stats.median(warmSetups.map(x => x._2 + x._3))

    val workload = Workloads.byName(args.workload, inputs, goldens, work, expect,
      dump = if (args.writeGoldens) Some(s"$work/dump/v$variant") else None)
    val tracer = new Tracer(spark)

    // ---- warm-up passes: every output checked, outside the timing ------
    val warmStart = System.nanoTime()
    val warm = workload.pass(spark, tracer, 0, check = true)
    var attempted = warm.attempted
    val failures = mutable.ArrayBuffer.empty[String] ++ warm.failures

    if (args.writeGoldens) {
      Goldens.write(goldenFile, args.workload, warm.fingerprints)
      Goldens.writeOracles(s"$work/dump/v$variant/oracle_sql.json",
        warm.fingerprints.keys.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
      System.err.println(s"wrote ${warm.fingerprints.size} goldens for ${args.workload} to $goldenFile")
      failures.foreach(f => System.err.println(s"  $f"))
      spark.stop()
      return
    }
    (1 until WarmPasses).foreach { _ =>
      val r = workload.pass(spark, tracer, 0, check = false)
      attempted += r.attempted
      failures ++= r.failures
    }
    val warmS = (System.nanoTime() - warmStart) / 1e9

    // ---- timed passes ---------------------------------------------------
    val untraced = mutable.ArrayBuffer.empty[(Double, PassResult)]
    val traced = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
    val spans = mutable.ArrayBuffer.empty[Span]
    val spanJobs = mutable.Map.empty[Long, Long]
    val loopStart = System.nanoTime()
    (1 to timedPasses(workload, args.seconds)).foreach { passNo =>
      val traceThis = args.trace && passNo % 2 == 0
      tracer.active = traceThis
      tracer.reset()
      Inputs.deleteTree(new File(EtlWorkload.outDir(work)))
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      val r = workload.pass(spark, tracer, passNo, check = false)
      val wall = (System.nanoTime() - t0) / 1e9
      attempted += r.attempted
      failures ++= r.failures
      if (traceThis) {
        val gcS = (gcMillis() - gc0) / 1e3
        tracer.fence()
        traced += wall -> Layers.of(spark, tracer, r, wall, cores, gcS, expect,
          EtlWorkload.outDir(work))
        spans ++= tracer.allSpans
        tracer.execBySpan.foreach { case (id, a) => spanJobs(id) = a.jobs }
      } else untraced += wall -> r
      tracer.active = false
    }

    val loopS = (System.nanoTime() - loopStart) / 1e9
    val passS = Stats.median(untraced.map(_._1).toSeq)
    val opsByPass = untraced.map(_._2.ops.map(_._2)).toSeq
    val p50 = Stats.median(opsByPass.flatten)
    val tailS = Stats.tail(opsByPass)

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("setup_s", setupS, "s"), ("pass_s", passS, "s"),
        ("query_p50_s", p50, "s"), ("query_tail_s", tailS, "s"))
      else {
        val perPass = traced.map(_._2).toSeq
        val names = Layers.names(args.root)
        val avg = names.map { case (n, _) =>
          n -> perPass.map(_.getOrElse(n, 0.0)).sum / perPass.size }.toMap
        val extra = Map(
          "session.start_s" -> Stats.median(warmSetups.map(_._2)),
          "session.register_s" -> Stats.median(warmSetups.map(_._3)),
          "trace.overhead_frac" -> (Stats.median(traced.map(_._1).toSeq) / passS - 1),
          "jvm.heap_after_gc_mb" -> heapAfterGcMb()) ++
          Layers.probes(workload.name, spark, inputs)
        names.map { case (n, u) => (n, extra.getOrElse(n, avg(n)), u) }
      }

    // ---- report -----------------------------------------------------------
    if (args.trace)
      Layers.writeSpans(s"$work/spans-${args.workload}-${args.seed}.jsonl", spans.toSeq,
        spanJobs.toMap)
    val failed = failures.size
    val err = System.err
    err.println(f"perfbench ${args.workload} seed=${args.seed} variant=$variant " +
      f"cores=$cores passes=${untraced.size}+${traced.size}")
    err.println(f"  phases: inputs $genS%.2f s (not set-up), set-ups " +
      f"${setups.head._2}%.2f/${setups.head._3}%.2f s cold + ${warmSetups.size} warm " +
      f"(start/register medians ${Stats.median(warmSetups.map(_._2))}%.3f/" +
      f"${Stats.median(warmSetups.map(_._3))}%.3f s)" +
      f", warm-up $warmS%.2f s, timed passes $loopS%.2f s")
    err.println(untraced.map(p => f"${p._1}%.2f").mkString("  untraced passes (s): ", " ", ""))
    metrics.foreach { case (n, v, u) => err.println(f"  $n%-28s $v%14.6f $u") }
    if (!args.trace)
      err.println(s"  query_tail_s is the median over ${opsByPass.size} passes of each pass's " +
        s"slowest of ${opsByPass.head.size} operations")
    if (args.workload == "etl_normalize" && !args.trace) {
      val rates = untraced.map(p => Layers.etlRates(p._2, expect.get)).toSeq
      rates.head.keys.toSeq.sorted.foreach { n =>
        err.println(f"  $n%-28s ${Stats.median(rates.map(_(n)))}%14.6f (median of passes)") }
    }
    if (args.trace) buildVsDrive(spans.toSeq, spanJobs.toMap).foreach(err.println)
    err.println(f"  failed_frac ${failed.toDouble / attempted}%.6f ($failed of $attempted)")
    failures.take(20).foreach(f => err.println(s"  FAILED $f"))

    spark.stop()
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${jsonNum(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$json}}""")
  }

  /** Per query of the last traced pass: jobs launched while the frame
    * was built apart from those of the drive. */
  def buildVsDrive(spans: Seq[Span], jobs: Map[Long, Long]): Seq[String] = {
    val lastTrace = spans.filter(_.name.startsWith("query:")).map(_.trace)
    val lastPass = lastTrace.lastOption.map(_.split('/')(1))
    val roots = spans.filter(s => s.name.startsWith("query:") &&
      lastPass.contains(s.trace.split('/')(1)))
    roots.map { q =>
      val kids = spans.filter(_.parent == q.id)
      def of(p: String => Boolean) = kids.filter(k => p(k.name))
      val b = of(n => n.startsWith("build:") || n == "sql")
      val d = of(_ == "drive")
      f"  ${q.name.stripPrefix("query:")}%-26s build ${b.map(_.seconds).sum}%7.3f s " +
        f"${b.map(k => jobs.getOrElse(k.id, 0L)).sum}%4d jobs | drive " +
        f"${d.map(_.seconds).sum}%7.3f s ${d.map(k => jobs.getOrElse(k.id, 0L)).sum}%4d jobs"
    }
  }

  def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  /** A local session the way the engine's own suites build one: one JVM,
    * `local[cores]`, shuffle partitions = cores, scratch inside `work`. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}
