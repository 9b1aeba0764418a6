package graft

import org.scalatest.funsuite.AnyFunSuite

/** Replays the r13 bench false-positive conditions against the r14
  * pre-quiet adjudicator (Bench.adjudicatePreQuiet) and proves a
  * synthetic surgical regression still reaches the quiet re-measure
  * path. VERDICT r13 task 2's "Done" criteria, as a pure-function spec
  * (no Spark session needed).
  */
class BenchSpec extends AnyFunSuite {

  private val names = Seq("q14", "q15", "q16", "q17", "q18", "q19",
    "x18", "x19", "x20", "x21")
  private val medians: Map[String, Double] = names.map(_ -> 0.30).toMap

  test("r13-style contention wave is voided as contention without a quiet re-run") {
    // 8 adjacent queries spiked 2-7x together (the 14:57Z window).
    val values: Map[String, Double] =
      names.map(n => n -> (if (n == "q14" || n == "x21") 0.31 else 0.95)).toMap
    val v = Bench.adjudicatePreQuiet("q16", fin = 0.95, thr = 0.60,
      prev = 0.30, sameHeadRow = None, selectedNames = names,
      values = values, medians = medians)
    assert(v.isDefined, "wave must void the verdict")
    assert(v.get.startsWith("contention wave"))
  }

  test("same-HEAD prior full-suite row in-band voids the verdict (14:08Z alibi)") {
    // Even with NO neighbor wave, the prior same-HEAD row proves the
    // code is fast at this HEAD.
    val values: Map[String, Double] =
      names.map(n => n -> (if (n == "q16") 0.95 else 0.31)).toMap
    val prior = Some(names.map(_ -> 0.28).toMap)
    val v = Bench.adjudicatePreQuiet("q16", fin = 0.95, thr = 0.60,
      prev = 0.30, sameHeadRow = prior, selectedNames = names,
      values = values, medians = medians)
    assert(v.isDefined)
    assert(v.get.startsWith("contention ("))
    assert(v.get.contains("same-HEAD"))
  }

  test("synthetic surgical regression still trips (reaches quiet re-measure)") {
    // Only q16 is slow; neighbors in-band; no same-HEAD row (new
    // commit). Must return None -> quiet re-measure -> can be labeled
    // persistent.
    val values: Map[String, Double] =
      names.map(n => n -> (if (n == "q16") 0.95 else 0.31)).toMap
    val v = Bench.adjudicatePreQuiet("q16", fin = 0.95, thr = 0.60,
      prev = 0.30, sameHeadRow = None, selectedNames = names,
      values = values, medians = medians)
    assert(v.isEmpty, "a surgical regression must NOT be voided")
  }

  test("a same-HEAD prior row that is itself slow is no alibi") {
    // The prior row at this HEAD was ALSO over threshold -> the code
    // regressed at this commit; must fall through (no wave here).
    val values: Map[String, Double] =
      names.map(n => n -> (if (n == "q16") 0.95 else 0.31)).toMap
    val prior = Some(names.map(n => n -> (if (n == "q16") 0.90 else 0.28)).toMap)
    val v = Bench.adjudicatePreQuiet("q16", fin = 0.95, thr = 0.60,
      prev = 0.30, sameHeadRow = prior, selectedNames = names,
      values = values, medians = medians)
    assert(v.isEmpty)
  }

  test("one spiked neighbor is not a wave") {
    val values: Map[String, Double] = names.map(n =>
      n -> (if (n == "q16" || n == "q17") 0.95 else 0.31)).toMap
    val v = Bench.adjudicatePreQuiet("q16", fin = 0.95, thr = 0.60,
      prev = 0.30, sameHeadRow = None, selectedNames = names,
      values = values, medians = medians)
    assert(v.isEmpty, "a single hot neighbor (could be a shared-cause real regression) must not void")
  }

  test("an already-adjudicated cost level does not re-flag (established-level check)") {
    // the r14 s32/t33 case: an intentional plan change raised the cost;
    // the most recent full-suite row (any HEAD) already measured it
    // there; the median lags. Must be voided as "established level".
    val values: Map[String, Double] =
      names.map(n => n -> (if (n == "q16") 0.70 else 0.31)).toMap
    val latest = Some(names.map(n => n -> (if (n == "q16") 0.68 else 0.30)).toMap)
    val v = Bench.adjudicatePreQuiet("q16", fin = 0.70, thr = 0.60,
      prev = 0.30, sameHeadRow = None, selectedNames = names,
      values = values, medians = medians, latestRow = latest)
    assert(v.isDefined)
    assert(v.get.startsWith("established level"))
  }

  test("a regression ABOVE the latest full-suite row still trips") {
    // latest row had q16 at its normal level -> a new spike is NOT
    // established; and a spike far above an elevated prior level is
    // a fresh regression on top of it
    val values: Map[String, Double] =
      names.map(n => n -> (if (n == "q16") 0.95 else 0.31)).toMap
    val inBandPrior = Some(names.map(_ -> 0.28).toMap)
    val v1 = Bench.adjudicatePreQuiet("q16", fin = 0.95, thr = 0.60,
      prev = 0.30, sameHeadRow = None, selectedNames = names,
      values = values, medians = medians, latestRow = inBandPrior)
    assert(v1.isEmpty, "an in-band latest row is no establishment alibi")
    val elevatedPrior = Some(names.map(n =>
      n -> (if (n == "q16") 0.65 else 0.28)).toMap)
    val v2 = Bench.adjudicatePreQuiet("q16", fin = 1.50, thr = 0.60,
      prev = 0.30, sameHeadRow = None, selectedNames = names,
      values = values, medians = medians, latestRow = elevatedPrior)
    assert(v2.isEmpty, "1.5s is far above the established 0.65s level - must still trip")
  }

  test("suite-edge queries adjudicate with truncated neighbor windows") {
    val values: Map[String, Double] = names.map(_ -> 0.95).toMap
    val v = Bench.adjudicatePreQuiet("q14", fin = 0.95, thr = 0.60,
      prev = 0.30, sameHeadRow = None, selectedNames = names,
      values = values, medians = medians)
    assert(v.isDefined) // q15+q16 both waving
  }

  // ---- driftNote (r14 verdict item 6: under-floor drift must be
  // logged, not silent, and must never trigger a re-run) ----

  test("under-floor drift is logged") {
    val n = Bench.driftNote(best = 0.25, prev = 0.10)
    assert(n.isDefined)
    assert(n.get.contains("not re-run"))
  }

  test("in-band small queries and over-floor spikes produce no drift note") {
    assert(Bench.driftNote(best = 0.15, prev = 0.10).isEmpty,
      "1.5x is in-band")
    assert(Bench.driftNote(best = 0.95, prev = 0.10).isEmpty,
      "over the floor -> the outlier path owns it, not the drift log")
    assert(Bench.driftNote(best = 0.25, prev = 0.0).isEmpty,
      "no usable median -> nothing to compare")
  }

  test("SPARK_GRAFT_ONLY=s03 selects both s03 entries") {
    assert(SparkEntry.only(SparkEntry.queries.keys, Some("s03")) ==
      Set("s03_lsh_pairs", "s03c_lsh_pairs_capped"))
  }

  test("SPARK_GRAFT_ONLY prefixes are trimmed") {
    assert(SparkEntry.only(SparkEntry.queries.keys, Some(" q01 , d05")) ==
      Set("q01_pricing_summary", "d05_dup_clusters"))
    assert(SparkEntry.only(SparkEntry.queries.keys, None) == SparkEntry.queries.keySet)
  }

  test("a SPARK_GRAFT_ONLY value that selects no query fails naming the variable and the value") {
    for (bad <- Seq("zz9", "q01_pricing_summaryx", " , ", "")) {
      val e = intercept[IllegalArgumentException](
        SparkEntry.only(SparkEntry.queries.keys, Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_ONLY") && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
  }
}

/** Proves the r15 bench drive is non-prunable: `.count()` lets
  * Catalyst drop a left-join branch (the row count can't change), so
  * join-shaped reports benched at near-zero; `Bench.drive` (noop-sink
  * write) must keep the branch in the executed plan. VERDICT r14
  * task 1's "Done" criterion as an executable law.
  */
class BenchDriveSpec extends SparkSuite {

  test("drive materializes left-join branches that count() prunes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val acc = spark.sparkContext.longAccumulator("probe")
    // spark.range sources (not LocalRelations) so the optimizer can't
    // evaluate the probe udf eagerly on the driver.
    val left = spark.range(100).toDF("k")
    val right = spark.range(100).toDF("k")
      .withColumn("v", $"k".cast("string"))
      .filter(udf((i: Long) => { acc.add(1); true }).apply($"k"))
    val joined = left.join(right, Seq("k"), "left")
    Bench.drive(joined)
    assert(acc.value >= 100,
      s"noop drive must evaluate the joined branch (saw ${acc.value} udf calls)")
  }

  test("count() prunes expensive output columns; drive computes them (the r14 underpricing)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val acc = spark.sparkContext.longAccumulator("probe2")
    val costly = udf((i: Long) => { acc.add(1); i * 2 })
    // spark.range, not a LocalRelation: ConvertToLocalRelation would
    // otherwise evaluate the projection eagerly at optimization time
    // and the accumulator would count driver-side optimizer calls.
    val df = spark.range(50).toDF("k").withColumn("expensive", costly($"k"))
    df.count()
    assert(acc.value == 0,
      s"count() must prune the projected column (saw ${acc.value} calls) - if this changed, the drive rationale needs re-auditing")
    Bench.drive(df)
    assert(acc.value >= 50,
      s"drive must pay for every output column (saw ${acc.value} calls)")
  }
}
