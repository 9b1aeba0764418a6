package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.operators.{Sampling, Similarity, Warehouse}
import graft.plans.{OnePartitionExec, TopKPerGroupExec}

/** Executable plan gates for the scale-critical shapes the r8 PLANS.md
  * audit verified by eye — so AQE/stats drift at bigger SFs is caught
  * by CI, not by a judge reading plans:
  *
  *  - the anchor-star pair generators (s03/s03c/multi/s14) keep their
  *    bucket-size agg on a BROADCAST join and never degrade to a
  *    sort-merge or cartesian pair join;
  *  - TopKPerGroup consumers (q31/x09/q34/t10/t11) keep the MAP-SIDE
  *    partial heap below the exchange (the property that prevents a
  *    mega-group from funneling through one unbounded sort task);
  *  - q02's range filter reaches the parquet scan (PushedFilters) and
  *    the scan reads only the projected columns (ReadSchema pruning).
  *
  * Each detector is validated by a CANARY that builds a deliberately
  * sabotaged plan and asserts the detector goes red on it — a gate
  * that cannot fail is no gate. */
class PlanGateSpec extends SparkSuite {

  /** Every assertion here is SHAPE-based (broadcast vs sort-merge,
    * map-side partial, pushed filters) — data-independent — so the
    * whole suite re-runs unchanged against a bigger SF to prove the
    * shapes survive AQE's size estimates at scale:
    * {{{
    *   SPARK_GRAFT_PLANGATE_SF_DIR=testdata-sf1 sbt "testOnly graft.PlanGateSpec"
    * }}} */
  override val sf: String =
    sys.env.getOrElse("SPARK_GRAFT_PLANGATE_SF_DIR", "/root/testdata/sf0.001")

  /** The AQE-final physical plan, fully flattened (through adaptive
    * wrappers and materialized query stages). The action first: before
    * execution AQE reports only the initial plan. */
  private def finalPlan(df: DataFrame): Seq[SparkPlan] = {
    df.count()
    finalPlanOf(df.queryExecution.executedPlan)
  }

  /** `p` and everything under it, through adaptive wrappers and
    * materialized query stages. */
  private def finalPlanOf(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: finalPlanOf(a.executedPlan)
    case q: QueryStageExec => p +: finalPlanOf(q.plan)
    case _ => p +: p.children.flatMap(finalPlanOf)
  }

  private def noQuadraticJoins(plan: Seq[SparkPlan]): Boolean =
    !plan.exists {
      case _: SortMergeJoinExec | _: CartesianProductExec => true
      case _ => false
    }

  private def broadcastJoins(plan: Seq[SparkPlan]): Int =
    plan.count { case _: BroadcastHashJoinExec => true; case _ => false }

  // ---- anchor-star pair generators ----------------------------------

  test("s03 lshPairs: sizes join broadcast, pair join never sort-merge/cartesian") {
    val plan = finalPlan(Similarity.lshPairs(spark, sf))
    assert(broadcastJoins(plan) >= 2,
      s"expected sizes + pair joins broadcast, saw ${broadcastJoins(plan)}")
    assert(noQuadraticJoins(plan), "s03 degraded to sort-merge/cartesian")
  }

  test("s03c capped regime keeps the same shape with the cap engaged") {
    val plan = finalPlan(Similarity.lshPairs(spark, sf,
      threshold = 0.3, nPlanes = 4, bucketCap = 8))
    assert(broadcastJoins(plan) >= 2)
    assert(noQuadraticJoins(plan), "s03c degraded to sort-merge/cartesian")
  }

  test("s14 semDedup pair path: broadcast joins only") {
    val plan = finalPlan(Similarity.semDedupClusters(spark, sf))
    assert(noQuadraticJoins(plan), "s14 degraded to sort-merge/cartesian")
  }

  // ---- TopKPerGroup map-side partial --------------------------------

  private def assertPartialTopK(df: DataFrame, name: String): Unit = {
    val plan = finalPlan(df)
    val topks = plan.collect { case t: TopKPerGroupExec => t }
    assert(topks.exists(_.partial),
      s"$name lost the MAP-SIDE TopKPerGroup partial — a hot group " +
        "would funnel uncapped rows into one final task")
    assert(topks.exists(!_.partial), s"$name lost the final TopKPerGroup pass")
  }

  test("x26s fitted serve: weights ride as plan literals (no model-" +
       "table join); only the narrow id-keyed normalization equi-join") {
    // the 256-long fitted weight vector is an element_at literal — the
    // ONLY join in the serve plan is counts⋈totals on the doc id
    // (narrow (id, f, craw) rows, co-partitioned by AQE); a cartesian
    // or sort-merge anywhere means the serve grew a corpus product
    val plan = finalPlan(graft.operators.Curation.normalizedClassifier(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text",
      graft.operators.Curation.qualityModelMicro))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "x26s grew a cartesian")
    onlyOneRowBnlj(plan, "x26s")
  }

  test("q31 top-k per group keeps the map-side partial heap") {
    assertPartialTopK(Warehouse.q31TopKPerGroup(spark, sf), "q31")
  }

  test("x09 domain caps keeps the map-side partial heap") {
    assertPartialTopK(Sampling.domainCaps(spark, sf), "x09")
  }

  test("q34 latest snapshot keeps the map-side partial heap") {
    assertPartialTopK(Warehouse.q34LatestSnapshot(spark, sf), "q34")
  }

  test("s26 binary-sign ANN: map-side shortlist heap, broadcast re-rank fetch") {
    // the Hamming shortlist must keep the TopKPerGroup partial below
    // the exchange (a Window would drag each query's full corpus-sized
    // score list through one task), and the re-rank's vector fetch must
    // ride BROADCAST candidate/query joins — never a corpus shuffle
    val df = Similarity.annBinarySign(spark, sf)
    assertPartialTopK(df, "s26")
    val plan = finalPlan(df)
    // the Hamming pass itself is the s01 shape: corpus stream × the
    // broadcast query signatures under a non-equi (<>) predicate — a
    // BroadcastNestedLoopJoin with the QUERY side broadcast, counted
    // separately from the two equi fetch joins below
    assert(broadcastJoins(plan) >= 2,
      s"expected candidate-fetch + query-vector joins broadcast, saw ${broadcastJoins(plan)}")
    assert(noQuadraticJoins(plan), "s26 degraded to sort-merge/cartesian")
  }

  test("s35 cross-modal: map-side Hamming-shortlist heap, broadcast " +
       "re-rank fetches, no media-corpus shuffle join") {
    // s26's serving economics on the cross-modal path: the media
    // corpus contributes one signature per row to a map-side
    // TopKPerGroup heap (queries broadcast), and the re-rank fetch
    // rides broadcast equi-joins on the nCand shortlist
    val df = graft.operators.Multimodal.crossModalRetrieve(spark, sf)
    assertPartialTopK(df, "s35")
    val plan = finalPlan(df)
    assert(broadcastJoins(plan) >= 2,
      s"expected candidate-fetch + query joins broadcast, saw ${broadcastJoins(plan)}")
    assert(noQuadraticJoins(plan), "s35 degraded to sort-merge/cartesian")
  }

  test("s31 two-tower rerank: map-side heaps on both streams, " +
       "broadcast scorer fetches, no corpus product") {
    // the two corpus streams (scorer-exact truth, Hamming shortlist +
    // scored fetch) are asserted UN-checkpointed — in the registered
    // query they materialize once behind localCheckpoints and the
    // arms only filter them
    val truth = Similarity.twoTowerTruth(spark, sf, 5, 3)
    assertPartialTopK(truth, "s31-truth")
    val scored = Similarity.twoTowerScored(spark, sf, 5, 32)
    assertPartialTopK(scored, "s31-shortlist")
    val plan = finalPlan(scored)
    assert(broadcastJoins(plan) >= 2,
      s"scorer fetches not broadcast, saw ${broadcastJoins(plan)}")
    assert(noQuadraticJoins(plan), "s31 degraded to sort-merge/cartesian")
    assert(noQuadraticJoins(finalPlan(truth)),
      "s31 truth degraded to sort-merge/cartesian")
  }

  test("s36 MaxSim rerank: map-side Hamming-shortlist heap, broadcast " +
       "re-rank fetches — the token blow-up touches only nCand rows/query") {
    // the corpus contributes signatures only (one linear stream into
    // the TopKPerGroup heap); the S36Tokens² late-interaction
    // expressions ride the broadcast fetch joins, never a corpus-wide
    // projection — ColBERT serving's whole tractability argument
    val df = Similarity.maxSimRerank(spark, sf)
    assertPartialTopK(df, "s36")
    val plan = finalPlan(df)
    assert(broadcastJoins(plan) >= 2,
      s"expected candidate-fetch + query joins broadcast, saw ${broadcastJoins(plan)}")
    assert(noQuadraticJoins(plan), "s36 degraded to sort-merge/cartesian")
  }

  // ---- t17 positional phrase search ---------------------------------

  test("t17 phrase search: postings pruned by BROADCAST phrase joins") {
    // the intersection must touch only the queried terms' postings —
    // both term-filter joins carry the 3-row phrase table broadcast;
    // losing the hint would shuffle the FULL positional postings frame
    val plan = finalPlan(graft.operators.TextOps.phraseSearch(spark, sf))
    assert(broadcastJoins(plan) >= 2,
      s"expected both w1/w2 posting joins broadcast, saw ${broadcastJoins(plan)}")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "t17 degraded to a cartesian join")
  }

  // ---- two-phase splice operators (x10/x12) -------------------------

  test("x10 pack manifest: offset table BROADCAST, no sort-merge splice") {
    // the manifest's global numbering must splice via the broadcast
    // per-bucket offset table; a sort-merge there means the whole
    // corpus re-shuffles on the bucket key a second time
    val nTokens = size(split(trim(col("text")), "\\s+")).cast("bigint")
    val plan = finalPlan(Sampling.packManifest(
      graft.Tables.t(spark, sf, "documents"), "doc_id", nTokens, 256L))
    assert(broadcastJoins(plan) >= 1,
      s"offset splice not broadcast, saw ${broadcastJoins(plan)} BHJs")
    assert(noQuadraticJoins(plan), "x10 degraded to sort-merge/cartesian")
  }

  test("x12 curriculum bins: offset + total broadcast, no sort-merge") {
    val plan = finalPlan(graft.operators.Curation.curriculumBins(spark, sf))
    assert(broadcastJoins(plan) >= 1,
      s"rank splice not broadcast, saw ${broadcastJoins(plan)} BHJs")
    assert(noQuadraticJoins(plan), "x12 degraded to sort-merge/cartesian")
  }

  test("x11 dsir weights: the lambda table joins broadcast") {
    // the 256-row λ table must broadcast onto the (doc, bucket) frame;
    // a shuffle join there drags the whole per-doc frame through an
    // exchange keyed on a 256-value column (maximal skew)
    val plan = finalPlan(graft.operators.Curation.dsirWeights(spark, sf))
    assert(broadcastJoins(plan) >= 1,
      s"λ join not broadcast, saw ${broadcastJoins(plan)} BHJs")
    assert(noQuadraticJoins(plan), "x11 degraded to sort-merge/cartesian")
  }

  // ---- retrieval compositions (t19/t20/s21) -------------------------

  test("t19 tfidf keeps the map-side partial heap for the per-doc top-k") {
    assertPartialTopK(graft.operators.TextOps.tfidfTopTerms(spark, sf), "t19")
  }

  test("t20 rrf fusion: both top-k lists capped map-side, no cartesian") {
    val df = Similarity.rrfFusion(spark, sf)
    val plan = finalPlan(df)
    val topks = plan.collect { case t: TopKPerGroupExec => t }
    assert(topks.count(_.partial) >= 2,
      "t20 lost a map-side TopKPerGroup partial (vector list or fused list)")
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "t20 degraded to a cartesian join")
  }

  test("s21 recall eval: no quadratic join anywhere in the composition") {
    val plan = finalPlan(Similarity.annRecallEval(spark, sf))
    assert(noQuadraticJoins(plan), "s21 degraded to sort-merge/cartesian")
  }

  test("x13 weighted sample keeps the map-side partial heap") {
    val nTok = size(split(trim(col("text")), "\\s+")).cast("bigint")
    assertPartialTopK(Sampling.weightedSample(
      graft.Tables.t(spark, sf, "documents"), "doc_id", nTok, 50), "x13")
  }

  test("x18 bloom decontamination: corpus probe is broadcast-only " +
    "(word table + bench fp), never sort-merge/cartesian") {
    val plan = finalPlan(graft.operators.Dedup.bloomDecontaminate(spark, sf))
    assert(noQuadraticJoins(plan),
      "x18 probe degraded to a sort-merge/cartesian - the corpus is shuffling")
    assert(broadcastJoins(plan) >= graft.operators.Dedup.X18K + 1,
      "x18 lost a broadcast: word-table probes + bench fp lookup must all broadcast")
  }

  test("x19 epoch shuffle: offset table broadcast, no global sort splice") {
    val plan = finalPlan(Sampling.epochShuffle(spark, sf))
    assert(noQuadraticJoins(plan),
      "x19 offset splice degraded to a sort-merge join")
    assert(broadcastJoins(plan) >= 1, "x19 offsets must join broadcast")
  }

  test("d12 incremental near-dup: band probe is an equi-join, never cartesian") {
    // the batch→store candidate probe must join on (band, key) buckets;
    // a cartesian there is the batch×store product the LSH exists to avoid
    val plan = finalPlan(graft.operators.Dedup.incrementalNearDup(spark, sf))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "d12 degraded to a batch×store cartesian")
  }

  test("t21 LM continuations keep the map-side partial heap per context") {
    assertPartialTopK(graft.operators.TextOps.lmContinuations(spark, sf), "t21")
  }

  test("s23 LSH bitext mining: bucketed candidates (no cartesian), " +
    "per-node margin aggregates broadcast") {
    // the exact twin s22 is the documented quadratic baseline (s02/s16
    // contract); the REGISTERED scale path must never produce the
    // src×tgt product — candidates come from the multi-table buckets —
    // and both k-NN denominator tables must ride broadcast
    val plan = finalPlan(Similarity.bitextMineLsh(spark, sf))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "s23 degraded to a src×tgt cartesian")
    assert(broadcastJoins(plan) >= 2,
      s"margin aggregates not broadcast, saw ${broadcastJoins(plan)} BHJs")
  }

  test("s24 MMR re-rank: no cartesian; selection frames stay query-set-sized") {
    // candidate gen is the documented s01 broadcast-queries shape; every
    // MMR round joins frames of ≤ nQueries·nCand(²) rows — a cartesian
    // anywhere means a selection round touched the corpus
    val plan = finalPlan(Similarity.mmrRerank(spark, sf))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "s24 grew a cartesian join")
  }

  test("t23 boilerplate scrub: the boilerplate set joins BROADCAST") {
    // the frequent-fingerprint set must broadcast back over the chunk
    // stream; losing the hint shuffles the full chunk TEXT on the md5
    // key — a second corpus-sized text exchange the design exists to
    // avoid (the only text-bearing shuffle is the per-doc re-agg)
    val plan = finalPlan(graft.operators.TextOps.boilerplateScrub(spark, sf))
    assert(broadcastJoins(plan) >= 1,
      s"boilerplate join not broadcast, saw ${broadcastJoins(plan)} BHJs")
    assert(noQuadraticJoins(plan), "t23 degraded to sort-merge/cartesian")
  }

  test("x14 cluster sample keeps the map-side partial heap per cell") {
    // centroids ride as plan literals — the assignment is a map stage;
    // the per-cell pick must cap rows BEFORE the exchange or a dense
    // cell funnels its whole population through one task
    val df = Sampling.clusterSample(spark, sf)
    assertPartialTopK(df, "x14")
    assert(noQuadraticJoins(finalPlan(df)), "x14 grew a join — assignment " +
      "should be literal-driven, not join-driven")
  }

  test("t29/t14 encode: ONE scan-local kernel pass — no join, no " +
      "pre-sort aggregate exchange anywhere") {
    // r18: the serve-path encodes run a per-document kernel with a
    // per-task word memo (TextOps.encodeCountsUdf) — the former
    // explode → distinct → join-back shape (one distinct shuffle + a
    // corpus-sized join per invocation) must NOT come back. The only
    // exchanges allowed are the unsplittable-input fan-out and the
    // presentation sort's: its range partitioning or, for an input
    // small enough for graft.plans.SmallSort, the one-partition
    // exchange right under its OnePartitionExec.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, RoundRobinPartitioning}
    for ((name, df) <- Seq(
        "t29" -> graft.operators.TextOps.unigramEncodePinned(spark, sf),
        "t14" -> graft.operators.TextOps.bpeEncodePinned(spark, sf))) {
      val plan = finalPlan(df)
      assert(!plan.exists {
        case _: BroadcastHashJoinExec | _: SortMergeJoinExec |
             _: CartesianProductExec => true
        case _ => false
      }, s"$name encode grew a join back")
      def stageless(p: SparkPlan): SparkPlan = p match {
        case q: QueryStageExec => stageless(q.plan)
        case r: AQEShuffleReadExec => stageless(r.child)
        case _ => p
      }
      val onePartitionInputs = plan.collect { case o: OnePartitionExec => stageless(o.child) }
      val badExchange = plan.collect { case e: ShuffleExchangeLike => e }
        .filterNot(e => e.outputPartitioning.isInstanceOf[RangePartitioning] ||
          e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] ||
          onePartitionInputs.exists(_ eq e))
      assert(badExchange.isEmpty,
        s"$name encode shuffles corpus rows pre-sort: $badExchange")
    }
  }

  test("v02 referential integrity: a parent key set broadcasts by its " +
      "estimated size, a fact-scale one shuffles slim, and only key columns are scanned") {
    // each FK edge distinct's the parent keys then LEFT-joins the child
    // key column, with no broadcast hint: the planner's size gate picks
    // the join. At test SF every parent key set (largest: orders') is
    // under the broadcast threshold, so all seven broadcast.
    import graft.operators.Checks
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val keyCols = Checks.warehouseEdges.flatMap(e => Seq(e.childCol, e.parentCol)).toSet
    // slim-key claim, r18 form: a child table is scanned ONCE for ALL
    // its edges, so a scan may read several KEY columns (lineitem: 3)
    // — but never a column outside the declared FK key set
    def assertSlimScans(plan: Seq[SparkPlan]): Unit = {
      val wideScan = plan.collect { case s: FileSourceScanExec => s }
        .find(_.schema.fields.exists(f => !keyCols.contains(f.name)))
      assert(wideScan.isEmpty,
        s"v02 scan reads beyond the FK key columns: ${wideScan.map(_.schema)}")
    }
    val plan = finalPlan(Checks.referentialIntegrity(spark, sf))
    assert(broadcastJoins(plan) >= Checks.warehouseEdges.length,
      s"expected >=7 broadcast edge joins, saw ${broadcastJoins(plan)}")
    assert(noQuadraticJoins(plan), "v02 degraded to sort-merge/cartesian")
    assertSlimScans(plan)

    // a fact-scale parent: lower the threshold under orders' estimated
    // key-set size (the lineitem->orders fact-fact edge) but over every
    // other parent's. That edge alone must shuffle, and its shuffles
    // carry key columns only, the orders side exactly one.
    def keySetBytes(e: Checks.FkEdge): BigInt =
      graft.Tables.t(spark, sf, e.parent).select(col(e.parentCol)).distinct()
        .queryExecution.optimizedPlan.stats.sizeInBytes
    val (fact, dims) = Checks.warehouseEdges.partition(_.parent == "orders")
    val threshold = keySetBytes(fact.head) - 1
    assert(dims.forall(keySetBytes(_) < threshold),
      s"a dimension key set is not smaller than orders': ${dims.map(keySetBytes)}")
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = confs.map(k => k -> spark.conf.getOption(k))
    try {
      confs.foreach(spark.conf.set(_, threshold.toString))
      val lowered = finalPlan(Checks.referentialIntegrity(spark, sf))
      val smj = lowered.collect { case j: SortMergeJoinExec => j }
      assert(smj.map(_.leftKeys.map(_.references.map(_.name).mkString)) ==
        Seq(Seq("l_orderkey")), s"expected only lineitem->orders to shuffle: $smj")
      assert(broadcastJoins(lowered) == dims.length)
      def shuffled(side: SparkPlan): Seq[Seq[String]] =
        finalPlanOf(side).collect { case x: ShuffleExchangeExec => x.output.map(_.name) }
      val (childSide, parentSide) = (shuffled(smj.head.left), shuffled(smj.head.right))
      assert(childSide.nonEmpty && childSide.flatten.forall(keyCols),
        s"lineitem side shuffles beyond its key columns: $childSide")
      assert(parentSide.nonEmpty && parentSide.forall(_.length == 1),
        s"orders side shuffles more than one slim column: $parentSide")
      assertSlimScans(lowered)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ---- scan pushdown / pruning --------------------------------------

  test("q02: range filter pushed to the parquet scan; columns pruned") {
    val plan = finalPlan(Warehouse.q02FilterProject(spark, sf))
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "no parquet scan in q02 plan")
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "[]"))
    assert(pushed.exists(p =>
        p.contains("GreaterThanOrEqual(l_shipdate") &&
        p.contains("LessThan(l_shipdate") &&
        p.contains("GreaterThanOrEqual(l_discount")),
      s"q02 range filter not pushed: $pushed")
    val read = scans.map(_.metadata.getOrElse("ReadSchema", "")).mkString
    assert(!read.contains("l_comment") && !read.contains("l_shipmode"),
      s"q02 scan reads unprojected columns: $read")
  }

  // ---- canaries: each detector must go red on a sabotaged plan ------

  test("canary: the quadratic-join detector fires on an unhinted big join") {
    val s = spark
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = s.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", prev)
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val a = s.range(1000).withColumnRenamed("id", "k")
      val b = s.range(1000).withColumnRenamed("id", "k")
      // no broadcast() hint + thresholds off → sort-merge join: the
      // shape the real gates must be able to see
      val plan = finalPlan(a.join(b, "k"))
      assert(!noQuadraticJoins(plan),
        "detector failed to flag a sort-merge join — the broadcast gates are vacuous")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prevAqe)
    }
  }

  test("canary: the pushdown detector fires when a filter cannot reach the scan") {
    // an opaque UDF filter is not pushable — PushedFilters must lose
    // the predicate and the detector must see that
    val blackBox = udf((d: java.sql.Timestamp) => d != null)
    val df = graft.Tables.t(spark, sf, "lineitem")
      .filter(blackBox(col("l_shipdate")))
      .select("l_orderkey")
    val plan = finalPlan(df)
    val scans = plan.collect { case f: FileSourceScanExec => f }
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "[]"))
    assert(!pushed.exists(_.contains("GreaterThanOrEqual(l_shipdate")),
      "sabotaged plan still shows a pushed range filter — detector vacuous")
  }

  test("canary: the partial-top-k detector fires when the partial pass is absent") {
    // build the final-only plan by hand: a plain window-rank top-k has
    // no TopKPerGroupExec at all
    val df = graft.Tables.t(spark, sf, "lineitem")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("l_orderkey").orderBy(desc("l_quantity"))))
      .filter(col("rk") <= 2)
    val plan = finalPlan(df)
    assert(!plan.exists { case t: TopKPerGroupExec => t.partial; case _ => false },
      "window-rank plan unexpectedly contains a partial TopKPerGroup")
  }

  // ---- round-12 operators -------------------------------------------

  test("d13 fuzzy pairs: candidate generation is an EQUI-join on the " +
       "variant key, never the all-pairs product") {
    // the all-pairs levenshtein lives ONLY in the oracle; the engine
    // plan must join on the delete-variant key — a cartesian (or a
    // broadcast nested loop, which is the same product with a hint)
    // means the SymSpell blocking silently collapsed
    val plan = finalPlan(graft.operators.Dedup.fuzzyPairs(spark, sf))
    assert(!plan.exists {
      case _: CartesianProductExec => true
      case _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => true
      case _ => false
    }, "d13 degraded to an all-pairs product")
  }

  test("j06 range-agg join: bucketed equi-join, no row-blowup product") {
    val plan = finalPlan(
      graft.operators.TemporalJoins.purchaseClickFeatures(spark, sf))
    assert(!plan.exists {
      case _: CartesianProductExec => true
      case _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => true
      case _ => false
    }, "j06 degraded to a purchases×clicks product")
  }

  test("m10 aspect buckets: the 5-row bucket table rides broadcast; " +
       "no sort-merge anywhere") {
    val plan = finalPlan(graft.operators.Multimodal.aspectBuckets(spark, sf))
    assert(!plan.exists {
      case _: SortMergeJoinExec | _: CartesianProductExec => true
      case _ => false
    }, "m10 shuffled the corpus against a 5-row literal table")
  }

  test("s28 tombstone serve keeps s04's bucket equi-join shape") {
    val plan = finalPlan(Similarity.annIvfTombstoned(spark, sf))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "s28 degraded to a cartesian")
  }

  test("s27 matryoshka: every truncation pass keeps the broadcast-" +
       "queries shape (no corpus-side shuffle joins)") {
    val plan = finalPlan(Similarity.matryoshkaEval(spark, sf))
    assert(!plan.exists {
      case _: SortMergeJoinExec | _: CartesianProductExec => true
      case _ => false
    }, "s27 shuffled the corpus for a query-set-sized join")
  }

  test("t31 memorization: fingerprint equi-joins only — the corpus " +
       "never meets the eval side as a product") {
    val plan = finalPlan(graft.operators.TextOps.memorization(spark, sf))
    assert(!plan.exists {
      case _: CartesianProductExec => true
      case _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => true
      case _ => false
    }, "t31 degraded to a train×eval product")
  }

  test("d16 S-curve: the candidate side stays a band equi-join (the " +
       "quadratic lives only in the documented truth side)") {
    // truth IS the d03-contract shingle self-join (an equi-join on the
    // shingle); the BAND side must also be an equi-join — a cartesian
    // anywhere means a join key was lost
    val plan = finalPlan(graft.operators.Dedup.lshScurve(spark, sf))
    assert(!plan.exists {
      case _: CartesianProductExec => true
      case _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => true
      case _ => false
    }, "d16 grew a true product node")
  }

  // ---- r13-tail gates (r14): s32/s33/t33/t34/v07/v08 ----------------

  private def noProducts(plan: Seq[SparkPlan], what: String): Unit =
    assert(!plan.exists {
      case _: CartesianProductExec => true
      case _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => true
      case _ => false
    }, s"$what grew a true product node")

  /** A BroadcastNestedLoopJoin is benign ONLY when its broadcast side
    * is a global (groupless) aggregate — provably 1 row, so the join
    * output stays linear in the streamed side (psiReport's
    * crossJoin(broadcast(totals)) shape). Any other BNLJ is a product. */
  private def onlyOneRowBnlj(plan: Seq[SparkPlan], what: String): Unit = {
    def isGlobalAgg(p: SparkPlan): Boolean = p match {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec =>
        a.groupingExpressions.isEmpty
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec =>
        a.groupingExpressions.isEmpty
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec =>
        a.groupingExpressions.isEmpty
      case q: QueryStageExec => isGlobalAgg(q.plan)
      case a: AdaptiveSparkPlanExec => isGlobalAgg(a.executedPlan)
      case _ => p.children.exists(isGlobalAgg)
    }
    plan.foreach {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
        val bcast = b.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.right
        }
        assert(isGlobalAgg(bcast),
          s"$what has a BNLJ whose broadcast side is NOT a 1-row global aggregate")
      case _ => ()
    }
  }

  test("s32 embedding drift: ONE corpus pass (shared aggregate reused), " +
       "no corpus-sized joins") {
    // execute the frame ITSELF (not a derived count) so AQE finalizes
    // this plan and runtime stage reuse is visible
    val df = Similarity.embeddingDrift(spark, sf)
    df.collect()
    def flat(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: flat(a.executedPlan)
      case q: QueryStageExec => p +: flat(q.plan)
      case _ => p +: p.children.flatMap(flat)
    }
    val plan = flat(df.queryExecution.executedPlan)
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "s32 grew a cartesian")
    onlyOneRowBnlj(plan, "s32")
    assert(!plan.exists { case _: SortMergeJoinExec => true; case _ => false },
      "s32 shuffled a corpus-sized frame into a sort-merge join " +
        "(every join here is bin-count-sized)")
    // the corpus must contribute its cell assignment ONCE: the bin
    // totals reduce the count frame and AQE stage-reuses the shared
    // aggregate (the totals side reads a ReusedExchange) — a second
    // embeddings scan means psiReport regressed to re-aggregating the
    // corpus for the totals
    val scans = plan.collect { case f: FileSourceScanExec => f }
      .filter(_.metadata.getOrElse("Location", "").contains("embeddings"))
    assert(scans.size == 1,
      s"s32 scans the embeddings corpus ${scans.size}x in the report plan")
  }

  test("s37 compaction report: ONE corpus scan, one aggregate, " +
       "no join of any kind (the corpus contributes 3 narrow columns)") {
    val plan = finalPlan(Similarity.indexCompaction(spark, sf))
    assert(noQuadraticJoins(plan), "s37 grew a join")
    assert(broadcastJoins(plan) == 0,
      "s37 report needs no join at all — a bucket-count frame joined " +
        "back to the corpus means the tagged-union pass regressed")
    val scans = plan.collect { case f: FileSourceScanExec => f }
      .filter(_.metadata.getOrElse("Location", "").contains("embeddings"))
    assert(scans.size == 1,
      s"s37 scans the embeddings corpus ${scans.size}x in the report plan")
  }

  test("s33 filtered ANN: candidates stay a (label,bucket) equi-join " +
       "with the query side BROADCAST") {
    val plan = finalPlan(Similarity.annFiltered(spark, sf))
    noProducts(plan, "s33")
    assert(!plan.exists { case _: SortMergeJoinExec => true; case _ => false },
      "s33 corpus side shuffled for the query join (queries must broadcast)")
    assert(broadcastJoins(plan) >= 1, "s33 lost the broadcast query join")
    // the label constraint must live in the JOIN KEY (pre-filter at
    // the index), not in a post-join Filter over scored rows
    val bhjKeys = plan.collect {
      case b: BroadcastHashJoinExec => b.leftKeys.map(_.sql).mkString(",")
    }
    assert(bhjKeys.exists(k => k.contains("label") && k.contains("bucket")),
      s"s33 join keys lost the label pre-filter: $bhjKeys")
  }

  test("s34 semantic admission: cell equi-join with the BATCH side " +
       "broadcast — the store never shuffles, no batch x store product") {
    val plan = finalPlan(Similarity.incrementalSemanticAdmission(spark, sf))
    noProducts(plan, "s34")
    assert(!plan.exists { case _: SortMergeJoinExec => true; case _ => false },
      "s34 shuffled the store for the probe (the batch side must broadcast)")
    assert(broadcastJoins(plan) >= 1, "s34 lost the broadcast probe join")
  }

  test("t33 ngram novelty: fp-keyed equi-joins only — no corpus product") {
    val plan = finalPlan(graft.operators.TextOps.ngramNovelty(spark, sf))
    noProducts(plan, "t33")
  }

  test("t34 incremental novelty: the store probe is an fp equi-join, " +
       "never a batch×store product — and the STORE NEVER SHUFFLES " +
       "(batch fps broadcast into a semi against the store scan)") {
    val plan = finalPlan(graft.operators.TextOps.incrementalNovelty(spark, sf))
    noProducts(plan, "t34")
    // both fp probes are broadcast-hash (semi + the known-set join
    // back): a sort-merge join here would shuffle the store — the
    // unbounded side at 100 TB (the r17 decade fix)
    assert(broadcastJoins(plan) >= 2,
      s"t34 store probe lost its broadcast shape: ${broadcastJoins(plan)}")
    assert(!plan.exists { case _: SortMergeJoinExec => true; case _ => false },
      "t34 shuffles the store through a sort-merge join")
  }

  test("v07 corpus datasheet: a single aggregate pass — no joins, one " +
       "corpus scan (countDistinct rides the Expand)") {
    val plan = finalPlan(graft.operators.Checks.corpusDatasheet(spark, sf))
    assert(!plan.exists {
      case _: SortMergeJoinExec | _: CartesianProductExec => true
      case _: BroadcastHashJoinExec => true
      case _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => true
      case _ => false
    }, "v07 grew a join — the datasheet is one aggregation pass")
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1, s"v07 scans the corpus ${scans.size}x")
    assert(plan.exists {
      case _: org.apache.spark.sql.execution.ExpandExec => true
      case _ => false
    }, "v07 lost the multi-countDistinct Expand (plan shape changed)")
  }

  test("v09 tokenizer drift: word-keyed equi-joins only (kernel runs " +
       "per DISTINCT word); the lone BNLJ is the 1-row total") {
    val plan = finalPlan(graft.operators.TextOps.tokenizerDrift(spark, sf))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "v09 grew a cartesian")
    onlyOneRowBnlj(plan, "v09")
  }

  test("v08 split leakage: fp-keyed probes only — no train x probe product") {
    val plan = finalPlan(graft.operators.Checks.splitLeakage(spark, sf))
    noProducts(plan, "v08")
  }

  test("d19 band plan: every geometry's candidates are (band,key) " +
       "equi-joins over the shared minima — no pair product") {
    import graft.functions.Hashing
    // the un-checkpointed candidate stream at the FINEST geometry (the
    // registered query materializes the minima once and re-folds)
    val sh = graft.operators.Dedup.docShingles(
        Tables.t(spark, sf, "documents"), "doc_id", "text")
      .withColumn("mins", Hashing.minhashMins(col("sh")))
    val banded = sh.select(col("doc_id"),
      posexplode(Hashing.bandKeys(col("mins"), 32)).as(Seq("band", "key")))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    noProducts(finalPlan(cand), "d19")
  }

  test("s38 nprobe sweep: both streams map-side heaps with the query " +
       "table broadcast — arms are filters, never re-scans") {
    // the two corpus streams (scored-at-full-width, exhaustive truth)
    // are asserted UN-checkpointed (the s31 discipline); in the
    // registered query they materialize once and the arms filter them
    import org.apache.spark.sql.functions._
    val base = graft.operators.Similarity
    val cents = graft.operators.Pinned.ivfCentroids
    val nrm = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm",
        sqrt(graft.functions.VectorExprs.dot(col("v"), col("v"))))
      .select(col("vec_id"),
        transform(col("v"), x => x / col("nrm")).as("v"))
    val scored = base.nprobeScored(nrm, 5, 8, cents)
    val plan = finalPlan(scored)
    assert(noQuadraticJoins(plan), "s38 scored degraded to sort-merge/cartesian")
    assert(broadcastJoins(plan) >= 1,
      s"s38 query/cell table not broadcast, saw ${broadcastJoins(plan)}")
    val truth = base.nprobeTruth(nrm, 5, 3)
    assertPartialTopK(truth, "s38-truth")
    assert(noQuadraticJoins(finalPlan(truth)),
      "s38 truth degraded to sort-merge/cartesian")
  }

  test("x23 token-budget mixture: one corpus pass to an n_sources-row " +
       "frame; the waterfill windows never touch corpus rows") {
    // the corpus contributes one (source, word) explode reduced by a
    // word-keyed join + n_sources aggregate (the v09 cost class); the
    // level-problem windows and 1-row splices run on the tiny frame —
    // no product may appear anywhere
    val plan = finalPlan(graft.operators.Sampling.tokenBudgetMixture(spark, sf))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "x23 grew a cartesian")
    onlyOneRowBnlj(plan, "x23")
  }

  test("x24 decontaminated budgets: flagged set BROADCAST into the " +
       "left-anti, no train×test product, waterfill off corpus rows") {
    // the x05 lens stays shingle-keyed (its own gated shape), the
    // doc-id-sized flagged frame broadcasts into the survivors
    // left-anti, and the x23 chain follows — a cartesian or a
    // corpus-sized BNLJ anywhere means a member regressed
    val plan = finalPlan(
      graft.operators.Sampling.decontaminatedTokenBudget(spark, sf))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "x24 grew a cartesian")
    onlyOneRowBnlj(plan, "x24")
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val antis = plan.collect {
      case j: BroadcastHashJoinExec
        if j.joinType.toString.toLowerCase.contains("anti") => j }
    assert(antis.nonEmpty, "x24 left-anti not broadcast")
  }

  test("m13 scene cuts: frame signatures computed in the scan stage — " +
       "no exchange ever carries the binary payload") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.BinaryType
    val plan = finalPlan(graft.operators.Multimodal.sceneCuts(spark, sf))
    // the lag window's shuffle must carry (media_id, frame_idx, hist)
    // only — a payload column in any exchange means the histogram
    // slipped above the shuffle and 100 TB of video would move
    val leaky = plan.collect { case e: ShuffleExchangeExec => e }
      .filter(_.output.exists(_.dataType == BinaryType))
    assert(leaky.isEmpty, "m13 shuffles the binary payload")
    assert(noQuadraticJoins(plan), "m13 grew a join")
  }

  test("s40 lifecycle: both serve arms are cell equi-joins with the " +
       "queries broadcast; quantizers ride as plan literals; no SMJ") {
    // the composition may only multiply member shapes: assignment is
    // k plan-literal dots in the scan, the serve probe is a (cell)
    // equi-join against the broadcast drifted queries. The probe arm
    // is gated directly — inside indexLifecycle it materializes behind
    // localCheckpoint boundaries, so the report's own final plan only
    // shows the splice.
    val plan = finalPlan(graft.operators.Similarity.s40CellProbe(
      graft.operators.Similarity.s40LivePostings(spark, sf),
      graft.operators.Pinned.s40Centroids))
    assert(noQuadraticJoins(plan), "s40 degraded to sort-merge/cartesian")
    assert(broadcastJoins(plan) >= 1,
      s"expected a broadcast cell probe, saw ${broadcastJoins(plan)}")
  }

  test("x27 packed-shard writer: document text rides exactly ONE " +
       "exchange (the shared md5-bucket window); offsets broadcast") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    // the writer frame only — the write itself adds no exchange
    // (partitionBy streams each task to its partition files)
    // the gate holds PER EPOCH TREE (epoch only reseeds the md5 key,
    // it must never add an exchange) — epochs 0 and 1 both checked
    Seq(0L, 1L).foreach { epoch =>
      val plan = finalPlan(graft.operators.Sampling.packedShardFrame(
        spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text",
        graft.operators.Sampling.X22Budget,
        graft.operators.Sampling.X27Shards, epoch))
      val textCarrying = plan.collect { case e: ShuffleExchangeExec => e }
        .filter(_.output.exists(a =>
          a.dataType == StringType && a.name == "text"))
      assert(textCarrying.size <= 1,
        s"x27 epoch $epoch moves text through ${textCarrying.size} exchanges")
      assert(noQuadraticJoins(plan),
        s"x27 epoch $epoch writer degraded to SMJ/cartesian")
      assert(broadcastJoins(plan) >= 1,
        s"x27 epoch $epoch offsets not broadcast")
    }
  }

  test("m15 audio spectral: one scan projection, no join — no exchange " +
       "carries the payload (the m13 law on the audio axis)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.BinaryType
    val plan = finalPlan(
      graft.operators.Multimodal.audioSpectralReport(spark, sf))
    val leaky = plan.collect { case e: ShuffleExchangeExec => e }
      .filter(_.output.exists(_.dataType == BinaryType))
    assert(leaky.isEmpty, "m15 shuffles the payload")
    assert(plan.count {
      case _: org.apache.spark.sql.execution.joins.BaseJoinExec => true
      case _ => false
    } == 0, "m15 grew a join — the report is one scan projection")
  }

  test("m14 alignment gate: both towers computed in the scan stage — " +
       "no exchange carries the payload or text; no join at all") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val plan = finalPlan(graft.operators.Multimodal.alignmentGate(spark, sf))
    // the gate is ONE scan projection + the presentation sort — the
    // only exchange may carry (media_id, source, cos, keep); binary
    // payload or document text in any exchange means a tower slipped
    // above the shuffle and 100 TB of media would move
    val leaky = plan.collect { case e: ShuffleExchangeExec => e }
      .filter(_.output.exists(a =>
        a.dataType == BinaryType ||
          (a.dataType == StringType && a.name == "text")))
    assert(leaky.isEmpty, "m14 shuffles payload/text")
    assert(plan.count {
      case _: org.apache.spark.sql.execution.joins.BaseJoinExec => true
      case _ => false } == 0, "m14 grew a join (the pair rides in-row)")
  }

  test("s39 PQ distortion: ONE corpus scan, no join — codebooks ride " +
       "as plan literals and the report is an m-row aggregate") {
    val plan = finalPlan(
      graft.operators.Similarity.pqDistortionReport(spark, sf))
    assert(noQuadraticJoins(plan), "s39 grew a join")
    assert(broadcastJoins(plan) == 0, "s39 needs no join at all")
    val scans = plan.collect { case f: FileSourceScanExec => f }
      .filter(_.metadata.getOrElse("Location", "").contains("embeddings"))
    assert(scans.size == 1,
      s"s39 scans the embeddings corpus ${scans.size}x")
  }

  test("x25 epoch budgets: the x23 one-corpus-pass shape survives the " +
       "epoch scaling (no cartesian, BNLJs are 1-row splices)") {
    val plan = finalPlan(graft.operators.Sampling.epochTokenBudget(spark, sf))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "x25 grew a cartesian")
    onlyOneRowBnlj(plan, "x25")
  }

  test("v10 contamination report: no train×eval product anywhere in the " +
       "composed plan; every BNLJ is a 1-row-aggregate splice") {
    // the five member lenses keep their own gated shapes (broadcast
    // benchmark sides, fp/shingle equi-joins); composing them must not
    // introduce a product — the only BNLJs allowed are the 1-row
    // report splices (the v09/s32 discipline)
    val plan = finalPlan(graft.operators.Checks.contaminationReport(spark, sf))
    assert(!plan.exists { case _: CartesianProductExec => true; case _ => false },
      "v10 grew a cartesian")
    onlyOneRowBnlj(plan, "v10")
  }
}
