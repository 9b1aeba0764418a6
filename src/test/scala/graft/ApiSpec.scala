package graft

import graft.operators.{Checks, Curation, Dedup, Sampling, Similarity, TemporalJoins, TextOps}
import graft.plans.TopKPerGroup

/** The operators' DataFrame functions work on arbitrary frames with
  * user-chosen column names — the "switch your pipeline to graft"
  * surface, called the one way a Scala caller reaches an operator. */
class ApiSpec extends SparkSuite {
  import spark.implicits._

  private lazy val corpus = Seq(
    (10L, "the quick brown fox jumps over the lazy dog"),
    (11L, "the quick brown fox jumps over the lazy dog"), // exact dup
    (12L, "the quick brown fox leaps over the lazy dog"), // near dup
    (13L, "completely different text with nothing shared here at all"),
    (14L, "customer data 12345678 mail me at a.b@example.com today"))
    .toDF("id", "body")

  test("dedupExact groups identical bodies under the smallest id") {
    val out = Dedup.exactDedup(corpus, "id", "body").collect()
    assert(out.length == 4)
    val dup = out.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) == 10L) // keeper
  }

  test("dedupNearExact and dedupNearMinhash agree on the planted near-dup") {
    // 10 vs 12: one substituted word kills 3 of 7 shingles → J = 4/10 —
    // found by the exact index, but below the 16x4-band LSH recall knee
    // (collision prob ≈ 0.34 at J=0.4), so LSH is only guaranteed a
    // SUBSET plus the high-J pairs
    val exact = Dedup.ngramJaccard(corpus, "id", "body", 0.35).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(corpus, "id", "body", 0.35).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((10L, 11L), (10L, 12L), (11L, 12L)))
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((10L, 11L)), "J=1.0 pair must always be recalled")
  }

  test("scrubPii finds emails, digit runs, and denylist terms") {
    val row = TextOps.scrub(corpus, "id", "body", Seq("customer", "supplier")).collect().find(_.getLong(0) == 14L).get
    assert(row.getInt(1) == 3) // customer, 12345678, a.b@example.com
    assert(row.getInt(3) != row.getInt(2))
  }

  test("splitDeterministic is stable across invocations and column names") {
    val a = Sampling.deterministicSplit(corpus, "id").select("id", "split").collect().toSeq
    val b = Sampling.deterministicSplit(corpus.withColumnRenamed("body", "text2"), "id")
      .select("id", "split").collect().toSeq
    assert(a.map(_.toString) == b.map(_.toString))
  }

  test("dupClusters chains off a near-dup pair frame") {
    val clusters = Dedup.dupClusters(Dedup.ngramJaccard(corpus, "id", "body", 0.35))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("shardByTokenBudget and topKPerGroup through the facade") {
    import org.apache.spark.sql.functions._
    val sharded = Sampling.tokenShardAssignments(corpus.withColumn("lang", lit("en")),
      "lang", "id", size(split(trim($"body"), "\\s+")).cast("bigint"), budget = 20L)
    assert(sharded.count() == 5 &&
      sharded.columns.toSeq == Seq("lang", "id", "n_tokens", "shard"))
    val top = TopKPerGroup.topKPerGroup(corpus.withColumn("len", length($"body")),
      Seq.empty, Seq("len" -> false), 2).collect()
    assert(top.length == 2)
  }

  test("capPerDomain and dedupSpans work on user-named columns") {
    val domains = Seq(
      ("a.com", 1L), ("a.com", 2L), ("a.com", 3L), ("b.org", 4L))
      .toDF("host", "id")
    val capped = Sampling.domainCaps(domains, "host", "id", 2).collect()
      .map(r => r.getString(0)).groupBy(identity).view.mapValues(_.length).toMap
    assert(capped == Map("a.com" -> 2, "b.org" -> 1))
    val span = (1 to 8).map(i => s"w$i").mkString(" ")
    val spans = TextOps.chunkDedup(Seq((1L, span), (2L, span)).toDF("id", "body"),
        "id", "body", width = 8).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(spans == Map(1L -> 1L, 2L -> 0L), "doc 2's span is a repeat")
  }

  test("r10 facade methods work on user-named columns") {
    import org.apache.spark.sql.functions._
    val nTok = size(split(trim(col("body")), "\\s+")).cast("bigint")
    // packing: contiguous offsets over id order
    val pack = Sampling.packManifest(corpus, "id", nTok, 8L).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(pack(10L) == 0L && pack.size == 5)
    // weighted sample: all 5 rows when n >= corpus, ranked by key
    val ws = Sampling.weightedSample(corpus, "id", nTok, 5)
    assert(ws.count() == 5 && ws.columns.toSeq == Seq("rk", "id", "w", "sk"))
    // importance weights: one verdict per doc, ints only
    val iw = Curation.importanceWeights(corpus, "id", "body", col("id") < 13L)
    assert(iw.count() == 5)
    // tfidf: the unique doc's distinctive term ranks first
    val tf = TextOps.tfidfTopTerms(corpus, "id", "body", 1).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    assert(tf.contains(13L))
    // LM continuations: "the" continues to "quick"/"lazy"
    val lm = TextOps.lmContinuations(corpus, "body", nCtx = 1, k = 2).collect()
      .map(r => (r.getString(0), r.getString(2)))
    assert(lm.toSeq.map(_._1).distinct == Seq("the"))
    assert(lm.map(_._2).toSet == Set("quick", "lazy"))
    // incremental near-dup: batch 11 (J=1.0 with stored 10 — above the
    // band recall knee, guaranteed candidate) vs store {10, 13}
    val nd = Dedup.incrementalNearDup(corpus.filter(col("id") === 11L),
        corpus.filter(col("id") === 10L || col("id") === 13L),
        "id", "body", 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(nd == Set((11L, 10L, 1.0)))
  }

  test("r10b facade methods: blocklist, boilerplate scrub, cluster " +
    "sample, bitext mining") {
    import org.apache.spark.sql.functions._
    // blocklist: 'customer' flags exactly doc 14
    val blm = TextOps.blocklistFilter(corpus, "id", "body", Seq("customer")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(4)))).toMap
    assert(blm(14L)._1 == 1L && !blm(14L)._2)
    assert(blm(13L)._1 == 0L && blm(13L)._2)
    // boilerplate scrub at width=4: the dup/near-dup share their first
    // 4-token chunk "the quick brown fox" — all copies scrubbed
    val bs = TextOps.boilerplateScrub(corpus, "id", "body", width = 4).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(!bs(10L).contains("the quick brown fox"))
    assert(!bs(11L).contains("the quick brown fox"))
    assert(bs(13L) ==
      "completely different text with nothing shared here at all")
    // cluster sample + bitext mining over a toy embedding frame
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.9, 0.1)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(0.1, 0.9))).toDF("vec_id", "sv")
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val cs = Sampling.clusterSample(vecs, "vec_id", cents, nPerCell = 1)
      .collect().map(r => (r.getInt(0), r.getLong(2)))
    assert(cs.length == 2 && cs.map(_._1).toSet == Set(0, 1))
    import graft.functions.VectorExprs.dot
    val embA = vecs.filter(col("vec_id") < 2)
      .select(col("vec_id"), col("sv").as("v"),
        sqrt(dot(col("sv"), col("sv"))).as("nrm"))
    val embB = vecs.filter(col("vec_id") >= 2)
      .select(col("vec_id"), col("sv").as("v"),
        sqrt(dot(col("sv"), col("sv"))).as("nrm"))
    val mined = Similarity.bitextMine(embA, embB, k = 2).collect()
    assert(mined.length == 2 &&
      mined.map(_.getLong(0)).toSet == Set(0L, 1L))
    // quality classifier: one verdict per doc, integer-exact keep
    val qc = Curation.qualityClassifier(corpus, "id", "body", Curation.qualityModelMicro).collect()
      .map(r => (r.getLong(0), r.getLong(2) > 0, r.getBoolean(4)))
    assert(qc.length == 5 && qc.forall(t => t._2 == t._3))
    // incremental boilerplate: the planted span straddling store/batch
    // is scrubbed
    val span32 = (1 to 32).map(i => s"s$i").mkString(" ")
    val ledger = TextOps.boilerplateStore(
      Seq((1L, span32)).toDF("id", "body"), "id", "body")
    val scrubbed = TextOps.incrementalBoilerplate(Seq((9L, span32)).toDF("id", "body"),
        ledger, "id", "body", width = 32, minDf = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(scrubbed == Seq((9L, 0L)))
  }

  test("r10c facade methods: cmsTokenCounts and spanCoverage on user-named columns") {
    val span = (1 to TextOps.T26Width).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, s"pad1 pad2 $span"),
      (2L, s"padx pady padz $span"),
      (3L, "lone words only here"))
      .toDF("id", "body")
    val cms = TextOps.cmsFrequencies(corpus, "body", k = 5).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(cms.length == 5 && cms.forall { case (_, ex, est) => est >= ex })
    val cov = TextOps.spanCoverage(corpus, "id", "body").collect()
      .map(r => (r.getLong(0), r.getLong(4))).toMap
    assert(cov(1L) == TextOps.T26Width && cov(2L) == TextOps.T26Width
      && cov(3L) == 0L)
  }

  test("trainUnigramLm works through the facade on user-named columns") {
    val corpus = Seq(
      (1L, "abab abab cd"),
      (2L, "abab cd cd"),
      (3L, "ab cd abab")).toDF("id", "body")
    val pieces = TextOps.unigramTrain(corpus, "body", k = 6).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(pieces.nonEmpty && pieces.map(_._1).toSeq == (1 to pieces.length))
    // the dominant repeated substring is learned as one piece
    assert(pieces.exists(_._2 == "abab"), s"abab not learned: ${pieces.toSeq}")
    assert(pieces.forall(_._4 < 0.0))
  }

  test("encodeUnigramLm works through the facade with the pinned model") {
    val corpus = Seq((1L, "join merge lu~9"), (2L, "par part")).toDF("id", "body")
    val rows = TextOps.unigramEncodeWith(corpus, "id", "body",
        TextOps.pinnedUnigramPieces, TextOps.pinnedUnigramScores).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val m = rows.map(r => r._1 -> (r._2, r._3)).toMap
    assert(m.keySet == Set(1L, 2L))
    assert(m(1L)._1 == 3 && m(2L)._1 == 2)
    // "join" is one pinned piece; "lu~9" needs UNK chars yet encodes
    assert(m(1L)._2 >= 1 + 1 + 3 && m(2L)._2 >= 2)
  }

  test("zipfProfile works through the facade on user-named columns") {
    val corpus = Seq(
      (1L, "a a a a b b c d"),
      (2L, "a a b c e f g h")).toDF("id", "body")
    val row = TextOps.zipfProfile(corpus, "body").collect()
    assert(row.length == 1)
    val r = row.head
    assert(r.getLong(0) == 8 && r.getLong(1) == 16 && r.getLong(2) == 8)
    assert(r.getDouble(3) < 0.0) // frequency falls with rank
  }

  test("asofJoin works through the facade with renamed columns") {
    val left = Seq((1L, 100L, "c1"), (1L, 200L, "c2"))
      .toDF("uid", "t", "tag")
      .select($"uid", $"t".cast("timestamp").as("t"), $"tag")
    val right = Seq((1L, 150L, 9.0))
      .toDF("uid", "t", "v")
      .select($"uid", $"t".cast("timestamp").as("t"), $"v")
    val out = TemporalJoins.asofJoin(left, right, "uid", "t", Seq("v")).collect()
      .map(r => (r.getString(2), r.isNullAt(4))).toMap
    assert(out == Map("c1" -> true, "c2" -> false))
  }

  test("round-12 facade: fuzzyPairs / knBigrams / mixtureWaterfill / " +
       "psiReport / dupSpans compose on plain DataFrames") {
    val names = Seq((1L, "kafka"), (2L, "kafkb"), (3L, "query"))
      .toDF("id", "name")
    val fp = Dedup.fuzzyPairs(names).collect()
    assert(fp.length == 1 && fp.head.getLong(0) == 1L
      && fp.head.getLong(1) == 2L)

    val corpus = Seq((1L, "x y x y x y"), (2L, "x y z")).toDF("id", "body")
    assert(TextOps.knBigrams(corpus, "body", 5).count() > 0)
    assert(TextOps.dupSpans(corpus, "id", "body", w = 2).columns
      .contains("span_tokens"))

    val alloc = Sampling.mixtureWaterfill(corpus, "id",
      org.apache.spark.sql.functions.lit(10L), budgetFrac = 0.5)
    assert(alloc.columns.contains("alloc"))

    val binned = Seq((0, true), (0, false)).toDF("bin", "is_ref")
    assert(Checks.psiReport(binned).count() == Checks.V04NBins)
  }

  test("round-12 tail facade: packEfficiency / vocabDivergence / " +
       "memorizationAgainst / lshScurve / simhashAdmit / dedupImpact / " +
       "bpeFertility compose on plain DataFrames") {
    import org.apache.spark.sql.functions._
    def words(a: Int, b: Int, p: String) =
      (a until b).map(i => s"$p$i").mkString(" ")
    val corpus = Seq(
      (1L, words(0, 20, "a")), (2L, words(0, 20, "a")),
      (3L, words(0, 24, "b"))).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))

    val manifest = Sampling.packManifest(
      corpus, "doc_id", size(split(trim(col("text")), "\\s+")).cast("long"),
      16L)
    assert(Sampling.packEfficiency(manifest, 16L).columns.contains("n_fragments"))

    val src = corpus.withColumn("source",
      when(col("doc_id") < 3L, "s1").otherwise("s2"))
    assert(Checks.vocabDivergence(src, "source", "text").count() == 2)

    val evalSide = Seq((10L, words(0, 20, "a"))).toDF("doc_id", "text")
    val mem = TextOps.memorization(corpus, evalSide, "doc_id", "text")
      .collect()
    assert(mem.length == 1 && mem.head.getLong(3) == 1000L)

    assert(Dedup.lshScurve(corpus, "doc_id", "text").columns
      .contains("recall_milli"))

    val store = Dedup.simhashStore(corpus, "doc_id", "text")
    val admit = Dedup.incrementalSimhash(
      Dedup.simhashStore(evalSide, "doc_id", "text"), store).collect()
    assert(admit.length == 1 && admit.head.getInt(2) == 0) // exact copy

    val impact = Curation.dedupImpact(corpus, "doc_id", "text").collect()
    assert(impact.map(_.getString(0)).toSeq ==
      Seq("exact_dedup", "near_dedup", "span_dedup"))

    assert(TextOps.bpeFertilityWith(corpus, "doc_id", "text", TextOps.pinnedMerges).count() == 3)
  }
}
