package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSuite {
  import spark.implicits._

  test("shingles: distinct 3-grams, short docs yield none") {
    val df = Seq("a b c d", "a b", "x y z x y z").toDF("text")
      .select(Dedup.shingles(col("text")).as("sh"))
    val out = df.collect().map(_.getSeq[String](0).toSet)
    assert(out(0) == Set("a b c", "b c d"))
    assert(out(1) == Set.empty)
    assert(out(2) == Set("x y z", "y z x", "z x y")) // distinct-ified
  }

  test("exact dedup keeps the smallest doc_id per fingerprint") {
    val out = Dedup.exactDedup(spark, sf)
    val n = out.count()
    assert(n > 0)
    // keeper is unique and counts sum to table size
    val total = out.agg(sum("n_copies")).as[Long].collect().head
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(total == docs)
  }

  test("minhash-LSH equals exact inverted-index Jaccard at threshold 0.7") {
    val lsh = Dedup.minhashLsh(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = Dedup.ngramJaccard(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(lsh.toSeq == exact.toSeq)
    assert(lsh.nonEmpty, "testdata plants near-dup pairs; LSH must find them")
  }

  test("dupClusters: connected pairs share a cluster labeled by the min id") {
    val pairs = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Dedup.dupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    // every cluster label is the smallest member of its component
    clusters.groupBy(_._2).foreach { case (lbl, members) =>
      assert(members.keys.min == lbl)
    }
  }

  test("connectedComponents: 33-node chain converges in O(log n) rounds, not O(diameter)") {
    // worst case for plain min-label propagation: a path graph,
    // diameter 32 → 32 sequential rounds; star contraction must not
    val pairs = (1L to 32L).map(i => (i + 1, i)).toDF("src", "dst")
    // threshold 0 forces the distributed star-contraction loop (the
    // driver union-find finisher would otherwise absorb a toy graph)
    val (labels, rounds) = Dedup.connectedComponents(pairs, localEdgeThreshold = 0L)
    val out = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 33)
    assert(out.values.forall(_ == 1L), s"every chain node must label to the min: $out")
    // log2(33) ≈ 5; slack covers the fixpoint-confirming check interval,
    // but regression toward diameter behavior (32 rounds) fails hard
    assert(rounds <= 10, s"expected O(log n) rounds on a chain, got $rounds")
  }

  test("connectedComponents: mixed orientation, dup edges, multiple components, self-loop") {
    val pairs = Seq((5L, 7L), (7L, 5L), (9L, 5L), (20L, 21L), (30L, 30L))
      .toDF("src", "dst")
    val expected = Map(5L -> 5L, 7L -> 5L, 9L -> 5L,
      20L -> 20L, 21L -> 20L, 30L -> 30L)
    // both code paths must agree: driver union-find (default gate) and
    // the distributed star-contraction loop (gate forced off)
    val (local, localRounds) = Dedup.connectedComponents(pairs)
    assert(localRounds == 0, "toy graph must take the driver finisher")
    assert(local.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expected)
    val (dist, _) = Dedup.connectedComponents(pairs, localEdgeThreshold = 0L)
    assert(dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expected)
  }

  test("connectedComponents: a driver-sized graph costs one bounded fetch, " +
       "no checkpoint or aggregate job, and nothing to collect its labels") {
    val pairs = Seq((5L, 7L), (7L, 5L), (9L, 5L), (20L, 21L), (30L, 30L))
      .toDF("src", "dst")
    var labels: org.apache.spark.sql.DataFrame = null
    val build = jobsIn { labels = Dedup.connectedComponents(pairs)._1 }
    assert(!build.exists(_.site.startsWith("localCheckpoint")),
      s"checkpoint job: ${build.map(_.site)}")
    assert(build.forall(_.stages == 1), s"a job reads a shuffle (an aggregate): $build")
    assert(build.size <= 3, s"${build.size} jobs: ${build.map(_.site)}")
    val collect = jobsOf(labels.collect())
    assert(collect == 0, s"collecting the labels ran $collect Spark jobs")
  }

  test("d05 builds and drives in at most 4 Spark jobs on the benchmark fixture") {
    var d05: DataFrame = null
    val build = jobsOf { d05 = SparkEntry.queries("d05_dup_clusters")(spark, "perfbench/fixture/sf0.001") }
    // the labels are a local relation, sorted on the driver: the drive
    // is the sink's one job, with no range sampling or shuffle
    val drive = jobsOf(Bench.drive(d05))
    assert(build + drive <= 4 && drive == 1, s"d05 ran $build build and $drive drive jobs")
  }

  test("dupClusters on a pair-free corpus returns empty, not an error") {
    // threshold 1.01 > any possible jaccard → zero pairs
    assert(Dedup.dupClusters(spark, sf, threshold = 1.01).count() == 0)
  }

  test("cappedNgramJaccard equals plain jaccard when the cap is never hit") {
    val capped = Dedup.cappedNgramJaccard(spark, sf, dfCap = Int.MaxValue)
      .collect().map(_.toSeq)
    val plain = Dedup.ngramJaccard(spark, sf).collect().map(_.toSeq)
    assert(capped.toSeq == plain.toSeq)
  }

  test("simhash pairs are a subset of exact near-dups at loose threshold") {
    val sim = Dedup.simhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccard(spark, sf, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.nonEmpty)
    assert(sim.subsetOf(exact),
      s"simhash found non-near-dup pairs: ${sim.diff(exact).take(5)}")
  }

  test("d04 guard: a planted astral (non-BMP) code point fails loudly instead of desyncing the oracle") {
    import spark.implicits._
    // U+1F600 (emoji) is a surrogate pair in UTF-16: the engine's
    // fnv64 would hash two code units where the oracle's ord() sees
    // one code point — the documented BMP-only precondition. The
    // guard must turn that silent divergence into an error.
    val astral = Seq(
      (1L, "plain ascii words here repeated words here"),
      (2L, "astral 😀 smuggled into the corpus"))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.simhash(astral, "doc_id", "text", maxHamming = 3).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("non-BMP")),
      s"expected the simhash BMP guard to fire, got: ${ex.getMessage}")
    // and a pure-BMP corpus still flows through the guard untouched
    val bmp = Seq((1L, "plain words only plain words only plain words"))
      .toDF("doc_id", "text")
    Dedup.simhash(bmp, "doc_id", "text", maxHamming = 3).collect()
  }

  test("d08 keepBest: one row per cluster, the longest member wins, counts match") {
    val members = Dedup.dupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))                 // (doc_id, cluster)
    val chars = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val byCluster = members.groupBy(_._2)
    val kept = Dedup.keepBest(spark, sf).collect()
    assert(kept.map(_.getAs[Long]("cluster")).toSet == byCluster.keySet)
    kept.foreach { r =>
      val ms = byCluster(r.getAs[Long]("cluster")).map(_._1)
      val best = ms.map(id => (chars(id), id)).sortBy(p => (-p._1, p._2)).head
      assert(r.getAs[Long]("kept_doc_id") == best._2)
      assert(r.getAs[Long]("kept_chars") == best._1)
      assert(r.getAs[Long]("n_members") == ms.length.toLong)
      assert(r.getAs[Long]("n_members") >= 2, "pair-derived clusters have ≥2 members")
    }
  }

  test("d10 keepBestLsh (minhash-sourced) is identical to the exact d08 path") {
    val lsh = Dedup.keepBestLsh(spark, sf).collect().map(_.toSeq).toSeq
    val exact = Dedup.keepBest(spark, sf).collect().map(_.toSeq).toSeq
    assert(lsh == exact)
    assert(lsh.nonEmpty)
  }

  test("minhash band recall is 1.0 at sf0.01 too (the correctness SF)") {
    val dir = "/root/testdata/sf0.01"
    val lsh = Dedup.minhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val exact = Dedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(lsh == exact)
    assert(lsh.nonEmpty)
  }

  test("d11 incremental dedup = full dedup restricted to batch-only fingerprints") {
    // an fp survives the incremental pass iff NO occurrence predates the
    // batch, i.e. iff the full-corpus keeper is itself in the batch —
    // and then keeper and n_copies agree exactly
    val full = Dedup.exactDedup(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val inc = Dedup.incrementalDedup(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc == full.filter(_._2 >= 250L))
    assert(inc.nonEmpty)
    assert(inc.size < full.size, "store filtered nothing — split is vacuous")
  }

  test("d12 incremental near-dup = exact batch×store Jaccard verdicts") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    def shingles(text: String): Set[String] = {
      val tk = text.trim.split("\\s+")
      if (tk.length < 3) Set.empty
      else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    def r4half(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val store = docs.filter(_._1 < Dedup.D12SplitAt)
      .map { case (id, t) => (id, shingles(t)) }.filter(_._2.nonEmpty)
    val batch = docs.filter(_._1 >= Dedup.D12SplitAt)
      .map { case (id, t) => (id, shingles(t)) }.filter(_._2.nonEmpty)
    val expected = batch.flatMap { case (bid, bsh) =>
      val ms = store.flatMap { case (sid, ssh) =>
        val inter = (bsh & ssh).size
        val j = r4half(inter.toDouble / (bsh.size + ssh.size - inter))
        if (j >= 0.7) Some((sid, j)) else None
      }
      if (ms.isEmpty) None
      else {
        val (bestId, bestJ) = ms.minBy { case (sid, j) => (-j, sid) }
        Some((bid, bestId, bestJ, ms.size.toLong))
      }
    }.sortBy(_._1)
    val got = Dedup.incrementalNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    assert(got == expected)
    assert(got.nonEmpty, "no cross-split near-dups — the check is vacuous")
  }

  test("x16 fuzzy decontamination ≡ exact cross-split Jaccard; catches a rephrase x05 underweights") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    def shingles(text: String): Set[String] = {
      val tk = text.trim.split("\\s+")
      if (tk.length < 3) Set.empty
      else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    def md5b(id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 2)
    def r4half(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val bench = docs.filter(d => md5b(d._1) < "0d")
      .map { case (id, t) => (id, shingles(t)) }.filter(_._2.nonEmpty)
    val train = docs.filter(d => md5b(d._1) >= "1a")
      .map { case (id, t) => (id, shingles(t)) }.filter(_._2.nonEmpty)
    val expected = train.flatMap { case (tid, tsh) =>
      val ms = bench.flatMap { case (bid, bsh) =>
        val inter = (tsh & bsh).size
        val j = r4half(inter.toDouble / (tsh.size + bsh.size - inter))
        if (j >= Dedup.X16Threshold) Some((bid, j)) else None
      }
      if (ms.isEmpty) None
      else {
        val (bestId, bestJ) = ms.minBy { case (bid, j) => (-j, bid) }
        Some((tid, bestId, bestJ, ms.size.toLong))
      }
    }.sortBy(_._1)
    val got = Dedup.fuzzyDecontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq
    assert(got == expected)
    // a planted rephrase: the benchmark item with one word substituted
    // mid-document — J well above 0.5 but below any exact-dup bar
    import spark.implicits._
    // 14 tokens -> 12 shingles; the substitution at position 13 kills 3
    // of them: J = 9/15 = 0.6 — above tau yet far from exact-dup
    val benchDoc = (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi")
    val rephrased = (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu XXX xi")
    val flagged = Dedup.fuzzyDecontaminate(
      Dedup.sketchDocs(Seq(rephrased).toDF("doc_id", "text"), "doc_id", "text"),
      Dedup.sketchDocs(Seq(benchDoc).toDF("doc_id", "text"), "doc_id", "text"),
      Dedup.X16Threshold).collect()
    assert(flagged.length == 1 && flagged(0).getLong(1) == 1L,
      "the rephrased benchmark item must be flagged")
    assert(flagged(0).getDouble(2) >= 0.5 && flagged(0).getDouble(2) < 1.0)
  }

  test("x18 bloom decontamination ≡ Scala position-set recomputation; " +
    "no false negatives; FP accounting exact") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val fps = docs.map { case (id, t) =>
      (id, md5hex(t.trim.replaceAll("\\s+", " ").toLowerCase)) }
    def positions(fp: String): Seq[Long] =
      (0 until Dedup.X18K).map(j =>
        java.lang.Long.parseLong(fp.substring(10 * j, 10 * j + 10), 16) %
          Dedup.X18Bits)
    val benchFps = fps.filter { case (id, _) =>
      md5hex(id.toString).substring(0, 2) < "0d" }
    val setBits = benchFps.flatMap(b => positions(b._2)).toSet
    val benchCount = benchFps.groupBy(_._2).map { case (f, xs) => f -> xs.size.toLong }
    val expected = fps.map { case (id, fp) =>
      val bloom = positions(fp).forall(setBits.contains)
      val n = benchCount.getOrElse(fp, 0L)
      (id, bloom, n > 0, bloom && n == 0, n)
    }.sortBy(_._1)
    val got = Dedup.bloomDecontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getLong(4))).toSeq
    assert(got == expected)
    // the Bloom guarantee: every exact member is a bloom hit (no FNs)
    assert(got.forall { case (_, bloom, exact, _, _) => !exact || bloom })
    // this corpus+geometry engages every path: hits, exacts AND FPs
    assert(got.exists(_._3), "no exact hit - the leak scenario is gone")
    assert(got.exists(_._4), "no false positive - geometry too sparse to test FP accounting")
    assert(got.count(_._2) == got.count(_._3) + got.count(_._4))
    // planted: a corpus doc equal to a benchmark doc bloom-hits and
    // exact-hits through the generic core
    import spark.implicits._
    def fpDf(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) =>
        (id, md5hex(t.trim.replaceAll("\\s+", " ").toLowerCase)) }
        .toDF("doc_id", "fp")
    val verdicts = Dedup.bloomDecontaminate(
      fpDf(Seq((1L, "the leaked eval item"), (2L, "an innocent document"))),
      fpDf(Seq((10L, "the leaked eval item"))))
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
    assert(verdicts(1L) == ((true, true)), "planted leak must hit exactly")
    assert(!verdicts(2L)._2, "innocent doc must not exact-hit")
  }

  test("d13 fuzzy pairs: delete-neighborhood finds exactly the " +
       "distance-≤1 pairs (substitution, insertion, deletion; no misses, " +
       "no dist-2 leaks, no duplicate pairs)") {
    import spark.implicits._
    val names = Seq(
      (1L, "spark"),   // substitution partner of 2
      (2L, "snark"),
      (3L, "sparks"),  // insertion partner of 1
      (4L, "park"),    // deletion partner of 1
      (5L, "sparse"),  // dist 2 from spark → excluded
      (6L, "quartz")   // unrelated
    ).toDF("id", "name")
    val got = Dedup.fuzzyPairs(names).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(4)))
    assert(got.distinct.length == got.length, "duplicate pairs emitted")
    val pairs = got.map(t => (t._1, t._2)).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (1L, 4L)), pairs.toString)
    assert(got.forall(_._3 == 1))
    // exhaustive cross-check: candidate generation loses nothing vs
    // brute force at this scale
    val brute = names.as("a").crossJoin(names.as("b"))
      .where(col("a.id") < col("b.id") &&
        levenshtein(col("a.name"), col("b.name")) <= Dedup.D13MaxDist)
      .select(col("a.id"), col("b.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == brute, s"engine $pairs vs brute $brute")
  }

  test("d15 incremental fuzzy: store-probe admission on crafted waves " +
       "(substitution + deletion caught, dist-2 admitted, best match " +
       "is (dist, id)-minimal)") {
    import spark.implicits._
    val storeNames = Seq((1L, "spark"), (2L, "sparks"), (3L, "duck"))
      .toDF("id", "name")
    val batch = Seq(
      (10L, "snark"),  // dist 1 from spark(1) only
      (11L, "spark"),  // dist 0 from 1, dist 1 from sparks(2) → best = 1
      (12L, "ducks"),  // insertion vs duck(3)
      (13L, "quartz")  // no match → admitted (no verdict row)
    ).toDF("id", "name")
    val got = Dedup.incrementalFuzzy(batch, Dedup.nameVariants(storeNames))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2), r.getLong(3)))).toMap
    assert(got.keySet == Set(10L, 11L, 12L))
    assert(got(10L) == ((1L, 1, 1L)))
    assert(got(11L) == ((1L, 0, 2L))) // dist-0 best, TWO matches
    assert(got(12L) == ((3L, 1, 1L)))
  }

  test("d13 fuzzy pairs over the warehouse: every pair verifies, " +
       "ordering is total") {
    val got = Dedup.fuzzyPairs(spark, sf).collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getInt(4) <= Dedup.D13MaxDist))
    val keys = got.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.sorted.sameElements(keys), "not ordered by (a_id, b_id)")
    assert(keys.distinct.length == keys.length, "duplicate pairs")
  }

  test("d17 incremental simhash: crafted waves — exact copy matches at " +
       "hamming 0, small edit within radius, unrelated doc admitted") {
    import spark.implicits._
    def words(a: Int, b: Int, p: String) =
      (a until b).map(i => s"$p$i").mkString(" ")
    val store = Seq(
      (1L, words(0, 40, "w")),
      (2L, words(0, 40, "u"))).toDF("doc_id", "text")
    val batch = Seq(
      (10L, words(0, 40, "w")),                        // exact → hamming 0
      (11L, words(0, 39, "u") + " zzz"),               // near u → small hamming
      (12L, words(0, 40, "q"))).toDF("doc_id", "text") // unrelated → admitted
    val got = Dedup.incrementalSimhash(
        Dedup.simhashStore(batch, "doc_id", "text"),
        Dedup.simhashStore(store, "doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2)))).toMap
    assert(got.contains(10L) && got(10L) == ((1L, 0)),
      s"exact copy must match at hamming 0: ${got.get(10L)}")
    got.get(11L).foreach { case (m, h) =>
      assert(m == 2L && h >= 1 && h <= 3, s"near match off: ($m, $h)")
    }
    assert(!got.contains(12L), "unrelated doc must be admitted")
    // chunk-probe ≡ brute force at radius 3 (the pigeonhole guarantee):
    // every reported hamming verifies against a direct signature xor
    val sigs = (Dedup.simhashStore(store, "doc_id", "text").collect() ++
      Dedup.simhashStore(batch, "doc_id", "text").collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (b, (m, h)) =>
      assert(java.lang.Long.bitCount(sigs(b) ^ sigs(m)) == h)
    }
  }

  test("d17 wide-signature dial: sig0 is the 64-bit signature verbatim; " +
       "the 128-bit probe ≡ a brute-force 128-bit hamming recomputation; " +
       "the dial resolves to 64 bits below the keyspace bound") {
    import spark.implicits._
    import graft.functions.Hashing
    // dial contract: 64-bit path at every registered store size
    // (fixture store = 250 docs), wide past the 2^16 keyspace bound
    assert(Dedup.autoSigBits(250L) == 64)
    assert(Dedup.autoSigBits(65535L) == 64)
    assert(Dedup.autoSigBits(65536L) == 128)
    assert(Dedup.autoSigBits(250000L) == 128)
    def words(a: Int, b: Int, p: String) =
      (a until b).map(i => s"$p$i").mkString(" ")
    val store = Seq(
      (1L, words(0, 40, "w")),
      (2L, words(0, 40, "u"))).toDF("doc_id", "text")
    val batch = Seq(
      (10L, words(0, 40, "w")),          // exact → hamming 0 in any width
      (11L, words(0, 39, "u") + " zzz"), // near u
      (12L, words(0, 40, "q"))).toDF("doc_id", "text")
    // prefix law: the wide store's sig0 IS the 64-bit signature
    val all = store.unionByName(batch)
    val s64 = Dedup.simhashStore(all, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sW = Dedup.simhashStoreWide(all, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    sW.foreach { case (id, (s0, _)) => assert(s0 == s64(id)) }
    // the wide probe ≡ brute-force 128-bit hamming at radius 3
    val got = Dedup.incrementalSimhashWide(
        Dedup.simhashStoreWide(batch, "doc_id", "text"),
        Dedup.simhashStoreWide(store, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3))).toSeq
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) +
        java.lang.Long.bitCount(a._2 ^ b._2)
    val expected = Seq(10L, 11L, 12L).flatMap { bid =>
      val ms = Seq(1L, 2L).map(sid => (sid, ham(sW(bid), sW(sid))))
        .filter(_._2 <= 3).sortBy(t => (t._2, t._1))
      ms.headOption.map(m => (bid, m._1, m._2, ms.size.toLong))
    }
    assert(got == expected)
    // the exact copy matches at hamming 0 under the wide sig too
    assert(got.exists(g => g._1 == 10L && g._2 == 1L && g._3 == 0))
    // and the Scala kernel agrees with the column form end-to-end
    val kern = Hashing.simhash128(Hashing.shingleHashes(words(0, 40, "w"), 3))
    assert((kern(0), kern(1)) == sW(10L))
  }

  test("d18 threshold curve: monotone in tau on a planted mid-J corpus; " +
       "the committed-tau arm matches d05/d08's counts") {
    import spark.implicits._
    def words(a: Int, b: Int, p: String) =
      (a until b).map(i => s"$p$i").mkString(" ")
    // pairs at J≈1.0 (exact family), ≈0.75 and ≈0.55 — each extra
    // tau notch should drop pairs and removals
    val docs = Seq(
      (1L, words(0, 30, "w")), (2L, words(0, 30, "w")),
      (3L, words(0, 40, "n")), (4L, words(0, 35, "n") + " " + words(0, 5, "x")),
      (5L, words(0, 40, "m")), (6L, words(0, 28, "m") + " " + words(0, 12, "y")),
      (7L, words(0, 20, "q"))).toDF("doc_id", "text")
    val got = Dedup.thresholdCurve(docs, "doc_id", "text",
        Seq(0.5, 0.7, 0.9))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(5)._1 > got(7)._1 && got(7)._1 > got(9)._1,
      s"pair counts must strictly fall across the planted notches: $got")
    assert(got(9) == ((1L, 1L, 1L)), s"tau .9 keeps only the exact pair: $got")
    Seq(5, 7, 9).map(got).sliding(2).foreach { case Seq(lo, hi) =>
      assert(lo._3 >= hi._3, "removals must be monotone non-increasing")
    }
    // cross-operator law on the gate corpus: the .7 arm IS d05/d08
    val reg = Dedup.thresholdCurve(spark, sf).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val d05 = Dedup.dupClusters(spark, sf)
    val members = d05.count()
    val clusters = d05.select("cluster").distinct().count()
    assert(reg(7) == ((Dedup.ngramJaccard(spark, sf).count(),
      clusters, members - clusters)), s"tau .7 arm diverges: ${reg(7)}")
  }

  test("d16 S-curve: exact dups always caught, mid bins measured on a " +
       "planted corpus, high-bin recall carries d02's pairs") {
    import spark.implicits._
    // planted: 3 exact-dup pairs (J=1.0), mid-J pairs from prefix
    // overlap, plus unrelated docs — exercises bins the synthetic
    // corpus lacks
    def words(a: Int, b: Int, p: String) =
      (a until b).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (1L, words(0, 30, "w")), (2L, words(0, 30, "w")),   // J = 1.0
      (3L, words(0, 30, "u")), (4L, words(0, 20, "u") + " " + words(0, 10, "z")),
      (5L, words(0, 40, "m")), (6L, words(0, 25, "m") + " " + words(0, 15, "k")),
      (7L, words(0, 50, "q")), (8L, words(0, 50, "r"))
    ).toDF("doc_id", "text")
    val curve = Dedup.lshScurve(docs, "doc_id", "text")
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // the J=1.0 pair sits in bin 9 and MUST be caught (identical
    // shingle sets → identical signatures → identical band keys)
    assert(curve.contains(9) && curve(9)._1 >= 1L)
    assert(curve(9)._2 == curve(9)._1 && curve(9)._3 == 1000L,
      s"an exact duplicate escaped the bands: ${curve(9)}")
    // mid bins exist on this corpus and report a valid recall
    assert(curve.keys.exists(b => b >= 1 && b <= 8),
      s"planted mid-Jaccard pairs missing: ${curve.keys}")
    curve.values.foreach { case (n, c, milli) =>
      assert(c <= n && milli >= 0L && milli <= 1000L)
    }
    // cross-operator law on the gate corpus: the caught pairs at
    // J >= 0.7 ARE d02's output pairs
    val caughtHigh = Dedup.lshScurve(spark, sf).collect()
      .filter(_.getInt(0) >= 7).map(_.getLong(2)).sum
    val d02Pairs = Dedup.minhashLsh(spark, sf).count()
    assert(caughtHigh == d02Pairs,
      s"S-curve high-bin caught $caughtHigh != d02's $d02Pairs pairs")
  }

  test("d19 band kernels: geometry 16 reproduces the registered 16x4 " +
       "band keys exactly; minima shared across geometries") {
    import graft.functions.Hashing
    val hashes = Seq("alpha beta gamma delta epsilon", "x y z w")
      .map(t => Hashing.shingleHashes(t, 3).toSeq)
    hashes.foreach { h =>
      val mins = Hashing.minhashMinima(h)
      assert(Hashing.bandKeysAt(mins.toSeq, 16).toSeq ==
        Hashing.minhashBandKeys(h).toSeq,
        "16-band fold must equal the registered kernel")
      // every geometry folds the SAME minima (the shared-pass design)
      Seq(8, 32).foreach { b =>
        assert(Hashing.bandKeysAt(mins.toSeq, b).length == b)
      }
    }
  }

  test("d19 band plan: ≡ Scala recomputation; candidate sets nest with " +
       "band count (finer bands can only add candidates); report monotone") {
    import graft.functions.Hashing
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val sh = docs.map { case (id, t) => id -> Hashing.shingleHashes(t, 3).toSeq }
      .filter(_._2.nonEmpty)
    val mins = sh.map { case (id, h) => id -> Hashing.minhashMinima(h) }.toMap
    def candidates(b: Int): Set[(Long, Long)] = {
      val keyed = mins.toSeq.flatMap { case (id, m) =>
        Hashing.bandKeysAt(m.toSeq, b).zipWithIndex.map { case (k, band) =>
          (band, k) -> id
        }
      }.groupBy(_._1).values
      keyed.flatMap { grp =>
        val ids = grp.map(_._2).sorted
        for (i <- ids.indices; j <- (i + 1) until ids.length)
          yield (ids(i), ids(j))
      }.toSet
    }
    val shSets = sh.map { case (id, h) => id -> h.toSet }.toMap
    def r4(x: Double): Double = new java.math.BigDecimal(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
    val ids = sh.map(_._1).sorted
    val truth = (for {
      i <- ids.indices.iterator; j <- ((i + 1) until ids.length).iterator
      a = shSets(ids(i)); b = shSets(ids(j))
      inter = (a & b).size if inter > 0
      jac = r4(inter.toDouble / (a.size + b.size - inter))
      if jac >= Dedup.D19Tau
    } yield (ids(i), ids(j))).toSet
    def milli(n: Long, d: Long): Long =
      if (d == 0) 0L else math.floor(n * 1000.0 / d + 0.5).toLong
    val expected = Dedup.D19Bands.map { b =>
      val c = candidates(b)
      val caught = (c & truth).size.toLong
      (b, 64 / b, c.size.toLong, truth.size.toLong, caught,
        milli(caught, truth.size.toLong), milli(caught, c.size.toLong))
    }
    val got = Dedup.bandPlanEval(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expected)
    // nesting law: a (b, r) band collision implies every finer split of
    // the same minima collides too -> candidate sets nest upward
    assert(candidates(8).subsetOf(candidates(16)) &&
      candidates(16).subsetOf(candidates(32)),
      "candidate sets must nest with band count")
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(a._3 <= b._3 && a._5 <= b._5,
        s"candidates/caught fell as bands grew: $a -> $b")
    case _ => () }
  }
}
