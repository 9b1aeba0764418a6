package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  private def cos(a: Seq[Double], b: Seq[Double]): Double =
    Seq((a, b)).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b"))).as[Double]
      .collect().head

  test("cosine: identical vectors → 1, orthogonal → 0, opposite → -1") {
    assert(math.abs(cos(Seq(1, 2, 3), Seq(1, 2, 3)) - 1.0) < 1e-12)
    assert(math.abs(cos(Seq(1, 0), Seq(0, 1))) < 1e-12)
    assert(math.abs(cos(Seq(1, 0), Seq(-1, 0)) + 1.0) < 1e-12)
  }

  test("brute-force ANN returns k neighbors per query, best first") {
    val out = Similarity.annBruteForce(spark, sf, nQueries = 3, k = 4).collect()
    assert(out.length == 12)
    val byQ = out.groupBy(_.getLong(0))
    byQ.foreach { case (_, rows) =>
      val cosines = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cosines.sameElements(cosines.sorted.reverse), "descending cos")
    }
  }

  test("IVF probe results are a subset of brute-force candidates' quality") {
    // every IVF neighbor's cosine must be <= the brute-force best for
    // that query (IVF searches a subset)
    val bf = Similarity.annBruteForce(spark, sf, nQueries = 3, k = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val ivf = Similarity.annIvf(spark, sf, nQueries = 3, k = 1).collect()
    ivf.foreach { r =>
      assert(r.getDouble(3) <= bf(r.getLong(0)) + 1e-9)
    }
  }

  test("k-means IVF: deterministic, neighbors no better than brute force") {
    val bf = Similarity.annBruteForce(spark, sf, nQueries = 3, k = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val a = Similarity.annKmeansIvf(spark, sf, nQueries = 3, k = 1).collect()
    val b = Similarity.annKmeansIvf(spark, sf, nQueries = 3, k = 1).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq, "deterministic")
    a.foreach(r => assert(r.getDouble(3) <= bf(r.getLong(0)) + 1e-9))
    assert(a.nonEmpty, "each query's own cell is non-empty")
  }

  test("LSH bucket key is deterministic and fixed-width") {
    val df = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val k1 = df.select(Similarity.lshBucket(col("v"), 8).as("b")).collect().map(_.getString(0))
    val k2 = df.select(Similarity.lshBucket(col("v"), 8).as("b")).collect().map(_.getString(0))
    assert(k1.sameElements(k2))
    assert(k1.forall(_.length == 8))
  }

  test("IVF nprobe=2 recall vs brute force is at least nprobe=1 recall") {
    val exact = Similarity.annBruteForce(spark, sf, nQueries = 5, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(np: Int): Double = {
      val got = Similarity.annKmeansIvf(spark, sf, nQueries = 5, k = 3, nprobe = np)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      (exact & got).size.toDouble / exact.size
    }
    val r1 = recall(1)
    val r2 = recall(2)
    assert(r2 >= r1, s"probing more cells must not lose recall: $r2 < $r1")
  }

  test("quantized ANN recalls most full-precision neighbors") {
    val exact = Similarity.annBruteForce(spark, sf, nQueries = 5, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val quant = Similarity.annQuantized(spark, sf, nQueries = 5, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"int8 recall@3 too low: $recall")
  }

  test("quantizeInt8 emits integers in [-127, 127], 0-safe") {
    val out = Seq(Seq(0.5, -1.0, 0.25), Seq(0.0, 0.0, 0.0))
      .toDF("v").select(Similarity.quantizeInt8(col("v")).as("q"))
      .collect().map(_.getSeq[Double](0))
    assert(out(0) == Seq(64.0, -127.0, 32.0)) // floor(±x·127/1 + .5)
    assert(out(1) == Seq(0.0, 0.0, 0.0))
  }

  test("centroid UDAF equals the declarative posexplode+avg formulation") {
    val udaf = Similarity.labelCentroids(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val declarative = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("label"),
        posexplode(transform(col("embedding"), _.cast("double")))
          .as(Seq("pos", "x")))
      .groupBy("label", "pos").agg(round(avg("x"), 4).as("c"))
      .orderBy("label", "pos").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assert(udaf.length == declarative.length && udaf.nonEmpty)
    udaf.zip(declarative).foreach { case ((l1, p1, c1), (l2, p2, c2)) =>
      assert(l1 == l2 && p1 == p2 && math.abs(c1 - c2) <= 1e-4,
        s"($l1,$p1,$c1) vs ($l2,$p2,$c2)")
    }
  }

  test("s09 PQ-ADC recalls most brute-force neighbors and keys correctly") {
    val exact = Similarity.annBruteForce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val pq = Similarity.annPq(spark, sf).collect()
    val got = pq.map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(got.keySet == exact.keySet)
    got.foreach { case (q, ns) => assert(ns.size == 3, s"query $q: $ns") }
    val recall = exact.keys.toSeq
      .map(q => got(q).intersect(exact(q)).size.toDouble / exact(q).size)
      .sum / exact.size
    info(f"PQ recall@3 vs brute force: $recall%.3f")
    assert(recall >= 0.8, f"PQ recall@3 collapsed: $recall%.3f")
  }

  test("s10 IVF+PQ returns k well-formed neighbors with usable recall") {
    val exact = Similarity.annBruteForce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val got = Similarity.annIvfPq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(got.keySet == exact.keySet)
    got.foreach { case (q, ns) => assert(ns.size == 3, s"query $q: $ns") }
    val recall = exact.keys.toSeq
      .map(q => got(q).intersect(exact(q)).size.toDouble / exact(q).size)
      .sum / exact.size
    info(f"IVF+PQ recall@3 vs brute force: $recall%.3f")
    // the probe prunes 6/8 cells AND the codes quantize residuals, so
    // the bar is lower than s09's single-stage PQ — but it must stay
    // far above random (3/1999 ≈ 0.0015)
    assert(recall >= 0.5, f"IVF+PQ recall@3 collapsed: $recall%.3f")
  }

  test("s13 rotated (OPQ-style) PQ keeps recall and well-formed output") {
    val exact = Similarity.annBruteForce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val got = Similarity.annPqRotated(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(got.keySet == exact.keySet)
    got.foreach { case (q, ns) => assert(ns.size == 3, s"query $q: $ns") }
    val recall = exact.keys.toSeq
      .map(q => got(q).intersect(exact(q)).size.toDouble / exact(q).size)
      .sum / exact.size
    info(f"rotated-PQ recall@3 vs brute force: $recall%.3f")
    assert(recall >= 0.8, f"rotated-PQ recall@3 collapsed: $recall%.3f")
  }

  test("s11 PqModel: save/load roundtrip is exact, serve path matches inline fit") {
    import graft.operators.PqModel
    // roundtrip preserves every coefficient, coarse quantizer included
    val sample = Array.tabulate(64)(i =>
      Array.tabulate(16)(d => math.sin(i * 16 + d))) // deterministic, non-degenerate
    val mdl = PqModel.fit(sample, m = 4, codebookSize = 8, iters = 2, nCoarse = 4)
    val dir0 = java.nio.file.Files.createTempDirectory("pqmodel")
    val p = dir0.resolve("model").toString
    mdl.save(spark, p)
    val back = PqModel.load(spark, p)
    def deep(b: Array[Array[Array[Double]]]) = b.map(_.map(_.toSeq).toSeq).toSeq
    assert(deep(back.books) == deep(mdl.books))
    assert(back.coarse.map(_.map(_.toSeq).toSeq) == mdl.coarse.map(_.map(_.toSeq).toSeq))
    // the registered fit→save→load→serve lifecycle answers exactly like
    // an inline fit (same sample, same deterministic Lloyd)
    val served = Similarity.annPqFitServe(spark, sf, dir0.resolve("s11").toString)
      .collect().map(_.toSeq).toSeq
    val inline = Similarity.annPq(spark, sf).collect().map(_.toSeq).toSeq
    assert(served == inline && served.nonEmpty)
  }

  test("d07 embedding clusters: pairs are intra-cluster, labels are roots and minima") {
    val pairs = Similarity.cosinePairs(spark, sf, 0.4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Similarity.embeddingClusters(spark, sf, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(pairs.nonEmpty && clusters.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    assert(clusters.forall { case (id, lbl) => lbl <= id }, "label = smallest member")
    assert(clusters.values.toSet.forall(l => clusters.get(l).contains(l)),
      "every label is its own cluster root")
  }

  test("s26 binary-sign ANN ≡ Scala shortlist+re-rank recomputation; recall holds") {
    val (nq, k, nCand) = (5, 3, Similarity.S26NCand)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val vecs = emb.toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def r6(x: Double): Double =
      new java.math.BigDecimal(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }
    def sig(v: Array[Double]): (Long, Long) = {
      var lo = 0L; var hi = 0L
      var i = 0
      while (i < 64) {
        if (v(i) > 0) {
          if (i < 32) lo |= (1L << i) else hi |= (1L << (i - 32))
        }
        i += 1
      }
      (lo, hi)
    }
    val sigs = vecs.map { case (id, v) => id -> sig(v) }
    val expected = emb.filter(_._1 < nq).sortBy(_._1).flatMap { case (q, _) =>
      val (qlo, qhi) = sigs(q)
      val shortlist = emb.filter(_._1 != q).map { case (id, _) =>
        val (lo, hi) = sigs(id)
        (id, java.lang.Long.bitCount(lo ^ qlo) + java.lang.Long.bitCount(hi ^ qhi))
      }.sortBy(t => (t._2, t._1)).take(nCand)
      shortlist.map { case (id, ham) =>
        (id, ham, r6(dot(vecs(q), vecs(id)) / (nrm(q) * nrm(id))))
      }.sortBy(t => (-t._3, t._1)).take(k).zipWithIndex
        .map { case ((id, ham, cos), i) => (q, i + 1, id, ham, cos) }
    }.toSeq
    val got = Similarity.annBinarySign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getDouble(4))).toSeq
    assert(got == expected)
    // recall@3 vs exact: the Hamming proxy with an exact re-rank must
    // recover most full-precision neighbors on this corpus
    val exact = Similarity.annBruteForce(spark, sf, nq, k).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val binKeys = got.map(t => (t._1, t._3)).toSet
    val recall = (exact & binKeys).size.toDouble / exact.size
    info(f"binary-sign recall@3 vs brute force: $recall%.3f")
    assert(recall >= 0.5, f"binary-sign recall@3 collapsed: $recall%.3f")
  }

  test("s26 law: widening the Hamming shortlist never loses recall") {
    val exact = Similarity.annBruteForce(spark, sf, 5, 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(nCand: Int): Double = {
      val got = Similarity.annBinarySign(spark, sf, nCand = nCand).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      (exact & got).size.toDouble / exact.size
    }
    val narrow = recall(8)
    val wide = recall(40)
    assert(wide >= narrow,
      s"wider shortlist lost recall: $wide < $narrow")
  }

  test("s15 hard negatives: different label, exactly the label-filtered top-k") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    val labelOf = emb.map(e => e._1 -> e._3).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def r6(x: Double): Double =
      new java.math.BigDecimal(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val expected = emb.filter(_._1 < 5).flatMap { case (q, qv, qLabel) =>
      val qn = math.sqrt(dot(qv, qv))
      emb.filter(e => e._1 != q && e._3 != qLabel)
        .map { case (id, v, lbl) =>
          (q, id, lbl, r6(dot(qv, v) / (qn * math.sqrt(dot(v, v))))) }
        .sortBy(t => (-t._4, t._2)).take(3).zipWithIndex
        .map { case ((_, id, lbl, cos), i) => (q, i + 1L, id, lbl, cos) }
    }.toSeq.sortBy(t => (t._1, t._2))
    val got = Similarity.hardNegatives(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2),
        r.getInt(3), r.getDouble(4))).toSeq
    assert(got == expected)
    got.foreach { case (q, _, _, nLabel, _) =>
      assert(nLabel != labelOf(q), s"query $q got a same-label negative")
    }
  }

  test("s16 graph ANN matches an independent Scala beam-search recomputation") {
    val (m, beam, hops, k, nq, ne) = (12, 8, 4, 3, 5, 4)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val vecs = emb.toMap
    val ids = emb.map(_._1).sorted
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def r6(x: Double): Double =
      new java.math.BigDecimal(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }
    def rcos(a: Long, b: Long): Double =
      r6(dot(vecs(a), vecs(b)) / (nrm(a) * nrm(b)))
    // exact top-m kNN graph, ties to the lower dst id
    val graph: Map[Long, Seq[Long]] = ids.map { s =>
      s -> ids.filter(_ != s).map(d => (rcos(s, d), d))
        .sortBy { case (c, d) => (-c, d) }.take(m).map(_._2).toSeq
    }.toMap
    // fixed-hop beam search from the pinned entry set
    val expected = (0L until nq).flatMap { qid =>
      var visited = (nq until nq + ne).map(_.toLong).filter(_ != qid)
        .map(n => n -> rcos(qid, n)).toMap
      for (_ <- 1 to hops) {
        val frontier = visited.toSeq
          .sortBy { case (n, c) => (-c, n) }.take(beam).map(_._1)
        val fresh = frontier.flatMap(graph).distinct
          .filter(n => n != qid && !visited.contains(n))
        visited = visited ++ fresh.map(n => n -> rcos(qid, n))
      }
      visited.toSeq.sortBy { case (n, c) => (-c, n) }.take(k).zipWithIndex
        .map { case ((n, c), i) => (qid, i + 1, n, c) }
    }.sortBy(t => (t._1, t._2))
    val got = Similarity.annGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    // the search must actually navigate (correctness is the exact-match
    // above; this floor only guards against a degenerate graph/beam).
    // Uniform-random vectors are the worst case for graph navigation:
    // recall@3 is 0.4 on the sf0.001 corpus, 0.8 at the sf0.01 gate.
    val bf = Similarity.annBruteForce(spark, sf, nQueries = nq, k = k)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = got.map(t => (t._1, t._3)).toSet
      .intersect(bf).size.toDouble / bf.size
    assert(recall >= 0.3, s"graph-ANN recall@$k degraded to $recall")
  }

  test("autoNPlanes occupancy dial reproduces the measured BASELINE points") {
    // the replay SQL bakes nPlanes=6 plane literals, so every SF the
    // driver hash-compares at MUST resolve to 6; the sf1 point must
    // reproduce GraphKnobProbe's best measured setting (9 → 6.6 s,
    // recall@3 1.0). Corpus sizes are the MEASURED embeddings row
    // counts per SF (500 / 500 / 2000 / 20000 — r10 re-counted them
    // after the first dial calibration trusted a wrong 500k note).
    assert(Similarity.autoNPlanes(500L) == 6)    // sf0.001 & sf0.01 (gate)
    assert(Similarity.autoNPlanes(2000L) == 6)   // sf0.1 (bench)
    assert(Similarity.autoNPlanes(20000L) == 9)  // sf1 (probe best)
    // second decade: one occupancy notch shrunk per ~decade past sf1
    // (the r17 sweep: occ 2⁴ + beam 32 = recall 0.917 at half the
    // occ-2⁵ wall), so N=200k resolves to 14, not 13
    assert(Similarity.autoNPlanes(200000L) == 14)
    assert(Similarity.autoNPlanes(0L) == 6)      // degenerate floor
    // the beam/hops companions: baked-in (8, 4) at every
    // oracle-compared SF AND at sf1; the sweep's recall-0.917 point
    // (32, 8) at N=200k
    assert(Similarity.autoBeam(2000L) == 8 && Similarity.autoHops(2000L) == 4)
    assert(Similarity.autoBeam(20000L) == 8 && Similarity.autoHops(20000L) == 4)
    assert(Similarity.autoBeam(200000L) == 32)
    assert(Similarity.autoHops(200000L) == 8)
    // monotone non-decreasing in N — more data never means fewer planes
    val pts = Seq(1L, 100L, 10000L, 1000000L, 100000000L)
      .map(Similarity.autoNPlanes(_))
    assert(pts == pts.sorted)
    // the s23 MINING-tuned dial (occupancy 2⁴, floor 8): the replay
    // SQL bakes nPlanes=8, so both oracle-compared SFs must resolve
    // to 8; sf1 must resolve to 10 (the measured 8.88 s → 3.96 s fix)
    assert(Similarity.autoNPlanes(500L, floor = 8, occLog2 = 4) == 8)
    assert(Similarity.autoNPlanes(2000L, floor = 8, occLog2 = 4) == 8)
    assert(Similarity.autoNPlanes(20000L, floor = 8, occLog2 = 4) == 10)
  }

  test("s19 law: refinement ≡ identity at rounds=0; recall never drops and recovers in sparse-bucket regimes") {
    val exact = Similarity.annBruteForce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    // rounds = 0 is exactly the raw s17 path — same rows, same order
    val s17 = Similarity.annGraphLsh(spark, sf).collect().toSeq
    val id0 = Similarity.annGraphLshRefined(spark, sf, rounds = 0)
      .collect().toSeq
    assert(id0 == s17)
    // sparse-bucket regime: 8 planes over 500 vectors starves most
    // buckets, and 4 tables give few OR-chances — the raw LSH graph
    // misses edges the beam search needs. NN-descent closes
    // neighbor-of-neighbor edges without any new bucketing; the r10
    // probe matrix measured raw 0.33 → refined 0.67 here (and lifts
    // at every nT∈{2,3,4,6} × nP∈{8,9} point with raw > 0).
    val raw = recall(Similarity.annGraphLshRefined(spark, sf, rounds = 0,
      nTables = 4, nPlanes = Some(8)))
    val refined = recall(Similarity.annGraphLshRefined(spark, sf, rounds = 2,
      nTables = 4, nPlanes = Some(8)))
    assert(raw < 1.0,
      s"regime not sparse enough to be a meaningful test (raw recall $raw)")
    assert(refined >= raw,
      s"refinement dropped recall: raw $raw -> refined $refined")
    assert(refined > raw,
      s"refinement added no recall on the sparse corpus (raw $raw)")
  }

  test("s17 LSH-graph ANN matches an independent Scala recomputation") {
    val (nT, nP, m, beam, hops, k, nq, ne) = (6, 6, 12, 8, 4, 3, 5, 4)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val vecs = emb.toMap
    val ids = emb.map(_._1).sorted
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def r6(x: Double): Double =
      new java.math.BigDecimal(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }
    def rcos(a: Long, b: Long): Double =
      r6(dot(vecs(a), vecs(b)) / (nrm(a) * nrm(b)))
    // integer-grid sign-LSH bucket (the lshBucketInt contract)
    def bucket(v: Array[Double], tb: Int): String = {
      val q = v.map(x => math.floor(x * 1e6 + 0.5))
      (0 until nP).map { i =>
        val p = Similarity.intPlane(tb * nP + i, 64)
        val s = (0 until 64).foldLeft(0.0)((acc, d) => acc + q(d) * p(d))
        if (s >= 0) "1" else "0"
      }.mkString
    }
    // candidate pairs = any-table bucket cohabitation (OR-construction)
    val cand: Set[(Long, Long)] = (0 until nT).flatMap { tb =>
      ids.groupBy(id => bucket(vecs(id), tb)).values.flatMap { grp0 =>
        val grp = grp0.toSeq
        for (a <- grp; b <- grp if a < b) yield (a, b)
      }
    }.toSet
    // directed top-m graph over the candidate edges
    val graph: Map[Long, Seq[Long]] = cand.toSeq
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .groupBy(_._1)
      .map { case (s0, es) =>
        s0 -> es.map(_._2).distinct.map(d => (rcos(s0, d), d))
          .sortBy { case (c, d) => (-c, d) }.take(m).map(_._2)
      }
    val expected = (0L until nq).flatMap { qid =>
      var visited = (nq until nq + ne).map(_.toLong).filter(_ != qid)
        .map(n => n -> rcos(qid, n)).toMap
      for (_ <- 1 to hops) {
        val frontier = visited.toSeq
          .sortBy { case (n, c) => (-c, n) }.take(beam).map(_._1)
        val fresh = frontier.flatMap(n => graph.getOrElse(n, Nil)).distinct
          .filter(n => n != qid && !visited.contains(n))
        visited = visited ++ fresh.map(n => n -> rcos(qid, n))
      }
      visited.toSeq.sortBy { case (n, c) => (-c, n) }.take(k).zipWithIndex
        .map { case ((n, c), i) => (qid, i + 1, n, c) }
    }.sortBy(t => (t._1, t._2))
    val got = Similarity.annGraphLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    // the LSH graph must be a real sparsification, not all-pairs
    val nCand = cand.size
    val nAll = ids.length.toLong * (ids.length - 1) / 2
    assert(nCand < nAll / 4,
      s"LSH candidate pairs $nCand not sparse vs all-pairs $nAll")
  }

  test("s18 incremental graph insert matches a Scala recomputation; edges land in the old corpus") {
    val (split, nT, nP, m, beam, hops, ne) = (100L, 6, 6, 12, 8, 4, 4)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val vecs = emb.toMap
    val oldIds = emb.map(_._1).filter(_ >= split).sorted
    val newIds = emb.map(_._1).filter(_ < split).sorted
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def r6(x: Double): Double =
      new java.math.BigDecimal(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }
    def rcos(a: Long, b: Long): Double =
      r6(dot(vecs(a), vecs(b)) / (nrm(a) * nrm(b)))
    def bucket(v: Array[Double], tb: Int): String = {
      val q = v.map(x => math.floor(x * 1e6 + 0.5))
      (0 until nP).map { i =>
        val p = Similarity.intPlane(tb * nP + i, 64)
        val s = (0 until 64).foldLeft(0.0)((acc, d) => acc + q(d) * p(d))
        if (s >= 0) "1" else "0"
      }.mkString
    }
    val cand: Set[(Long, Long)] = (0 until nT).flatMap { tb =>
      oldIds.groupBy(id => bucket(vecs(id), tb)).values.flatMap { grp0 =>
        val grp = grp0.toSeq
        for (a <- grp; b <- grp if a < b) yield (a, b)
      }
    }.toSet
    val graph: Map[Long, Seq[Long]] = cand.toSeq
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .groupBy(_._1)
      .map { case (s0, es) =>
        s0 -> es.map(_._2).distinct.map(d => (rcos(s0, d), d))
          .sortBy { case (c, d) => (-c, d) }.take(m).map(_._2)
      }
    val expected = newIds.toSeq.flatMap { qid =>
      var visited = (split until split + ne)
        .map(n => n -> rcos(qid, n)).toMap
      for (_ <- 1 to hops) {
        val frontier = visited.toSeq
          .sortBy { case (n, c) => (-c, n) }.take(beam).map(_._1)
        val fresh = frontier.flatMap(n => graph.getOrElse(n, Nil)).distinct
          .filter(n => n != qid && !visited.contains(n))
        visited = visited ++ fresh.map(n => n -> rcos(qid, n))
      }
      visited.toSeq.sortBy { case (n, c) => (-c, n) }.take(m).zipWithIndex
        .map { case ((n, c), i) => (qid, i + 1, n, c) }
    }.sortBy(t => (t._1, t._2))
    val got = Similarity.annGraphInsert(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    // the insert contract: every query is a batch vector, every
    // selected edge lands in the ingested corpus, m edges per vector
    assert(got.forall(t => t._1 < split && t._3 >= split))
    assert(got.groupBy(_._1).forall(_._2.size == m))
    assert(got.map(_._1).distinct.size == newIds.size)
  }

  test("s20 reciprocal-update law: insert-then-update ≡ batch-built top-m over the union pair source") {
    val (split, nT, nP, m, beam, hops, ne) = (100L, 6, 6, 12, 8, 4, 4)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val vecs = emb.toMap
    val oldIds = emb.map(_._1).filter(_ >= split).sorted
    val newIds = emb.map(_._1).filter(_ < split).sorted
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def r6(x: Double): Double =
      new java.math.BigDecimal(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }
    def rcos(a: Long, b: Long): Double =
      r6(dot(vecs(a), vecs(b)) / (nrm(a) * nrm(b)))
    def bucket(v: Array[Double], tb: Int): String = {
      val q = v.map(x => math.floor(x * 1e6 + 0.5))
      (0 until nP).map { i =>
        val p = Similarity.intPlane(tb * nP + i, 64)
        val s = (0 until 64).foldLeft(0.0)((acc, d) => acc + q(d) * p(d))
        if (s >= 0) "1" else "0"
      }.mkString
    }
    val cand: Set[(Long, Long)] = (0 until nT).flatMap { tb =>
      oldIds.groupBy(id => bucket(vecs(id), tb)).values.flatMap { grp0 =>
        val grp = grp0.toSeq
        for (a <- grp; b <- grp if a < b) yield (a, b)
      }
    }.toSet
    val graph: Map[Long, Seq[Long]] = cand.toSeq
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .groupBy(_._1)
      .map { case (s0, es) =>
        s0 -> es.map(_._2).distinct.map(d => (rcos(s0, d), d))
          .sortBy { case (c, d) => (-c, d) }.take(m).map(_._2)
      }
    // the insert edges (s18's computation, k = m)
    val inserts = newIds.toSeq.flatMap { qid =>
      var visited = (split until split + ne)
        .map(n => n -> rcos(qid, n)).toMap
      for (_ <- 1 to hops) {
        val frontier = visited.toSeq
          .sortBy { case (n, c) => (-c, n) }.take(beam).map(_._1)
        val fresh = frontier.flatMap(n => graph.getOrElse(n, Nil)).distinct
          .filter(n => n != qid && !visited.contains(n))
        visited = visited ++ fresh.map(n => n -> rcos(qid, n))
      }
      visited.toSeq.sortBy { case (n, c) => (-c, n) }.take(m)
        .map { case (n, c) => (qid, n, c) }
    }
    val incoming: Map[Long, Seq[(Long, Double)]] = inserts
      .groupBy(_._2)
      .map { case (n, es) => n -> es.map(e => (e._1, e._3)) }
    // THE LAW, strong form: the engine computes
    // top-m(top-m(oldCandidates) ∪ incoming) per affected node, but
    // the reference below ranks over the UNION PAIR SOURCE
    // top-m(oldCandidates ∪ incoming) — equality holds because an
    // old edge outside top-m(old) is dominated by m retained edges
    // and can never re-enter, i.e. insert-then-update produces
    // exactly the batch-built graph. The assert proves the engine
    // implements that identity, not an approximation of it.
    val expected = incoming.keySet.toSeq.sorted.flatMap { src =>
      val oldEdges = cand.toSeq.collect {
        case (a, b) if a == src => b
        case (a, b) if b == src => a
      }.distinct.map(d => (d, rcos(src, d)))
      val all = oldEdges ++ incoming(src)
      all.sortBy { case (d, c) => (-c, d) }.take(m).zipWithIndex
        .map { case ((d, c), i) => (src, i + 1, d, c) }
    }
    val got = Similarity.annGraphInsertRecip(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    // update contract: only affected (incoming-receiving) old nodes
    // appear, degree stays capped at m, and at least one batch vector
    // actually entered a neighbor list (the prune is non-vacuous)
    assert(got.map(_._1).distinct.toSet == incoming.keySet)
    assert(got.groupBy(_._1).forall(_._2.size <= m))
    assert(got.exists(_._3 < split),
      "no batch vector entered any neighbor list - prune untested")
  }

  test("s18/s20 skip the beam-search size probe; an explicit query frame keeps it") {
    // the probe is the one collect of a LIMIT over the bare q_id column
    // (the driver search collects q_id without a limit)
    def probes(build: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                      ns: Long): Unit = qe.analyzed match {
          case lim: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit
              if lim.output.map(_.name) == Seq("q_id") => n.incrementAndGet()
          case _ =>
        }
        def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                      e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      try { build; org.apache.spark.sql.graftglue.drainListenerBus(spark) }
      finally spark.listenerManager.unregister(l)
      n.get
    }
    assert(probes(Similarity.annGraphInsert(spark, sf).collect()) == 0)
    assert(probes(Similarity.annGraphInsertRecip(spark, sf).collect()) == 0)
    // a streamed micro-batch has no known bound: one probe decides
    val batch = Similarity.annGraphInsertQueries(Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id") < Similarity.S18SplitId))
    assert(probes(Similarity.annGraphInsertFrames(spark, sf, batch).collect()) == 1)
  }

  test("s14 semdedup pairs are an exact-cosine subset; clusters refine exact") {
    val exact = Similarity.cosinePairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sem = Similarity.semDedupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sem.nonEmpty, "cell-bucketed candidates found no pairs at all")
    // precision 1.0: every emitted pair is an exact pair with the exact cos
    assert(sem.subsetOf(exact),
      s"non-exact pairs emitted: ${(sem -- exact).take(3)}")
    // CC over a subset of the exact edges refines the exact clustering
    val exactClusters = Similarity.embeddingClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val semClusters = Similarity.semDedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    semClusters.groupBy(_._2).values.foreach { members =>
      val exLabels = members.keys.map(exactClusters).toSet
      assert(exLabels.size == 1,
        s"sem cluster ${members.keys.toSeq.sorted} spans exact clusters $exLabels")
    }
  }

  test("s21 recall eval equals the set intersection of its two members") {
    val bf = Similarity.annBruteForce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val iv = Similarity.annIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val expected = bf.map(_._1).toSeq.sorted.map { q =>
      val hits = bf.filter(_._1 == q).map(_._2)
        .intersect(iv.filter(_._1 == q).map(_._2)).size.toLong
      (q, hits, math.floor(hits / 3.0 * 1e4 + 0.5) / 1e4)
    }
    val got = Similarity.annRecallEval(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected)
    got.foreach { case (q, hits, recall) =>
      assert(hits >= 0 && hits <= 3 && recall >= 0.0 && recall <= 1.0, s"q$q")
    }
  }

  test("t20 RRF fusion equals a Scala recomputation from its two rankings") {
    import graft.operators.TextOps
    val kw = TextOps.bm25TopK(spark.read.parquet(s"$sf/documents.parquet"),
        "doc_id", "text").collect()
      .map(r => r.getLong(1) -> r.getLong(0)).toMap // doc -> rank
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val qv = e.find(_._1 == 0L).get._2
    def dotp(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    val qn = math.sqrt(dotp(qv, qv))
    val vrank = e.filter(_._1 != 0L)
      .map { case (id, v) =>
        val c = dotp(qv, v) / (qn * math.sqrt(dotp(v, v)))
        // Spark round(x, 6) semantics: HALF_UP on the decimal value
        (id, BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .sortBy { case (id, c) => (-c, id) }.take(10).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1).toLong }.toMap
    val fusedDocs = (kw.keySet ++ vrank.keySet).toSeq
    def term(r: Option[Long]): Double = r.map(x => 1.0 / (60.0 + x)).getOrElse(0.0)
    val expected = fusedDocs
      .map(id => (id,
        math.floor((term(kw.get(id)) + term(vrank.get(id))) * 1e6 + 0.5) / 1e6))
      .sortBy { case (id, s) => (-s, id) }.take(10).zipWithIndex
      .map { case ((id, s), i) => ((i + 1).toLong, id, s) }
    val got = Similarity.rrfFusion(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected)
  }

  test("s25 MRR/nDCG rank eval equals a Scala recomputation from its members") {
    val k = 3
    val bf = Similarity.annBruteForce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val iv = Similarity.annIvf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val exRank = bf.map { case (q, rk, n) => (q, n) -> rk }.toMap
    def r4v(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
    val expected = iv.groupBy(_._1).toSeq.map { case (q, rows) =>
      val gains = rows.map { case (_, apRk, n) =>
        apRk -> exRank.get((q, n)).map(r => k + 1 - r).getOrElse(0) }.toMap
      val dcg = (1 to k).map(i =>
        gains.getOrElse(i, 0).toDouble * Similarity.ndcgDiscount(i))
        .reduce(_ + _)
      val t1pos = rows.collectFirst {
        case (_, apRk, n) if exRank.get((q, n)).contains(1) => apRk }
      (q, r4v(t1pos.map(1.0 / _).getOrElse(0.0)),
        r4v(dcg / Similarity.ndcgIdeal(k)))
    }.sortBy(_._1)
    val got = Similarity.annRankEval(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(got == expected)
    // sanity: metrics live in [0,1] and a perfect serve would be 1.0 —
    // both metrics must be 1.0 exactly when the lists coincide
    got.foreach { case (_, mrr, ndcg) =>
      assert(mrr >= 0.0 && mrr <= 1.0 && ndcg >= 0.0 && ndcg <= 1.0) }
    val identical = Similarity.annRankEval(spark, sf).collect()
    assert(identical.nonEmpty)
  }

  test("s24 MMR re-ranking matches an independent Scala greedy recomputation") {
    val (nq, nCand, k, lam) = (5, 10, 5, 0.7)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val vecs = emb.toMap
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def r6(x: Double): Double = new java.math.BigDecimal(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dotd(v, v)) }
    def rcos(a: Long, b: Long): Double =
      r6(dotd(vecs(a), vecs(b)) / (nrm(a) * nrm(b)))
    val oneMinus = 1.0 - lam
    val expected = (0L until nq).flatMap { q =>
      val cand = emb.map(_._1).filter(_ != q)
        .map(n => (n, rcos(q, n)))
        .sortBy { case (n, c) => (-c, n) }.take(nCand)
      var selected = Vector.empty[(Long, Double)]
      for (t <- 1 to k) {
        val rem = cand.filterNot(c => selected.exists(_._1 == c._1))
        val scoredRem = rem.map { case (n, c) =>
          val mmr = if (selected.isEmpty) r4d(lam * c)
            else r4d(lam * c -
              oneMinus * selected.map(s => rcos(n, s._1)).max)
          (n, mmr)
        }
        val (n, mmr) = scoredRem.minBy { case (n, m) => (-m, n) }
        selected :+= ((n, mmr))
      }
      selected.zipWithIndex.map { case ((n, m), i) =>
        (q, (i + 1).toLong, n, m) }
    }.sortBy(t => (t._1, t._2))
    val got = Similarity.mmrRerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    // diversity actually engages on this corpus: at least one pick is
    // NOT the next-best-by-relevance candidate (else MMR ≡ top-k and
    // the operator is vacuous here)
    val plainTopK = (0L until nq).flatMap { q =>
      emb.map(_._1).filter(_ != q).map(n => (n, rcos(q, n)))
        .sortBy { case (n, c) => (-c, n) }.take(k)
        .zipWithIndex.map { case ((n, _), i) => (q, (i + 1).toLong, n) }
    }.toSet
    assert(got.exists(g => !plainTopK.contains((g._1, g._2, g._3))),
      "MMR never diverged from plain top-k — diversity term is vacuous")
  }

  // --- s22/s23 bitext mining -----------------------------------------

  private def bitextFixture(): (Array[(Long, Array[Double], Int)],
      Map[Long, Double]) = {
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray,
        r.getInt(2)))
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val nrm = rows.map { case (id, v, _) => id -> math.sqrt(dotd(v, v)) }.toMap
    (rows, nrm)
  }

  private def microCos(a: Array[Double], b: Array[Double],
                       na: Double, nb: Double): Long = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    val c6 = new java.math.BigDecimal(acc / (na * nb))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    math.floor(c6 * 1e6 + 0.5).toLong
  }

  private def r4d(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4

  /** Margin tail in Scala over cross-side micro-cos pairs. */
  private def marginMine(pairs: Seq[(Long, Long, Long)],
                         k: Int): Seq[(Long, Long, Double, Double)] = {
    val bySrc = pairs.groupBy(_._1)
    val byTgt = pairs.groupBy(_._2)
    val sx = bySrc.map { case (s, ps) =>
      val top = ps.map(p => (p._3, p._2)).sortBy { case (c, t) => (-c, t) }
        .take(k)
      s -> (top.map(_._1).sum, top.size)
    }
    val sy = byTgt.map { case (t, ps) =>
      val top = ps.map(p => (p._3, p._1)).sortBy { case (c, s) => (-c, s) }
        .take(k)
      t -> (top.map(_._1).sum, top.size)
    }
    bySrc.toSeq.map { case (s, ps) =>
      val scored = ps.map { case (_, t, c) =>
        val mg = r4d(2.0 * c /
          (sx(s)._1.toDouble / sx(s)._2 + sy(t)._1.toDouble / sy(t)._2))
        (t, c, mg)
      }
      val (t, c, mg) = scored.minBy { case (t, _, mg) => (-mg, t) }
      (s, t, c.toDouble / 1e6, mg)
    }.sortBy(_._1)
  }

  test("s22 exact bitext margins match a Scala recomputation") {
    val (rows, nrm) = bitextFixture()
    val vecs = rows.map(r => r._1 -> r._2).toMap
    val src = rows.filter(_._3 % 2 == 0).map(_._1).sorted
    val tgt = rows.filter(_._3 % 2 == 1).map(_._1).sorted
    val pairs = for (s <- src.toSeq; t <- tgt.toSeq)
      yield (s, t, microCos(vecs(s), vecs(t), nrm(s), nrm(t)))
    val expected = marginMine(pairs, k = 4)
    val got = Similarity.bitextMine(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    // one row per source vector, and margins discriminate (not all 1.0)
    assert(got.map(_._1) == src.toSeq)
    assert(got.map(_._4).distinct.size > 1)
  }

  test("s23 LSH bitext mining ≡ the margin tail over the lshPairsMulti " +
    "candidates; mined cosines are exact") {
    val (rows, nrm) = bitextFixture()
    val vecs = rows.map(r => r._1 -> r._2).toMap
    val par = rows.map(r => r._1 -> r._3 % 2).toMap
    val cand = Similarity.lshPairsMulti(spark, sf, threshold = -2.0,
        nTables = 12, nPlanes = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pairs = cand.toSeq.collect {
      case (a, b, c) if par(a) != par(b) =>
        val (s, t) = if (par(a) == 0) (a, b) else (b, a)
        (s, t, math.floor(c * 1e6 + 0.5).toLong)
    }
    val expected = marginMine(pairs, k = 4)
    val got = Similarity.bitextMineLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    assert(got.nonEmpty)
    // precision-1.0 contract: every mined cosine equals the exact one
    got.foreach { case (s, t, cosv, _) =>
      val exact = microCos(vecs(s), vecs(t), nrm(s), nrm(t)).toDouble / 1e6
      assert(cosv == exact, s"mined cos for ($s,$t) drifted from exact")
    }
  }

  test("s27 matryoshka: truncating at the FULL dimension reproduces the " +
       "truth set exactly (recall 1.0 per query); partial dims bounded") {
    val full = Similarity.matryoshkaEval(spark, sf, dims = Seq(64)).collect()
    assert(full.nonEmpty)
    full.foreach { r =>
      assert(r.getAs[Long]("hits") == 3 && r.getAs[Double]("recall") == 1.0,
        s"full-dim truncation must be the identity: $r")
    }
    val partial = Similarity.matryoshkaEval(spark, sf).collect()
    assert(partial.length == Similarity.S27Dims.length * 5)
    partial.foreach { r =>
      val h = r.getAs[Long]("hits")
      assert(h >= 0 && h <= 3 &&
        r.getAs[Double]("recall") ==
          math.floor(h.toDouble / 3 * 1e4 + 0.5) / 1e4, r.toString)
    }
  }

  test("s28 tombstones: deleted ids never surface, and every surviving " +
       "s04 neighbor keeps or improves its rank") {
    val mod = Similarity.S28TombMod
    val res = Similarity.S28TombResidue
    val got = Similarity.annIvfTombstoned(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rk"),
        r.getAs[Long]("n_id")))
    assert(got.nonEmpty)
    got.foreach { case (_, _, n) =>
      assert(n % mod != res, s"tombstoned id $n served")
    }
    val base = Similarity.annIvf(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rk"),
        r.getAs[Long]("n_id")))
    val gotRank = got.map { case (q, rk, n) => (q, n) -> rk }.toMap
    base.filter { case (_, _, n) => n % mod != res }.foreach {
      case (q, rk, n) =>
        val newRk = gotRank.get((q, n))
        // a survivor can only move UP when competitors are deleted;
        // it may also fall off only if it was never in the top-k —
        // impossible here since it already was ≤ k
        assert(newRk.exists(_ <= rk),
          s"survivor ($q,$n) rank worsened: $rk -> $newRk")
    }
  }

  test("s37 compaction: serve-from-compacted == s28 logical-delete serve, " +
       "no dead postings survive the rewrite, and re-compacting is identity") {
    val all = Similarity.ivfIndex(spark, sf)
    val isInsert =
      col("vec_id") % Similarity.S37InsertMod === Similarity.S37InsertResidue
    val dead =
      col("vec_id") % Similarity.S28TombMod === Similarity.S28TombResidue
    val compacted = Similarity.compactIvfIndex(
      all.filter(!isInsert), all.filter(isInsert), dead)
    // physical removal: no tombstoned posting survives
    assert(compacted.filter(dead).count() == 0)
    // serve-equivalence: the compacted index answers exactly what the
    // s28 serve-time filter answers (queries drawn pre-compaction)
    val fromCompacted = Similarity.ivfServe(compacted, all, 5, 3).collect()
    val logical = Similarity.annIvfTombstoned(spark, sf).collect()
    assert(fromCompacted.map(_.toString).toSeq ==
      logical.map(_.toString).toSeq)
    // idempotence: compacting the compacted index changes nothing
    val again = Similarity.compactIvfIndex(
      compacted.filter(!isInsert), compacted.filter(isInsert), dead)
    assert(again.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq ==
      compacted.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("s37 report: per-bucket counts reconcile with the corpus and " +
       "every segment/liveness quadrant is populated (fixture non-vacuity)") {
    val rep = Similarity.indexCompaction(spark, sf).collect()
    val n = Similarity.ivfIndex(spark, sf).count()
    assert(rep.map(_.getAs[Long]("n_base")).sum
      + rep.map(_.getAs[Long]("n_inserts")).sum == n)
    assert(rep.map(_.getAs[Long]("n_dead")).sum
      + rep.map(_.getAs[Long]("n_live")).sum == n)
    assert(rep.map(_.getAs[Long]("n_base")).sum > 0)
    assert(rep.map(_.getAs[Long]("n_inserts")).sum > 0)
    assert(rep.map(_.getAs[Long]("n_dead")).sum > 0)
    assert(rep.map(_.getAs[Long]("n_live")).sum > 0)
  }

  test("s39 PQ distortion ≡ a Scala recomputation of encode + " +
       "reconstruction error; distortions are non-negative; a " +
       "finer codebook never increases a subspace's total distortion") {
    val mdl = graft.operators.Pinned.pq
    val got = Similarity.pqDistortionReport(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.size == mdl.m)
    // Scala recomputation from the raw embeddings
    val vecs = graft.Tables.t(spark, sf, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .collect().map(_.getSeq[Double](1).toArray)
    val sub = mdl.sub
    val want = Array.fill(mdl.m)((0L, 0L, 0L))
    vecs.foreach { v0 =>
      val nrm = math.sqrt(v0.map(x => x * x).sum)
      val v = v0.map(_ / nrm)
      for (j <- 0 until mdl.m) {
        val sv = v.slice(j * sub, j * sub + sub)
        val best = mdl.books(j).map { c =>
          2.0 * sv.zip(c).map { case (a, b) => a * b }.sum -
            c.map(x => x * x).sum
        }.max
        val d = math.floor((sv.map(x => x * x).sum - best) * 1e6 + 0.5).toLong
        assert(d >= 0, s"negative distortion $d in subspace $j")
        val (n, s0, mx) = want(j)
        want(j) = (n + 1, s0 + d, math.max(mx, d))
      }
    }
    got.foreach { case (j, (n, s0, mx)) =>
      val (wn, ws, wm) = want(j)
      // the engine computes in a different float ORDER only where the
      // math is order-free (products/compares on identical doubles);
      // sums of micro-floored longs are exact — require equality
      assert(n == wn && s0 == ws && mx == wm,
        s"subspace $j: got ($n,$s0,$mx) want ($wn,$ws,$wm)")
    }
    // refinement law: a codebook containing the original entries PLUS
    // the dataset mean of each subspace can only reduce total distortion
    val meanBook = (0 until mdl.m).map { j =>
      val svs = vecs.map { v0 =>
        val nrm = math.sqrt(v0.map(x => x * x).sum)
        v0.map(_ / nrm).slice(j * sub, j * sub + sub)
      }
      val mean = (0 until sub).map(d => svs.map(_(d)).sum / svs.length).toArray
      mdl.books(j) :+ mean
    }.toArray
    val finer = Similarity.pqDistortionReport(spark, sf,
      graft.operators.PqModel(None, meanBook)).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    finer.foreach { case (j, s0) =>
      assert(s0 <= got(j)._2, s"subspace $j distortion grew under a superset codebook")
    }
  }

  test("s30 rerank-depth curve: monotone in depth; exhaustive depth reaches 1000") {
    // a true-top-k member caught by ANY shortlist always survives the
    // exact re-rank (at most k-1 vectors outrank it globally), so
    // n_hits = |truth ∩ shortlist| — monotone in depth by set inclusion
    val rep = Similarity.annRerankDepthEval(spark, sf,
        depths = Seq(4, 16, 64, 499))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(3)))
    assert(rep.map(_._1).toSeq == Seq(4, 16, 64, 499))
    rep.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._2, s"recall fell with depth: $a -> $b")
    }
    // depth = corpus-1: the shortlist is everything — exact recall
    assert(rep.last._3 == 1000L, s"exhaustive depth not exact: ${rep.last}")
  }

  test("s31 two-tower rerank: curve ≡ Scala recomputation; monotone; " +
       "exhaustive depth exact; scorer genuinely disagrees with cosine") {
    val (nq, k) = (5, 3)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val vecs = emb.toMap
    val w = Array.tabulate(64)(i => 1.0 + (i % 5) / 10.0)
    def score(q: Array[Double], d: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < 64) { acc += (q(i) * w(i)) * d(i); i += 1 }
      new java.math.BigDecimal(acc)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    }
    def sig(v: Array[Double]): (Long, Long) = {
      var lo = 0L; var hi = 0L; var i = 0
      while (i < 64) {
        if (v(i) > 0) { if (i < 32) lo |= (1L << i) else hi |= (1L << (i - 32)) }
        i += 1
      }
      (lo, hi)
    }
    val sigs = vecs.map { case (id, v) => id -> sig(v) }
    val qids = emb.map(_._1).filter(_ < nq).sorted
    val truth: Map[Long, Set[Long]] = qids.map { q =>
      q -> emb.filter(_._1 != q)
        .map { case (id, v) => (id, score(vecs(q), v)) }
        .sortBy(t => (-t._2, t._1)).take(k).map(_._1).toSet
    }.toMap
    def hits(depth: Int): Long = qids.map { q =>
      val (qlo, qhi) = sigs(q)
      val shortlist = emb.filter(_._1 != q).map { case (id, _) =>
        val (lo, hi) = sigs(id)
        (id, java.lang.Long.bitCount(lo ^ qlo) + java.lang.Long.bitCount(hi ^ qhi))
      }.sortBy(t => (t._2, t._1)).take(depth).map(_._1)
      val topk = shortlist.map(id => (id, score(vecs(q), vecs(id))))
        .sortBy(t => (-t._2, t._1)).take(k).map(_._1).toSet
      (topk & truth(q)).size.toLong
    }.sum
    val expected = Similarity.S30Depths.map { d =>
      val h = hits(d)
      (d, h, (nq * k).toLong, math.floor(h * 1000.0 / (nq * k) + 0.5).toLong)
    }
    val got = Similarity.twoTowerRerankEval(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // monotone in depth (truth members lost only by shortlist misses)
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(a._2 <= b._2, s"recall fell with depth: $a -> $b")
    case _ => () }
    // exhaustive depth: shortlist == corpus ⇒ scorer-exact ⇒ 1000
    val exhaustive = Similarity.twoTowerRerankEval(spark, sf,
      depths = Seq(emb.length - 1)).collect().head
    assert(exhaustive.getLong(3) == 1000L,
      s"exhaustive depth not exact: $exhaustive")
    // the scorer is a DIFFERENT model: its truth must differ from the
    // cosine truth somewhere on this corpus (else the eval is vacuous)
    val cosTruth = Similarity.annBruteForce(spark, sf, nq, k).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val scorerTruth = truth.flatMap { case (q, ids) => ids.map(q -> _) }.toSet
    assert(scorerTruth != cosTruth,
      "pinned diagonal scorer coincides with cosine — eval is vacuous")
  }

  test("s38 nprobe sweep: ≡ Scala recomputation from the pinned " +
       "centroids; recall monotone in nprobe; exhaustive probe exact") {
    val (nq, k) = (5, 3)
    val cents = graft.operators.Pinned.ivfCentroids
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def norm(v: Array[Double]): Array[Double] = {
      var s = 0.0; var i = 0
      while (i < 64) { s += v(i) * v(i); i += 1 }
      val n = math.sqrt(s); v.map(_ / n)
    }
    val sv = emb.map { case (id, v) => id -> norm(v) }.toMap
    def dotc(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < 64) { s += a(i) * b(i); i += 1 }
      s
    }
    def r6(x: Double): Double = new java.math.BigDecimal(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val ids = emb.map(_._1)
    val cell: Map[Long, Int] = ids.map { id =>
      val d = cents.map(c => dotc(sv(id), c))
      id -> d.indexOf(d.max) // first-max tie, the s05 assignment rule
    }.toMap
    val qids = ids.filter(_ < nq).sorted
    val cellRank: Map[Long, Seq[Int]] = qids.map { q =>
      q -> cents.indices
        .sortBy(i => (-dotc(sv(q), cents(i)), i)).toSeq
    }.toMap
    val truth: Map[Long, Set[Long]] = qids.map { q =>
      q -> ids.filter(_ != q)
        .map(id => (id, r6(dotc(sv(q), sv(id)))))
        .sortBy(t => (-t._2, t._1)).take(k).map(_._1).toSet
    }.toMap
    val expected = Similarity.S38Probes.map { p =>
      val hits = qids.map { q =>
        val probed = cellRank(q).take(p).toSet
        val topk = ids.filter(id => id != q && probed(cell(id)))
          .map(id => (id, r6(dotc(sv(q), sv(id)))))
          .sortBy(t => (-t._2, t._1)).take(k).map(_._1).toSet
        (topk & truth(q)).size.toLong
      }.sum
      (p, hits, (nq * k).toLong,
        math.floor(hits * 1000.0 / (nq * k) + 0.5).toLong)
    }
    val got = Similarity.annNprobeEval(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(a._2 <= b._2, s"recall fell with nprobe: $a -> $b")
    case _ => () }
    // probing every cell IS the exhaustive scan — recall 1000 exactly
    assert(got.last._1 == cents.length && got.last._4 == 1000L,
      s"exhaustive probe not exact: ${got.last}")
    // the sweep is non-vacuous: nprobe=1 must MISS something on this
    // corpus (else the curve teaches nothing about the dial)
    assert(got.head._4 < 1000L,
      "nprobe=1 already exact - fixture cannot exercise the trade")
  }

  test("s36 MaxSim rerank: ≡ Scala late-interaction recomputation; " +
       "shortlist-deepening is rank-wise monotone; interaction non-vacuous") {
    val (nq, k) = (5, 3)
    val T = Similarity.S36Tokens
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val vecs = emb.toMap
    val wTok = Array.tabulate(T, 64)((t, i) =>
      1.0 + ((i + Similarity.S36TokStride * t) % Similarity.S36TokPeriod) /
        Similarity.S36TokDivisor)
    def tokDot(q: Array[Double], d: Array[Double], t: Int, u: Int): Double = {
      var acc = 0.0; var i = 0
      while (i < 64) {
        acc += (q(i) * wTok(t)(i)) * (d(i) * wTok(u)(i)); i += 1
      }
      acc
    }
    def maxsim(q: Array[Double], d: Array[Double]): Double = {
      val s = (0 until T).map(t => (0 until T).map(u => tokDot(q, d, t, u)).max).sum
      new java.math.BigDecimal(s)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    }
    def sig(v: Array[Double]): (Long, Long) = {
      var lo = 0L; var hi = 0L; var i = 0
      while (i < 64) {
        if (v(i) > 0) { if (i < 32) lo |= (1L << i) else hi |= (1L << (i - 32)) }
        i += 1
      }
      (lo, hi)
    }
    val sigs = vecs.map { case (id, v) => id -> sig(v) }
    val qids = emb.map(_._1).filter(_ < nq).sorted
    def shortlist(q: Long, depth: Int): Seq[Long] = {
      val (qlo, qhi) = sigs(q)
      emb.filter(_._1 != q).map { case (id, _) =>
        val (lo, hi) = sigs(id)
        (id, java.lang.Long.bitCount(lo ^ qlo) + java.lang.Long.bitCount(hi ^ qhi))
      }.sortBy(t => (t._2, t._1)).take(depth).map(_._1).toSeq
    }
    def expected(depth: Int): Seq[(Long, Int, Long, Double)] =
      qids.flatMap { q =>
        shortlist(q, depth).map(id => (id, maxsim(vecs(q), vecs(id))))
          .sortBy(t => (-t._2, t._1)).take(k).zipWithIndex
          .map { case ((id, s), r) => (q, r + 1, id, s) }
      }
    val got = Similarity.maxSimRerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected(Similarity.S36NCand))
    // shortlist-deepening monotonicity: a deeper shortlist ranks over a
    // SUPERSET, so the rank-r MaxSim can only rise (or hold) per query
    val shallow = Similarity.maxSimRerank(spark, sf, nCand = 5).collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(3))).toMap
    got.foreach { case (q, r, _, s) =>
      shallow.get((q, r)).foreach(sh =>
        assert(s >= sh, s"q=$q rk=$r: deep $s < shallow $sh"))
    }
    // late interaction is non-vacuous: some query token must route to a
    // DIFFERENT document token than another (argmax_u varies with t on
    // at least one shortlisted pair) — else MaxSim degenerates to a
    // single-vector scorer and the operator is mislabeled
    val routes = for {
      q <- qids; id <- shortlist(q, Similarity.S36NCand)
    } yield (0 until T).map(t =>
      (0 until T).maxBy(u => tokDot(vecs(q), vecs(id), t, u))).distinct.size
    assert(routes.exists(_ > 1),
      "every query token routed to the same doc token on every pair")
  }

  test("s33 filtered ANN: constraint holds on every row; result ≡ a " +
       "Scala re-rank over the engine's (label, bucket) postings") {
    val (nq, k) = (5, 3)
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("bucket", Similarity.lshBucketInt(col("v"), 4))
    val rows = base.collect().map(r => (r.getLong(0), r.getInt(1),
      r.getSeq[Double](2).toArray, r.get(3)))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def r6(x: Double): Double = new java.math.BigDecimal(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val nrm = rows.map { case (id, _, v, _) => id -> math.sqrt(dot(v, v)) }.toMap
    val expected = rows.filter(_._1 < nq).sortBy(_._1).flatMap {
      case (q, ql, qv, qb) =>
        rows.filter(r => r._1 != q && r._2 == ql && r._4 == qb)
          .map { case (id, _, v, _) =>
            (id, r6(dot(qv, v) / (nrm(q) * nrm(id)))) }
          .sortBy(t => (-t._2, t._1)).take(k).zipWithIndex
          .map { case ((id, cos), i) => (q, ql, i + 1, id, cos) }
    }.toSeq
    val got = Similarity.annFiltered(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == expected)
    // the constraint is structural: every neighbor carries its
    // query's label
    val labels = rows.map(r => r._1 -> r._2).toMap
    got.foreach { case (q, l, _, n, _) =>
      assert(labels(q) == l && labels(n) == l, s"label leak: q=$q n=$n")
    }
    assert(got.nonEmpty)
  }

  test("s32 embedding drift: assignment matches a Scala argmax " +
       "recomputation; report conserves counts; identical halves are stable") {
    import graft.operators.Pinned
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val cut = math.floor(
      emb.map(_._1).max * Similarity.S32SplitFrac).toLong
    // Scala recomputation of the pinned-cell assignment (argmax dot
    // over normalized vectors, first max wins) → expected (bin, ref)
    // histogram
    val binned = emb.map { case (id, v) =>
      val nrm = math.sqrt(dot(v, v))
      val nv = v.map(_ / nrm)
      val dots = Pinned.ivfCentroids.map(c => dot(nv, c))
      (dots.indexOf(dots.max), id < cut)
    }
    val nBins = Pinned.ivfCentroids.length
    import spark.implicits._
    val expected = graft.operators.Checks.psiReport(
        binned.toSeq.toDF("bin", "is_ref"), nBins = nBins)
      .collect().map(_.toSeq).toSeq
    val got = Similarity.embeddingDrift(spark, sf).collect()
    assert(got.map(_.toSeq).toSeq == expected)
    // conservation: every vector lands in exactly one cell
    assert(got.map(r => r.getLong(1) + r.getLong(2)).sum == emb.length)
    assert(got.length == nBins)
    // and the streaming ledger IS the batch index frame
    val batchIdx = Similarity.indexAssignments(
        spark.read.parquet(s"$sf/embeddings.parquet"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val scalaIdx = binned.zip(emb.map(_._1)).map { case ((b, _), id) => id -> b }
    assert(scalaIdx.forall { case (id, b) => batchIdx(id) == b })
  }

  test("s34 semantic admission: verdict ≡ a Scala in-cell recomputation; " +
       "admit partitions the batch; store-only probe is batch-atomic") {
    import graft.operators.Pinned
    val thr = Similarity.S34Threshold
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def r6(x: Double): Double = new java.math.BigDecimal(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val cut = math.floor(emb.map(_._1).max * Similarity.S34SplitFrac).toLong
    val assigned = emb.map { case (id, v) =>
      val nrm = math.sqrt(dot(v, v))
      val nv = v.map(_ / nrm)
      val dots = Pinned.ivfCentroids.map(c => dot(nv, c))
      (id, dots.indexOf(dots.max), nv)
    }
    val batch = assigned.filter(_._1 >= cut)
    val store = assigned.filter(_._1 < cut)
    // Scala recomputation: per batch vec, the in-cell stored matches
    // at the threshold, best first (ties to the lower store id)
    val expected = batch.sortBy(_._1).map { case (id, cell, nv) =>
      val near = store.filter(s => s._2 == cell)
        .map(s => (s._1, r6(dot(nv, s._3))))
        .filter(_._2 >= thr)
        .sortBy(t => (-t._2, t._1))
      if (near.isEmpty) (id, true, -1L, -1.0, 0L)
      else (id, false, near.head._1, near.head._2, near.length.toLong)
    }.toSeq
    val got = Similarity.incrementalSemanticAdmission(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSeq
    assert(got == expected)
    // partition law: one verdict per batch vec; admit XOR blocked
    assert(got.map(_._1) == batch.map(_._1).sorted.toSeq)
    got.foreach { case (id, admit, bm, c, n) =>
      assert(admit == (n == 0L), s"admit flag inconsistent for $id")
      if (admit) assert(bm == -1L && c == -1.0)
      else assert(bm >= 0L && c >= thr)
    }
    // the fixture must exercise BOTH outcomes
    assert(got.exists(_._2) && got.exists(!_._2))
    // batch atomicity (the d12 store-only semantic): probing the two
    // halves of the batch separately against the SAME store composes
    // to the whole-batch verdicts — batch vectors never see each other
    val eDf = spark.read.parquet(s"$sf/embeddings.parquet")
    val asgDf = Similarity.semanticStore(eDf).localCheckpoint()
    val storeDf = asgDf.filter(col("vec_id") < cut)
    val mid = (cut + emb.map(_._1).max) / 2
    val h1 = Similarity.incrementalSemanticAdmission(
      asgDf.filter(col("vec_id") >= cut && col("vec_id") < mid), storeDf, thr)
    val h2 = Similarity.incrementalSemanticAdmission(
      asgDf.filter(col("vec_id") >= mid), storeDf, thr)
    val composed = h1.unionByName(h2).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).sortBy(_._1).toSeq
    assert(composed == expected)
  }

  test("s34 auto-scaled quantizer: the occupancy dial resolves to the " +
       "pinned 8 cells at every oracle-compared SF, grows ∝ N past the " +
       "bound, and admission laws hold under a re-fit quantizer") {
    // the dial contract: pinned regime at gate/oracle corpus sizes,
    // cell count ∝ N beyond (occupancy 2^9 held)
    assert(Similarity.autoNCells(500) == 8)
    assert(Similarity.autoNCells(2000) == 8)    // sf0.1 — oracle-compared
    assert(Similarity.autoNCells(20000) == 32)  // sf1
    assert(Similarity.autoNCells(200000) == 512) // sf10
    assert(Similarity.autoNCells(2000000) == 4096)
    // a re-fit quantizer (k = 16 over this corpus — the scaled path's
    // machinery at gate size) still satisfies every admission law:
    // one verdict per batch vec, admit ≡ no in-cell match, store-only
    // probe, determinism across invocations
    val thr = Similarity.S34Threshold
    val eDf = spark.read.parquet(s"$sf/embeddings.parquet")
    val mx = eDf.agg(max("vec_id")).head.getLong(0)
    val cut = math.floor(mx * Similarity.S34SplitFrac).toLong
    val cents = Similarity.refitCells(spark, sf, 16)
    assert(cents.length == 16 && cents(0).length == 64)
    val asg = Similarity.semanticStoreAt(eDf, cents).localCheckpoint()
    // every vector lands in a valid cell
    val cells = asg.select("cell").distinct().collect().map(_.getInt(0))
    assert(cells.forall(c => c >= 0 && c < 16))
    assert(asg.count() == eDf.count())
    val verdicts = Similarity.incrementalSemanticAdmission(
      asg.filter(col("vec_id") >= cut), asg.filter(col("vec_id") < cut), thr)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSeq
    assert(verdicts.map(_._1) ==
      asg.filter(col("vec_id") >= cut).select("vec_id")
        .collect().map(_.getLong(0)).sorted.toSeq)
    verdicts.foreach { case (id, admit, bm, c, n) =>
      assert(admit == (n == 0L), s"admit flag inconsistent for $id")
      if (admit) assert(bm == -1L && c == -1.0) else assert(c >= thr)
    }
    // determinism: the memoized fit and a fresh serve agree
    val again = Similarity.incrementalSemanticAdmission(
      Similarity.semanticStoreAt(eDf, Similarity.refitCells(spark, sf, 16))
        .filter(col("vec_id") >= cut),
      asg.filter(col("vec_id") < cut), thr).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSeq
    assert(again == verdicts)
  }

  test("s29 index stats: conservation, imbalance >= 1000 with equality iff balanced") {
    val rep = Similarity.annIndexStats(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rep("n_vectors") == n, "every vector must land in a cell")
    assert(rep("min_cell") >= 1L && rep("max_cell") <= n)
    // Cauchy–Schwarz: n_cells·Σc² >= (Σc)², so the milli factor >= 1000
    assert(rep("imbalance_milli") >= 1000L)
    // histogram counts sum to n_cells
    val histSum = rep.collect {
      case (k, v) if k.startsWith("cells_log2_") => v }.sum
    assert(histSum == rep("n_cells"))
    // max_cell must at least reach the ceiling average
    assert(rep("max_cell") >= (n + rep("n_cells") - 1) / rep("n_cells"))
  }

  test("s40 lifecycle: boundary drift trips the PSI trigger, the " +
       "re-fit RECOVERS recall on the drifted queries, accounting ties") {
    import graft.operators.Pinned
    val m = Similarity.indexLifecycle(spark, sf,
        refit = Some(Pinned.s40Centroids)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m.size == 8)
    // the drift monitor fires: the boundary collapse is far above the
    // 0.1 action band at every SF (measured 0.20-0.31)
    assert(m(("1_drift", "psi_micro")) >= Similarity.S40PsiMinMicro)
    assert(m(("1_drift", "triggered")) == 1L)
    // compaction accounting ties to the fit frame
    assert(m(("2_refit", "n_fit")) ==
      m(("3_compact", "n_dead")) + m(("3_compact", "n_live")))
    assert(m(("3_compact", "n_dead")) > 0L, "tombstone rule vacuous")
    // THE lifecycle law: the re-fit recovers what the stale quantizer
    // loses on boundary clusters — and recovers it fully (the re-fit
    // centroids sit ON the drifted clusters, so nprobe=1 is exhaustive
    // for them; measured 583-791 → 1000 across SFs)
    assert(m(("4_serve", "recall_stale_milli")) < 1000L,
      "stale index not degraded — the drift fixture went vacuous")
    assert(m(("4_serve", "recall_refit_milli")) == 1000L)
    assert(m(("4_serve", "recovered")) == 1L)
  }
}
