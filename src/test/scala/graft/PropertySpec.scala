package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.functions.Hashing
import graft.operators.{Dedup, Multimodal, Normalize}

/** Property-based laws (SURVEY.md §5.3): partition-count invariance,
  * normalization round-trips, kernel determinism. Pure-JVM kernels are
  * checked with ScalaCheck generators (driven directly — the scalatest
  * bridge artifact isn't on the classpath); Spark-level invariances
  * with targeted repartitionings (a full generator per plan would spin
  * up hundreds of jobs for no extra coverage).
  */
class PropertySpec extends AnyFunSuite {

  /** `n` samples from the generator, from a fixed seed. */
  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    Iterator.iterate(org.scalacheck.rng.Seed(42L))(_.next).take(n)
      .flatMap(seed => gen.apply(Gen.Parameters.default, seed)).toSeq

  /** Minimal forAll: 100 samples from the generator. */
  private def forAll[A](gen: Gen[A])(f: A => Unit): Unit =
    samples(gen, 100).foreach(f)

  private lazy val spark = SparkSuite.session
  private val sf = "/root/testdata/sf0.001"

  // ---- kernel laws (no Spark needed) ----

  private val tokenGen = Gen.nonEmptyListOf(Gen.alphaNumStr.suchThat(_.nonEmpty))

  test("shingleHashes: deterministic, distinct, size = max(0, tokens-2) pre-dedup") {
    forAll(tokenGen) { toks =>
      val text = toks.mkString(" ")
      val a = Hashing.shingleHashes(text, 3)
      val b = Hashing.shingleHashes(text, 3)
      assert(a.toSeq == b.toSeq, "deterministic")
      assert(a.distinct.length == a.length, "de-duplicated")
      if (toks.length < 3) assert(a.isEmpty)
      else assert(a.length <= toks.length - 2 && a.nonEmpty)
    }
  }

  test("simhash of identical shingle multisets is identical; order-independent") {
    forAll(Gen.nonEmptyListOf(Gen.long)) { hs =>
      assert(Hashing.simhash64(hs) == Hashing.simhash64(hs.reverse))
    }
  }

  test("minhash band keys: permutation-invariant in shingle order, 16 bands") {
    forAll(Gen.nonEmptyListOf(Gen.long)) { hs =>
      val a = Hashing.minhashBandKeys(hs)
      val b = Hashing.minhashBandKeys(scala.util.Random.shuffle(hs))
      assert(a.toSeq == b.toSeq, "min over a set ignores order")
      assert(a.length == Hashing.Bands)
    }
  }

  test("identical docs collide in every band; decoder output is a distribution") {
    forAll(tokenGen.suchThat(_.length >= 3)) { toks =>
      val h = Hashing.shingleHashes(toks.mkString(" "), 3)
      assert(Hashing.minhashBandKeys(h).toSeq ==
        Hashing.minhashBandKeys(h).toSeq)
    }
    val d = new Multimodal.FakeDecoder
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { bytes =>
      val f = d.decode(bytes.toArray)
      assert(f.forall(x => x >= 0.0f && x <= 1.0f))
      assert(math.abs(f.sum - 1.0f) < 1e-4)
    }
  }

  // ---- Spark-level invariances ----

  test("aggregation results are partition-count invariant") {
    import spark.implicits._
    val base = Tables.t(spark, sf, "lineitem")
    def agg(n: Int) =
      base.repartition(n)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("q"))
        .orderBy("l_returnflag")
        .as[(String, Long, Double)].collect().toSeq
    assert(agg(1) == agg(7), "1 vs 7 partitions must agree")
  }

  test("normalize round-trip: to_json then normalizeJsonLines preserves scalars") {
    import spark.implicits._
    val lines = Seq(
      """[{"_id":"a","accountId":"1","amount":5,"notes":"n","extra":"drop-me"}]""",
      """[{"_id":"b","before":{"x":1},"after":{},"createdAt":"2024-01-01T00:00:00"}]""",
      """not json at all""").toDF("value")
    val out = Normalize.normalizeJsonLines(lines).collect()
    val byId = out.filter(!_.isNullAt(0)).map(r => r.getString(0) -> r).toMap
    assert(byId("a").getAs[String]("amount") == "5")
    assert(byId("a").schema.fieldNames.length == Normalize.whitelist.length,
      "non-whitelisted keys dropped")
    assert(byId("b").getAs[String]("before") == """{"x":1}""", "nested → JSON text")
    assert(byId("b").getAs[String]("after") == "", "empty object → empty string")
    assert(out.exists(_.isNullAt(0)), "malformed line survives as a null row")
  }

  test("topKPerGroup law: equals groupBy-sortBy-take on random data") {
    import spark.implicits._
    val rowGen = Gen.listOfN(120, for {
      g <- Gen.choose(0, 5)
      v <- Gen.choose(-50, 50)
      id <- Gen.choose(0L, 10000L)
    } yield (g, id, v))
    // a handful of random frames, not 100 — each sample is a Spark job
    val seed0 = org.scalacheck.rng.Seed(7L)
    Iterator.iterate(seed0)(_.next).take(5).foreach { seed =>
      rowGen.apply(Gen.Parameters.default, seed).foreach { rows =>
        val distinctRows = rows.distinct // (g, id) must be a unique sort key
        val df = distinctRows.toDF("g", "id", "v")
        val got = graft.plans.TopKPerGroup.topKPerGroup(df, Seq("g"),
            Seq("v" -> false, "id" -> true), 4)
          .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
          .sortBy(t => (t._1, t._2))
        val want = distinctRows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
          rs.sortBy { case (_, id, v) => (-v, id) }.take(4)
        }.map { case (g, id, v) => (g, id, v) }.sortBy(t => (t._1, t._2))
        assert(got.toSeq == want, s"seed $seed")
      }
    }
  }

  test("tokenShardAssignments law: exactly-once, exact cumsum packing " +
    "(plain-Scala recheck, engine-independent)") {
    import spark.implicits._
    val md5hex = { (id: Long) =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    val rows = (0L until 300L).map(i => (s"s${i % 3}", i, 1L + (i * 7) % 40))
    val df = rows.toDF("stratum", "id", "n")
    val got = graft.operators.Sampling
      .tokenShardAssignments(df, "stratum", "id", col("n"), budget = 100L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSeq
    // every row assigned exactly once
    assert(got.map(t => (t._1, t._2)).sorted ==
      rows.map(t => (t._1, t._2)).sorted, "exactly-once assignment")
    // recompute shards in plain Scala over the (md5(id), id) packing order
    val want = rows.groupBy(_._1).toSeq.flatMap { case (stratum, rs) =>
      val ordered = rs.sortBy { case (_, id, _) => (md5hex(id), id) }
      val cums = ordered.scanLeft(0L)(_ + _._3).tail
      ordered.zip(cums).map { case ((_, id, n), cum) =>
        (stratum, id, (cum - n) / 100L)
      }
    }
    assert(got.sorted == want.sorted, "shard = floor(start-offset / budget)")
  }

  test("quantizeInt8 law: bounds, sign preservation, determinism") {
    import spark.implicits._
    val vecGen = Gen.nonEmptyListOf(Gen.choose(-10.0, 10.0))
    forAll(vecGen) { v =>
      val q = Seq(v).toDF("v")
        .select(graft.operators.Similarity.quantizeInt8(col("v")).as("q"))
        .collect().head.getSeq[Double](0)
      assert(q.length == v.length)
      assert(q.forall(x => x >= -127.0 && x <= 127.0 && x == math.rint(x)),
        s"non-integer or out of int8 range: $q")
      v.zip(q).foreach { case (orig, quant) =>
        if (orig > 0) assert(quant >= 0.0) else if (orig < 0) assert(quant <= 0.0)
      }
      val m = v.map(math.abs).max
      if (m > 0) assert(q.map(math.abs).max == 127.0, "max element maps to ±127")
    }
  }

  test("repetition law: ratios in range, counts consistent") {
    val out = graft.operators.TextOps.repetition(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, d, dup, top) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(d >= 1 && d <= n)
      assert(dup >= 0.0 && dup < 1.0)
      assert(top > 0.0 && top <= 1.0)
      assert(math.abs(dup - math.floor((1.0 - d.toDouble / n) * 1e4 + 0.5) / 1e4) < 1e-12)
    }
  }

  // ---- connected components ----

  private type Edge = (Option[Long], Option[Long])

  /** Edge lists over a small node range, so self-loops are common,
    * with duplicate and reversed copies of earlier edges mixed in and
    * about one endpoint in ten null. */
  private val ccGraphGen: Gen[List[Edge]] = for {
    k <- Gen.chooseNum(1L, 12L)
    node = Gen.frequency(9 -> Gen.chooseNum(0L, k).map(Option(_)), 1 -> Gen.const(None))
    n <- Gen.chooseNum(0, 12)
    edges <- Gen.listOfN(n, Gen.zip(node, node))
    copies <- if (edges.isEmpty) Gen.const(Nil)
      else Gen.chooseNum(0, 4).flatMap(Gen.listOfN(_,
        Gen.oneOf(edges).flatMap(e => Gen.oneOf(e, e.swap))))
  } yield edges ++ copies

  /** Pure-Scala union-find: every endpoint, null included, to the
    * smallest node of its component (null to null). */
  private def ccReference(g: Seq[Edge]): Map[Option[Long], Option[Long]] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else find(p) }
    g.foreach {
      case (Some(a), Some(b)) =>
        val (ra, rb) = (find(a), find(b))
        parent(math.max(ra, rb)) = math.min(ra, rb)
      case _ =>
    }
    g.flatMap { case (a, b) => Seq(a, b) }.distinct.map(n => n -> n.map(find)).toMap
  }

  /** `connectedComponents` under the bound: its labels, one per row,
    * and its rounds. */
  private def ccLabels(g: Seq[Edge], bound: Long): (Seq[Edge], Int) = {
    import spark.implicits._
    val (labels, rounds) =
      Dedup.connectedComponents(g.toDF("src", "dst"), localEdgeThreshold = bound)
    def opt(v: Any) = Option(v).map(_.asInstanceOf[Long])
    (labels.collect().toSeq.map(r => (opt(r.get(0)), opt(r.get(1)))), rounds)
  }

  private def assertLabels(got: Seq[Edge], g: Seq[Edge], path: String): Unit = {
    val want = ccReference(g)
    assert(got.size == want.size && got.toMap == want,
      s"$path labels $got, union-find $want, graph $g")
  }

  /** Twelve sampled graphs and the empty one; their disjoint union
    * (graph i's nodes shifted by 100·i) runs the distributed loop once
    * for all of them. */
  private lazy val ccGraphs = samples(ccGraphGen, 12) :+ Nil
  private lazy val ccUnion = ccGraphs.zipWithIndex.flatMap { case (g, i) =>
    g.map { case (a, b) => (a.map(_ + 100L * i), b.map(_ + 100L * i)) }
  }

  test("connected-components law: driver path, distributed loop and a " +
       "pure-Scala union-find give the same labels") {
    assert(ccGraphs.exists(_.exists { case (a, b) => a.isEmpty || b.isEmpty }),
      "no null endpoint sampled")
    assert(ccGraphs.exists(_.exists { case (a, b) => a.nonEmpty && a == b }),
      "no self-loop sampled")
    assert(ccGraphs.exists(g => g.distinct.size < g.size), "no duplicate edge sampled")
    ccGraphs.foreach { g =>
      val (got, rounds) = ccLabels(g, 500000L)
      assert(rounds == 0, s"driver path ran $rounds rounds on $g")
      assertLabels(got, g, "driver path")
    }
    assertLabels(ccLabels(Nil, 0L)._1, Nil, "distributed loop")
    assertLabels(ccLabels(ccUnion, 0L)._1, ccUnion, "distributed loop")
  }

  test("connected-components gate: a bound equal to the pair-row count takes " +
       "the driver path, one below it the loop, with the same labels") {
    val n = ccUnion.size.toLong
    val (driver, driverRounds) = ccLabels(ccUnion, n)
    assert(driverRounds == 0, s"bound $n on $n rows left the driver path")
    assertLabels(driver, ccUnion, "driver path")
    val (loop, loopRounds) = ccLabels(ccUnion, n - 1)
    assert(loopRounds > 0, s"bound ${n - 1} on $n rows took the driver path")
    assertLabels(loop, ccUnion, "distributed loop")
  }

  // ---- small global sorts ----

  /** 40 rows of sort keys Spark orders specially: nulls, NaN, ±0.0 and
    * the infinities, and strings whose UTF-8 byte order differs from
    * their UTF-16 order (accents, a combining mark, CJK, a fullwidth
    * letter, an astral code point). Few distinct values, so ties are
    * common. */
  private val sortKeysGen: Gen[List[(Option[Double], Option[String])]] = Gen.listOfN(40, Gen.zip(
    Gen.frequency(1 -> Gen.const(None), 6 -> Gen.oneOf(Double.NaN, -0.0, 0.0, 1.5, -1.5,
      Double.PositiveInfinity, Double.NegativeInfinity).map(Option(_))),
    Gen.frequency(1 -> Gen.const(None), 6 -> Gen.oneOf("", "a", "A", "\u00e9", "e\u0301",
      "\u65e5\u672c", "\uff21", "\ud83d\ude00", "z").map(Option(_)))))

  /** One or both key columns in either order, each ascending or
    * descending with nulls first or last. */
  private val sortOrderGen: Gen[Seq[Column]] = for {
    keys <- Gen.oneOf(Seq("d"), Seq("s"), Seq("d", "s"), Seq("s", "d"))
    ways <- Gen.listOfN(keys.size, Gen.oneOf(Seq[Column => Column](
      _.asc_nulls_first, _.asc_nulls_last, _.desc_nulls_first, _.desc_nulls_last)))
  } yield keys.zip(ways).map { case (k, way) => way(col(k)) }

  test("small-sort law: on adversarial keys, the driver sort and the one-partition sort " +
       "return the range plan's order") {
    import spark.implicits._
    val cases = samples(Gen.zip(sortKeysGen, sortOrderGen), 10)
    val keys = cases.flatMap(_._1)
    assert(keys.exists(_._1.isEmpty) && keys.exists(_._1.exists(_.isNaN)) &&
      keys.exists(_._1.exists(d => d == 0.0 && 1 / d < 0)), "no null, NaN or -0.0 sampled")
    cases.foreach { case (rows, order) =>
      // a unique tiebreak makes the order total
      val data = rows.zipWithIndex.map { case ((d, str), id) => (d, str, id.toLong) }
        .toDF("d", "s", "id")
      for ((path, input) <- Seq("driver" -> data, "one partition" -> data.repartition(3))) {
        def sorted() = input.orderBy(order :+ col("id"): _*)
        val df = sorted()
        // Row.toString keeps -0.0 and NaN apart from 0.0 and each other
        val got = df.collect().map(_.toString).toSeq
        val want = SparkSuite.withRangeSorts(sorted().collect().map(_.toString).toSeq)
        assert(got == want, s"$path sort by $order")
        val plan = df.queryExecution.executedPlan
        assert(if (path == "driver") plan.isInstanceOf[LocalTableScanExec]
               else plan.toString.contains("OnePartition"), s"$path plan:\n$plan")
      }
    }
  }
}
