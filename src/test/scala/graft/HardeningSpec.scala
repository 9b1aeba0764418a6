package graft

import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** Inputs the seed-42 fixture never has, and session config errors that
  * must fail loudly with the bound named. */
class HardeningSpec extends SparkSuite {
  import spark.implicits._

  test("a malformed spark.graft.fanoutMinBytes fails the load naming the key and the value") {
    val key = "spark.graft.fanoutMinBytes"
    for (bad <- Seq("64KiB", "-1", "")) {
      spark.conf.set(key, bad)
      try {
        val e = intercept[IllegalArgumentException](Tables.t(spark, sf, "region"))
        assert(!e.isInstanceOf[NumberFormatException], e)
        assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"), e.getMessage)
      } finally spark.conf.unset(key)
    }
    spark.conf.set(key, " 0 ")
    try assert(Tables.t(spark, sf, "region").count() > 0)
    finally spark.conf.unset(key)
  }

  test("SPARK_GRAFT_CPUS and SPARK_GRAFT_REPEAT fail naming the variable and the value below 1 or unparseable") {
    for ((name, parse) <- Seq[(String, Option[String] => Int)](
           "SPARK_GRAFT_CPUS" -> LocalSession.cores, "SPARK_GRAFT_REPEAT" -> Bench.repeats);
         bad <- Seq("abc", "0", "-2", "1.5", "")) {
      val e = intercept[IllegalArgumentException](parse(Some(bad)))
      assert(!e.isInstanceOf[NumberFormatException], e)
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
    assert(LocalSession.cores(None) == 4 && LocalSession.cores(Some(" 8 ")) == 8)
    assert(Bench.repeats(None) == 2 && Bench.repeats(Some("5")) == 5)
  }

  test("a malformed spark.graft.topk.maxPartialGroups fails the query naming the key and the value") {
    val key = "spark.graft.topk.maxPartialGroups"
    val rows = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("g", "v")
    for (bad <- Seq("abc", "-1", "")) {
      spark.conf.set(key, bad)
      try {
        val e = intercept[IllegalArgumentException](
          graft.plans.TopKPerGroup.topKPerGroup(rows, Seq("g"), Seq("v" -> true), 1).collect())
        assert(!e.isInstanceOf[NumberFormatException], e)
        assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$bad'"), e.getMessage)
      } finally spark.conf.unset(key)
    }
  }

  test("per-document encode counts tokenize like split(trim(text)): only ' ' is trimmed") {
    val docs = Seq((1L, "\tlower newer\n"), (2L, "  low  est "), (3L, "\r\nwidest \t"),
      (4L, "newest"), (5L, ""))
      .toDF("doc_id", "text")
    val (lefts, rights) = TextOps.pinnedMerges.unzip
    // the exploded column form the per-document kernel replaced
    val want = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(size(TextOps.applyMergesCol(col("w"), typedLit(lefts), typedLit(rights))))
          .cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(want.head == ((1L, 4L, want.head._3)), "a leading \\t and a trailing \\n are tokens")

    val bpe = TextOps.bpeEncodeWith(docs, "doc_id", "text", TextOps.pinnedMerges)
      .as[(Long, Long, Long)].collect().toSeq
    assert(bpe == want)
    val words = TextOps.unigramEncodeWith(docs, "doc_id", "text",
      TextOps.pinnedUnigramPieces, TextOps.pinnedUnigramScores)
      .select("doc_id", "n_words").as[(Long, Long)].collect().toSeq
    assert(words == want.map(w => (w._1, w._2)))
  }

  test("the per-task encode memo stops growing at its key-character bound, and counts still equal the column form") {
    // keys of 2^16 chars: the character bound holds fewer than 128 of
    // them, far under the entry bound
    val long = "x" * (1 << 16)
    val words = (0 until 160).map(i => s"$long$i")
    val memo = new TextOps.WordMemo
    val sizes = words.map { w =>
      assert(memo.getOrCompute(w, _.length.toLong) == w.length)
      memo.size
    }
    assert(memo.keyChars <= TextOps.MemoMaxKeyChars, memo.keyChars)
    assert(memo.size < words.size && sizes.drop(memo.size) == Seq.fill(words.size - memo.size)(memo.size),
      s"memo kept growing: ${sizes.takeRight(5)}")
    assert(memo.getOrCompute(words.last, _ => -1L) == -1L, "a word past the bound is computed, not held")
    assert(memo.getOrCompute(words.head, _ => -1L) == words.head.length, "a held word is not recomputed")

    // one task sees every word twice: once to fill the memo past its
    // bound, once more where the words it dropped are recomputed
    val docs = Seq((1L, words.mkString(" ")), (2L, words.reverse.mkString("\t "))).toDF("doc_id", "text")
      .coalesce(1)
    val k = TextOps.encodeCountsUdf(_.length.toLong)
    val got = docs.select(col("doc_id"), k(col("text")).as("k"))
      .select(col("doc_id"), col("k._1"), col("k._2")).orderBy("doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    val want = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .groupBy("doc_id").agg(count(lit(1)), sum(length(col("w"))).cast("long"))
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(got == want)
  }
}
