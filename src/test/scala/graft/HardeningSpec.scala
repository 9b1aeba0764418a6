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
}
