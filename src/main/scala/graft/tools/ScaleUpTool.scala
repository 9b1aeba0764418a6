package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dev tool: derive an sf1 (10×) dataset from the driver's sf0.1
  * testdata for the scale-assurance bench — the driver ships
  * sf{0.001,0.01,0.1} only, and the 100 TB design claims need at least
  * one decade of measured scaling to stand on.
  *
  * Scheme: each fact row is replicated `factor`× with every PRIMARY and
  * FOREIGN key remapped `k → k·factor + copy`, so referential
  * integrity, join fan-out, and key-distribution shape are preserved
  * exactly (copy-c facts join copy-c dims). The fixed dimensions
  * (region/nation) are NOT scaled — as at any real SF — and their
  * foreign keys pass through unchanged.
  *
  * Content columns are deterministically perturbed so the derived
  * corpus scales like a bigger corpus, not like a 10×-duplicated one
  * (which would quadratically inflate every near-dup family and
  * measure the duplication artifact, not the engine):
  *  - documents.text: every 5th token of copy c>0 gets a `~c` suffix —
  *    shingle Jaccard vs the source doc falls to ~0.25, below every
  *    registered near-dup threshold, while exact-dup families inside
  *    the source corpus are faithfully replicated per copy;
  *  - embeddings.embedding: component d of copy c>0 is shifted by a
  *    hash-derived uniform in [-0.15, 0.15) — cosine to the source
  *    vector ≈ 0.8: "related corpus", not a dup blob;
  *  - customer.c_name: regenerated from the remapped key in the TPC-H
  *    format (`Customer#%09d`), so the fuzzy families (d13/d15) see
  *    factor× DISTINCT entities, not verbatim 10-copy name blobs.
  *
  * Usage: runMain graft.tools.ScaleUpTool [srcDir] [dstDir] [factor]
  * Defaults: /root/testdata/sf0.1 → ./testdata-sf1 ×10 (gitignored).
  */
object ScaleUpTool {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "testdata-sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.LocalSession()

    val copies = spark.range(factor).select(col("id").cast("int").as("copy"))
    def rep(name: String, keyCols: Seq[String])
           (post: DataFrame => DataFrame = identity): Unit = {
      val df = graft.Tables.t(spark, src, name)
      val scaled = keyCols.foldLeft(df.crossJoin(broadcast(copies))) {
        (acc, k) => acc.withColumn(k, col(k) * factor + col("copy"))
      }
      post(scaled).drop("copy")
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name x$factor -> $dst")
    }
    def copyThrough(name: String): Unit = {
      graft.Tables.t(spark, src, name).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name (fixed dim, copied) -> $dst")
    }

    copyThrough("region")
    copyThrough("nation")
    rep("customer", Seq("c_custkey")) { df =>
      // regenerate the TPC-H-format name from the REMAPPED key so the
      // derived corpus has factor× DISTINCT entities: replicating
      // c_name verbatim gave every source name a 10-copy distance-0
      // family and the fuzzy/near-dup queries (d13/d15) measured that
      // dup-blob artifact (~14× output at 10× data) instead of the
      // engine (FuzzyScaleProbe measured the honest variant at ~2.7×)
      df.withColumn("c_name",
        concat(lit("Customer#"),
          lpad(col("c_custkey").cast("string"), 9, "0")))
    }
    rep("supplier", Seq("s_suppkey"))()
    rep("part", Seq("p_partkey"))()
    rep("orders", Seq("o_orderkey", "o_custkey"))()
    rep("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))()
    rep("events", Seq("event_id", "user_id"))()
    rep("documents", Seq("doc_id")) { df =>
      // perturb copy>0 text: every 5th token suffixed with ~copy so
      // shingle overlap with the source doc drops below the near-dup
      // thresholds (see scaladoc)
      df.withColumn("text",
        when(col("copy") === 0, col("text")).otherwise(
          concat_ws(" ", zip_with(
            split(col("text"), " "),
            sequence(lit(0), size(split(col("text"), " ")) - 1),
            (tok, i) => when(i % 5 === 0,
              concat(tok, lit("~"), col("copy").cast("string"))).otherwise(tok)))))
    }
    rep("embeddings", Seq("vec_id")) { df =>
      // hash-derived deterministic noise per (vec_id, copy, dim):
      // uniform in [-0.15, 0.15), zero for copy 0
      df.withColumn("embedding",
        when(col("copy") === 0, col("embedding")).otherwise(
          zip_with(col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1),
            (x, d) => (x + (pmod(xxhash64(col("vec_id"), col("copy"), d), lit(30000L))
              .cast("double") / 100000.0 - 0.15).cast("float")).cast("float"))))
    }
    spark.stop()
  }
}
