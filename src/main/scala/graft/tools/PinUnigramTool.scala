package graft.tools

/** Dev tool: re-derive the t29 pinned unigram-LM model — the t27
  * hard-EM fit at the gate SF, emitted as the (piece, final-round
  * count) literal pasted into `TextOps.pinnedUnigram`. Counts are
  * pinned as exact integers (scores re-derive as
  * ln((c+1)/(totC+|V|)) on BOTH engines), the same
  * fit-once/serve-many split as t14's pinnedMerges and the PQ
  * codebooks.
  *
  * Usage: runMain graft.tools.PinUnigramTool [sfDir]
  */
object PinUnigramTool {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.LocalSession()
    val docs = graft.Tables.t(spark, dir, "documents")
    val (pieces, counts) = graft.operators.TextOps.unigramEm(docs, "text")
    val entries = pieces.map(p => (p, counts.getOrElse(p, 0L)))
    println("  val pinnedUnigram: Seq[(String, Long)] = Seq(")
    println(entries.grouped(4).map(g =>
      "    " + g.map { case (p, c) =>
        "(\"" + p.replace("\\", "\\\\").replace("\"", "\\\"") + s"""", ${c}L)"""
      }.mkString(", ")).mkString(",\n"))
    println("  )")
    spark.stop()
  }
}
