package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.VectorExprs.dot
import graft.operators.{Pca, PqModel, Similarity}

/** Dev tool: regenerate `graft/operators/Pinned.scala` — the literal
  * model fixtures behind the oracle-exact serve paths (s05 IVF
  * centroids, s09/s11 PQ codebooks, s10 IVFADC model, s13 OPQ rotation
  * and codebooks). Vectors are emitted as comma-joined strings parsed
  * at class-init (Double.toString round-trips exactly; string rows
  * keep each initializer far under the JVM 64KB method limit). Emits
  * the complete source file; redirect into place:
  * `sbt "runMain graft.tools.PinModelsTool" > .../Pinned.scala`. */
object PinModelsTool {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession()
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val normed = graft.Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id"), transform(col("v"), x => x / col("nrm")).as("v"))
      .localCheckpoint()
    val sample = PqModel.sampleVectors(normed, 4096)
    val pq = PqModel.fit(sample, m = 8, codebookSize = 32, iters = 3)
    val ivf = Similarity.fitCentroids(normed, k = 8, iters = 3)
    val ivfPq = PqModel.fit(sample, m = 8, codebookSize = 32, iters = 3,
      nCoarse = 8, coarseIters = 3)
    val rot = Pca.fit(normed, dim = 64, k = 64).components
    val opqBooks = PqModel.fit(
      PqModel.sampleVectors(Similarity.rotatedFrame(normed, rot, 8), 4096),
      m = 8, codebookSize = 32, iters = 3)
    val semCells = PqModel.lloyd(sample, 8, 3)
    // s03c anchor set: what lshPairs(nPlanes=4, bucketCap=8) selects —
    // xxhash64-sampled rows of each oversized bucket plus every bucket
    // min (Spark's xxhash64 is not DuckDB-replayable, so the oracle
    // replays this pinned list instead)
    val s03cAnchors = Similarity.lshAnchorIds(spark, dir, nPlanes = 4,
      bucketCap = 8).collect().map(_.getLong(0))
    // s40 re-fit centroids: Lloyd over the lifecycle fit frame
    // (store ∪ boundary-drifted batch); depends only on the data and
    // the ALREADY-pinned ivfCentroids (via the drift anchors)
    val s40 = Similarity.fitCentroids(Similarity.s40FitFrame(spark, dir),
      k = 8, iters = 3)

    def row(a: Array[Double]): String = "row(\"" + a.mkString(",") + "\")"
    def mat(a: Array[Array[Double]], ind: String): String =
      a.map(row).mkString(s"Array(\n$ind", s",\n$ind", ")")
    def books(b: Array[Array[Array[Double]]]): String =
      b.map(bk => mat(bk, "        ")).mkString("Array(\n      ", ",\n      ", ")")
    println(s"""package graft.operators
       |
       |/** Pinned model fixtures for the oracle-exact serve paths (the
       |  * t14 pinned-merges / s12 pinned-rotation discipline): fit ONCE
       |  * at sf0.01, embedded as literals, so the registered queries are
       |  * pure functions of their input that a DuckDB oracle replays term
       |  * by term. The FIT paths stay first-class (model = None re-fits
       |  * inline) and PinnedModelsSpec re-fits at sf0.01 and compares
       |  * against these literals. Rows are comma-joined strings parsed at
       |  * init: Double.toString round-trips exactly and each initializer
       |  * stays far under the JVM 64KB method limit. GENERATED - do not
       |  * edit by hand; regenerate with
       |  * `sbt "runMain graft.tools.PinModelsTool"`. */
       |object Pinned {
       |
       |  private def row(s: String): Array[Double] = s.split(',').map(_.toDouble)
       |
       |  /** s09/s11 PQ codebooks: m=8, codebookSize=32, sub=8, iters=3,
       |    * fit on the deterministic 4096-cap sample of the L2-normalized
       |    * sf0.01 embeddings (the sample IS the corpus there). The fit is
       |    * a pure function of the data (TakeOrdered sample + driver
       |    * Lloyd), so a re-fit must equal these literals EXACTLY. */
       |  lazy val pq: PqModel = PqModel(
       |    coarse = None,
       |    books = ${books(pq.books)})
       |
       |  /** s05 coarse k-means centroids: nCent=8, iters=3 over the full
       |    * L2-normalized sf0.01 corpus (distributed moment averages:
       |    * re-fits match to ~1e-9, partition-order ulps). */
       |  lazy val ivfCentroids: Array[Array[Double]] = ${mat(ivf, "    ")}
       |
       |  /** s10 IVFADC model: coarse nCoarse=8/coarseIters=3 + residual
       |    * codebooks m=8/k=32/iters=3, fit on the same deterministic
       |    * sample - exact-reproducible like [[pq]]. */
       |  lazy val ivfPq: PqModel = PqModel(
       |    coarse = Some(${mat(ivfPq.coarse.get, "      ")}),
       |    books = ${books(ivfPq.books)})
       |
       |  /** s13 OPQ rotation: the full 64-dim PCA basis of the normalized
       |    * sf0.01 corpus, canonical signs (largest-|entry| positive). */
       |  lazy val opqRotation: Array[Array[Double]] = ${mat(rot, "    ")}
       |
       |  /** s13 codebooks: fit on the deterministic sample of the ROTATED
       |    * frame - exact-reproducible given [[opqRotation]]. */
       |  lazy val opqBooks: PqModel = PqModel(
       |    coarse = None,
       |    books = ${books(opqBooks.books)})
       |
       |  /** s14 SemDeDup cells: kCells=8, iters=3 Lloyd over the same
       |    * deterministic sample - exact-reproducible like [[pq]]. */
       |  lazy val semCells: Array[Array[Double]] = ${mat(semCells, "    ")}
       |
       |  /** s40 re-fit centroids: nCent=8, iters=3 Lloyd over the
       |    * lifecycle fit frame (normalized sf0.01 corpus ∪ its
       |    * boundary-drifted s40 batch) — the quantizer the drift
       |    * trigger re-fits; distributed moment averages, so re-fits
       |    * match to ~1e-9 like [[ivfCentroids]]. */
       |  lazy val s40Centroids: Array[Array[Double]] = ${mat(s40, "    ")}
       |
       |  /** s03c anchor fixture: the anchor vec_id set
       |    * Similarity.lshPairs(nPlanes=4, bucketCap=8) selects on the
       |    * sf0.01 embeddings - every bucket's min vec_id plus the
       |    * xxhash64-sampled rows of oversized buckets. Pinned because
       |    * Spark's xxhash64 is not replayable in the DuckDB oracle; the
       |    * runtime selection must equal this list EXACTLY
       |    * (PinnedModelsSpec). */
       |  lazy val s03cAnchors: Array[Long] = Array(
       |    ${s03cAnchors.grouped(12).map(_.mkString(", ")).mkString(",\n       |    ")})
       |}""".stripMargin)
    // the s12 fixture lives in Pca.scala (plain Array literals, k=4 —
    // small enough for one initializer); printed after the Pinned.scala
    // body with a marker so a splice script can pick it up
    val pcaPin = Pca.fit(graft.Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v")),
      dim = 64, k = 4)
    def arr(a: Array[Double]): String = a.mkString("Array(", ", ", ")")
    println("// ---- paste into Pca.scala as Pca.pinnedModel ----")
    println(s"""  val pinnedModel: PcaModel = PcaModel(
       |    mean = ${arr(pcaPin.mean)},
       |    components = Array(
       |      ${pcaPin.components.map(arr).mkString(",\n      ")}),
       |    eigenvalues = ${arr(pcaPin.eigenvalues)})""".stripMargin)
    spark.stop()
  }
}
