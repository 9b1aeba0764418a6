package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product-quantization model state — the FIT-ONCE half of the ANN
  * lifecycle (Jégou et al., TPAMI 2011, §V-A: codebooks are trained on
  * a learning subset, not the indexed corpus): an optional coarse
  * quantizer (for the IVFADC composition) plus `m` per-subspace
  * codebooks.
  *
  * Scale shape: the fit consumes a BOUNDED deterministic sample
  * (`sampleVectors` — one TakeOrdered pass over the corpus, cap rows
  * collected) and runs Lloyd's entirely driver-side on that sample —
  * zero per-iteration Spark jobs, because k-means over ≤ a few
  * thousand sample vectors is microseconds of driver arithmetic while
  * each distributed iteration costs a full job round-trip (the r4
  * lesson: ~8 serial driver-synced fit jobs made s09 the suite's
  * slowest query). The model itself is m×k×(dim/m) (+ nCoarse×dim)
  * doubles — kilobytes — persisted with [[save]]/[[load]] so a 100 TB
  * deployment fits once, ships the model, and every serve-path query
  * ([[Similarity.annPq]]/[[Similarity.annIvfPq]] with `model = Some(…)`)
  * reads it without touching the fit path at all.
  *
  * Determinism: the sample order is (xxhash64(vec_id), vec_id) — a
  * pure function of the data; Lloyd init is the first k sample rows,
  * assignment ties break to the lowest centroid index, empty clusters
  * keep their previous centroid — the same conventions as the
  * distributed [[Similarity.fitCentroids]], so results are identical
  * across JVMs and sessions. */
case class PqModel(coarse: Option[Array[Array[Double]]],
                   books: Array[Array[Array[Double]]]) {
  def m: Int = books.length
  def sub: Int = books(0)(0).length
  def dim: Int = m * sub

  /** Persist as one tiny parquet: (kind, j, i, vec) rows — "book" rows
    * keyed by (subspace j, code i), "coarse" rows by centroid i. */
  def save(s: SparkSession, path: String): Unit = {
    import s.implicits._
    val coarseRows = coarse.toSeq.flatMap(_.zipWithIndex.map {
      case (c, i) => ("coarse", 0, i, c.toSeq)
    })
    val bookRows = for {
      (bk, j) <- books.zipWithIndex.toSeq
      (c, i) <- bk.zipWithIndex
    } yield ("book", j, i, c.toSeq)
    (coarseRows ++ bookRows).toDF("kind", "j", "i", "vec")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }
}

object PqModel {

  /** Deterministic bounded sample of the (vec_id, v, …) corpus frame:
    * the `cap` rows with the smallest (xxhash64(vec_id), vec_id) — a
    * pure function of the data, evaluated as ONE TakeOrdered pass
    * (per-partition top-cap, driver merge; no shuffle of the corpus).
    * At small SF (corpus ≤ cap) the sample IS the corpus. */
  def sampleVectors(corpus: DataFrame, cap: Int): Array[Array[Double]] =
    corpus.orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(cap).select("v").collect()
      .map(_.getSeq[Double](0).toArray)

  /** Fit on a driver-held sample. `nCoarse > 0` additionally fits a
    * coarse quantizer and trains the codebooks on RESIDUALS
    * (v − coarse centroid) — the IVFADC composition; `nCoarse = 0`
    * trains directly on the sample (plain PQ). */
  def fit(sample: Array[Array[Double]], m: Int, codebookSize: Int,
          iters: Int, nCoarse: Int = 0, coarseIters: Int = 3): PqModel = {
    require(sample.nonEmpty, "empty fit sample")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    require(sample.length >= math.max(codebookSize, nCoarse),
      s"sample ${sample.length} smaller than codebook $codebookSize / coarse $nCoarse")
    val sub = dim / m
    val (coarse, train) =
      if (nCoarse <= 0) (None, sample)
      else {
        val cents = lloyd(sample, nCoarse, coarseIters)
        val resid = sample.map { v =>
          val mu = cents(nearest(v, cents))
          Array.tabulate(dim)(i => v(i) - mu(i))
        }
        (Some(cents), resid)
      }
    val books = Array.tabulate(m) { j =>
      lloyd(train.map(_.slice(j * sub, (j + 1) * sub)), codebookSize, iters)
    }
    PqModel(coarse, books)
  }

  def load(s: SparkSession, path: String): PqModel = {
    val rows = graft.Tables.parquet(s, path).collect()
    def vecsOf(kind: String): Array[(Int, Int, Array[Double])] = rows
      .filter(_.getAs[String]("kind") == kind)
      .map(r => (r.getAs[Int]("j"), r.getAs[Int]("i"),
        r.getAs[scala.collection.Seq[Double]]("vec").toArray))
    val books = vecsOf("book").groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))
    val coarse = vecsOf("coarse").sortBy(_._2).map(_._3)
    PqModel(if (coarse.isEmpty) None else Some(coarse), books)
  }

  /** Nearest centroid by max 2⟨v,c⟩ − ‖c‖² (≡ min L2), first max wins —
    * the same scoring and tie-break as the distributed assignment. */
  private[operators] def nearest(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      var dotV = 0.0; var n2 = 0.0; var i = 0
      val cv = cents(c)
      while (i < cv.length) { dotV += v(i) * cv(i); n2 += cv(i) * cv(i); i += 1 }
      val score = 2.0 * dotV - n2
      if (score > bestScore) { bestScore = score; best = c }
      c += 1
    }
    best
  }

  /** Driver-side Lloyd's: init = first k sample rows, fixed iteration
    * count, empty clusters keep their previous centroid. */
  private[graft] def lloyd(xs: Array[Array[Double]], k: Int,
                               iters: Int): Array[Array[Double]] = {
    val dim = xs(0).length
    var cents = xs.take(k).map(_.clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      xs.foreach { v =>
        val c = nearest(v, cents)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(dim)(i => sums(c)(i) / counts(c))
      }
    }
    cents
  }
}
