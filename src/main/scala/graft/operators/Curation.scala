package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t

/** End-to-end corpus curation: the composition a training-data user
  * actually runs — quality filter → exact dedup → train/val/test split
  * — chained from the library's own operators, reported as a funnel of
  * counts per stage. Every stage is a narrow transform or a single
  * hash-shuffle; the funnel is what you'd watch in production to catch
  * a filter suddenly eating the corpus. */
object Curation {

  def curationFunnel(s: SparkSession, dir: String,
                     qualityMin: Double = 0.5): DataFrame = {
    val quality = TextOps.qualityScore(s, dir).select(col("doc_id"), col("quality"))
    // localCheckpoint: the funnel's four count branches all re-read this
    // subtree; blocks are auto-released when the returned plan is GC'd
    // (cache() entries would accumulate across invocations)
    val docs = t(s, dir, "documents")
      .join(quality, "doc_id")
      .withColumn("fp",
        md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))))
      .localCheckpoint(eager = false)
    val passing = docs.filter(col("quality") >= qualityMin)
    val keepers = passing.groupBy("fp").agg(min("doc_id").as("doc_id"))
    val split = Sampling.deterministicSplit(keepers, "doc_id")

    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("stage"), col("n"))

    stage("1_raw", docs)
      .unionByName(stage("2_quality_pass", passing))
      .unionByName(stage("3_dedup_keepers", keepers))
      .unionByName(
        split.groupBy("split").agg(count(lit(1)).as("n"))
          .select(concat(lit("4_"), col("split")).as("stage"), col("n")))
      .orderBy("stage")
  }

  /** x11: hashed-feature importance weights — the DSIR recipe
    * (Data Selection via Importance Resampling, arXiv:2302.03169):
    * score every document by how much more its token distribution
    * looks like a TARGET domain than the raw corpus, so a later
    * sampler can resample the crawl toward the target. Features are
    * hashed unigrams (md5 hex prefix → 256 buckets, the same
    * engine-portable bucketing as x03); per-bucket log-likelihood
    * ratios use add-0.5 smoothing; a document's weight is
    * Σ_f c_f · λ_f over its feature counts.
    *
    * Determinism at any scale: λ_f is rounded to MICROS (an int64)
    * before the per-doc sum, so the aggregation is pure integer
    * arithmetic — reassociable, partitioning-independent, and
    * oracle-exact — instead of a float sum whose value depends on
    * combine order. At 100 TB: one explode → bucket-count aggregate
    * (256 groups, conditional target count in the same pass), the
    * 256-row λ table broadcast, one (doc, bucket) aggregate, one
    * per-doc sum — no join ever carries the corpus on both sides. */
  def dsirWeights(s: SparkSession, dir: String): DataFrame =
    importanceWeights(t(s, dir, "documents"), "doc_id", "text",
      col("lang") === "en")

  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
                        targetPred: Column): DataFrame = {
    val nBuckets = 256 // 2 hex digits; fixed so smoothing constants are literals
    val fb = docs
      .select(col(idCol), targetPred.as("is_target"),
        explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .select(col(idCol), col("is_target"),
        substring(md5(col("w")), 1, 2).as("f"))
    val buckets = fb.groupBy("f").agg(
      count(lit(1)).as("n_raw"),
      sum(when(col("is_target"), 1L).otherwise(0L)).as("n_tgt"))
    val tot = buckets.agg(
      sum("n_raw").cast("double").as("r_total"),
      sum("n_tgt").cast("double").as("t_total"))
    val lam = buckets.crossJoin(broadcast(tot))
      .select(col("f"),
        floor(log(
          ((col("n_tgt").cast("double") + lit(0.5)) /
            (col("t_total") + lit(0.5 * nBuckets))) /
          ((col("n_raw").cast("double") + lit(0.5)) /
            (col("r_total") + lit(0.5 * nBuckets)))) * lit(1e6) + lit(0.5))
          .cast("bigint").as("lam_micro"))
    val perDoc = fb.groupBy(col(idCol), col("f")).agg(count(lit(1)).as("c"))
    perDoc.join(broadcast(lam), "f")
      .groupBy(idCol)
      .agg(sum("c").as("n_tokens"),
        sum(col("c") * col("lam_micro")).as("weight_micro"))
      .orderBy(idCol)
  }

  /** Pinned micro-scaled linear weights over the 256 hashed-feature
    * buckets — a pure function of the bucket index (SplitMix64), the
    * fixture standing in for a TRAINED fastText/logistic-regression
    * quality model (the CCNet/GPT-3 quality-filter pass serves exactly
    * this artifact; swap in real trained weights and nothing else in
    * the plan moves — the Pinned-model discipline). Values in
    * [-1000, 1000] micros. */
  lazy val qualityModelMicro: Array[Long] =
    Array.tabulate(256) { b =>
      val h = Dedup.splitmix64(b.toLong * 2654435761L + 17L)
      ((h % 2001L) + 2001L) % 2001L - 1000L
    }

  /** x15: quality-classifier SERVING — score every document with a
    * linear model over hashed bag-of-words features (the fastText
    * recipe: f = md5-hex-prefix bucket, the x11/x03 engine-portable
    * bucketing; score = Σ_f c_f·w_f). This is the other half of the
    * x11 story: x11 ESTIMATES per-bucket log-ratios from data, x15
    * SERVES a fixed model at corpus scale — the pass that decides
    * keep/drop for every crawl document in the published pipelines.
    *
    * Determinism and scale: the weights ride in the plan as a 256-long
    * LITERAL array (`element_at` — no join, not even a broadcast), the
    * per-doc reduction is pure int64 micro arithmetic (reassociable ⇒
    * partitioning-independent), the keep verdict compares the INTEGER
    * sum against zero (no float boundary), and only the reported
    * per-token mean score is a float — one fixed-order division chain,
    * r4-floored. Cost at 100 TB: one explode + two hash aggregates —
    * scan-bound, no shuffle carries text. */
  def qualityClassifier(s: SparkSession, dir: String): DataFrame =
    qualityClassifier(t(s, dir, "documents"), "doc_id", "text",
      qualityModelMicro)

  def qualityClassifier(docs: DataFrame, idCol: String, textCol: String,
                        wMicro: Array[Long]): DataFrame = {
    require(wMicro.length == 256, s"expected 256 weights, got ${wMicro.length}")
    val fb = docs
      .select(col(idCol), explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .select(col(idCol),
        conv(substring(md5(col("w")), 1, 2), 16, 10).cast("int").as("f"))
    fb.groupBy(col(idCol), col("f")).agg(count(lit(1)).as("c"))
      .select(col(idCol), col("c"),
        element_at(typedlit(wMicro.toSeq), col("f") + 1).as("wm"))
      .groupBy(idCol)
      .agg(sum("c").as("n_tokens"),
        sum(col("c") * col("wm")).as("score_micro"))
      .withColumn("score", TextOps.r4(
        col("score_micro").cast("double") / lit(1e6) /
          col("n_tokens").cast("double")))
      .withColumn("keep", col("score_micro") > 0)
      .select(idCol, "n_tokens", "score_micro", "score", "keep")
      .orderBy(idCol)
  }

  /** x26 fit hyper-parameters — single-sourced into both dialect
    * replays (the X24ContaminationMin discipline). Rounds is the
    * fixed unrolled iteration count (the t13 precedent); LrDen is the
    * inverse learning rate (η = 1/(n·LrDen)): GD needs
    * η < 2/λ_max(XᵀX), and on the milli-normalized design matrix
    * λ_max/(2n) measures ≈ 16.3k across sf0.001/0.01/0.1 (a property
    * of the token distribution, not the corpus size — it's the
    * per-row Gram scale), so 20000 clears it with margin at any SF;
    * LabelMin is the t02-quality label threshold — compared on the
    * r4-FLOORED quality so the boundary is engine-exact; Scale is
    * the micro target for the positive class. */
  val X26Rounds: Int = 6
  val X26LrDen: Long = 20000L
  val X26LabelMin: Double = 0.78
  val X26Scale: Long = 1000000L

  /** x26s keep threshold: the midpoint of the 0/[[X26Scale]] fit
    * targets — the natural decision boundary for a squared-loss
    * 0/1 regressor. */
  val X26KeepMin: Long = X26Scale / 2

  /** The x26 training labels: the CCNet/GPT-3 discipline labels crawl
    * documents by a REFERENCE quality signal and fits a cheap hashed
    * bag-of-words model to serve at corpus scale; here the reference
    * signal is the library's own t02 heuristic, thresholded at
    * [[X26LabelMin]] on the r4-floored quality (engine-exact in both
    * dialects). */
  private[graft] def qualityLabels(s: SparkSession, dir: String): DataFrame =
    TextOps.qualityScore(s, dir).select(col("doc_id"),
      when(col("quality") >= X26LabelMin, 1L).otherwise(0L).as("y"))

  /** x26: quality-classifier TRAINING — the fit half of x15
    * (which serves a pinned fixture): a linear model over the same 256
    * md5-prefix hashed bag-of-words features, fit by [[X26Rounds]]
    * rounds of full-batch gradient descent on squared loss against
    * micro-scaled 0/1e6 targets. The rounds run on the driver over
    * corpus-free sufficient statistics (ONE distributed aggregation —
    * see [[qualityFitTrajectoryFrom]]); each round's update is
    * w_f ← w_f − ⌊g_f / (n·LrDen)⌋ with g = G·w − S·b, bit-identical
    * to the formerly-distributed per-round passes.
    *
    * Determinism: feature counts, scores, residuals, and gradients
    * are exact int64 arithmetic (reassociable ⇒ partitioning-
    * independent); the only float op per round is the single
    * ⌊g·1.0/(n·LrDen)⌋ division — the same IEEE double op in both
    * engines (the x20 discipline), exact while |g| < 2⁵³ (holds to
    * ~10⁹ docs/bucket; beyond that a production fit runs on a bounded
    * sample, the Lloyd/PCA model-fit discipline). The DuckDB oracle
    * unrolls all [[X26Rounds]] rounds as CTEs (the t13 precedent), so
    * the whole training trajectory is re-derived from the raw corpus.
    *
    * Returns (weights after each round, squared-loss at each weight
    * vector including w⁰ and the final w — rounds+1 entries). */
  /** The x26 feature frame: per-(doc, bucket) MILLI-NORMALIZED token
    * counts — cm = ⌊c·1000 / n_tok⌋, the fastText averaging
    * discipline as exact integer arithmetic (positive integer
    * division is the same truncation in both engines, no IEEE op).
    * Normalization is what makes the fit work: on RAW counts the
    * Gram matrix's dominant eigendirection is document LENGTH, which
    * carries no label signal — measured on this corpus, raw-count GD
    * plateaus at the base rate (~0.56 accuracy) while the normalized
    * fit reaches 0.90 at sf0.01 in [[X26Rounds]] rounds against an
    * LS ceiling of ~0.95. */
  private[graft] def x26Features(docs: DataFrame, idCol: String,
                                 textCol: String): DataFrame = {
    val counts = docs
      .select(col(idCol), explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .select(col(idCol),
        conv(substring(md5(col("w")), 1, 2), 16, 10).cast("int").as("f"))
      .groupBy(col(idCol), col("f")).agg(count(lit(1)).as("craw"))
    val tot = counts.groupBy(col(idCol)).agg(sum("craw").as("ntok"))
    counts.join(tot, Seq(idCol))
      .select(col(idCol), col("f"), col("ntok"),
        expr("(craw * 1000) div ntok").as("c"))
  }

  private[graft] def qualityFitTrajectory(docs: DataFrame, idCol: String,
      textCol: String, labels: DataFrame,
      rounds: Int = X26Rounds): (Seq[Array[Long]], Seq[Long]) =
    qualityFitTrajectoryFrom(x26Features(docs, idCol, textCol), idCol,
      labels, rounds)

  /** The fit over a pre-built [[x26Features]] frame — lets the serve
    * path share one feature pass between fit and serve within a single
    * invocation (never across invocations: no session state).
    *
    * r17 optimization (guide §1.2 step 1 — remove passes): squared
    * loss over a LINEAR model has corpus-free sufficient statistics,
    * so the whole trajectory needs ONE distributed aggregation, not
    * 2 passes per round. With s_id = Σ_f c·w_f and e_id = s_id − y·S:
    *   gradient  g_f  = Σ_id c_f·e_id   = (G·w)_f − S·b_f
    *   loss      Σe²  = wᵀG w − 2S·wᵀb + S²·Σy²
    * where G[f][f'] = Σ_id c_f·c_f' (the 256×256 Gram matrix),
    * b_f = Σ_id c_f·y. All are exact int64 sums — the identities are
    * pure integer reassociation/distribution, so every round's w and
    * loss are BIT-IDENTICAL to the unrolled per-round passes (the
    * CorpusOpsSpec pure-Scala replay pins this; driver intermediates
    * use BigInt so the reassociated dot products cannot overflow where
    * the distributed sums would not have). ONE self-join aggregation
    * computes everything — two augmented pseudo-features carry the
    * label moments (f=256 ⇒ c=y gives b, Σy², n·y-cross; f=257 ⇒ c=1
    * gives n) — and the collect is MODEL-state-sized (258² cells,
    * ~2 MB) at any corpus scale, the t13/Lloyd discipline. Per-doc
    * map-side work is k² products (k = distinct buckets/doc, ≤ 256;
    * measured k≈23 on this corpus), fully map-side-aggregated into
    * ≤258² groups, vs 2·rounds corpus-sized shuffles before — at
    * 100 TB the fit is one linear scan + one bounded shuffle. */
  private[graft] def qualityFitTrajectoryFrom(feats: DataFrame, idCol: String,
      labels: DataFrame,
      rounds: Int = X26Rounds): (Seq[Array[Long]], Seq[Long]) = {
    // lazy localCheckpoint (r18, ADVICE r17): aug embeds pd in three
    // union branches and the self-join references aug twice, so the
    // UNcheckpointed feature-explode + label lineage re-executed up to
    // ~6× inside the one Gram aggregation; persisting pd makes "ONE
    // distributed aggregation" also mean one feature/label pass
    val pd = feats
      .join(labels.select(col(idCol), col("y").cast("long").as("y")),
        Seq(idCol))
      .localCheckpoint(eager = false)
    val ids = pd.select(col(idCol).as("id"), col("y")).distinct()
    val aug = pd.select(col(idCol).as("id"), col("f"), col("c").cast("long").as("c"))
      .unionByName(ids.select(col("id"), lit(256).as("f"), col("y").as("c")))
      .unionByName(ids.select(col("id"), lit(257).as("f"), lit(1L).as("c")))
    val l = aug.select(col("id"), col("f").as("fl"), col("c").as("cl"))
    val r = aug.select(col("id"), col("f").as("fr"), col("c").as("cr"))
    val cells = l.join(r, Seq("id"))
      .groupBy(col("fl"), col("fr"))
      .agg(sum(col("cl") * col("cr")).as("s"))
      .collect()
    val S = Array.ofDim[Long](258, 258)
    cells.foreach(row => S(row.getInt(0))(row.getInt(1)) = row.getLong(2))
    val n = S(257)(257)             // Σ_id 1
    val sy2 = BigInt(S(256)(256))   // Σ_id y²
    val scale = BigInt(X26Scale)
    def toLongExact(v: BigInt, what: String): Long = {
      require(v.isValidLong, s"x26 $what overflows int64: $v")
      v.toLong
    }
    var w = Array.fill(256)(0L)
    val ws = Seq.newBuilder[Array[Long]]
    val losses = Seq.newBuilder[Long]
    def lossOf(wCur: Array[Long]): Long = {
      // wᵀGw − 2S·wᵀb + S²·Σy², exact
      var wGw = BigInt(0); var wb = BigInt(0)
      var f = 0
      while (f < 256) {
        if (wCur(f) != 0L) {
          var f2 = 0; var acc = BigInt(0)
          while (f2 < 256) {
            if (wCur(f2) != 0L) acc += BigInt(S(f)(f2)) * wCur(f2)
            f2 += 1
          }
          wGw += BigInt(wCur(f)) * acc
          wb += BigInt(wCur(f)) * S(f)(256)
        }
        f += 1
      }
      toLongExact(wGw - 2 * scale * wb + scale * scale * sy2, "loss")
    }
    for (_ <- 1 to rounds) {
      losses += lossOf(w)
      val g = Array.tabulate(256) { f =>
        var f2 = 0; var acc = BigInt(0)
        while (f2 < 256) {
          if (w(f2) != 0L) acc += BigInt(S(f)(f2)) * w(f2)
          f2 += 1
        }
        toLongExact(acc - scale * S(f)(256), "gradient")
      }
      w = Array.tabulate(256)(f =>
        w(f) - math.floor(g(f) * 1.0 / (n * X26LrDen)).toLong)
      ws += w
    }
    losses += lossOf(w)
    (ws.result(), losses.result())
  }

  /** The fitted weight vector (final round). Computed fresh on every
    * call — no session memo: a timed query must pay its own fit (the
    * r17 honesty rule; the sufficient-statistics fit above makes the
    * honest cost one aggregation, so there is nothing worth caching). */
  def qualityFitWeights(s: SparkSession, dir: String): Array[Long] =
    qualityFitTrajectory(t(s, dir, "documents"), "doc_id", "text",
      qualityLabels(s, dir))._1.last

  /** Persist a fitted quality model as one tiny parquet — (f, w_micro)
    * rows, the [[PqModel.save]] discipline for the classifier family:
    * a 100 TB deployment fits ONCE, ships the 256-long model, and
    * every serve-path query reads it without touching the fit path.
    * Round-trip is exact (int64 columns, no float re-encoding). */
  def saveQualityModel(s: SparkSession, w: Array[Long], path: String): Unit = {
    import s.implicits._
    require(w.length == 256, s"expected 256 weights, got ${w.length}")
    w.toSeq.zipWithIndex.map { case (wm, f) => (f, wm) }
      .toDF("f", "w_micro")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted quality model (inverse of [[saveQualityModel]]). */
  def loadQualityModel(s: SparkSession, path: String): Array[Long] = {
    val rows = graft.Tables.parquet(s, path).select("f", "w_micro").collect()
    require(rows.length == 256, s"expected 256 model rows, got ${rows.length}")
    val w = new Array[Long](256)
    rows.foreach(r => w(r.getAs[Int]("f")) = r.getAs[Long]("w_micro"))
    w
  }

  /** Fit → persist → load, all within ONE invocation (fresh temp dir,
    * deleted after the load — the x27 outDir lesson; no session store:
    * every invocation re-derives the model from the parquet inputs).
    * The save/load round-trip stays on the registered x26s path so the
    * lifecycle law (load(save(w)) = w, serve-from-store ≡ fit-inline)
    * is exercised every run at its true price: 256 int64 rows. */
  private def fitPersistLoad(s: SparkSession, w: Array[Long]): Array[Long] = {
    val root = java.nio.file.Files.createTempDirectory("graft_quality_model_")
    val p = root.resolve("m").toString
    try {
      saveQualityModel(s, w, p)
      loadQualityModel(s, p)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  /** x26 registered face: the fitted model itself — one row per
    * hashed-feature bucket, weights in micros. 256 rows at any corpus
    * scale (the model, not the corpus, is the output). */
  def qualityFit(s: SparkSession, dir: String): DataFrame = {
    val fin = qualityFitWeights(s, dir)
    s.range(256).select(col("id").cast("int").as("f"),
        element_at(typedlit(fin.toSeq), col("id").cast("int") + 1)
          .as("w_micro"))
      .orderBy("f")
  }

  /** x26s registered face: x15's serve machinery (hashed-bag linear
    * scorer, plan-literal weights via `element_at`, pure-int64
    * reduction, same output contract) running THE FITTED weights over
    * THE FIT features — fit-once/serve-many closed in-engine. The one
    * deliberate delta vs x15: features are the x26 milli-normalized
    * counts (a model must be served on the features it was fit on)
    * and `keep` thresholds at the fitted midpoint [[X26KeepMin]]
    * instead of zero — `score` is the model's ŷ directly (the
    * normalization already divides by length, so x15's per-token
    * division would double-normalize). The oracle chains the x26
    * unrolled-fit CTEs into this serve tail, so neither half can
    * drift from its registered member.
    *
    * Serves THROUGH a persisted model (fit → save → load → serve, all
    * inside this invocation — the s11/PqModel lifecycle closed for the
    * classifier family, with no session state). load(save(w)) = w
    * exactly (int64 round-trip), so the registered hash is identical
    * to the fit-inline form — the law CorpusOpsSpec pins. The feature
    * frame is built ONCE and shared between fit and serve via
    * localCheckpoint (intra-invocation reuse only — guide §2.4, one
    * kernel pass for two consumers). */
  def qualityFitServe(s: SparkSession, dir: String): DataFrame = {
    // lazy (r18): the Gram-aggregation collect materializes the blocks;
    // the serve tail then reads them. Blocks are released by
    // ContextCleaner once the returned plan is GC'd (the minhashLsh
    // note) — session-lifetime retention is bounded by plan lifetime,
    // not the session (ADVICE r17 item 4).
    val feats = x26Features(t(s, dir, "documents"), "doc_id", "text")
      .localCheckpoint(eager = false)
    val w = qualityFitTrajectoryFrom(feats, "doc_id",
      qualityLabels(s, dir))._1.last
    normalizedClassifierOn(feats, "doc_id", fitPersistLoad(s, w))
  }

  /** The x26-feature serve path: x15's scorer shape over
    * [[x26Features]]. Same scale economics as x15 — one explode, two
    * hash aggregates, weights as a 256-long plan literal, no join on
    * the keep path. */
  private[graft] def normalizedClassifier(docs: DataFrame, idCol: String,
      textCol: String, wMicro: Array[Long]): DataFrame =
    normalizedClassifierOn(x26Features(docs, idCol, textCol), idCol, wMicro)

  /** [[normalizedClassifier]] over a pre-built [[x26Features]] frame
    * (the serve path shares one feature pass with the fit). */
  private[graft] def normalizedClassifierOn(feats: DataFrame, idCol: String,
      wMicro: Array[Long]): DataFrame = {
    require(wMicro.length == 256, s"expected 256 weights, got ${wMicro.length}")
    feats
      .select(col(idCol), col("ntok"), col("c"),
        element_at(typedlit(wMicro.toSeq), col("f") + 1).as("wm"))
      .groupBy(idCol)
      .agg(max("ntok").as("n_tokens"), // ntok is per-doc constant
        sum(col("c") * col("wm")).as("score_micro"))
      .withColumn("score",
        TextOps.r4(col("score_micro").cast("double") / lit(1e6)))
      .withColumn("keep", col("score_micro") >= X26KeepMin)
      .select(idCol, "n_tokens", "score_micro", "score", "keep")
      .orderBy(idCol)
  }

  /** x12: curriculum quality bins — order the corpus by the t02
    * quality score and cut it into `nBins` equal-population tiers (the
    * easy→hard schedule curriculum training consumes; also the
    * quantile view ablation studies slice on). The global rank is NOT
    * a single-task `Window.orderBy`: scores bucket by `floor(q·16)`
    * (a prefix of the sort order, since quality ∈ [0,1]), each bucket
    * ranks locally, and a broadcast 17-row offset table splices the
    * buckets into one exact global numbering — the x03/x10 two-phase
    * discipline applied to ranking, so the hot path is one window per
    * score-bucket at any corpus size. Ties rank by doc_id, so the
    * result is total-ordered and oracle-exact. */
  def curriculumBins(s: SparkSession, dir: String, nBins: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = TextOps.qualityScore(s, dir).select(col("doc_id"),
      col("quality").as("score"))
    val narrow = q.withColumn("bucket",
      floor(col("score") * lit(16)).cast("int"))
    val offsets = narrow.groupBy("bucket").agg(count(lit(1)).as("part_n"))
      .withColumn("offset", coalesce(
        sum("part_n").over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "offset")
    val nTotal = narrow.agg(count(lit(1)).as("n_total"))
    val wLocal = Window.partitionBy("bucket")
      .orderBy(col("score").asc, col("doc_id").asc)
    narrow
      .withColumn("local_rk", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), Seq("bucket"))
      .crossJoin(broadcast(nTotal))
      .withColumn("rk", col("offset") + col("local_rk"))
      .select(col("doc_id"), col("score").as("quality"), col("rk"),
        expr(s"((rk - 1) * $nBins) div n_total").as("bin"))
      .orderBy("doc_id")
  }

  /** v06: dedup-impact report — the governance number a data lead
    * reads before signing off a corpus release: for each dedup family
    * the library ships, how many documents it would touch and how many
    * tokens it would remove. One row per stage, independent accounting
    * (the stages are alternative lenses on the same corpus, not a
    * sequential pipeline):
    *
    *  - `exact_dedup` (d01's rule): the non-keeper copies per
    *    content-fingerprint family; tokens = their full bodies;
    *  - `near_dedup` (d03→d05→d08's rule at τ=0.7): cluster members
    *    minus the keep-best keepers; tokens = the non-keepers' bodies;
    *  - `span_dedup` (t26's rule): documents with any duplicated-span
    *    coverage; tokens = total covered tokens (Lee et al.'s corpus
    *    duplication number — every occurrence counts, the upper bound
    *    a keep-first splice would approach).
    *
    * Every stage is a global aggregate (the q35 lesson: empty stages
    * still emit their 0 row). Scale: exact/span are the d01/t26 shapes
    * verbatim; near carries the documented d03 quadratic-oracle
    * contract — at 100 TB it runs over d10's LSH-sourced clusters
    * instead (same downstream accounting). */
  def dedupImpact(s: SparkSession, dir: String): DataFrame =
    dedupImpact(t(s, dir, "documents"), "doc_id", "text")

  def dedupImpact(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(idCol).as("doc_id"),
        Sampling.contentFp(col(textCol)).as("fp"),
        size(split(trim(col(textCol)), "\\s+")).cast("long").as("n_tokens"),
        col("n_chars"))
      .localCheckpoint(eager = false) // feeds the exact stage AND the near join-back
    def staged(name: String, affected: Column, removed: Column,
               src: DataFrame): DataFrame =
      src.agg(coalesce(affected, lit(0L)).as("docs_affected"),
          coalesce(removed, lit(0L)).as("tokens_removed"))
        .select(lit(name).as("stage"), col("docs_affected"),
          col("tokens_removed"))
    val exact = staged("exact_dedup",
      sum(when(col("rk") > 1, 1L).otherwise(0L)),
      sum(when(col("rk") > 1, col("n_tokens")).otherwise(0L)),
      base.withColumn("rk", row_number().over(
        Window.partitionBy("fp").orderBy(asc("doc_id")))))
    // unordered pair frame: the CC checkpoint would materialize the
    // presentation sort nothing reads (the d07/d09 lesson)
    val clusters = Dedup.dupClusters(
      Dedup.ngramJaccardUnordered(docs, idCol, textCol, 0.7))
    val keepers = Dedup.keepBestFrom(clusters,
      base.select(col("doc_id"), col("n_chars")))
    val near = staged("near_dedup",
      sum(when(col("doc_id") =!= col("kept_doc_id"), 1L).otherwise(0L)),
      sum(when(col("doc_id") =!= col("kept_doc_id"), col("n_tokens"))
        .otherwise(0L)),
      clusters.join(keepers, "cluster").join(base, "doc_id"))
    val span = staged("span_dedup",
      sum(when(col("covered_tokens") > 0, 1L).otherwise(0L)),
      sum(col("covered_tokens")),
      TextOps.spanCoverage(docs, idCol, textCol))
    exact.unionByName(near).unionByName(span).orderBy("stage")
  }
}
