package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.t

/** Text-analysis operators for a training-data pipeline, over the
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * All pure Column expressions — no UDFs, everything stays inside
  * whole-stage codegen, so at 100 TB these are embarrassingly-parallel
  * map stages bounded by parquet scan throughput.
  */
object TextOps {

  /** English stopword markers used by the language/quality heuristics.
    * Deterministic and tiny by design (this is an n-gram-free heuristic,
    * not a model). */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  private def tokensOf(c: Column): Column = split(trim(c), "\\s+")
  private def tokens: Column = tokensOf(col("text"))

  private def stopCountOf(c: Column): Column =
    size(filter(tokensOf(c), tk => tk.isin(stopwords.map(lit(_): Any): _*)))
  private def stopCount: Column = stopCountOf(col("text"))

  /** Whitespace token count plus a BPE-ish subword proxy: runs of
    * letters, single digits, or single non-alphanumeric glyphs.
    * Generic core: any (id, text) frame. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(
        col(idCol),
        size(tokensOf(col(textCol))).as("n_tokens"),
        size(regexp_extract_all(col(textCol), lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))
          .as("n_subwords"),
        length(col(textCol)).as("n_text_chars"))
      .orderBy(idCol)

  def tokenCounts(s: SparkSession, dir: String): DataFrame =
    tokenCounts(t(s, dir, "documents"), "doc_id", "text")

  /** Engine-agnostic 4-decimal rounding for scalar double formulas:
    * floor(x*1e4+0.5)/1e4 evaluates identically in any IEEE-double
    * engine, unlike round() (Spark rounds via decimal string, DuckDB in
    * binary — they disagree on exact .5 boundaries). */
  private[operators] def r4(c: Column): Column =
    floor(c * lit(1e4) + lit(0.5)) / lit(1e4)

  /** Quality scoring: length ratio, stopword ratio, mean token length,
    * alpha ratio — combined into one deterministic score. Mirrors the
    * published heuristic-filter recipes (C4/Gopher-style rules). */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    qualityScore(t(s, dir, "documents"), "doc_id", "text")

  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val nTok = size(tokensOf(text)).cast("double")
    val meanTokLen =
      (length(regexp_replace(text, "\\s+", "")).cast("double") / nTok)
    val stopRatio = stopCountOf(text).cast("double") / nTok
    val alphaRatio =
      length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") /
        length(text).cast("double")
    docs
      .select(
        col(idCol),
        r4(stopRatio).as("stop_ratio"),
        r4(meanTokLen).as("mean_tok_len"),
        r4(alphaRatio).as("alpha_ratio"),
        r4(
          least(lit(1.0), nTok / lit(20.0)) * lit(0.4)
            + least(lit(1.0), stopRatio * lit(5.0)) * lit(0.3)
            + when(meanTokLen.between(3.0, 10.0), 1.0).otherwise(0.0) * lit(0.3))
          .as("quality"))
      .orderBy(idCol)
  }

  /** Language-ID heuristic: stopword-marker density → 'en' vs 'unk',
    * reported against the labeled lang column for accuracy-by-group.
    * (A real n-gram profile model slots in behind the same signature.) */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val nTok = size(tokens).cast("double")
    val pred = when(stopCount.cast("double") / nTok >= 0.05, "en").otherwise("unk")
    t(s, dir, "documents")
      .select(col("lang"), pred.as("lang_pred"))
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "lang_pred")
  }

  /** Top-k bigram frequencies per language: tokenize → explode bigrams →
    * count → windowed top-k. The shuffle key is (lang, bigram) — at
    * 100 TB add a map-side partial count (automatic) and a frequency
    * floor before the window to keep the rank shuffle tiny. */
  // one-pass JVM kernel: the column-expression formulation
  // (transform(sequence, element_at×2)) evaluates interpreted per
  // bigram — the same trap the dedup shingles hit (see Hashing)
  private val bigramsUdf = udf { text: String =>
    if (text == null) Array.empty[String]
    else {
      val toks = text.trim.split("\\s+")
      if (toks.length < 2) Array.empty[String]
      else Array.tabulate(toks.length - 1)(i => toks(i) + " " + toks(i + 1))
    }
  }

  def topBigrams(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val counts = t(s, dir, "documents")
      .select(col("lang"), explode(bigramsUdf(col("text"))).as("bigram"))
      .groupBy("lang", "bigram")
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(desc("n"), asc("bigram"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("lang", "rk", "bigram", "n")
      .orderBy("lang", "rk")
  }

  /** Within-document repetition signals (Gopher-style repetition
    * filters): duplicate-token ratio (1 - distinct/total) and the
    * fraction of the document taken by its single most frequent token.
    * Shaped as explode → count per (doc, token) → per-doc aggregate:
    * one shuffle on (doc_id, token) with map-side partial counts — the
    * same shape at 100 TB, since (doc_id, token) keys are near-unique
    * and perfectly spread. */
  def repetition(s: SparkSession, dir: String): DataFrame =
    repetition(t(s, dir, "documents"), "doc_id", "text")

  def repetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ex = docs
      .select(col(idCol).as("doc_id"), explode(tokensOf(col(textCol))).as("tok"))
    ex.groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_tokens"), count(lit(1)).as("n_distinct"),
        max("n").as("mx"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        r4(lit(1.0) -
          col("n_distinct").cast("double") / col("n_tokens").cast("double"))
          .as("dup_ratio"),
        r4(col("mx").cast("double") / col("n_tokens").cast("double"))
          .as("top_tok_frac"))
      .orderBy("doc_id")
  }

  /** PII / denylist scrubbing: one combined regex over emails, long
    * digit runs, and a configurable sensitive-term denylist, reported as
    * per-doc redaction counts plus before/after lengths. Pure narrow
    * regexp_extract_all/regexp_replace projections — codegen'd, no
    * shuffle. The pattern stays in the RE2-compatible subset (character
    * classes, \b, (?i:...)) so external SQL engines reproduce it
    * exactly. The denylist match is CASE-INSENSITIVE — a scrub that
    * lets 'Customer' through is a leak, not a feature; the email and
    * digit-run branches keep their explicit character classes. */
  def scrub(s: SparkSession, dir: String,
            denylist: Seq[String] = Seq("customer", "supplier")): DataFrame =
    scrub(t(s, dir, "documents"), "doc_id", "text", denylist)

  def scrub(docs: DataFrame, idCol: String, textCol: String,
            denylist: Seq[String]): DataFrame = {
    // terms are spliced into the regex — restrict to word characters so
    // a caller can't inject alternation/anchors by accident
    require(denylist.nonEmpty && denylist.forall(_.matches("\\w+")),
      s"denylist terms must be plain \\w+ words, got: $denylist")
    val pat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" +
      "|[0-9]{7,}" +
      s"|\\b(?i:${denylist.mkString("|")})\\b"
    docs
      .select(
        col(idCol),
        size(regexp_extract_all(col(textCol), lit(pat), lit(0))).as("n_redacted"),
        length(col(textCol)).as("n_chars_before"),
        length(regexp_replace(col(textCol), pat, "[REDACTED]")).as("n_chars_after"))
      .orderBy(idCol)
  }

  /** t08: Gopher-style rule CASCADE with per-rule rejection accounting —
    * the published heuristic filters as hard gates (vs [[qualityScore]]'s
    * soft score), reported per language as "how many docs does each rule
    * reject, and how many survive all of them". The accounting is what a
    * curation run actually needs: a rule that silently rejects 40% of a
    * source is a pipeline bug, not a quality win.
    *
    * Rules (each an independent flag, counted independently):
    *   len   — token count in [30, 50000]      (Gopher word-count gate)
    *   tok   — mean token length in [2, 10]    (gibberish/boilerplate gate)
    *   stop  — ≥ 2 stopword hits               (Gopher "has stop words")
    *   alpha — ≥ 60% alphabetic characters     (symbol-soup gate)
    *
    * All pure Column expressions over one scan — the flags share the
    * tokenization subexpression, so at 100 TB this is a single narrow
    * codegen'd map + one tiny groupBy(lang). Ratio comparisons are raw
    * IEEE doubles (identical in any engine); no rounding needed because
    * no float crosses an engine boundary, only the boolean counts do. */
  def gopherRules(s: SparkSession, dir: String): DataFrame =
    gopherRules(t(s, dir, "documents"), "text", "lang")

  def gopherRules(docs: DataFrame, textCol: String, groupCol: String): DataFrame = {
    val text = col(textCol)
    val nTok = size(tokensOf(text)).cast("double")
    val meanTokLen =
      length(regexp_replace(text, "\\s+", "")).cast("double") / nTok
    val alphaRatio =
      length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") /
        length(text).cast("double")
    val failLen   = !nTok.between(30.0, 50000.0)
    val failTok   = !meanTokLen.between(2.0, 10.0)
    val failStop  = stopCountOf(text) < 2
    val failAlpha = alphaRatio < 0.6
    def n(c: Column): Column = sum(c.cast("long"))
    docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        n(failLen).as("n_fail_len"), n(failTok).as("n_fail_tok"),
        n(failStop).as("n_fail_stop"), n(failAlpha).as("n_fail_alpha"),
        n(!failLen && !failTok && !failStop && !failAlpha).as("n_pass"))
      .orderBy(groupCol)
  }

  /** t09: fixed-size overlapping token windows — the chunking step that
    * turns documents into training/retrieval sequences (context-window
    * packing, RAG chunking). Each document yields
    * `1 + ceil(max(0, n - width) / stride)` chunks starting at token
    * offsets 0, stride, 2·stride, …; the tail chunk may be short but
    * every token is covered when stride ≤ width (adjacent chunks overlap
    * by `width - stride` tokens).
    *
    * Pure generator + slice Column expressions: at 100 TB this is a
    * narrow flatMap-shaped stage — no shuffle, no UDF, output rows
    * carry only the chunk text (never the whole document), so the
    * downstream shuffle unit is a chunk, not a doc. */
  def chunkWindows(s: SparkSession, dir: String): DataFrame =
    chunkWindows(t(s, dir, "documents"), "doc_id", "text")

  def chunkWindows(docs: DataFrame, idCol: String, textCol: String,
                   width: Int = 32, stride: Int = 24): DataFrame =
    chunkOccurrences(docs, idCol, textCol, width, stride)
      .orderBy(idCol, "chunk_id")

  /** The chunk stream of [[chunkWindows]] WITHOUT the presentation
    * sort — the form downstream operators compose with (a consumer
    * that re-shuffles, like [[chunkDedup]], must not pay a range
    * exchange it immediately destroys). */
  private def chunkOccurrences(docs: DataFrame, idCol: String,
                               textCol: String, width: Int,
                               stride: Int): DataFrame = {
    require(stride >= 1 && stride <= width,
      s"stride $stride must be in [1, width=$width] so chunks cover all tokens")
    val tk = tokensOf(col(textCol))
    val nTok = size(tk)
    // 1 + ceil(max(0, n - width) / stride), in exact integer arithmetic
    val nChunks =
      (lit(1) + floor((greatest(nTok - lit(width), lit(0)) + lit(stride - 1))
        .cast("double") / lit(stride.toDouble))).cast("int")
    docs
      .select(col(idCol), tk.as("tk"), nChunks.as("nc"))
      .select(col(idCol), col("tk"),
        explode(sequence(lit(0), col("nc") - 1)).as("i"))
      .select(col(idCol), col("i").cast("long").as("chunk_id"),
        slice(col("tk"), col("i") * stride + 1, lit(width)).as("ck"))
      .select(col(idCol), col("chunk_id"),
        size(col("ck")).cast("long").as("n_chunk_tokens"),
        array_join(col("ck"), " ").as("chunk_text"))
  }

  /** t10: BM25 keyword relevance — top-k documents for a bag of query
    * terms (Robertson/Spärck Jones; the Okapi BM25 formula with
    * k1=1.2, b=0.75). The corpus statistics (N, Σdl, per-term df) are
    * ONE tiny aggregate row broadcast back over the corpus — every
    * count is integer-exact, so the only float math is the final
    * per-row formula, evaluated in a fixed term order and rounded to
    * 4 decimals before ranking (engine-exact, see [[r4]]).
    *
    * At 100 TB: two narrow corpus scans (stats, then score) + a top-k —
    * no inverted index needed for a fixed small query set; the df/dl
    * aggregate is the only (single-row) shuffle. */
  def bm25TopK(s: SparkSession, dir: String): DataFrame =
    bm25TopK(t(s, dir, "documents"), "doc_id", "text")

  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String] = Seq("customer", "window", "query"),
               k1: Double = 1.2, b: Double = 0.75, k: Int = 10): DataFrame = {
    val tk = tokensOf(col(textCol))
    val tfCols = terms.zipWithIndex.map { case (tm, i) =>
      size(filter(col("tk"), x => x === tm)).cast("long").as(s"tf$i")
    }
    val perDoc = docs
      .select(col(idCol), tk.as("tk"))
      .select(col(idCol) +: size(col("tk")).cast("long").as("dl") +: tfCols: _*)
    val stats = perDoc.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).as("sum_dl") +:
        terms.indices.map(i =>
          sum((col(s"tf$i") > 0).cast("long")).as(s"df$i"))): _*)
    // avgdl enters as (sum_dl / n_docs) — both exact longs, one division
    val lenNorm = lit(k1) * (lit(1.0) - lit(b) +
      lit(b) * (col("dl").cast("double") /
        (col("sum_dl").cast("double") / col("n_docs").cast("double"))))
    val score = terms.indices.map { i =>
      val tf = col(s"tf$i").cast("double")
      val df = col(s"df$i").cast("double")
      val idf = log((col("n_docs").cast("double") - df + lit(0.5)) /
        (df + lit(0.5)) + lit(1.0))
      idf * (tf * lit(k1 + 1.0)) / (tf + lenNorm)
    }.reduce(_ + _) // fixed left-assoc term order: engine-deterministic
    val scored = perDoc.crossJoin(broadcast(stats))
      .select(col(idCol), r4(score).as("score"))
      .filter(col("score") > 0)
    globalTopK(scored, Seq(("score", false), (idCol, true)), k)
      .select("rk", idCol, "score")
      .orderBy("rk")
  }

  /** Global top-k with an explicit 1-based `rk` column, routed through
    * [[graft.plans.TopKPerGroup]]'s AllTuples path: each map partition
    * reduces to its local k rows BEFORE the single-partition merge, so
    * only k×partitions rows funnel into one task — unlike a
    * partition-less `row_number().over(Window)`, which drags EVERY
    * scored row through a single task's sort. The residual Window here
    * ranks only the k survivors (k rows, one tiny task). `orderBy`
    * must be a total order (include an id tie-breaker). */
  private def globalTopK(df: DataFrame,
                         orderBy: Seq[(String, Boolean)], k: Int): DataFrame = {
    val top = graft.plans.TopKPerGroup.topKPerGroup(df, Seq.empty, orderBy, k)
    val w = org.apache.spark.sql.expressions.Window.orderBy(orderBy.map {
      case (c, true) => col(c).asc
      case (c, false) => col(c).desc
    }: _*)
    top.withColumn("rk", row_number().over(w).cast("long"))
  }

  /** t11: exact top-k tokens via a Misra-Gries candidate pass — the
    * bounded-memory route to global heavy hitters:
    *
    *  1. one distributed pass folds every token into a
    *     [[graft.functions.MisraGriesAggregator]] summary (O(capacity)
    *     memory per partition, ≤ capacity entries shuffled per
    *     partition — vs the full `groupBy(token)` shuffle of every
    *     distinct token, the classic OOM at 100 TB vocabulary scale);
    *  2. the ≤ capacity survivors — guaranteed to include every token
    *     with frequency > n/(capacity+1) — become a broadcast `isin`
    *     filter for a second pass that counts ONLY the candidates
    *     exactly.
    *
    * Output is the exact top-k (count desc, token asc) and therefore
    * deterministic and SQL-oracle-checkable, PROVIDED the true top-k
    * all clear the n/(capacity+1) survival bar — the caller sizes
    * `capacity` for that (here 64 against a ≤40-word synthetic
    * vocabulary; the guarantee-vs-capacity trade is spec-checked with
    * adversarial small capacities in CorpusOpsSpec). */
  def heavyHitters(s: SparkSession, dir: String): DataFrame =
    heavyHitters(t(s, dir, "documents"), "text")

  def heavyHitters(docs: DataFrame, textCol: String,
                   capacity: Int = 64, k: Int = 10): DataFrame = {
    import docs.sparkSession.implicits._
    val words = docs.select(explode(tokensOf(col(textCol))).as("w"))
    val mg = new graft.functions.MisraGriesAggregator(capacity).toColumn
    val candidates = words.as[String].select(mg).head().keys.toSeq
    val counts = words
      .filter(col("w").isin(candidates.map(x => x: Any): _*))
      .groupBy("w").agg(count(lit(1)).as("n"))
    // counts is already ≤ capacity rows post-aggregate, but route the
    // rank through the same AllTuples top-k as bm25 anyway — free here,
    // and the claim "never a full-corpus single-task sort" stays true
    // for any capacity.
    globalTopK(counts, Seq(("n", false), ("w", true)), k)
      .select("rk", "w", "n")
      .orderBy("rk")
  }

  /** t25: Count-Min sketch frequency estimates vs exact recount —
    * the additive mergeable sketch (Cormode & Muthukrishnan 2005)
    * alongside t11's Misra-Gries, q20's HLL, and q32's percentile
    * sketch. The corpus token stream folds into ONE fixed
    * depth×width counter array via [[graft.functions.CountMinAggregator]]
    * (linear sketch — partition partials merge by elementwise ADD, so
    * the map-side-combine is exact); the finished sketch is model
    * state (depth·width longs, ~12 KB) and rides into the estimate
    * stage as a PLAN LITERAL (the x15 weight-vector discipline — no
    * join, no broadcast exchange). Estimates are looked up for the
    * exact top-k tokens (their recount is the output's other column),
    * emitting (rk, w, n_exact, n_cms) with the CMS guarantee
    * n_cms ≥ n_exact as a hard row-level invariant.
    *
    * 100 TB: the sketch pass shuffles depth·width longs per partition
    * — corpus-size- AND vocabulary-independent (the exact recount
    * here exists to price the sketch's error and serve the oracle; a
    * deployment streams the sketch only). Deterministic end to end:
    * FNV-1a token hashes into multiply-shift cells
    * ([[graft.functions.Hashing.cmsCells]]) — pure integer arithmetic
    * the DuckDB oracle replays in HUGEINT mod-2⁶⁴ SQL (the d04
    * discipline), and every count is an exact integer. */
  def cmsFrequencies(s: SparkSession, dir: String): DataFrame =
    cmsFrequencies(t(s, dir, "documents"), "text")

  def cmsFrequencies(docs: DataFrame, textCol: String,
                     k: Int = 10): DataFrame = {
    import docs.sparkSession.implicits._
    val hash = graft.functions.Hashing
    // one tokenize+hash pass feeds BOTH the sketch fold and the exact
    // counts — materialize it once (the t12/d05 discipline)
    val words = docs.select(explode(tokensOf(col(textCol))).as("w"))
      .withColumn("h", hash.tokenHash(col("w")))
      .localCheckpoint(eager = false)
    val cm = new graft.functions.CountMinAggregator().toColumn
    val sketch: Array[Long] = words.select(col("h")).as[Long]
      .select(cm).head()
    val counts = words.groupBy("w", "h").agg(count(lit(1)).as("n"))
    val top = globalTopK(counts, Seq(("n", false), ("w", true)), k)
    val wWidth = hash.CmsWidth
    val est = (0 until hash.CmsDepth)
      .map(r => element_at(lit(sketch),
        col("cells").getItem(r) + lit(r * wWidth + 1)))
      .reduce((a, b) => least(a, b))
    top.withColumn("cells", hash.cmsCellsCol(col("h")))
      .withColumn("n_cms", est)
      .select(col("rk"), col("w"), col("n").as("n_exact"), col("n_cms"))
      .orderBy("rk")
  }

  /** t25's sketch in TABLE form — the (r, cell, n) count partial of a
    * document batch. CMS is linear, so these cell counts equal the
    * [[graft.functions.CountMinAggregator]] buffer cell-for-cell, and
    * per-batch partials merge by (r, cell)-keyed SUM — the store
    * format of the streaming consumer
    * (IncrementalJobs.startIncrementalCms): the ingested corpus
    * persists as ≤ depth·width rows per batch, text never rescanned,
    * the d11/d12/t24 store discipline applied to a sketch. */
  def cmsPartial(docs: DataFrame, textCol: String): DataFrame = {
    val hash = graft.functions.Hashing
    docs.select(explode(tokensOf(col(textCol))).as("w"))
      .select(hash.cmsCellsCol(hash.tokenHash(col("w"))).as("cs"))
      .select(posexplode(col("cs")).as(Seq("r", "cell")))
      .groupBy("r", "cell").agg(count(lit(1)).as("n"))
  }

  /** t12: bigram-LM perplexity scoring — the CCNet-style quality
    * signal (Wenzek et al., "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data", LREC 2020): train a smoothed bigram
    * language model on the corpus, score every document by its
    * cross-entropy under that model; low-perplexity ≈ fluent/typical,
    * high ≈ noise. Here the LM is trained on the scored corpus itself
    * (self-perplexity); a held-out LM slots in by passing a different
    * `lmDocs`.
    *
    * Scale shape: the LM is two integer count tables (bigram, context)
    * + the vocab size — built with plain groupBy aggregations (exact,
    * map-side-combined) and joined back to the per-doc bigram stream
    * on the bigram key. No model state on the driver, no UDF in the
    * scoring path.
    *
    * Engine-exact determinism: every LM count is an integer; the only
    * float math is ln((c(v,w)+1)/(c(v)+|V|)) per bigram — computed
    * from exact ints — and the per-doc sum, which is folded over the
    * doc's bigrams IN POSITION ORDER on both engines (Spark:
    * fold over the pos-sorted collect_list; oracle: DuckDB's ordered
    * aggregate `sum(lnp ORDER BY pos)`, verified bit-equal to a
    * sequential left fold), then rounded to 4 decimals. */
  def perplexity(s: SparkSession, dir: String): DataFrame =
    perplexity(t(s, dir, "documents"), "doc_id", "text")

  def perplexity(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // localCheckpoint: the bigram stream feeds THREE consumers (the
    // bigram counts, the context counts, and the scoring join) — the
    // d03/d06 materialize-once discipline; without it the bigram
    // kernel re-runs per consumer and t12 scaled 5.4× at 10× data
    // (r10 sf1 sweep; 3.0× after)
    val bg = docs
      .select(col(idCol), posexplode(bigramsUdf(col(textCol))).as(Seq("pos", "bg")))
      .select(col(idCol), col("pos"),
        substring_index(col("bg"), " ", 1).as("v"),
        substring_index(col("bg"), " ", -1).as("w"))
      .localCheckpoint(eager = false)
    val cvw = bg.groupBy("v", "w").agg(count(lit(1)).as("cvw"))
    val cv = bg.groupBy("v").agg(count(lit(1)).as("cv"))
    val vocab = docs.select(explode(tokensOf(col(textCol))).as("tk"))
      .agg(count_distinct(col("tk")).as("vsz"))
    // Laplace-smoothed conditional: p(w|v) = (c(v,w)+1) / (c(v)+|V|)
    val scored = bg
      .join(cvw, Seq("v", "w"))
      .join(cv, Seq("v"))
      .crossJoin(broadcast(vocab))
      .select(col(idCol), col("pos"),
        log((col("cvw").cast("double") + lit(1.0)) /
          (col("cv").cast("double") + col("vsz").cast("double"))).as("lnp"))
    scored.groupBy(idCol)
      .agg(
        count(lit(1)).as("n_bigrams"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("lnp")))),
            st => st("lnp")),
          lit(0.0), (a, x) => a + x).as("sumlnp"))
      .select(col(idCol), col("n_bigrams"),
        r4((-col("sumlnp")) / col("n_bigrams").cast("double")).as("cross_entropy"),
        r4(exp((-col("sumlnp")) / col("n_bigrams").cast("double"))).as("ppl"))
      .orderBy(idCol)
  }

  // ---- t29: unigram-LM encode (pinned-model serve path) ------------

  /** Serve-time UNK log-prob: out-of-vocab SINGLE characters score
    * here (the pinned alphabet is the fit corpus's; a bigger corpus
    * can carry characters the model never saw) so any input stays
    * segmentable — SentencePiece's unk piece. */
  val T29UnkScore: Double = -20.0

  /** The t27 unigram model fit at sf0.01, pinned as (piece,
    * final-round use count) — counts are EXACT integers, scores
    * re-derive as ln((c+1)/(totC+|V|)) identically on both engines,
    * so the serve path is a pure function of (text, model) and the
    * driver can oracle it (the t14 pinnedMerges / PQ-codebook
    * fit-once/serve-many split). GENERATED — regenerate with
    * `runMain graft.tools.PinUnigramTool`. */
  val pinnedUnigram: Seq[(String, Long)] = Seq(
    ("a", 5367L), ("al", 1825L), ("ar", 0L), ("as", 947L),
    ("at", 1845L), ("b", 2721L), ("c", 4653L), ("d", 2732L),
    ("e", 6272L), ("er", 1845L), ("f", 1787L), ("g", 4474L),
    ("h", 3671L), ("i", 1809L), ("in", 1796L), ("j", 0L),
    ("jo", 0L), ("joi", 0L), ("join", 964L), ("k", 1776L),
    ("l", 4597L), ("lu", 934L), ("m", 2750L), ("me", 0L),
    ("mer", 1852L), ("n", 1870L), ("o", 1868L), ("oi", 0L),
    ("oin", 0L), ("or", 2696L), ("ow", 2747L), ("p", 904L),
    ("pa", 0L), ("par", 1758L), ("q", 871L), ("r", 2702L),
    ("ro", 878L), ("rt", 0L), ("s", 4534L), ("st", 2676L),
    ("t", 4435L), ("ta", 908L), ("to", 0L), ("u", 1838L),
    ("ue", 1768L), ("v", 1809L), ("w", 886L), ("y", 1767L)
  )

  private[graft] lazy val pinnedUnigramPieces: Seq[String] =
    pinnedUnigram.map(_._1)
  /** Score denominator: total final-round uses + |V| (add-1). */
  private[graft] lazy val pinnedUnigramDenom: Long =
    pinnedUnigram.map(_._2).sum + pinnedUnigram.size
  private[graft] lazy val pinnedUnigramScores: Seq[Double] =
    pinnedUnigram.map { case (_, c) =>
      math.log((c + 1).toDouble / pinnedUnigramDenom.toDouble)
    }

  private[graft] val unigramSegmentUnkUdf =
    udf { (w: String, pieces: Seq[String], scores: Seq[Double], unk: Double) =>
      unigramViterbiLocal(w, pieces, scores, unk)
    }

  /** v09's registered ref/cur split fraction — single-sourced into the
    * generated replays (the d15/s32 discipline). */
  val V09SplitFrac: Double = 0.8

  /** v09: TOKENIZER-DRIFT monitor — the tokenizer member of the drift
    * family (v04 numeric PSI, v05 vocab JSD, s32 embedding cells):
    * under the PINNED production tokenizer ([[pinnedUnigram]], the
    * fit-once/serve-many model t29 serves), how differently does the
    * incoming split tokenize vs the corpus the model was fit for? The
    * retrain dial: fertility (pieces per word) creeping up and the
    * whole-word hit rate creeping down are THE standard signals that a
    * tokenizer no longer fits its corpus (fertility inflation directly
    * multiplies training cost per document); new-word rate says why.
    * Per split: token occurrences, fertility_milli, whole_piece_milli
    * (share of occurrences that are themselves a single vocab piece),
    * and for `cur` the new_word_milli (distinct words absent from
    * ref's vocabulary — 0 for ref by convention).
    *
    * Scale shape: ONE token explode over both splits (the t29 cost
    * class), the Viterbi kernel runs once per DISTINCT word
    * (vocab-sized frame, model as broadcast literals), occurrence
    * stats join back word-keyed; the new-word probe is a left-anti
    * join between the two distinct-word frames. Report is 2 rows of
    * exact integers/millis. */
  def tokenizerDrift(s: SparkSession, dir: String,
                     splitFrac: Double = V09SplitFrac): DataFrame = {
    val d = t(s, dir, "documents")
    val mx = d.agg(max("doc_id")).head
    require(!mx.isNullAt(0),
      s"tokenizerDrift: documents table at $dir is empty")
    // floor() on BOTH sides (oracle replays the same scalar)
    val cut = math.floor(mx.getLong(0) * splitFrac).toLong
    tokenizerDrift(d.filter(col("doc_id") < cut),
      d.filter(col("doc_id") >= cut), "text",
      pinnedUnigramPieces, pinnedUnigramScores, T29UnkScore)
  }

  def tokenizerDrift(ref: DataFrame, cur: DataFrame, textCol: String,
                     pieces: Seq[String], scores: Seq[Double],
                     unk: Double): DataFrame = {
    def words(split: String, df: DataFrame): DataFrame =
      df.select(lit(split).as("split"),
        explode(tokensOf(col(textCol))).as("word"))
    val all = words("1_ref", ref).unionByName(words("2_cur", cur))
      .localCheckpoint(eager = false) // one corpus explode for the three consumers
    val nUdf = udf { w: String =>
      unigramViterbiLocal(w, pieces, scores, unk).length.toLong
    }
    // Viterbi once per DISTINCT word; whole-word membership is a
    // plan-literal isin over the 48-piece vocab
    val perWord = all.select("word").distinct()
      .withColumn("n_sub", nUdf(col("word")))
      .withColumn("in_vocab",
        col("word").isInCollection(pieces).cast("long"))
    val milli = (num: Column, den: Column) =>
      floor(num * 1000.0 / den + 0.5).cast("long")
    val stats = all.join(perWord, "word")
      .groupBy("split")
      .agg(count(lit(1)).as("n_words"),
        sum("n_sub").as("n_pieces"),
        sum("in_vocab").as("n_whole"))
      .select(col("split"), col("n_words"),
        milli(col("n_pieces"), col("n_words")).as("fertility_milli"),
        milli(col("n_whole"), col("n_words")).as("whole_piece_milli"))
    // vocabulary growth: distinct cur words absent from ref
    val refW = all.filter(col("split") === "1_ref")
      .select("word").distinct()
    val curW = all.filter(col("split") === "2_cur")
      .select("word").distinct().localCheckpoint(eager = false)
    val newRate = curW.join(refW, Seq("word"), "left_anti")
      .agg(count(lit(1)).as("n_new"))
      .crossJoin(broadcast(curW.agg(count(lit(1)).as("n_cur"))))
      .select(lit("2_cur").as("split"),
        milli(col("n_new"), col("n_cur")).as("new_word_milli"))
    stats.join(broadcast(newRate), Seq("split"), "left")
      .na.fill(0L, Seq("new_word_milli"))
      .orderBy("split")
  }

  /** Per-stratum MODEL-token mass under the pinned unigram tokenizer —
    * the denominator x23's budget problem allocates in. One corpus
    * explode cut to (stratum, word); the Viterbi kernel runs once per
    * DISTINCT word with the model as broadcast literals (the t29/v09
    * serve discipline), joins back word-keyed, and reduces to an
    * n_strata-row frame. At 100 TB this is the same one-pass shape as
    * v09's fertility stats — corpus text never shuffles, only (stratum,
    * word) slim rows move. */
  def modelTokenMass(docs: DataFrame, stratumCol: String,
                     textCol: String): DataFrame = {
    // one scan-local kernel pass + one n_strata-row aggregate (see
    // [[encodeCountsUdf]]; was 2 corpus scans + distinct + join-back)
    val k = encodeCountsUdf(w =>
      unigramViterbiLocal(w, pinnedUnigramPieces, pinnedUnigramScores,
        T29UnkScore).length.toLong)
    docs.filter(col(textCol).isNotNull)
      .select(col(stratumCol), k(col(textCol)).getField("_2").as("n_sub"))
      .groupBy(stratumCol)
      .agg(sum("n_sub").cast("long").as("model_tokens"))
  }

  /** t29 registered form: encode with the [[pinnedUnigram]] model. */
  def unigramEncodePinned(s: SparkSession, dir: String): DataFrame =
    unigramEncodeWith(t(s, dir, "documents"), "doc_id", "text",
      pinnedUnigramPieces, pinnedUnigramScores)

  /** Encode with a pre-trained unigram model — the serve path, t14's
    * shape: the Viterbi kernel runs once per DISTINCT word (the model
    * rides into the UDF as broadcast literals), then joins back to
    * the corpus stream for per-doc totals. */
  def unigramEncodeWith(docs: DataFrame, idCol: String, textCol: String,
                        pieces: Seq[String], scores: Seq[Double],
                        unk: Double = T29UnkScore): DataFrame = {
    // t14's shape: one scan-local kernel pass, zero pre-sort shuffles
    // (see [[encodeCountsUdf]] — the Viterbi still runs once per
    // distinct word per task via the memo)
    val k = encodeCountsUdf(w =>
      unigramViterbiLocal(w, pieces, scores, unk).length.toLong)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), k(col(textCol)).as("k"))
      .select(col(idCol), col("k._1").as("n_words"),
        col("k._2").as("n_pieces"))
      .orderBy(idCol)
  }

  // left-to-right greedy pair merge — the sequential inner step of BPE
  // (overlaps resolve leftmost: aaa + (a,a) → [aa, a]); a JVM kernel
  // because the step is inherently order-dependent, not expressible as
  // a per-element HOF
  private val mergePairUdf = udf { (syms: Seq[String], a: String, b: String) =>
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** t13: byte-pair-encoding merge training (Sennrich et al., "Neural
    * Machine Translation of Rare Words with Subword Units", ACL 2016) —
    * tokenizer induction as a distributed job. The corpus collapses to
    * the (distinct word, frequency) table — THAT is the distributed
    * frame (at 100 TB: one token-count shuffle, then every merge
    * iteration scans the distinct-word table, never the corpus) — and
    * each of the `nMerges` rounds is:
    *
    *   1. weighted adjacent-symbol-pair counts (posexplode + groupBy —
    *      map-side combined, exact integers);
    *   2. argmax pair, ties to the lexicographically smallest — ONE
    *      collected row of driver model state per round, like the
    *      k-means centroids;
    *   3. apply the merge to every word's symbol array (narrow map).
    *
    * Output: the merge table (rank, left, right, merged, weighted
    * count) — deterministic, and since r8 EXACTLY driver-verified: the
    * DuckDB oracle unrolls the fixed 8-round loop, re-deriving each
    * round's argmax pair and re-encoding the vocabulary with the t14
    * recursive replace-first CTE, so the whole training trajectory is
    * replayed from the raw corpus (no fixture). CorpusOpsSpec pins the
    * independent Scala recomputation besides. Words carry an
    * end-of-word marker `</w>` so learned units respect boundaries. */
  def bpeMerges(s: SparkSession, dir: String): DataFrame =
    bpeMerges(t(s, dir, "documents"), "text")

  def bpeMerges(docs: DataFrame, textCol: String, nMerges: Int = 8): DataFrame = {
    import docs.sparkSession.implicits._
    val words = docs
      .select(explode(tokensOf(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("syms", // split("", -1) keeps a trailing "" — drop it
        concat(filter(split(col("word"), ""), x => x =!= lit("")),
          array(lit("</w>"))))
      // lazy checkpoint (r18): round 1's argmax job materializes the
      // blocks; the merge loop then re-reads them nMerges times. Eager
      // paid one extra driver-synced job per checkpoint — at sf0.1 the
      // loop was 2 jobs/round of which one was pure materialization
      // (JobProfile: t13 = 31 jobs before, 22 after).
      .localCheckpoint(eager = false)
    var cur = words
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var rank = 1
    var drained = false
    while (rank <= nMerges && !drained) {
      val pairCols = posexplode(transform(
        sequence(lit(0), size(col("syms")) - 2),
        i => struct(element_at(col("syms"), i + 1).as("a"),
          element_at(col("syms"), i + 2).as("b"))))
      val best = cur.filter(size(col("syms")) >= 2)
        .select(col("freq"), pairCols.as(Seq("pos", "p")))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(desc("n"), asc("a"), asc("b"))
        .limit(1).collect()
      best.headOption match {
        case None => drained = true // every word is one symbol — done
        case Some(r) =>
          val (a, b, n) = (r.getString(0), r.getString(1), r.getLong(2))
          merges += ((rank.toLong, a, b, a + b, n))
          // lazy: materialized by the NEXT round's argmax; the final
          // round's re-encode (whose symbols nothing reads — the merge
          // TABLE is the output) is never computed at all
          cur = cur.withColumn("syms", mergePairUdf(col("syms"), lit(a), lit(b)))
            .localCheckpoint(eager = false)
          rank += 1
      }
    }
    merges.result().toDF("rank", "left", "right", "merged", "n")
      .orderBy("rank")
  }

  // ---- t28: Zipf rank-frequency profile ----------------------------

  /** t28 fit depth — the top-K ranks the log-log line is fit over
    * (the head of the rank-frequency curve is where Zipf's law holds;
    * the singleton tail deviates and would drown the fit). */
  val T28K: Int = 200

  def zipfProfile(s: SparkSession, dir: String): DataFrame =
    zipfProfile(t(s, dir, "documents"), "text")

  /** t28: corpus-statistics profile — least-squares fit of
    * ln(freq) ~ ln(rank) over the top-[[T28K]] token ranks (Zipf's
    * law: slope ≈ −1 for natural language; a corpus whose slope
    * drifts is a data-quality signal — boilerplate flattens it,
    * template spam steepens it), plus vocabulary/token totals.
    *
    * Scale shape: ONE corpus-sized explode + map-side-combined count
    * shuffle collapses to the vocab table; the top-K ranks come from
    * the TopKPerGroup AllTuples heap (map-side capped, never a
    * vocab-wide sort); the fit itself runs over K rows folded in rank
    * order (the t12 fixed-order float discipline, so the DuckDB
    * replay's `sum(x ORDER BY rk)` reproduces it bit-for-bit).
    * Output is ONE row of model state. */
  def zipfProfile(docs: DataFrame, textCol: String,
                  k: Int = T28K): DataFrame = {
    val words = docs.select(explode(tokensOf(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false) // feeds the totals AND the top-K heap
    val totals = words.agg(
      count(lit(1)).as("n_vocab"),
      sum("n").as("n_tokens"))
    val top = globalTopK(words, Seq(("n", false), ("w", true)), k)
      .select(col("rk"),
        log(col("rk").cast("double")).as("x"),
        log(col("n").cast("double")).as("y"))
    // one sorted array, five rank-ordered folds over it
    val arr = array_sort(collect_list(struct(col("rk"), col("x"), col("y"))))
    def sumOf(f: Column => Column): Column =
      aggregate(transform(arr, st => f(st)), lit(0.0), (a, v) => a + v)
    val sums = top.agg(
      count(lit(1)).as("k_fit"),
      sumOf(st => st("x")).as("sx"),
      sumOf(st => st("y")).as("sy"),
      sumOf(st => st("x") * st("y")).as("sxy"),
      sumOf(st => st("x") * st("x")).as("sxx"),
      sumOf(st => st("y") * st("y")).as("syy"))
    val kD = col("k_fit").cast("double")
    val num = kD * col("sxy") - col("sx") * col("sy")
    val den = kD * col("sxx") - col("sx") * col("sx")
    val deny = kD * col("syy") - col("sy") * col("sy")
    val slope = num / den
    totals.crossJoin(sums)
      .select(col("n_vocab"), col("n_tokens"), col("k_fit"),
        r4(slope).as("slope"),
        r4((col("sy") - slope * col("sx")) / kD).as("intercept"),
        r4((num * num) / (den * deny)).as("r2"))
  }

  // ---- t27: unigram-LM tokenizer (Kudo, ACL 2018 — SentencePiece's
  // other algorithm next to t13/t14's BPE) --------------------------

  /** t27 knobs — single-sourced into the generated replays. */
  val T27MaxPieceLen: Int = 4
  val T27SeedMulti: Int = 24
  val T27Rounds: Int = 2
  val T27K: Int = 20

  /** One word's Viterbi segmentation under a piece→score table — the
    * hard-EM E-step kernel (maximum-probability split; SentencePiece's
    * own Viterbi mode). dp over END positions, candidate piece lengths
    * 1..[[T27MaxPieceLen]] evaluated ASCENDING with a strict `>` so an
    * exact score tie keeps the SHORTER piece — the tie rule the SQL
    * replay's `c1 >= c2 ...` CASE chain encodes identically. Single
    * characters are always in the vocab, so every position is
    * reachable and no -inf arithmetic exists on either engine. */
  private[graft] def unigramViterbiLocal(word: String, pieces: Seq[String],
                                         scores: Seq[Double],
                                         unkSingle: Double =
                                           Double.NegativeInfinity): Seq[String] = {
    val score = pieces.zip(scores).toMap
    val L = word.length
    val dp = new Array[Double](L + 1)
    val choice = new Array[Int](L + 1)
    var i = 1
    while (i <= L) {
      var best = Double.NegativeInfinity
      var bestL = 0
      var l = 1
      while (l <= math.min(T27MaxPieceLen, i)) {
        // out-of-vocab SINGLE characters fall back to `unkSingle`
        // (the serve path's UNK; −∞ — the training default, where the
        // alphabet is in-vocab by construction — reproduces the
        // skip-missing behavior exactly: −∞ never beats best)
        val sOpt = score.get(word.substring(i - l, i)) match {
          case None if l == 1 => Some(unkSingle)
          case o => o
        }
        sOpt match {
          case Some(s) =>
            val cand = dp(i - l) + s
            if (cand > best) { best = cand; bestL = l }
          case None =>
        }
        l += 1
      }
      dp(i) = best
      choice(i) = bestL
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var p = L
    while (p > 0) { val l = choice(p); out += word.substring(p - l, p); p -= l }
    out.reverse.toSeq
  }

  private val unigramSegmentUdf =
    udf { (w: String, pieces: Seq[String], scores: Seq[Double]) =>
      unigramViterbiLocal(w, pieces, scores)
    }

  /** t27: unigram-LM tokenizer training — the OTHER real-world
    * subword algorithm next to BPE (t13): seed a piece inventory from
    * weighted substring counts, then [[T27Rounds]] rounds of hard EM
    * (E: Viterbi-segment every distinct word under the current piece
    * scores — [[unigramViterbiLocal]]; M: re-score pieces from the
    * weighted segmentation counts with add-1 smoothing, t12's ln
    * discipline). Output: the top-[[T27K]] pieces of the final
    * segmentation by (uses DESC, piece ASC) with their r4-floored
    * log-probs.
    *
    * Scale shape (the t13 contract): the corpus collapses once to the
    * (distinct word, count) table — every EM pass scans THAT, never
    * the corpus; the piece table collected per round is model state
    * (≤ seedMulti + |alphabet| rows, like the k-means centroids); the
    * segmentation E-step is a narrow distributed map (kernel over the
    * broadcast score table), and all counts are map-side-combined
    * integer aggregates. `rounds` is FIXED, so the DuckDB oracle
    * unrolls the whole trajectory — the per-word Viterbi DP becomes
    * one nested subquery layer per word position (the t26 lesson:
    * same-SELECT lateral aliases blow up by substitution), with the
    * backtrack walked in 8 more layers and the piece emission as a
    * UNION over segment slots. */
  def unigramTrain(s: SparkSession, dir: String): DataFrame =
    unigramTrain(t(s, dir, "documents"), "text")

  def unigramTrain(docs: DataFrame, textCol: String,
                   seedMulti: Int = T27SeedMulti, rounds: Int = T27Rounds,
                   k: Int = T27K): DataFrame = {
    val spark = docs.sparkSession
    val (pieces, counts) = unigramEm(docs, textCol, seedMulti, rounds)
    val nVocab = pieces.length
    val totalC = counts.values.sum
    val rows = counts.toSeq
      .sortBy { case (p, c) => (-c, p) }.take(k).zipWithIndex
      .map { case ((p, c), idx) =>
        val logp = math.log((c + 1).toDouble / (totalC + nVocab).toDouble)
        (idx + 1, p, c, math.floor(logp * 1e4 + 0.5) / 1e4)
      }
    import spark.implicits._
    rows.toDF("rk", "piece", "n_uses", "logp")
  }

  /** The t27 hard-EM fit itself: (vocab pieces, final-round piece-use
    * counts) — shared by the t27 report and the t29 model pin. */
  private[graft] def unigramEm(docs: DataFrame, textCol: String,
                               seedMulti: Int = T27SeedMulti,
                               rounds: Int = T27Rounds): (Seq[String], Map[String, Long]) = {
    val words = docs.select(explode(tokensOf(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false) // feeds the seed pass + every EM round
    // seed: every (position, length ≤ MaxPieceLen) substring occurrence,
    // weighted by the word count
    val occ = words
      .select(col("w"), col("n"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(col("w"), col("n"), col("i"),
        explode(sequence(lit(1), lit(T27MaxPieceLen))).as("l"))
      .filter(col("i") + col("l") - 1 <= length(col("w")))
      .select(col("w").substr(col("i"), col("l")).as("piece"), col("n"))
    val f0 = occ.groupBy("piece").agg(sum("n").as("f")).localCheckpoint(eager = false)
    val singles = f0.filter(length(col("piece")) === 1)
    val multis = globalTopK(f0.filter(length(col("piece")) > 1),
      Seq(("f", false), ("piece", true)), seedMulti)
      .select("piece", "f")
    val vocab0: Array[(String, Long)] =
      singles.unionByName(multis).collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val nVocab = vocab0.length
    val total0 = vocab0.map(_._2).sum
    var pieces: Seq[String] = vocab0.map(_._1).toSeq
    var scores: Seq[Double] =
      vocab0.map(p => math.log(p._2.toDouble / total0.toDouble)).toSeq
    var counts: Map[String, Long] = Map.empty
    for (_ <- 1 to rounds) {
      val seg = words.select(col("n"),
        explode(unigramSegmentUdf(col("w"),
          typedLit(pieces), typedLit(scores))).as("piece"))
      counts = seg.groupBy("piece").agg(sum("n").as("c")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val totalC = counts.values.sum
      scores = pieces.map(p =>
        math.log((counts.getOrElse(p, 0L) + 1).toDouble /
          (totalC + nVocab).toDouble))
    }
    (pieces, counts)
  }

  /** Per-document tokenize-and-count kernel (r18, guide §1.2/§2.4):
    * one UDF call per DOCUMENT returns (n_words, Σ n_sub) directly, so
    * the serve-path encodes (t14/t29/t32, x23/x24/x25's token mass)
    * need ZERO corpus shuffles before their final aggregate — the
    * explode → distinct → join-back shape they shared paid one distinct
    * shuffle plus one corpus-sized sort-merge join per invocation, and
    * scanned the corpus TWICE (the `words` frame fed both the vocab
    * derivation and the join-back). The "kernel once per DISTINCT word"
    * economy is kept by a per-task memo: the closure (and its HashMap)
    * is deserialized per task, so each task Viterbi/merge-encodes a
    * word at most once (guide §4.5 once-per-task state; a [[WordMemo]],
    * bounded in entries and in key characters, so a pathological
    * vocabulary degrades to recompute, never OOM). The memo is
    * task-lifetime state for a PURE function of
    * (word, pinned model literal) — never a result keyed on the input
    * dir, and it dies with the task. Tokenization is
    * `trimSpaces(text).split("\\s+", -1)` — identical to the column form
    * `split(trim(text), "\\s+")` (Spark's `trim` strips only ' ', and its
    * split is Java-regex with limit -1), so n_words is bit-equal to the
    * exploded count, tabs and newlines at the ends included. */
  private[graft] def encodeCountsUdf(nSubOf: String => Long) = {
    val memo = new WordMemo
    udf { text: String =>
      val toks = trimSpaces(text).split("\\s+", -1)
      var nw = 0L
      var ns = 0L
      var i = 0
      while (i < toks.length) {
        nw += 1L
        ns += memo.getOrCompute(toks(i), nSubOf)
        i += 1
      }
      (nw, ns)
    }
  }

  /** [[WordMemo]]'s bounds. The entry count alone does not bound its
    * memory: 2^20 keys of a few KB each (URLs, base64 runs) would hold
    * GBs per task. 2^23 key chars (16 MB of UTF-16) allows 8 chars per
    * entry at the entry cap, about an ordinary vocabulary's mean. */
  private[graft] val MemoMaxEntries: Int = 1 << 20
  private[graft] val MemoMaxKeyChars: Long = 1L << 23

  /** A word → count memo that stops growing once it holds
    * [[MemoMaxEntries]] words or a word would take its keys past
    * [[MemoMaxKeyChars]] characters; words it does not hold are
    * computed on every lookup. */
  private[graft] final class WordMemo extends Serializable {
    private val memo = new java.util.HashMap[String, java.lang.Long]()
    private var chars = 0L
    def size: Int = memo.size
    def keyChars: Long = chars
    def getOrCompute(w: String, f: String => Long): Long = {
      val v = memo.get(w)
      if (v != null) v.longValue()
      else {
        val x = f(w)
        if (memo.size < MemoMaxEntries && chars + w.length <= MemoMaxKeyChars) {
          memo.put(w, x)
          chars += w.length
        }
        x
      }
    }
  }

  /** Spark SQL `trim`: strips ' ' only, where `String.trim` strips every
    * char <= U+0020 (tabs, CR, LF too). */
  private def trimSpaces(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    s.substring(b, e)
  }

  /** Leftmost-greedy application of a rank-ordered merge list to one
    * word's symbol sequence — the same sequential kernel as one
    * training round, folded over every merge in rank order, so
    * encoding a training-corpus word reproduces exactly the symbols
    * the training loop left it with. */
  private[graft] def applyMergesLocal(word: String,
                               merges: Seq[(String, String)]): Seq[String] = {
    var syms: Seq[String] =
      word.toCharArray.map(_.toString).toSeq :+ "</w>"
    merges.foreach { case (a, b) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.toSeq
    }
    syms
  }

  /** t14: BPE ENCODING — the serve half of the tokenizer lifecycle
    * ([[bpeMerges]] trains the merge table; this applies it), reporting
    * the per-document subword token count: the number that token-budget
    * sharding (x03) and context-window chunking (t09) actually need
    * from a trained tokenizer.
    *
    * Scale shape: the merge table is driver model state (nMerges rows —
    * like the PQ codebooks); encoding runs ONCE PER DISTINCT WORD (the
    * same corpus→vocabulary collapse as training — a Zipf-bounded
    * frame), and documents get their counts back through a join on the
    * word key, never re-running the kernel per occurrence. The
    * REGISTERED t14 is [[bpeEncodePinned]] (pinned merge table ⇒ exact
    * DuckDB oracle); this train-then-encode composition stays for the
    * lifecycle law CorpusOpsSpec pins (encode(train(corpus)) matches an
    * independent driver-side recomputation). */
  def bpeEncode(s: SparkSession, dir: String): DataFrame =
    bpeEncode(t(s, dir, "documents"), "doc_id", "text")

  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
                nMerges: Int = 8): DataFrame = {
    val merges = bpeMerges(docs, textCol, nMerges).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    bpeEncodeWith(docs, idCol, textCol, merges)
  }

  /** The 8-merge tokenizer [[bpeMerges]] learns on the synthetic
    * documents corpus at sf0.01, pinned as a literal model fixture.
    * With the merge table pinned, the t14 encode becomes a PURE
    * function of (text, merges) — so the driver can oracle it exactly
    * (a DuckDB recursive CTE replays the leftmost-greedy merges over a
    * space-separated symbol string; replace-first is equivalent to
    * BPE's non-overlapping left-to-right scan because a merge never
    * creates a new occurrence of its own pair to its left). This is
    * the fit-once/serve-many split of s11 applied to the tokenizer:
    * training (t13) stays iterative and driver-synced, serving is a
    * pinned-model pure map. */
  val pinnedMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"),
    ("o", "w"), ("ow", "</w>"), ("o", "r"), ("s", "t"))

  /** t14 registered form: encode with the [[pinnedMerges]] fixture. */
  def bpeEncodePinned(s: SparkSession, dir: String): DataFrame =
    bpeEncodeWith(t(s, dir, "documents"), "doc_id", "text", pinnedMerges)

  /** Encode with a pre-trained merge list (the fit-once serve path —
    * symmetric with [[graft.operators.PqModel]]). */
  def bpeEncodeWith(docs: DataFrame, idCol: String, textCol: String,
                    merges: Seq[(String, String)]): DataFrame = {
    // ONE scan-local kernel pass (see [[encodeCountsUdf]]): zero
    // shuffles before the presentation sort — the prior shape paid a
    // vocab distinct + a corpus-sized join-back + a doc-keyed aggregate
    // (3 exchanges, 2 corpus scans) for the same integers.
    val k = encodeCountsUdf(w => applyMergesLocal(w, merges).length.toLong)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), k(col(textCol)).as("k"))
      .select(col(idCol), col("k._1").as("n_words"),
        col("k._2").as("n_bpe_tokens"))
      .orderBy(idCol)
  }

  /** t32: tokenizer FERTILITY by language — BPE tokens per whitespace
    * word under the pinned model, the multilingual tokenizer-quality
    * dial (a language at fertility ≫ 1 is being fragmented: its
    * documents cost proportionally more context budget — the
    * BLOOM/Aya-style equity measurement run before committing a vocab
    * to a 100 TB mix). Milli-floored on exact integer sums.
    *
    * Same shape as t14: the merge UDF runs on the DISTINCT word
    * vocabulary only (vocab-sized, never corpus-sized), one
    * (lang, word) join-back, one lang-keyed aggregate. */
  def bpeFertility(s: SparkSession, dir: String): DataFrame =
    bpeFertilityWith(t(s, dir, "documents"), "lang", "text", pinnedMerges)

  def bpeFertilityWith(docs: DataFrame, groupCol: String, textCol: String,
                       merges: Seq[(String, String)]): DataFrame = {
    // one kernel pass + one n_langs-row aggregate (was: distinct +
    // corpus join-back + aggregate — see [[encodeCountsUdf]]); the
    // per-doc (n_words, n_sub) pairs map-side-combine into the lang
    // groups, so the only exchange carries n_langs rows
    val k = encodeCountsUdf(w => applyMergesLocal(w, merges).length.toLong)
    docs.filter(col(textCol).isNotNull)
      .select(col(groupCol), k(col(textCol)).as("k"))
      .groupBy(groupCol)
      .agg(sum("k._1").as("n_words"),
        sum("k._2").as("n_bpe_tokens"))
      .withColumn("fertility_milli",
        floor(col("n_bpe_tokens") * 1000.0 / col("n_words") + 0.5)
          .cast("long"))
      .orderBy(groupCol)
  }

  /** Document fingerprinting: md5 over whitespace-normalized lowered
    * text — the exact-dedup key. Stable across engines. */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    fingerprint(t(s, dir, "documents"), "doc_id", "text")

  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(
        col(idCol),
        md5(lower(regexp_replace(trim(col(textCol)), "\\s+", " "))).as("fp"))
      .orderBy(idCol)

  /** t16: inverted-index build — the IR artifact BM25 (t10) documents
    * as unnecessary for a fixed small query set, materialized for the
    * serving case where it isn't: per term, document frequency,
    * collection frequency, and a doc_id-ordered posting list of
    * `doc:tf` pairs CAPPED at `postingCap` entries (the stopword row
    * would otherwise be a posting list the size of the corpus — the
    * same hot-key cap as the d06 DF-capped join; `df`/`cf` stay exact
    * over ALL postings, only the materialized list is truncated).
    *
    * Scale shape: one explode (narrow), one shuffle on (term, doc) for
    * tf, one hash re-agg on term whose per-group state is bounded by
    * the cap + two counters. Every value is an integer or a string —
    * no float in the artifact, so the oracle is exact. */
  def invertedIndex(s: SparkSession, dir: String): DataFrame =
    invertedIndex(t(s, dir, "documents"), "doc_id", "text")

  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
                    postingCap: Int = 10): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(tokensOf(col(textCol))).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))
    tf.groupBy("term")
      .agg(
        count(lit(1)).as("df"),
        sum("tf").as("cf"),
        array_join(
          transform(
            slice(array_sort(collect_list(struct(col("doc_id"), col("tf")))),
              1, postingCap),
            e => concat_ws(":", e("doc_id"), e("tf"))),
          ",").as("postings"))
      .select(col("term"), col("df"), col("cf"), col("postings"))
      .orderBy("term")
  }

  /** t15: span-level exact dedup, C4-style — the corpus-wide "keep the
    * FIRST occurrence of every repeated span" pass (C4 does it on
    * 3-sentence spans; here the span unit is the non-overlapping
    * [[chunkWindows]] chunk, width = stride = 32 tokens, since the
    * synthetic docs have no sentence boundaries). A chunk occurrence
    * survives iff no earlier (doc_id, chunk_id) has byte-identical
    * chunk text; the per-doc report is (n_chunks, n_kept, kept_frac) —
    * the signal a curation run thresholds on ("drop docs that are
    * mostly boilerplate seen elsewhere").
    *
    * Scale shape: one narrow explode (no shuffle), then ONE shuffle on
    * the 16-byte md5 of the chunk — never the chunk text — into
    * per-fingerprint first-occurrence windows (each fingerprint group
    * is tiny: the duplicate multiplicity), then a hash re-agg on
    * doc_id. No global window, no driver state; the heavy key is the
    * fingerprint, which is uniform by construction — skew-free. */
  def chunkDedup(s: SparkSession, dir: String): DataFrame =
    chunkDedup(t(s, dir, "documents"), "doc_id", "text")

  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
                 width: Int = 32): DataFrame = {
    val occ = chunkOccurrences(docs, idCol, textCol, width = width, stride = width)
      .select(col(idCol), col("chunk_id"), md5(col("chunk_text")).as("fp"))
    val w = Window.partitionBy("fp").orderBy(col(idCol).asc, col("chunk_id").asc)
    occ
      .withColumn("rn", row_number().over(w))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_chunks"),
        count(when(col("rn") === 1, lit(1))).as("n_kept"))
      .withColumn("kept_frac",
        r4(col("n_kept").cast("double") / col("n_chunks")))
      .orderBy(idCol)
  }

  /** t26: stride-1 duplicated-span coverage — the exact-substring
    * dedup signal of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (ACL 2022), in its distributed
    * fingerprint form. t15 windows the corpus at stride = width, so a
    * duplicate phrase straddling a chunk boundary or shifted by one
    * token is invisible; here EVERY token position opens a w-token
    * window (stride 1), a window is duplicated iff its fingerprint
    * occurs ≥ 2 times corpus-wide (the suffix-array "appears twice"
    * criterion restricted to fixed w), and the per-doc report is the
    * interval-UNION coverage of duplicated windows — the fraction of
    * the doc's tokens lying inside some corpus-repeated span, which is
    * what a curation run thresholds on.
    *
    * Scale shape: fingerprints come from ONE single-pass kernel per
    * doc ([[graft.functions.Hashing.windowHashes]] — FNV each token
    * once, chain w token hashes per position through the shingle
    * splitmix; 8-byte keys, no substrings rebuilt), then ONE count
    * shuffle on the fingerprint and one equi-join back mark the
    * duplicated occurrences; the coverage union is the q19/q33
    * gaps-and-islands running-max — per-doc windows, bounded by doc
    * length, no global window. Corpus-linear at n_tokens fingerprint
    * rows total, which is the published algorithm's map-reduce cost.
    * All-integer + one r4 division ⇒ exact DuckDB replay (the d04
    * HUGEINT splitmix chain, unrolled w rounds by the generator). */
  def spanCoverage(s: SparkSession, dir: String): DataFrame =
    spanCoverage(t(s, dir, "documents"), "doc_id", "text")

  /** t26's window width — single-sourced into both generated replays
    * (the S18SplitId/DefaultBucketCap discipline). */
  val T26Width: Int = 16

  def spanCoverage(docs: DataFrame, idCol: String, textCol: String,
                   w: Int = T26Width): DataFrame = {
    val hash = graft.functions.Hashing
    val base = docs.select(col(idCol),
      size(tokensOf(col(textCol))).as("n_tokens"),
      hash.windowHashesCol(col(textCol), lit(w)).as("fps"))
    val wins = base.filter(col("n_tokens") >= w)
      .select(col(idCol), posexplode(col("fps")).as(Seq("i", "fp")))
      .localCheckpoint(eager = false) // feeds the count AND the mark join
    val dupFps = wins.groupBy("fp")
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select("fp")
    val marked = wins.join(dupFps, "fp")
      .select(col(idCol), col("i"), (col("i") + lit(w - 1)).as("e"))
    val prev = Window.partitionBy(idCol).orderBy("i")
      .rowsBetween(Window.unboundedPreceding, -1)
    val contrib = greatest(lit(0),
      col("e") - greatest(col("i") - 1, coalesce(max(col("e")).over(prev), lit(-1))))
    val agg = marked.withColumn("contrib", contrib)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_dup_windows"),
        sum(col("contrib")).as("covered_tokens"))
    base.select(col(idCol), col("n_tokens"))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        greatest(col("n_tokens") - lit(w - 1), lit(0)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        r4(coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("dup_frac"))
      .orderBy(idCol)
  }

  /** t18: collocation extraction by pointwise mutual information — the
    * phrase-mining pass a tokenizer/vocab pipeline runs before merging
    * multi-word units: PMI(a b) = ln( p(ab) / (p(a)·p(b)) ) with
    * p(ab) = c(ab)/B over corpus bigram count B and p(w) = c(w)/T over
    * corpus token count T, floored at `minCount` co-occurrences so
    * one-off pairings don't dominate. Output: the top-`k` bigrams
    * ranked by (4-dp-floored PMI DESC, bigram ASC) — ranking on the
    * ROUNDED value is what makes the order engine-portable (the s01
    * discipline, t12's ln/floor discipline for the float itself).
    *
    * Scale shape: two narrow explodes and two count shuffles (bigram,
    * unigram), the two scalar totals broadcast back (the BM25/q24
    * 1-row-aggregate pattern), one broadcast-able top-k. Nothing
    * corpus-sized crosses the wire beyond the count frames. */
  def collocations(s: SparkSession, dir: String, minCount: Int = 5,
                   k: Int = 20): DataFrame =
    collocations(t(s, dir, "documents"), "text", minCount, k)

  def collocations(docs: DataFrame, textCol: String, minCount: Int,
                   k: Int): DataFrame = {
    val bg = docs.select(explode(bigramsUdf(col(textCol))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_pair"))
    val uni = docs
      .select(explode(tokensOf(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    val totals = bg.agg(sum("n_pair").as("b_total")).crossJoin(
      uni.agg(sum("n_w").as("t_total")))
    val w1 = uni.select(col("w").as("w1"), col("n_w").as("n_w1"))
    val w2 = uni.select(col("w").as("w2"), col("n_w").as("n_w2"))
    val scored = bg.filter(col("n_pair") >= minCount)
      .withColumn("w1", split(col("bigram"), " ")(0))
      .withColumn("w2", split(col("bigram"), " ")(1))
      .join(w1, "w1").join(w2, "w2")
      .crossJoin(broadcast(totals))
      .select(col("bigram"), col("n_pair"),
        r4(log(
          (col("n_pair").cast("double") / col("b_total")) /
            ((col("n_w1").cast("double") / col("t_total")) *
              (col("n_w2").cast("double") / col("t_total"))))).as("pmi"))
    scored.orderBy(desc("pmi"), asc("bigram")).limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(desc("pmi"), asc("bigram"))))
      .select("rk", "bigram", "n_pair", "pmi")
      .orderBy("rk")
  }

  /** t17: phrase search via POSITIONAL intersection — the query-serving
    * complement of the inverted index (t16): t16's `doc:tf` postings
    * answer bag-of-words queries only; a phrase query ("customer join"
    * as a unit, not customer AND join) needs token POSITIONS. This is
    * the classic positional-index algorithm: per query phrase (w₁ w₂),
    * intersect the postings of w₁ and w₂ on (doc, pos+1) — a doc
    * matches iff w₂ occurs exactly one position after w₁.
    *
    * Query phrases are data-derived (no hand fixture): the corpus's
    * `nPhrases` most frequent bigrams, ties to the lexicographically
    * smaller phrase — deterministic, so the oracle re-derives them.
    * Output per (phrase, doc): occurrence count and first position.
    *
    * Scale shape: the positional postings frame is ONE narrow
    * posexplode (no shuffle); phrase selection is one (bigram) count
    * shuffle + a metadata-sized global top-k; the intersection itself
    * touches ONLY the postings of queried terms — each side is a
    * broadcast-pruned semi-join of the token frame (the phrase table
    * is k rows), so the join shuffles |postings(w₁)| + |postings(w₂)|
    * rows on (phrase, doc), never the corpus. At 100 TB the postings
    * frame would be a bucketed table on `term`; the per-query cost is
    * unchanged (posting-list sized, like a serving index). */
  def phraseSearch(s: SparkSession, dir: String, nPhrases: Int = 3): DataFrame =
    phraseSearch(t(s, dir, "documents"), "doc_id", "text", nPhrases)

  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   nPhrases: Int): DataFrame = {
    // positional postings: (doc_id, pos [1-based], term)
    val tok = docs
      .select(col(idCol).as("doc_id"),
        posexplode(tokensOf(col(textCol))).as(Seq("pos0", "term")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("term"))
    val phrases = docs
      .select(explode(bigramsUdf(col(textCol))).as("phrase"))
      .groupBy("phrase").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("phrase")).limit(nPhrases)
      .select(col("phrase"),
        split(col("phrase"), " ")(0).as("w1"),
        split(col("phrase"), " ")(1).as("w2"))
    val p1 = tok.join(broadcast(phrases.select("phrase", "w1")),
        col("term") === col("w1"))
      .select(col("phrase"), col("doc_id"), col("pos"))
    val p2 = tok.join(broadcast(phrases.select(col("phrase").as("phrase2"),
        col("w2"))), col("term") === col("w2"))
      .select(col("phrase2"), col("doc_id").as("doc2"), col("pos").as("pos2"))
    p1.join(p2, col("phrase") === col("phrase2") &&
        col("doc_id") === col("doc2") && col("pos2") === col("pos") + 1)
      .groupBy("phrase", "doc_id")
      .agg(count(lit(1)).as("n_hits"), min("pos").as("first_pos"))
      .orderBy("phrase", "doc_id")
  }

  /** t21: bigram-LM continuation table — the SERVING artifact of the
    * t12 bigram model: for the `nCtx` highest-frequency context words,
    * the `k` most likely next tokens with their conditional
    * probabilities P(next|context) = n(context,next)/n(context,·).
    * This is the table an autocomplete/speculative-decoding layer, or
    * a data-quality "most predictable continuations" audit, actually
    * reads.
    *
    * At 100 TB: one (context, next) count shuffle — checkpointed once,
    * it feeds BOTH the context-total aggregate and the continuation
    * join (the t19 lesson) — the nCtx context table re-enters
    * broadcast, and both top-k selections run through
    * [[graft.plans.TopKPerGroup]] (AllTuples for the context ranking,
    * per-context partials for the continuations), so a mega-context
    * like "the" never funnels its full continuation list through one
    * task. Probabilities are [[r4]]-floored; counts are exact longs —
    * oracle-portable at any scale. */
  def lmContinuations(s: SparkSession, dir: String): DataFrame =
    lmContinuations(t(s, dir, "documents"), "text")

  def lmContinuations(docs: DataFrame, textCol: String,
                      nCtx: Int = 20, k: Int = 3): DataFrame = {
    val pairs = docs
      .select(explode(bigramsUdf(col(textCol))).as("bigram"))
      .select(split(col("bigram"), " ")(0).as("context"),
        split(col("bigram"), " ")(1).as("next_tok"))
      .groupBy("context", "next_tok").agg(count(lit(1)).as("n_pair"))
      .localCheckpoint(eager = false)
    val ctxTop = graft.plans.TopKPerGroup.topKPerGroup(
      pairs.groupBy("context").agg(sum("n_pair").as("ctx_total")),
      Seq.empty, Seq("ctx_total" -> false, "context" -> true), nCtx)
    val cont = pairs.join(broadcast(ctxTop), "context")
    val top = graft.plans.TopKPerGroup.topKPerGroup(cont, Seq("context"),
      Seq("n_pair" -> false, "next_tok" -> true), k)
    val w = Window.partitionBy("context").orderBy(desc("n_pair"), asc("next_tok"))
    top.withColumn("rk", row_number().over(w).cast("long"))
      .select(col("context"), col("rk"), col("next_tok"), col("n_pair"),
        r4(col("n_pair").cast("double") / col("ctx_total").cast("double"))
          .as("prob"))
      .orderBy("context", "rk")
  }

  /** t19: TF-IDF top terms per document — the classic sparse document
    * representation (Salton's vector space model; the smoothed IDF is
    * scikit-learn's `ln((N+1)/(df+1)) + 1`, which never goes negative
    * so ranks are stable). One row per (doc, rank): the k highest
    * TF-IDF terms, ties to the lexicographically smaller term.
    *
    * At 100 TB: explode → one (doc, term) shuffle for TF, one
    * term-keyed aggregate for DF joined back on the term key (vocab ≪
    * corpus; AQE broadcasts it when it fits), the corpus size a 1-row
    * broadcast, and the per-doc top-k routed through
    * [[graft.plans.TopKPerGroup]] so each map partition ships at most
    * k rows per doc instead of the full term list. The score is
    * [[r4]]-rounded BEFORE ranking, so the ordering — and the oracle
    * hash — is engine-exact. */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame =
    tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text")

  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    // lazy checkpoint: the (doc, term) aggregate feeds BOTH the score
    // join and the DF aggregate — without it the explode + first
    // shuffle run twice (measured at sf1: 3.1 s -> the re-run is the
    // whole gap vs the 10x-data linear expectation)
    val tf = docs
      .select(col(idCol), explode(tokensOf(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("term"),
        r4(col("tf").cast("double") *
          (log((col("n_docs").cast("double") + lit(1.0)) /
               (col("df").cast("double") + lit(1.0))) + lit(1.0))).as("tfidf"))
    val top = graft.plans.TopKPerGroup.topKPerGroup(scored, Seq(idCol),
      Seq("tfidf" -> false, "term" -> true), k)
    val w = Window.partitionBy(idCol).orderBy(desc("tfidf"), asc("term"))
    top.withColumn("rk", row_number().over(w).cast("long"))
      .select(idCol, "rk", "term", "tfidf")
      .orderBy(idCol, "rk")
  }

  /** Blocklist terms for [[blocklistFilter]]. Deterministic and tiny
    * by design, like [[stopwords]]: the published web-corpus filters
    * (C4's "bad words" list, Gopher's keyword rules) are fixed word
    * lists a pipeline ships, not learned state. `leak` never occurs in
    * the synthetic corpus — the zero-hit path stays exercised. */
  val blocklist: Seq[String] = Seq("slow", "dup", "leak")

  /** Default keep threshold for [[blocklistFilter]] — single-sourced
    * into the t22 oracle SQL (the s18/capGuard discipline: changing a
    * default must not silently desync the replay). */
  val BlocklistMaxFrac: Double = 0.05

  /** t22: blocklist filtering — the C4-style "contains a listed word"
    * document filter (Raffel et al., JMLR '20 §2.2 drop documents with
    * blocklisted words; Gopher keeps a threshold instead of a hard
    * drop — this takes the threshold form so the verdict is a tunable
    * column, not data loss). Per document: token count, flagged-token
    * count, flagged fraction, and the keep verdict
    * `flagged_frac < maxFrac` evaluated on the [[r4]]-floored fraction
    * so the boundary is engine-exact.
    *
    * At 100 TB: a pure Column map stage — the term list lives in the
    * codegen'd `isin` literal (no join, no broadcast, no shuffle);
    * cost is parquet scan throughput, the same shape as t01–t08. */
  def blocklistFilter(s: SparkSession, dir: String): DataFrame =
    blocklistFilter(t(s, dir, "documents"), "doc_id", "text", blocklist)

  def blocklistFilter(docs: DataFrame, idCol: String, textCol: String,
                      terms: Seq[String],
                      maxFrac: Double = BlocklistMaxFrac): DataFrame = {
    require(terms.nonEmpty, "blocklist must be non-empty")
    val tk = tokensOf(col(textCol))
    val flagged = size(filter(tk, w => w.isin(terms.map(lit(_): Any): _*)))
    docs
      .select(col(idCol),
        size(tk).cast("bigint").as("n_tokens"),
        flagged.cast("bigint").as("n_flagged"))
      .withColumn("flagged_frac",
        r4(col("n_flagged").cast("double") / col("n_tokens").cast("double")))
      .withColumn("keep", col("flagged_frac") < lit(maxFrac))
      .orderBy(idCol)
  }

  /** t23: boilerplate scrub with text reconstruction — the CCNet /
    * RefinedWeb corpus-level pass: a span whose text occurs `minDf`+
    * times ANYWHERE in the corpus is boilerplate (headers, footers,
    * license blurbs), and ALL its copies are removed — unlike t15,
    * which keeps the first occurrence and only reports. The span unit
    * is the non-overlapping 32-token chunk (the t15 rationale: the
    * synthetic docs have no line boundaries; on real data the unit is
    * the line/paragraph and NOTHING else changes). Output is the
    * cleaned CORPUS — per doc: chunk counts and the reconstructed
    * `clean_text` (surviving chunks re-joined in position order), the
    * artifact the next pipeline stage actually trains on.
    *
    * At 100 TB: the frequency pass shuffles ONLY (16-byte md5, count)
    * partials — map-side combine means chunk text never crosses for
    * counting. The boilerplate set (distinct fingerprints with n_occ ≥
    * minDf — rare-distinct, high-frequency by definition) broadcasts
    * back over the re-read chunk stream, so the single text-bearing
    * shuffle is the unavoidable per-doc reconstruction agg. If the
    * boilerplate set ever outgrew broadcast, the join key is still the
    * md5 — the fallback shuffle join carries fingerprints, not text. */
  def boilerplateScrub(s: SparkSession, dir: String): DataFrame =
    boilerplateScrub(t(s, dir, "documents"), "doc_id", "text")

  def boilerplateScrub(docs: DataFrame, idCol: String, textCol: String,
                       width: Int = 32, minDf: Long = 2L): DataFrame = {
    require(minDf >= 2, s"minDf ($minDf) < 2 would scrub every chunk")
    // materialize once: the occurrence stream feeds the frequency
    // aggregate AND the reconstruction join (the t19/t12 discipline)
    val occ = fingerprintedChunks(docs, idCol, textCol, width)
      .localCheckpoint(eager = false)
    val boiler = occ
      .groupBy("fp").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= minDf)
      .select("fp")
    scrubTail(occ, boiler, idCol)
  }

  /** The chunk stream with its 16-byte fingerprint — the unit both
    * boilerplate passes count and join on. */
  private def fingerprintedChunks(docs: DataFrame, idCol: String,
                                  textCol: String, width: Int): DataFrame =
    chunkOccurrences(docs, idCol, textCol, width = width, stride = width)
      .select(col(idCol), col("chunk_id"), col("chunk_text"),
        md5(col("chunk_text")).as("fp"))

  /** Shared scrub/reconstruction tail: drop chunks whose fp is in
    * `boiler(fp)` (broadcast — rare-distinct/high-frequency by
    * definition), re-join survivors in chunk order per doc. */
  private def scrubTail(occ: DataFrame, boiler: DataFrame,
                        idCol: String): DataFrame =
    occ
      .join(broadcast(boiler.withColumn("hit", lit(true))), Seq("fp"), "left")
      .withColumn("keep", col("hit").isNull)
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_chunks"),
        count(when(col("keep"), lit(1))).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("chunk_id"), col("chunk_text"))))),
            c => c.getField("chunk_text")),
          " ").as("clean_text"))
      .orderBy(idCol)

  /** t24: INCREMENTAL boilerplate admission — t23's contract under
    * continuous ingestion (the d11/d12 store discipline applied to the
    * span-frequency family): the ingested corpus persists ONLY its
    * chunk-fingerprint counts ([[boilerplateStore]] — 16-byte md5 +
    * int64 per distinct span; corpus text is never rescanned), and
    * each arriving batch is scrubbed against the COMBINED counts
    * (store + batch), so a span whose copies straddle the ingestion
    * boundary is caught exactly as if the whole corpus had been
    * processed at once. Law (spec-pinned): t24's batch verdicts ≡
    * [[boilerplateScrub]] over store ∪ batch, restricted to the batch
    * docs.
    *
    * At 100 TB: the store is distinct-span-count-sized (fingerprints,
    * not text); the batch pass is t23's shape with one extra
    * fingerprint-keyed LEFT join of batch-count partials against the
    * store — batch text still crosses only the per-doc
    * reconstruction shuffle. */
  val T24SplitAt: Long = 250L

  def incrementalBoilerplate(s: SparkSession, dir: String,
                             splitAt: Long = T24SplitAt,
                             width: Int = 32, minDf: Long = 2L): DataFrame = {
    val docs = t(s, dir, "documents")
    incrementalBoilerplate(
      docs.filter(col("doc_id") >= splitAt),
      boilerplateStore(docs.filter(col("doc_id") < splitAt),
        "doc_id", "text", width),
      "doc_id", "text", width, minDf)
  }

  /** The persisted-store artifact: (fp, n_occ) per distinct span of
    * the ingested corpus — what the streaming consumer extends. */
  def boilerplateStore(df: DataFrame, idCol: String, textCol: String,
                       width: Int = 32): DataFrame =
    fingerprintedChunks(df, idCol, textCol, width)
      .groupBy("fp").agg(count(lit(1)).as("n_occ"))

  /** The probe half over an explicit store: combined-count verdicts +
    * reconstruction for the batch docs only. */
  def incrementalBoilerplate(batch: DataFrame, store: DataFrame,
                             idCol: String, textCol: String,
                             width: Int, minDf: Long): DataFrame = {
    require(minDf >= 2, s"minDf ($minDf) < 2 would scrub every chunk")
    val occB = fingerprintedChunks(batch, idCol, textCol, width)
      .localCheckpoint(eager = false)
    val boiler = occB
      .groupBy("fp").agg(count(lit(1)).as("n_batch"))
      .join(store.select(col("fp"), col("n_occ").as("n_store")),
        Seq("fp"), "left")
      .filter(col("n_batch") + coalesce(col("n_store"), lit(0L)) >= minDf)
      .select("fp")
    scrubTail(occB, boiler, idCol)
  }

  /** t30's absolute discount — single-sourced into the oracle replay
    * (the canonical 0.75 of Chen & Goodman 1998). */
  val T30Discount: Double = 0.75

  /** t30: interpolated Kneser–Ney bigram probabilities — the smoothing
    * the t12/t21 add-α bigram LM is the baseline for (Kneser & Ney
    * 1995; Chen & Goodman, "An Empirical Study of Smoothing Techniques
    * for Language Modeling", 1998): mass D is discounted from every
    * seen bigram and redistributed over the CONTINUATION unigram
    * distribution P_cont(w₂) = N₁₊(·w₂)/N_b — "how many contexts does
    * w₂ complete" rather than "how often does w₂ occur" — which is
    * what stops high-count-but-single-context words from absorbing
    * backoff mass. P(w₂|w₁) = max(c₁₂−D,0)/c₁ + (D·N₁₊(w₁·)/c₁)·P_cont(w₂).
    *
    * Scale shape: the t18 pattern — one bigram count shuffle, two
    * grouped reductions OVER THE COUNT FRAME (type-level, far smaller
    * than the corpus), the 1-row bigram-type total broadcast back.
    * Every count is an exact integer; the probability is one fixed
    * double expression floored at 6 dp, so the oracle replays it
    * bit-identically. The per-context sum-to-1 law is spec-pinned on
    * the unrounded [[knTable]]. */
  def knBigrams(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    knBigrams(t(s, dir, "documents"), "text", k)

  def knBigrams(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val ranked = knTable(docs, textCol)
      .select(col("w1"), col("w2"), col("n12"),
        (floor(col("p_kn") * 1e6 + 0.5) / 1e6).as("p_kn"))
      .orderBy(desc("n12"), asc("w1"), asc("w2")).limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(desc("n12"), asc("w1"), asc("w2"))))
    ranked.select("rk", "w1", "w2", "n12", "p_kn").orderBy("rk")
  }

  /** The full (unrounded) KN table — exposed for the normalization
    * law: for every context w₁, Σ_{w₂ seen} P(w₂|w₁) + backoff mass
    * of unseen continuations = 1, and since P_cont sums to 1 over ALL
    * w₂ types, Σ_{seen w₂} max(c−D,0)/c₁ + λ(w₁)·ΣP_cont(seen) ≤ 1
    * with equality when every type continues w₁. */
  private[graft] def knTable(docs: DataFrame, textCol: String): DataFrame = {
    val d = T30Discount
    val bg = docs.select(tokensOf(col(textCol)).as("tk"))
      .where(size(col("tk")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(tk) - 1),
           i -> struct(element_at(tk, i) AS w1,
                       element_at(tk, i + 1) AS w2))""")).as("b"))
      .select("b.w1", "b.w2")
    val bgc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
    val ctx = bgc.groupBy("w1").agg(sum("n12").as("c1"),
      count(lit(1)).as("fwd"))
    val cont = bgc.groupBy("w2").agg(count(lit(1)).as("back"))
    val nb = bgc.agg(count(lit(1)).as("nb"))
    bgc.join(ctx, "w1").join(cont, "w2").crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("n12"),
        (greatest(col("n12").cast("double") - d, lit(0.0)) /
            col("c1").cast("double") +
          ((lit(d) * col("fwd").cast("double")) / col("c1").cast("double")) *
            (col("back").cast("double") / col("nb").cast("double")))
          .as("p_kn"))
  }

  /** d14: cross-document duplicated-SPAN extraction — the removal-list
    * form of t26's coverage signal (Lee et al., ACL 2022 §4: their
    * suffix-array pass emits the actual byte ranges to cut, not just a
    * fraction): same stride-1 window fingerprints, same "occurs ≥ 2
    * times corpus-wide" criterion, but the marked windows are merged
    * into MAXIMAL per-doc islands and reported as (start, end) token
    * spans a scrub pass can splice out. Gaps-and-islands is the
    * q19/q33 running-max: a window opens a new span iff its start lies
    * beyond every previous window's end.
    *
    * Scale: identical to t26 (one fingerprint count shuffle + one
    * mark join + per-doc windows); the extra island id is one more
    * column in the same per-doc window pass, no new exchange. */
  def dupSpans(s: SparkSession, dir: String): DataFrame =
    dupSpans(t(s, dir, "documents"), "doc_id", "text")

  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
               w: Int = T26Width): DataFrame = {
    val hash = graft.functions.Hashing
    val base = docs.select(col(idCol),
      size(tokensOf(col(textCol))).as("n_tokens"),
      hash.windowHashesCol(col(textCol), lit(w)).as("fps"))
    val wins = base.filter(col("n_tokens") >= w)
      .select(col(idCol), posexplode(col("fps")).as(Seq("i", "fp")))
      .localCheckpoint(eager = false) // feeds the count AND the mark join
    val dupFps = wins.groupBy("fp")
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select("fp")
    val marked = wins.join(dupFps, "fp")
      .select(col(idCol), col("i"), (col("i") + lit(w - 1)).as("e"))
    val prev = Window.partitionBy(idCol).orderBy("i")
      .rowsBetween(Window.unboundedPreceding, -1)
    // a window opens a new span iff a token gap exists: its start is
    // at least 2 past the running max end (adjacent windows merge —
    // the union of overlapping-or-touching intervals is one interval)
    val opens = (col("i") >
      coalesce(max(col("e")).over(prev), lit(-2L)) + 1).cast("long")
    val islandId = sum(opens).over(Window.partitionBy(idCol).orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    marked
      .withColumn("island", islandId)
      .groupBy(idCol, "island")
      .agg(min(col("i")).as("span_start"),
        max(col("e")).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("island").cast("int").as("span_id"),
        col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_windows"))
      .orderBy(idCol, "span_id")
  }

  /** t31: memorization audit — for each EVAL document, the fraction of
    * its stride-1 token windows that appear verbatim anywhere in the
    * TRAIN split (the Carlini et al. extractable-memorization /
    * eval-contamination measurement at window granularity; x05/x16
    * answer "is this eval DOC in the corpus", this answers "how much
    * of it is"). Splits come from the x01 hash rule keyed on the doc
    * id ('val' docs belong to neither side and are ignored); windows
    * are t26's [[graft.functions.Hashing.windowHashesCol]]
    * fingerprints, width [[T26Width]].
    *
    * Scale shape: the train side reduces to a DISTINCT 8-byte
    * fingerprint frame (one slim shuffle over the corpus — the same
    * key discipline as d01's store); the eval side is benchmark-sized
    * and joins fingerprint-keyed, so the corpus never moves whole. At
    * 100 TB the x18 Bloom index fronts this join as the O(bits)
    * broadcast pre-filter; here the exact join IS the gate artifact.
    * Ratio is milli-rounded on exact integer counts (order-free). */
  def memorization(s: SparkSession, dir: String): DataFrame = {
    val sp = Sampling.deterministicSplit(t(s, dir, "documents"), "doc_id")
    memorization(sp.filter(col("split") === "train"),
      sp.filter(col("split") === "test"), "doc_id", "text")
  }

  def memorization(train: DataFrame, eval: DataFrame, idCol: String,
                   textCol: String, w: Int = T26Width): DataFrame =
    memorizationFromFps(windowFpStore(train, idCol, textCol, w),
      eval, idCol, textCol, w)

  /** The per-doc window-fingerprint rows [[memorization]] composes. */
  private def windowFps(df: DataFrame, idCol: String, textCol: String,
                        w: Int): DataFrame = df
    .filter(size(tokensOf(col(textCol))) >= w)
    .select(col(idCol),
      explode(graft.functions.Hashing.windowHashesCol(col(textCol), lit(w)))
        .as("fp"))

  /** The train side's persisted artifact: the DISTINCT fingerprint set
    * (`fp BIGINT`) — what a continuous-ingestion memorization audit
    * keeps instead of corpus text. Membership is idempotent under set
    * union, so batch-keyed store PARTIALS of this frame compose
    * exactly ([[graft.streaming.IncrementalJobs.startMemorizationStore]]). */
  def windowFpStore(train: DataFrame, idCol: String, textCol: String,
                    w: Int = T26Width): DataFrame =
    windowFps(train, idCol, textCol, w).select("fp").distinct()

  /** t33: n-gram novelty — per document, the share of its DISTINCT
    * word trigrams whose FIRST corpus occurrence (min doc_id) is this
    * document. The marginal-value dial of incremental corpus growth:
    * a crawl batch whose docs score near 0 re-states what the corpus
    * already contains (even when no d01/d02 rule fires — novelty
    * measures n-gram-level redundancy, not document-level
    * duplication); sorting acquisition sources by mean novelty is the
    * standard data-valuation heuristic.
    *
    * Scale shape: one trigram explode (the t19/v05 cost class) cut
    * immediately to DISTINCT (doc_id, fp) md5 rows — text never
    * shuffles; the first-occurrence frame is a min-aggregate of the
    * SAME fp-keyed frame, so the distinct → min-agg → join chain
    * hash-partitions on fp once (AQE co-partitions); the final
    * doc-keyed aggregate carries 3 slim columns. Docs with fewer than
    * 3 tokens have no trigrams and report novelty 1000 by convention
    * (they add nothing and collide with nothing). */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame =
    ngramNovelty(t(s, dir, "documents"), "doc_id", "text")

  /** The t33/t34 trigram fingerprint frame: DISTINCT (id, md5) rows
    * over word trigrams. The size >= 3 filter guards sequence()'s
    * descending edge (the x22 lesson: sequence(0, -1) DESCENDS
    * instead of being empty). */
  private[graft] def trigramFps(docs: DataFrame, idCol: String,
                                textCol: String): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    docs.select(col(idCol), toks.as("tk"))
      .where(size(col("tk")) >= 3)
      .select(col(idCol),
        explode(transform(sequence(lit(0), size(col("tk")) - 3),
          i => md5(concat_ws(" ",
            get(col("tk"), i), get(col("tk"), i + 1),
            get(col("tk"), i + 2))))).as("fp"))
      .distinct()
  }

  /** t34's persisted store artifact: the DISTINCT trigram fingerprint
    * set (`fp STRING`). Set membership is idempotent under union, so
    * batch-keyed store PARTIALS compose exactly (the t31/x18
    * argument; [[graft.streaming.IncrementalJobs.startIncrementalNovelty]]). */
  def noveltyStore(docs: DataFrame, idCol: String,
                   textCol: String): DataFrame =
    trigramFps(docs, idCol, textCol).select("fp").distinct()

  def ngramNovelty(docs: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    // localCheckpoint so the trigram explode+distinct over the full
    // corpus runs ONCE — the frame feeds both the first-occurrence
    // aggregate and the join back (the splitLeakage discipline,
    // Checks.scala:300); without it Spark re-executes the whole
    // explode pass for each consumer
    val tri = trigramFps(docs, idCol, textCol).localCheckpoint(eager = false)
    val firstOcc = tri.groupBy("fp").agg(min(idCol).as("first_doc"))
    val perDoc = tri.join(firstOcc, Seq("fp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("first_doc") === col(idCol), 1L).otherwise(0L))
          .as("n_novel"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_ngrams", "n_novel"))
      .withColumn("novelty_milli",
        when(col("n_ngrams") === 0L, 1000L)
          .otherwise(floor(col("n_novel") * 1000.0 / col("n_ngrams") + 0.5)
            .cast("long")))
      .orderBy(idCol)
  }

  /** t34's batch/store split fraction — single-sourced into the
    * oracle (the d15 fixture discipline). */
  val T34SplitFrac: Double = 0.8

  /** t34: INCREMENTAL novelty — t33's marginal-value dial under
    * continuous ingestion (the d11/d12 store discipline applied to
    * the novelty family): the accumulated store holds the DISTINCT
    * trigram fingerprints of everything ingested; a new batch is
    * scored against it — per batch doc, how many of its distinct
    * trigrams the store has never seen. The acquisition decision a
    * crawl pipeline actually makes ("is this source still adding
    * anything?") is made against the CORPUS SO FAR, not by
    * re-ranking history — t33 is the backfill, this is the daily
    * job. Store-only probe (the d12 semantic): two batch docs
    * sharing a new trigram both count it novel — the batch is the
    * ingestion atom.
    *
    * At 100 TB: per-batch work is batch-sized (the batch's trigram
    * frame probes the store with one fp-keyed LEFT join — the store
    * side prunes to the batch's keys; x18's Bloom bits are the
    * pre-filter at extreme scale); the store grows by the batch's
    * distinct fps, never re-scans text. */
  def incrementalNovelty(s: SparkSession, dir: String,
                         splitFrac: Double = T34SplitFrac): DataFrame = {
    val d = t(s, dir, "documents")
    // floor() on BOTH sides (oracle replays the same scalar) — the
    // d15 edge-rounding discipline; max() over an empty table is NULL
    // — fail with a clear message instead of an opaque NPE
    val mx = d.agg(max("doc_id")).head
    require(!mx.isNullAt(0),
      s"incrementalNovelty: documents table at $dir is empty (no doc_id to split on)")
    val cut = math.floor(mx.getLong(0) * splitFrac).toLong
    incrementalNovelty(d.filter(col("doc_id") >= cut),
      noveltyStore(d.filter(col("doc_id") < cut), "doc_id", "text"),
      "doc_id", "text")
  }

  /** The t34 probe half over an accumulated trigram-fp store. The
    * STORE NEVER SHUFFLES (the r17 decade fix — the r16 form shuffled
    * the full store fp frame on every probe, the unbounded side at
    * 100 TB): the batch's DISTINCT fps broadcast into a left-semi
    * against the store scan (store rows stream through one
    * codegen'd hash probe; also subsumes the old re-distinct, so raw
    * per-batch store partials still feed directly), the surviving
    * ≤|batch-fps| known set broadcasts back, and only BATCH-sized
    * frames ever exchange. x18's Bloom bits remain the pre-filter once
    * the batch itself outgrows a broadcast. */
  def incrementalNovelty(batch: DataFrame, storeFps: DataFrame,
                         idCol: String, textCol: String): DataFrame = {
    val bFps = trigramFps(batch, idCol, textCol).localCheckpoint(eager = false)
    val known = storeFps.select("fp")
      .join(broadcast(bFps.select("fp").distinct()), Seq("fp"), "left_semi")
      .distinct() // store partials may repeat an fp
      .withColumn("hit", lit(1L))
    val perDoc = bFps
      .join(broadcast(known), Seq("fp"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_novel"))
    batch.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_ngrams", "n_novel"))
      .withColumn("novelty_milli",
        when(col("n_ngrams") === 0L, 1000L)
          .otherwise(floor(col("n_novel") * 1000.0 / col("n_ngrams") + 0.5)
            .cast("long")))
      .orderBy(idCol)
  }

  /** The probe half over an accumulated fingerprint store
    * (re-distincted here so raw per-batch partials can be fed
    * directly). */
  def memorizationFromFps(trainFps: DataFrame, eval: DataFrame,
                          idCol: String, textCol: String,
                          w: Int = T26Width): DataFrame = {
    // the TRAIN side is the unbounded one — prune it to the eval's
    // fps with a broadcast semi before anything shuffles (the t34
    // store-never-shuffles discipline)
    val eFps = windowFps(eval, idCol, textCol, w).localCheckpoint(eager = false)
    val hits = trainFps.select("fp")
      .join(broadcast(eFps.select("fp").distinct()), Seq("fp"), "left_semi")
      .distinct().withColumn("hit", lit(1L))
    eFps
      .join(broadcast(hits), Seq("fp"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("hit"), lit(0L))).as("n_memorized"))
      .withColumn("memorized_milli",
        floor(col("n_memorized") * 1000.0 / col("n_windows") + 0.5)
          .cast("long"))
      .orderBy(idCol)
  }
}
