package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables.t
import graft.functions.Hashing

/** Deduplication operators over the `documents` table — the core of a
  * training-data pipeline at 100 TB.
  *
  * Scale design notes (local[32] tests verify correctness only):
  *  - exact dedup: one hash-shuffle on the 16-byte fingerprint, never on
  *    the document text itself.
  *  - MinHash-LSH: signatures are one single-pass JVM kernel per doc
  *    (graft.functions.Hashing); candidate generation is a shuffle on
  *    (band, 8-byte bandKey) buckets — pairs are only materialized
  *    inside a bucket, never via cross join.
  *  - shingle inverted index: shingles are xxhash64'd to 8-byte longs
  *    BEFORE the explode + self-join, so the shuffle carries longs, not
  *    3-word strings; at 100 TB add a document-frequency cap on hot
  *    shingles (stopword shingles) to bound bucket skew.
  */
object Dedup {

  /** Deterministic parameter stream for hash families — see
    * [[graft.functions.Hashing.splitmix64]]. */
  def splitmix64(seed: Long): Long = Hashing.splitmix64(seed)

  private def tokensOf(c: Column): Column = split(trim(c), "\\s+")

  /** Distinct 3-word shingles of a text column (docs with <3 tokens have
    * no shingles and drop out of near-dup analysis). Guarded: Spark's
    * sequence(1, 0) counts DOWN, so short docs need an explicit branch. */
  def shingles(c: Column, n: Int = 3): Column = {
    val tk = tokensOf(c)
    when(size(tk) >= n,
      array_distinct(
        transform(sequence(lit(1), size(tk) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(o => element_at(tk, i + o)): _*))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact dedup: group on the md5 fingerprint of normalized text, keep
    * the smallest id. The shuffle key is 16 bytes/doc regardless of
    * document size — this is the 100 TB-safe shape. Generic core:
    * any (id, text) frame. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol),
        md5(lower(regexp_replace(trim(col(textCol)), "\\s+", " "))).as("fp"))
      .groupBy("fp")
      .agg(min(idCol).as("keeper"), count(lit(1)).as("n_copies"))
      .select("fp", "keeper", "n_copies")
      .orderBy("keeper")

  def exactDedup(s: SparkSession, dir: String): DataFrame =
    exactDedup(t(s, dir, "documents"), "doc_id", "text")

  /** d11: INCREMENTAL exact dedup — dedup a new batch against the
    * corpus already ingested, the shape every production crawl
    * pipeline actually runs (the full-corpus d01 re-shuffle is a
    * backfill, not a daily job). The "corpus so far" is carried as a
    * fingerprint STORE — 16 bytes/doc, not documents — so the state a
    * 100 TB pipeline persists between runs is ~1.6 TB of hashes, and
    * the day's work is sized by the batch: fingerprint the batch
    * (narrow), anti-join against the store on the hash (the store side
    * can runtime-Bloom-prune the batch scan — RuntimeFilterSpec), then
    * first-occurrence within the batch. Survivors ∪ store is the next
    * run's store. */
  def incrementalDedup(newDocs: DataFrame, storeFps: DataFrame,
                       idCol: String, textCol: String): DataFrame =
    newDocs
      .select(col(idCol),
        md5(lower(regexp_replace(trim(col(textCol)), "\\s+", " "))).as("fp"))
      .join(storeFps.select(col("fp")), Seq("fp"), "left_anti")
      .groupBy("fp")
      .agg(min(idCol).as("keeper"), count(lit(1)).as("n_copies"))
      .select("fp", "keeper", "n_copies")
      .orderBy("keeper")

  /** The registered d11 split: docs with id < `splitAt` are the
    * already-ingested corpus (reduced to their fingerprint store), the
    * rest are the incoming batch. */
  def incrementalDedup(s: SparkSession, dir: String,
                       splitAt: Long = 250L): DataFrame = {
    val docs = t(s, dir, "documents")
    val store = docs.filter(col("doc_id") < splitAt)
      .select(md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))).as("fp"))
      .distinct()
    incrementalDedup(docs.filter(col("doc_id") >= splitAt), store,
      "doc_id", "text")
  }

  /** d12's registered store/batch split — single-sourced into the
    * generated SQL replays (the s18-constants lesson: a literal
    * repeated by convention desyncs silently). */
  val D12SplitAt: Long = 250L

  /** d12: incremental NEAR-dup — [[incrementalDedup]]'s contract for
    * the minhash family. The ingested corpus persists as its banded
    * minhash signatures plus hashed shingle sets (~64+|sh| longs per
    * doc — the same artifact d02's build already computes; the corpus
    * TEXT is never rescanned); an incoming batch probes band buckets,
    * exact-Jaccard re-ranks the candidates, and each batch doc gets a
    * verdict row: its best stored match and how many stored docs it
    * collides with at the threshold.
    *
    * At 100 TB: batch-side cost only — the probe join shuffles
    * batch·bands keys against the store's band index (bucket-bounded,
    * no batch×store product), the re-rank touches only candidate
    * pairs. Carries the EXACT batch×store Jaccard oracle because band
    * recall is 1.0 at the 0.7 threshold on this corpus (the d02 ≡ d03
    * equality DedupSpec pins at both spec SFs). */
  def incrementalNearDup(s: SparkSession, dir: String,
                         splitAt: Long = D12SplitAt,
                         threshold: Double = 0.7): DataFrame = {
    val docs = t(s, dir, "documents")
    incrementalNearDup(docs.filter(col("doc_id") >= splitAt),
      docs.filter(col("doc_id") < splitAt), "doc_id", "text", threshold)
  }

  def incrementalNearDup(batch: DataFrame, store: DataFrame,
                         idCol: String, textCol: String,
                         threshold: Double): DataFrame =
    incrementalNearDupSketched(
      sketchDocs(batch, idCol, textCol).localCheckpoint(eager = false),
      sketchDocs(store, idCol, textCol).localCheckpoint(eager = false), threshold)

  /** The persisted-store artifact of [[incrementalNearDup]]: hashed
    * shingle sets + banded minhash signatures per doc — what a
    * continuous-ingestion dedup keeps on disk instead of corpus text
    * (the streaming consumer in [[graft.streaming.IncrementalJobs]]
    * reads/extends exactly this frame). */
  def sketchDocs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    docShingles(df, idCol, textCol)
      .withColumn("bands", Hashing.minhashBands(col("sh")))

  /** The probe half of d12 over pre-sketched frames: band-bucket
    * candidates, exact-Jaccard re-rank, one verdict row per matched
    * batch doc. Both inputs carry (doc_id, sh, bands); each is read
    * twice (bands probe + shingle re-rank), so callers materialize. */
  def incrementalNearDupSketched(bSh: DataFrame, sSh: DataFrame,
                                 threshold: Double): DataFrame = {
    def banded(sh: DataFrame, as: String): DataFrame =
      sh.select(col("doc_id").as(as),
        posexplode(col("bands")).as(Seq("band", "key")))
    val cand = banded(bSh, "batch_id")
      .join(banded(sSh, "store_id"), Seq("band", "key"))
      .select("batch_id", "store_id").distinct()
    val withSets = cand
      .join(bSh.select(col("doc_id").as("batch_id"), col("sh").as("sh_a")),
        "batch_id")
      .join(sSh.select(col("doc_id").as("store_id"), col("sh").as("sh_b")),
        "store_id")
    val matches = jaccardOf(withSets).filter(col("jaccard") >= threshold)
    val w = Window.partitionBy("batch_id")
      .orderBy(desc("jaccard"), asc("store_id"))
    matches
      .withColumn("rk", row_number().over(w))
      .withColumn("n_matches",
        count(lit(1)).over(Window.partitionBy("batch_id")))
      .filter(col("rk") === 1)
      .select(col("batch_id").as("doc_id"),
        col("store_id").as("best_match"), col("jaccard"), col("n_matches"))
      .orderBy("doc_id")
  }

  /** x16's verdict threshold — single-sourced into the replay SQL. */
  val X16Threshold: Double = 0.5

  /** x16: FUZZY benchmark decontamination — the GPT-3/Llama near-dup
    * discipline. [[decontaminate]] (x05) reports exact-shingle
    * containment; a rephrased eval item that keeps most-but-not-all
    * of its shingles needs a whole-document similarity verdict
    * instead: each train doc's best BENCHMARK match by exact Jaccard
    * at τ = [[X16Threshold]].
    *
    * Deliberately NOT banded: τ = 0.5 sits below the 16×4 minhash
    * band-recall knee (P(candidate) ≈ 0.64 at J = 0.5 — d12's
    * exactness argument would not hold), and it doesn't need to be —
    * the benchmark side is MBs against the corpus' TBs, so the
    * production shape is x05's: the benchmark's hashed-shingle
    * inverted index BROADCASTS, candidates are the shingle-sharing
    * cross pairs only (J ≥ τ > 0 implies a shared shingle, so no
    * recall is lost), and the corpus never shuffles. Verdict shape
    * matches d12: (doc_id, bench_id, jaccard, n_matches). */
  def fuzzyDecontaminate(s: SparkSession, dir: String,
                         threshold: Double = X16Threshold): DataFrame = {
    // lazy checkpoint (r18): the train side is read twice (candidate
    // explode + set fetch) and the test side twice (index + set fetch)
    // — uncheckpointed, the shingle kernel ran FOUR times per
    // invocation
    val sh = Sampling.deterministicSplit(docShingles(s, dir), "doc_id")
      .localCheckpoint(eager = false)
    fuzzyDecontaminate(
      sh.filter(col("split") === "train"),
      sh.filter(col("split") === "test"), threshold)
  }

  /** Generic core over pre-shingled frames (see [[docShingles]]). */
  def fuzzyDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                         threshold: Double): DataFrame = {
    val benchIx = benchmark
      .select(col("doc_id").as("bench_id"), explode(col("sh")).as("shingle"))
    val cand = corpus.select(col("doc_id"), explode(col("sh")).as("shingle"))
      .join(broadcast(benchIx), "shingle")
      .select("doc_id", "bench_id").distinct()
    val withSets = cand
      .join(corpus.select(col("doc_id"), col("sh").as("sh_a")), "doc_id")
      .join(broadcast(benchmark
        .select(col("doc_id").as("bench_id"), col("sh").as("sh_b"))),
        "bench_id")
    val matches = jaccardOf(withSets).filter(col("jaccard") >= threshold)
    val w = Window.partitionBy("doc_id").orderBy(desc("jaccard"), asc("bench_id"))
    matches
      .withColumn("rk", row_number().over(w))
      .withColumn("n_matches",
        count(lit(1)).over(Window.partitionBy("doc_id")))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("bench_id"), col("jaccard"), col("n_matches"))
      .orderBy("doc_id")
  }

  /** Documents with their distinct HASHED 3-shingle sets (docs with none
    * drop out). One single-pass JVM kernel per document — see
    * [[graft.functions.Hashing.shingleHashes]]; every sketch below
    * consumes the 8-byte hashes, never shingle strings. Set sizes and
    * intersections are identical to the string-shingle formulation
    * modulo 64-bit collisions (negligible at feasible corpus sizes). */
  private[graft] def docShingles(docs: DataFrame, idCol: String,
                                 textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), Hashing.hashedShingles(col(textCol)).as("sh"))
      .filter(size(col("sh")) >= 1)

  private def docShingles(s: SparkSession, dir: String): DataFrame =
    docShingles(t(s, dir, "documents"), "doc_id", "text")

  /** Exact Jaccard over the shingle sets of a candidate-pair frame with
    * columns (doc_a, doc_b, sh_a, sh_b). */
  private def jaccardOf(pairs: DataFrame): DataFrame = {
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val uni = size(col("sh_a")) + size(col("sh_b")) - inter
    pairs.withColumn("jaccard",
      round(inter.cast("double") / uni.cast("double"), 4))
  }

  /** MinHash + LSH near-duplicate pairs, verified with exact Jaccard.
    *
    * 64 permutations banded 16x4: a pair at Jaccard j collides in >=1
    * band with prob 1-(1-j^4)^16 (≈1 for j>=0.85). Candidates from band
    * buckets only (shuffle on band keys — no cross join), then exact
    * Jaccard >= threshold filters false positives, so the result equals
    * the exact-Jaccard oracle whenever true pairs sit well above the
    * LSH recall knee — which is the regime dedup runs in. */
  def minhashLsh(s: SparkSession, dir: String, threshold: Double = 0.7): DataFrame =
    minhashLsh(t(s, dir, "documents"), "doc_id", "text", threshold)

  def minhashLsh(docsIn: DataFrame, idCol: String, textCol: String,
                 threshold: Double): DataFrame =
    minhashLshUnordered(docsIn, idCol, textCol, threshold)
      .orderBy("doc_a", "doc_b")

  /** [[minhashLsh]] without the presentation sort (see
    * [[ngramJaccardUnordered]] — the CC consumers' checkpoint would
    * materialize it). */
  private[graft] def minhashLshUnordered(docsIn: DataFrame, idCol: String,
                                         textCol: String,
                                         threshold: Double): DataFrame = {
    // localCheckpoint (eager, MEMORY_AND_DISK): the frame is read three
    // times inside this one query plan. Unlike cache(), the blocks are
    // released by ContextCleaner as soon as the returned plan is GC'd —
    // no CacheManager entry accumulates across invocations in a
    // long-lived session. (Tradeoff: on a real cluster a lost executor
    // loses the non-replicated blocks and fails the query instead of
    // recomputing; acceptable for a frame this narrow.)
    val docs = docShingles(docsIn, idCol, textCol)
      .withColumn("bands", Hashing.minhashBands(col("sh")))
      .localCheckpoint(eager = false)
    val banded = docs
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "key")))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val withSets = cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
    jaccardOf(withSets)
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Exact n-gram-Jaccard near-dup pairs via a shingle inverted index:
    * explode shingles, self-join on the shingle, count shared shingles
    * per pair (= intersection; shingle sets are distinct per doc), then
    * |A∪B| = |A|+|B|-|A∩B|. No cross join; the join key is the
    * xxhash64 of the shingle — 8 bytes through the shuffle instead of a
    * 3-word string (64-bit collisions are negligible at any corpus size
    * this query's exact-pairs output is feasible for). */
  def ngramJaccard(s: SparkSession, dir: String, threshold: Double = 0.7): DataFrame =
    ngramJaccard(t(s, dir, "documents"), "doc_id", "text", threshold)

  def ngramJaccard(docsIn: DataFrame, idCol: String, textCol: String,
                   threshold: Double): DataFrame =
    ngramJaccardUnordered(docsIn, idCol, textCol, threshold)
      .orderBy("doc_a", "doc_b")

  /** [[ngramJaccard]] without the presentation sort — the CC/keep-best
    * consumers feed this form: their eager pair-frame checkpoint would
    * otherwise MATERIALIZE a global sort of the full pair set that
    * nothing downstream needs (CC shuffles on the node key; the final
    * order comes from the consumer's own ORDER BY). */
  private[graft] def ngramJaccardUnordered(docsIn: DataFrame, idCol: String,
                                           textCol: String,
                                           threshold: Double): DataFrame = {
    val docs = docShingles(docsIn, idCol, textCol)
    // localCheckpoint: both sides of the self-join read this frame — one
    // materialization instead of running the shingle kernel twice
    // (blocks auto-released on plan GC, see minhashLsh note)
    val ex = docs.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("shingle"))
      .localCheckpoint(eager = false)
    val inter = ex.as("a").join(ex.as("b"),
        col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .withColumn("jaccard", round(
        col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** n-gram Jaccard with a document-frequency cap on shingles — the
    * skew mitigation the plain inverted index needs at 100 TB: a
    * stopword shingle with df=10⁶ contributes 10¹² pairs to the
    * self-join; capping df bounds every shingle's pair contribution to
    * cap² at the cost of slightly under-counting intersections for
    * pairs that only share hot shingles. Denominators count the CAPPED
    * shingle sets, so the score stays a true Jaccard of the filtered
    * sets (and the DuckDB oracle reproduces it exactly). */
  def cappedNgramJaccard(s: SparkSession, dir: String, threshold: Double = 0.7,
                         dfCap: Int = 50): DataFrame =
    cappedNgramJaccard(t(s, dir, "documents"), "doc_id", "text", threshold, dfCap)

  def cappedNgramJaccard(docsIn: DataFrame, idCol: String, textCol: String,
                         threshold: Double, dfCap: Int): DataFrame = {
    // the df-count AND the kept-side join both read this — materialize
    // once so the shingle kernel runs once, not twice (same class of fix
    // as ngramJaccard's checkpoint; blocks auto-released on plan GC)
    val ex = docShingles(docsIn, idCol, textCol)
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .localCheckpoint(eager = false)
    val rare = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
      .select("shingle")
    val kept = ex.join(rare, "shingle")
    val sized = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // both sides of the self-join read this — materialize once
    // (blocks auto-released on plan GC, see minhashLsh note)
    val exKept = kept.join(sized, "doc_id").localCheckpoint(eager = false)
    val inter = exKept.as("a").join(exKept.as("b"),
        col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .withColumn("jaccard", round(
        col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Near-duplicate CLUSTERS: connected components over the
    * jaccard>=threshold pair graph, labeled by the smallest doc_id in
    * each component — the step that turns pairwise dedup output into
    * "keep one per group".
    *
    * Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC '14): unlike
    * naive min-label propagation (rounds = graph DIAMETER — a
    * chain-shaped near-dup component at 100 TB means a long sequential
    * job chain), star contraction converges in O(log n) rounds
    * regardless of shape. Each round is two groupBy-min + join passes,
    * all shuffled on the node id; `localCheckpoint` per round truncates
    * lineage; the convergence check is one metadata-sized scalar
    * aggregate (see [[ccCheckEvery]]); and graphs that fit on the
    * driver skip the loop for one union-find pass (see
    * [[connectedComponents]]). */
  def dupClusters(s: SparkSession, dir: String, threshold: Double = 0.7): DataFrame =
    dupClusters(ngramJaccardUnordered(t(s, dir, "documents"), "doc_id", "text",
      threshold))

  /** Generic core over any (doc_a, doc_b) near-dup pair frame. */
  def dupClusters(pairFrame: DataFrame): DataFrame =
    connectedComponents(
      pairFrame.select(col("doc_a").as("src"), col("doc_b").as("dst")))._1
      .select(col("n").as("doc_id"), col("lbl").as("cluster"))
      .orderBy("doc_id")

  /** d08: canonical-document selection — the step AFTER clustering that
    * dedup exists for: keep exactly one representative per near-dup
    * cluster (here: most content, ties to the smallest id) and report
    * what was dropped. One row per cluster: the kept doc and the member
    * count. At 100 TB this is [[dupClusters]] plus one broadcast-sized
    * join (the cluster map covers only docs that appear in a pair —
    * vastly smaller than the corpus) and one window over clusters,
    * whose partitions are near-dup groups: small by construction. */
  def keepBest(s: SparkSession, dir: String, threshold: Double = 0.7): DataFrame =
    keepBestFrom(dupClusters(s, dir, threshold),
      t(s, dir, "documents").select("doc_id", "n_chars"))

  /** d10: the same selection fed from the SCALABLE pair source —
    * [[minhashLsh]] banded candidates (exact-Jaccard re-ranked) into
    * the pair-source-agnostic CC core into [[keepBestFrom]]. This is
    * the composition a 100 TB dedup actually runs end-to-end; it
    * carries d08's EXACT oracle because the minhash band recall is
    * 1.0 on this corpus at the 0.7 Jaccard threshold (d02 ≡ d03 every
    * round; DedupSpec pins the pair-set equality at sf0.001 and
    * sf0.01, the correctness SF). */
  def keepBestLsh(s: SparkSession, dir: String, threshold: Double = 0.7): DataFrame =
    keepBestFrom(
      dupClusters(minhashLshUnordered(t(s, dir, "documents"), "doc_id", "text",
        threshold).select("doc_a", "doc_b")),
      t(s, dir, "documents").select("doc_id", "n_chars"))

  /** Generic canonical selection over any (doc_id, cluster) frame:
    * keep the member with the most content (ties to the smallest id),
    * report the member count. The cluster map covers only docs that
    * appear in a pair — vastly smaller than the corpus — so the join
    * is broadcast-sized and the window partitions are near-dup
    * groups: small by construction. */
  def keepBestFrom(clusters: DataFrame, docs: DataFrame): DataFrame = {
    val members = clusters.join(docs, "doc_id")
    val w = Window.partitionBy("cluster")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    members
      .withColumn("rk", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy("cluster")))
      .filter(col("rk") === 1)
      .select(col("cluster"), col("doc_id").as("kept_doc_id"),
        col("n_chars").as("kept_chars"), col("n_members"))
      .orderBy("cluster")
  }

  /** Rounds between driver-side convergence checks. Default 1 — and
    * deliberately so: a check is ONE metadata-sized scalar aggregate
    * over the already-checkpointed edge frame (~1% of a round at any
    * scale), while every round it avoids costs ~6 full-data shuffles.
    * Checking every k>1 rounds trades those tiny jobs for up to k-1
    * WASTED full rounds after the fixpoint — strictly worse at 100 TB
    * too, where a round is minutes and the check is milliseconds. The
    * knob exists for callers who want to amortize driver round-trips
    * anyway (e.g. speculative job submission). Measured at sf0.1:
    * checkEvery=2 ran 4 rounds where 2 suffice, +60% on d05. */
  val ccCheckEvery = 1

  /** large-star: every node u sends its strictly-larger neighbors to
    * m = min(N(u) ∪ {u}). Processes the SYMMETRIC edge set (each edge
    * seen from both endpoints). */
  private def ccLargeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src").agg(min("dst").as("nmin"))
      .select(col("src"), least(col("src"), col("nmin")).as("m"))
    // no distinct here: output is bounded by |sym| = 2|E| with or
    // without it, and the round's terminal distinct (in small-star)
    // dedups anyway — dropping it saves one full-data shuffle per round
    sym.join(mins, "src")
      .filter(col("dst") > col("src")) // m <= src < dst, so never a self-loop
      .select(col("dst").as("src"), col("m").as("dst"))
  }

  /** small-star: orient every edge large→small, then every node u sends
    * its (all-smaller) neighbors AND itself to m = min(N(u)). Output
    * stays canonically oriented src > dst. */
  private def ccSmallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    val mins = dir.groupBy("src").agg(min("dst").as("m"))
    dir.join(mins, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
      .union(mins.select(col("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Connected components over an undirected (src, dst) edge frame.
    * Returns (labels, rounds): labels has one row per distinct endpoint
    * with `lbl` = the smallest node of its component (a null endpoint
    * gets a null label); rounds == 0 means the graph was solved on the
    * driver, or had no edge between distinct nodes.
    *
    * Small-graph finisher: one bounded fetch of at most
    * `localEdgeThreshold + 1` pair rows (long-typed nodes only). When
    * the pair frame fits under the bound — the bound counts fetched
    * pair rows, self-loops, duplicates and null endpoints included — the
    * driver solves it with union-find, labels every distinct endpoint
    * and returns the labels as a local relation: one fetch, no
    * checkpoint, no aggregate, and nothing left to run when the labels
    * are driven. It is the same size-gated locality trade a broadcast
    * join makes, and the standard endgame move for MPC connected
    * components (run distributed rounds only while the problem is
    * actually distributed-sized). Near-dup pair graphs are tiny
    * relative to their corpora (pairs ∝ dups, not docs), so this is the
    * common case even at 100 TB corpus scale. Over the bound, a
    * billion-edge graph takes the star-contraction loop below, which
    * reads the partitions of the checkpointed pair frame that the
    * fetch already computed instead of recomputing them.
    *
    * Convergence: the round function (large-star ∘ small-star) is a
    * deterministic function of the edge set, so an unchanged edge set
    * across a check interval is a fixpoint — and the fixpoint of star
    * contraction is the star forest (every node points at its component
    * min). "Unchanged" is decided by an (edge count, XOR of
    * xxhash64(src,dst)) signature: one tiny scalar aggregate over the
    * already-checkpointed frame instead of a set-difference join, taken
    * every [[ccCheckEvery]] rounds to amortize the driver sync. (XOR,
    * not sum: order-independent, collision-resistant on distinct edge
    * sets, and can't hit ANSI-mode long overflow.) */
  private[graft] def connectedComponents(pairs: DataFrame,
                                         checkEvery: Int = ccCheckEvery,
                                         maxRounds: Int = 64,
                                         localEdgeThreshold: Long = 500000L): (DataFrame, Int) = {
    // The pair frame is typically an EXPENSIVE near-dup join, consumed
    // by the bounded fetch and, over the bound, by both node projections
    // and the initial edge set. A lazy checkpoint makes the join run
    // once. (d05 at sf0.1: 6.4 s -> 2.9 s.)
    val pairsOnce = pairs.localCheckpoint(eager = false)
    val longTyped = pairs.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    if (longTyped) {
      val fetched = pairsOnce.select("src", "dst")
        .limit(math.min(localEdgeThreshold, Int.MaxValue - 1L).toInt + 1).collect()
      if (fetched.length <= localEdgeThreshold)
        return (localLabels(pairs, fetched), 0)
    }
    val nodes = pairsOnce.select(col("src").as("n"))
      .union(pairsOnce.select(col("dst").as("n"))).distinct()
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.select(xxhash64(col("src"), col("dst")).as("h"))
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    // NO up-front canonicalize/distinct: the first round normalizes
    // orientation and dups anyway (large-star symmetrizes, small-star
    // ends in a distinct), so pre-deduping would only add a full-data
    // shuffle. If the input happens to already be a canonical star
    // forest its signature matches round 1's and we stop there.
    var edges = pairsOnce.filter(col("src") =!= col("dst")).localCheckpoint()
    var prevSig = signature(edges)
    var rounds = 0
    var converged = prevSig._1 == 0L
    while (!converged) {
      if (rounds >= maxRounds) // 64 rounds covers any feasible graph; a loop here is a bug
        throw new IllegalStateException(s"connectedComponents: no fixpoint after $maxRounds rounds")
      edges = ccSmallStar(ccLargeStar(edges)).localCheckpoint()
      rounds += 1
      if (rounds % checkEvery == 0) {
        val sig = signature(edges)
        converged = sig == prevSig
        prevSig = sig
      }
    }
    // at the fixpoint edges form a star forest (src > dst = component
    // min); roots appear only as dst and label themselves
    val labels = nodes
      .join(edges.groupBy("src").agg(min("dst").as("root")),
        nodes("n") === col("src"), "left")
      .select(col("n"), coalesce(col("root"), col("n")).as("lbl"))
    (labels, rounds)
  }

  /** The driver path's labels: union-find over the fetched rows' edges
    * between distinct non-null nodes, then one `(n, lbl)` row per
    * distinct endpoint — a node seen only in self-loops labels itself,
    * a null endpoint gets a null label — as a local relation, with the
    * loop path's column types and nullability. */
  private def localLabels(pairs: DataFrame, fetched: Array[Row]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val roots = localUnionFind(fetched.collect {
      case r if !r.isNullAt(0) && !r.isNullAt(1) && r.getLong(0) != r.getLong(1) =>
        (r.getLong(0), r.getLong(1))
    })
    val labels = fetched.iterator.flatMap(r => Iterator(r.get(0), r.get(1))).distinct
      .map {
        case n: java.lang.Long => Row(n, roots.getOrElse(n.longValue, n.longValue))
        case _ => Row(null, null)
      }.toSeq
    val nullable = pairs.schema("src").nullable || pairs.schema("dst").nullable
    pairs.sparkSession.createDataFrame(labels.asJava,
      StructType(Seq(StructField("n", LongType, nullable), StructField("lbl", LongType, nullable))))
  }

  /** Path-halving union-find, then relabel every component by its
    * smallest member. Driver-side finisher for [[connectedComponents]]
    * — only ever sees ≤ localEdgeThreshold edges. */
  private def localUnionFind(es: Array[(Long, Long)]): scala.collection.Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElseUpdate(x, x)
      while (p != x) {
        val gp = parent.getOrElseUpdate(p, p)
        parent(x) = gp // path halving
        x = gp
        p = parent.getOrElseUpdate(x, x)
      }
      x
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  /** Benchmark decontamination: flag TRAIN documents sharing any 3-word
    * shingle with the TEST split — the published LLM-corpus hygiene step
    * (GPT-3 appendix C / PaLM-style n-gram collision removal), here with
    * the library's own deterministic md5 split standing in for the
    * benchmark set.
    *
    * Shape at 100 TB: the benchmark shingle set is tiny by construction
    * (benchmarks are MBs, corpora are TBs), so it BROADCASTS — the train
    * side stays a narrow explode→broadcast-semi-join→re-aggregate with
    * no all-to-all shuffle of corpus shingles. Shingles travel as 8-byte
    * hashes (see [[graft.functions.Hashing.hashedShingles]]), never as
    * strings. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    // lazy checkpoint (r18): both decontaminate sides read this frame —
    // uncheckpointed, the shingle kernel (and the scan + fan-out under
    // it) ran once per side
    val sh = Sampling.deterministicSplit(docShingles(s, dir), "doc_id")
      .localCheckpoint(eager = false)
    decontaminate(
      sh.filter(col("split") === "train"),
      sh.filter(col("split") === "test"))
  }

  /** Generic core: corpus vs an explicit benchmark frame, both already
    * shingled to (doc_id, sh) — see [[docShingles]]. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    val testSh = benchmark
      .select(explode(col("sh")).as("shingle")).distinct()
    val train = corpus
      .select(col("doc_id"), size(col("sh")).cast("bigint").as("n_shingles"),
        explode(col("sh")).as("shingle"))
    // shingles are distinct within a doc, so count(*) = |doc ∩ benchmark|
    train.join(broadcast(testSh), "shingle")
      .groupBy("doc_id", "n_shingles")
      .agg(count(lit(1)).as("n_contaminated"))
      .select(col("doc_id"), col("n_contaminated"), col("n_shingles"),
        TextOps.r4(col("n_contaminated").cast("double") /
          col("n_shingles").cast("double")).as("contamination"))
      .orderBy("doc_id")
  }

  /** x18 Bloom geometry — single-sourced into the oracle replay.
    * 256 bits for the ~35-doc gate benchmark ⇒ ~34% fill, so the
    * false-positive path is exercised by real data (a 100 TB run
    * sizes bits ∝ benchmark cardinality for its target FP rate —
    * the geometry is a parameter, the discipline is not). */
  val X18Bits = 256
  val X18K = 3

  /** Bloom-filter benchmark decontamination (x18): the 100 TB
    * PRE-FILTER in front of exact-fingerprint membership checks.
    * [[decontaminate]] (x05) measures shingle-level overlap and ships
    * every corpus shingle into a join; at scale the FIRST question is
    * cheaper — "can this doc possibly be a benchmark member at all?" —
    * answered by a [[X18Bits]]-bit Bloom filter over the benchmark's
    * normalized-text fingerprints that broadcasts at O(bits) no matter
    * how large the benchmark grows.
    *
    * Fully deterministic and engine-portable: a doc's [[X18K]] bit
    * positions are DISJOINT 40-bit slices of its md5 fingerprint hex
    * mod [[X18Bits]] (the x13 hex-slice discipline — no engine-native
    * hash anywhere), the filter is 16 longs built by a bit-OR
    * aggregate (mergeable ⇒ map-side partials; idempotent ⇒
    * replay-safe under at-least-once delivery), and the probe is
    * [[X18K]] broadcast lookups against the 16-row word table plus one
    * broadcast fp lookup for the exact verdict — the corpus NEVER
    * shuffles and probe cost is independent of corpus size. No false
    * negatives by construction (an exact match shares the fingerprint,
    * hence every position); false positives are bounded by the fill
    * factor and SURFACED per row as `is_fp` — the pre-filter's cost is
    * measured, not hidden. */
  def bloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    // Benchmark = the deterministic test split; corpus = the WHOLE
    // table — the real contamination scenario is a benchmark whose
    // items were scraped from the same web the corpus was, so the
    // corpus genuinely contains them (train-vs-test would be overlap-
    // free by construction here and never exercise a hit).
    val fps = Sampling.deterministicSplit(
      t(s, dir, "documents").select(col("doc_id"),
        Sampling.contentFp(col("text")).as("fp")), "doc_id")
    bloomDecontaminate(
      fps.select("doc_id", "fp"),
      fps.filter(col("split") === "test").select("doc_id", "fp"))
  }

  private def x18Pos(j: Int): Column =
    (conv(substring(col("fp"), 1 + 10 * (j - 1), 10), 16, 10)
      .cast("long") % X18Bits).as(s"pos$j")

  /** The x18 filter ARTIFACT over a (…, fp) frame: ≤ X18Bits/64 rows
    * of (word_idx, word). Built by a bit-OR aggregate — associative,
    * commutative AND idempotent, so partial word tables from any
    * batching (or even replayed/duplicated batches) OR together into
    * exactly the one-pass filter; the streaming consumer
    * ([[graft.streaming.IncrementalJobs.startIncrementalBloom]])
    * leans on that. */
  def bloomWords(benchmark: DataFrame): DataFrame =
    benchmark
      .select(explode(array((1 to X18K).map(x18Pos): _*)).as("pos"))
      .select(expr("cast(pos div 64 as int)").as("word_idx"),
        expr("shiftleft(1L, cast(pos % 64 as int))").as("mask"))
      .groupBy("word_idx").agg(expr("bit_or(mask)").as("word"))

  /** Generic core over (doc_id, fp) frames — fp is any ≥30-char hex
    * string (the d01/x17 content fingerprint here). */
  def bloomDecontaminate(corpus: DataFrame, benchmark: DataFrame): DataFrame =
    bloomProbe(corpus, bloomWords(benchmark),
      benchmark.groupBy("fp").agg(count(lit(1)).as("n_bench")))

  /** The probe half against pre-built artifacts: the word table and
    * the benchmark fp counts (both broadcast; the corpus never
    * shuffles). */
  def bloomProbe(corpus: DataFrame, words: DataFrame,
                 benchFp: DataFrame): DataFrame = {
    val probes = corpus.select(
      col("doc_id") +: col("fp") +: (1 to X18K).map(x18Pos): _*)
    val probed = (1 to X18K).foldLeft(probes) { (df, j) =>
      df.join(broadcast(words
          .select(col("word_idx").as(s"wi$j"), col("word").as(s"w$j"))),
          expr(s"cast(pos$j div 64 as int) = wi$j"), "left")
        .withColumn(s"hit$j", coalesce(
          expr(s"(w$j & shiftleft(1L, cast(pos$j % 64 as int))) != 0"),
          lit(false)))
        .drop(s"wi$j", s"w$j")
    }
    probed
      .withColumn("bloom_hit",
        (1 to X18K).map(j => col(s"hit$j")).reduce(_ && _))
      .join(broadcast(benchFp), Seq("fp"), "left")
      .select(col("doc_id"), col("bloom_hit"),
        col("n_bench").isNotNull.as("exact_hit"),
        (col("bloom_hit") && col("n_bench").isNull).as("is_fp"),
        coalesce(col("n_bench"), lit(0L)).as("n_bench_matches"))
      .orderBy("doc_id")
  }

  /** 64-bit SimHash near-duplicate pairs. Fully deterministic integer
    * math (FNV-1a token hashes + SplitMix64 shingle mixing, both pure
    * functions — [[graft.functions.Hashing]]), so the driver checks it
    * against an EXACT DuckDB oracle that replays the same arithmetic
    * in HUGEINT-mod-2⁶⁴ SQL and brute-forces the pair join (the oracle
    * can afford O(n²); the engine's bucketing below guarantees the two
    * forms emit identical rows).
    *
    * The signature is computed over the doc's distinct 3-word shingles
    * (raw tokens are useless on small shared vocabularies — every doc
    * collides): bit i is the sign of sum over shingles of ±1 according
    * to bit i of the shingle hash. Candidates come from 4 16-bit chunk
    * buckets (pigeonhole: hamming <= 3 guarantees a shared chunk),
    * verified by exact hamming distance <= maxHamming. */
  def simhash(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    simhash(t(s, dir, "documents"), "doc_id", "text", maxHamming)

  /** BMP-only oracle-equivalence precondition, ENFORCED (the
    * lshBucketInt discipline): the engine's fnv64 iterates UTF-16
    * code units while the SQL replay's ord() yields Unicode code
    * points — identical for every BMP character, divergent exactly on
    * surrogate pairs. A non-BMP code point anywhere in the corpus
    * would silently desync the two hashes, so it fails loudly instead. */
  private def bmpGuarded(docsIn: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    docsIn.withColumn(textCol,
      when(col(textCol).rlike("[\\x{10000}-\\x{10FFFF}]"),
        raise_error(concat(
          lit("simhash oracle precondition violated: non-BMP code point " +
            "in doc "),
          col(idCol).cast("string"),
          lit(" - UTF-16-unit vs code-point hashing diverge there"))))
        .otherwise(col(textCol)))

  /** The persisted artifact of the simhash family: one 8-byte
    * SIGNATURE per doc (the smallest store of the incremental family —
    * cf. d11's 16-byte fingerprints, d12's banded sketches). */
  def simhashStore(docsIn: DataFrame, idCol: String,
                   textCol: String): DataFrame =
    docShingles(bmpGuarded(docsIn, idCol, textCol), idCol, textCol)
      .select(col("doc_id"), Hashing.simhash(col("sh")).as("sig"))

  /** The 4×16-bit pigeonhole chunk keys of a signature column: a pair
    * at hamming ≤ 3 MUST share at least one chunk, so chunk-key
    * equality is a recall-1.0 candidate generator for that radius.
    * Bit i of the signature = bit i of `sig`, so chunk j is just a
    * shift+mask — no per-bit array materializes. */
  private def chunkKeysOf(sig: Column): Column =
    array((0 until 4).map { j =>
      shiftrightunsigned(sig, j * 16).bitwiseAND(lit(0xFFFFL))
    }: _*)

  /** The WIDE twin's store: (doc_id, sig0, sig1) — two longs per doc,
    * [[graft.functions.Hashing.simhash128]]. sig0 equals the 64-bit
    * [[simhashStore]] signature bit-for-bit (the prefix law). */
  def simhashStoreWide(docsIn: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    docShingles(bmpGuarded(docsIn, idCol, textCol), idCol, textCol)
      .select(col("doc_id"),
        Hashing.simhashWide(col("sh")).as("sigw"))
      .select(col("doc_id"),
        element_at(col("sigw"), 1).as("sig0"),
        element_at(col("sigw"), 2).as("sig1"))

  /** 4×32-bit pigeonhole chunks over the 128-bit (sig0, sig1) pair —
    * same hamming ≤ 3 guarantee, keyspace 2³² per chunk (the
    * [[autoSigBits]] dial's wide regime). */
  private def chunkKeysWide(sig0: Column, sig1: Column): Column =
    array(
      sig0.bitwiseAND(lit(0xFFFFFFFFL)),
      shiftrightunsigned(sig0, 32),
      sig1.bitwiseAND(lit(0xFFFFFFFFL)),
      shiftrightunsigned(sig1, 32))

  /** d17's chunk-KEYSPACE dial (the autoNPlanes pattern on the
    * pigeonhole axis): 16-bit chunks hold ~store/2¹⁶ random
    * cohabitants per bucket, so once the STORE approaches 2¹⁶ docs
    * every batch chunk drags in birthday candidates that have nothing
    * to do with similarity — the density term a fixed geometry cannot
    * shed (r17 StoreDialProbe at a 250k-doc store: 4,155,080
    * candidates at 16-bit chunks vs 6,977 at the 32-bit dial — 596× —
    * wall 2.77 → 1.28 s, recall 1.0 by construction in both). Below
    * the bound the 64-bit signature + 16-bit chunks run
    * verbatim (every registered SF: the fixture store is 250 docs →
    * 64 everywhere, oracles untouched); above it the signature deepens
    * to 128 bits and the chunks to 32. */
  def autoSigBits(storeN: Long): Int =
    if (storeN < (1L << 16)) 64 else 128

  private val d17StoreCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def simhash(docsIn: DataFrame, idCol: String, textCol: String,
              maxHamming: Int): DataFrame = {
    // 4 chunks pigeonhole-guarantee a shared chunk only for hamming <= 3;
    // a larger radius needs more chunks or multi-chunk probing
    require(maxHamming <= 3,
      s"maxHamming=$maxHamming exceeds the 4-chunk candidate guarantee (max 3)")
    val docs = simhashStore(docsIn, idCol, textCol)
      .localCheckpoint(eager = false) // read 3× in-plan; blocks auto-released (see minhashLsh)
    val banded = docs.select(col("doc_id"),
      posexplode(chunkKeysOf(col("sig"))).as(Seq("chunk", "key")))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.key") === col("y.key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** d13's edit-distance bound — single-sourced into the oracle's
    * WHERE clause. The delete-neighborhood index below is exact for
    * this k=1 bound; a larger k needs the full SymSpell recursion
    * (delete up to k chars per side). */
  val D13MaxDist: Int = 1

  /** d13: fuzzy entity matching by SymSpell delete-neighborhood
    * blocking (Garbe's symmetric-delete algorithm; same candidate
    * theory as FastSS, Bocek et al. 2007): two strings within edit
    * distance 1 necessarily share a member of {self} ∪ {one-char
    * deletes} — a substitution at i makes both delete-at-i variants
    * equal; an insert/delete makes the shorter string itself one of
    * the longer's deletes. So the candidate generator is an EQUI-join
    * on the variant key (L+1 keys per string), never an all-pairs
    * loop, and one exact `levenshtein` verifies each candidate pair —
    * the d02/d04 sketch-then-verify contract applied to edit distance.
    *
    * Scale: the shuffle carries (variant, id, name) at L+1 rows per
    * entity — O(corpus·L) keys, bucket sizes bounded by how many
    * entities collapse onto one delete (a skew cap could ride the
    * [[graft.operators.Similarity.DefaultBucketCap]] discipline if a
    * pathological key family appeared). The quadratic all-pairs
    * levenshtein exists ONLY in the DuckDB oracle, as d03's documented
    * baseline contract. */
  def fuzzyPairs(s: SparkSession, dir: String): DataFrame =
    fuzzyPairs(t(s, dir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("name")))

  /** The SymSpell k=1 delete neighborhood of a name frame: one row per
    * (id, variant) over {self} ∪ {one-char deletes} — the persisted
    * INDEX artifact of the fuzzy family (the streaming consumer in
    * [[graft.streaming.IncrementalJobs]] reads/extends exactly this
    * frame, the d12 sketch-store discipline). */
  def nameVariants(names: DataFrame): DataFrame =
    names.select(col("id"), col("name"),
      explode(expr(
        """transform(sequence(0, char_length(name)),
           i -> CASE WHEN i = 0 THEN name
                ELSE concat(substr(name, 1, i - 1),
                            substr(name, i + 1, char_length(name))) END)"""))
        .as("variant"))

  def fuzzyPairs(names: DataFrame): DataFrame = {
    // the variant shuffle carries ONLY (8-ish-byte id, variant key) —
    // never the name payload twice per side: candidate ids dedup
    // first (a pair can share up to L variants), and the names are
    // fetched AFTER the distinct via two slim hash joins. No broadcast
    // HINT on the name fetches (r13, advisor): a mandated broadcast of
    // the full names frame hits Spark's broadcast limit / driver OOM
    // at large entity-table scale instead of degrading — AQE picks
    // broadcast when the side is actually small and falls back to a
    // co-partitioned hash join when it isn't (the join keys are
    // unique ids either way, so the shuffle is slim).
    // lazy checkpoint (r18): both self-join sides read the variant
    // frame — uncheckpointed, the L+1-way explode (and the entity scan
    // under it) ran once per side
    val variants = nameVariants(names).drop("name")
      .localCheckpoint(eager = false)
    val a = variants.select(col("variant"), col("id").as("a_id"))
    val b = variants.select(col("variant"), col("id").as("b_id"))
    val cand = a.join(b, Seq("variant"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct() // verify each candidate pair once
    cand
      .join(names.select(col("id").as("a_id"),
        col("name").as("a_name")), Seq("a_id"))
      .join(names.select(col("id").as("b_id"),
        col("name").as("b_name")), Seq("b_id"))
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
      .where(col("dist") <= D13MaxDist)
      .select("a_id", "b_id", "a_name", "b_name", "dist")
      .orderBy("a_id", "b_id")
  }

  /** d15's batch/store split — single-sourced into the oracle SQL.
    * Entities below the split are the accumulated store; the rest
    * arrive as "the batch" (the d12 fixture discipline; the split is
    * a FRACTION of the key range so the fixture is meaningful at
    * every SF). */
  val D15SplitFrac: Double = 0.8

  /** d15: INCREMENTAL fuzzy admission — d13's matcher under
    * continuous ingestion (the d11/d12 store discipline applied to
    * the edit-distance family): the accumulated store holds the
    * delete-variant INDEX of every admitted name ([[nameVariants]] —
    * what SymSpell persists instead of re-deriving); a new batch
    * probes it with an equi-join on the variant key, one exact
    * `levenshtein` verifies each candidate, and the report carries
    * each matched batch entity's best store match (dist ASC, id ASC)
    * plus its match count. Batch rows with no verdict row are the
    * admissions whose variants extend the store.
    *
    * At 100 TB: per-batch work is batch-sized (batch variants ×
    * store-bucket lookups — the store side of the equi-join prunes to
    * the batch's variant keys); the store grows by L+1 slim rows per
    * ADMITTED name, never per arrival. */
  def incrementalFuzzy(s: SparkSession, dir: String,
                       splitFrac: Double = D15SplitFrac): DataFrame = {
    val c = t(s, dir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    // floor() on BOTH sides (oracle replays the same scalar) — a bare
    // toLong truncates while SQL CAST rounds, so the split could
    // desync on a .5 edge
    val cut = math.floor(c.agg(max("id")).head.getLong(0) * splitFrac).toLong
    incrementalFuzzy(c.filter(col("id") >= cut),
      nameVariants(c.filter(col("id") < cut)))
  }

  /** The probe half over a pre-derived variant store (id, name,
    * variant). */
  def incrementalFuzzy(batch: DataFrame, store: DataFrame): DataFrame = {
    val bv = nameVariants(batch)
      .select(col("variant"), col("id").as("batch_id"))
    val sv = store.select(col("variant"), col("id").as("store_id"))
    val cand = bv.join(sv, Seq("variant"))
      .select("batch_id", "store_id").distinct()
    val verified = cand
      .join(broadcast(batch.select(col("id").as("batch_id"),
        col("name").as("b_name"))), Seq("batch_id"))
      .join(store.select(col("id").as("store_id"), col("name").as("s_name"))
        .distinct(), Seq("store_id"))
      .withColumn("dist", levenshtein(col("b_name"), col("s_name")))
      .where(col("dist") <= D13MaxDist)
    val w = Window.partitionBy("batch_id")
      .orderBy(asc("dist"), asc("store_id"))
    verified
      .withColumn("rk", row_number().over(w))
      .withColumn("n_matches",
        count(lit(1)).over(Window.partitionBy("batch_id")))
      .filter(col("rk") === 1)
      .select(col("batch_id").as("id"), col("store_id").as("best_match"),
        col("dist"), col("n_matches"))
      .orderBy("id")
  }

  /** d16's ground-truth floor — any shared-shingle pair at or above
    * this (4-dp-rounded) Jaccard enters the measurement, so bin 0
    * reports the curve's FLOOR (the false-positive end banding theory
    * puts near 0) alongside the high bins' recall. Single-sourced
    * into the oracle replay. */
  val D16MinJaccard: Double = 0.01

  /** d16: the REALIZED LSH S-curve — per-Jaccard-bin recall of the
    * 16×4 minhash band candidates against exact shingle-Jaccard ground
    * truth. d02's exactness contract rests on band recall ≈ 1 above
    * the threshold; this query MEASURES that curve on the corpus
    * instead of assuming the 1−(1−j⁴)¹⁶ formula (the s21/s25 eval
    * discipline applied to the dedup family — the dial to read before
    * moving the dedup threshold or re-banding).
    *
    * Ground truth is the documented quadratic EVAL baseline (the
    * d03/s02 contract): at 100 TB this query runs on a sample — its
    * OUTPUT (a 9-row curve) is what transfers, the banded candidate
    * side is the at-scale path being graded. Bins are
    * floor(jaccard·10) clamped to 9; recall is milli-rounded on exact
    * integer counts. */
  def lshScurve(s: SparkSession, dir: String): DataFrame =
    lshScurve(t(s, dir, "documents"), "doc_id", "text")

  def lshScurve(docs: DataFrame, idCol: String, textCol: String,
                minJaccard: Double = D16MinJaccard): DataFrame = {
    // read 3 times (band explode + both sides of the shingle index)
    val sh = docShingles(docs, idCol, textCol)
      .withColumn("bands", Hashing.minhashBands(col("sh")))
      .localCheckpoint(eager = false)
    val banded = sh
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "key")))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .withColumn("caught", lit(1L))
    val ex = sh.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("shingle"))
    val truth = ex.as("a").join(ex.as("b"),
        col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", round(
        col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= minJaccard)
    truth.join(cand, Seq("doc_a", "doc_b"), "left")
      .groupBy(least(floor(col("jaccard") * 10), lit(9.0)).cast("int")
        .as("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("caught"), lit(0L))).as("n_caught"))
      .withColumn("recall_milli",
        floor(col("n_caught") * 1000.0 / col("n_pairs") + 0.5).cast("long"))
      .orderBy("bin")
  }

  /** d19's swept band geometries (band counts over the 64-permutation
    * sketch; rows = 64/bands) — single-sourced into the generated
    * replays. More bands × fewer rows moves the S-curve knee
    * (1/b)^(1/r) LEFT: higher recall at the threshold, more candidate
    * pairs to verify. */
  val D19Bands: Seq[Int] = Seq(8, 16, 32)

  /** d19's operating threshold — the d02 dedup τ: the planner grades
    * geometries at the threshold the dedup RUNS at, not d16's curve
    * floor. Single-sourced into the replays. */
  val D19Tau: Double = 0.7

  /** d19: band-geometry plan eval — the dial a 100 TB dedup run reads
    * BEFORE committing its LSH banding: for each (bands, rows) split
    * of the 64-permutation minhash, the MEASURED candidate volume
    * (the cost side: every candidate pair is an exact-Jaccard
    * verification at scale) and the measured recall/precision against
    * the exact-Jaccard truth at the d16 threshold. d16 measures ONE
    * geometry's recall curve across similarity bins; this sweeps the
    * geometry at the operating threshold — together they are the
    * banding design sheet.
    *
    * Scale shape: the 64 minima are computed ONCE per document (the
    * expensive kernel half — [[graft.functions.Hashing.minhashMinima]])
    * and checkpointed; each geometry re-folds the minima into band
    * keys (a per-row O(64) fold) and candidates come from (band, key)
    * equi-joins — never a pair product. The truth side is the
    * documented d03/d16-contract quadratic, run on samples at real
    * scale; the geometry arms themselves are corpus-linear. Report is
    * |D19Bands| rows of exact integers. */
  def bandPlanEval(s: SparkSession, dir: String): DataFrame =
    bandPlanEval(t(s, dir, "documents"), "doc_id", "text")

  def bandPlanEval(docs: DataFrame, idCol: String, textCol: String,
                   minJaccard: Double = D19Tau): DataFrame = {
    val sh = docShingles(docs, idCol, textCol)
      .withColumn("mins", Hashing.minhashMins(col("sh")))
      .localCheckpoint(eager = false) // minima once; every geometry + truth reads it
    val ex = sh.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("shingle"))
    val truth = ex.as("a").join(ex.as("b"),
        col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", round(
        col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b")
      .localCheckpoint(eager = false) // one truth computation for all arms
    val nTruth = truth.agg(count(lit(1)).cast("long").as("n_truth"))
    val milli = (num: Column, den: Column) =>
      when(den === 0L, 0L)
        .otherwise(floor(num * 1000.0 / den + 0.5).cast("long"))
    D19Bands.map { b =>
      val banded = sh.select(col("doc_id"),
        posexplode(Hashing.bandKeys(col("mins"), b)).as(Seq("band", "key")))
      val cand = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
        .localCheckpoint(eager = false) // candidate count + caught count
      cand.agg(count(lit(1)).cast("long").as("n_candidates"))
        .crossJoin(cand.join(truth, Seq("doc_a", "doc_b"), "left_semi")
          .agg(count(lit(1)).cast("long").as("n_caught")))
        .crossJoin(nTruth)
        .select(lit(b).as("bands"), lit(64 / b).as("rows_per_band"),
          col("n_candidates"), col("n_truth"), col("n_caught"),
          milli(col("n_caught"), col("n_truth")).as("recall_milli"),
          milli(col("n_caught"), col("n_candidates")).as("precision_milli"))
    }.reduce(_ unionByName _).orderBy("bands")
  }

  /** d18's swept thresholds — single-sourced into the oracle (deci
    * units so the report key is an exact integer). */
  val D18Taus: Seq[Double] = Seq(0.5, 0.7, 0.9)

  /** d18: dedup-threshold sensitivity curve — for each Jaccard
    * threshold τ, how many pairs fire, how many clusters form, and how
    * many documents a keep-one pass would remove. The third leg of the
    * dedup-governance triad (d16 measures the CANDIDATE recall curve,
    * v06 the impact at the committed τ; this sweeps τ itself — "0.9
    * barely dedups, 0.5 eats 30% of the corpus" is measured before the
    * threshold is frozen).
    *
    * The pair frame is computed ONCE at min(τ) with its Jaccard kept
    * and checkpointed; each arm filters it and runs CC (the documented
    * d03/d05 eval contract — at 100 TB this runs on a sample, or over
    * d10's banded pairs with the same downstream accounting). */
  def thresholdCurve(s: SparkSession, dir: String): DataFrame =
    thresholdCurve(t(s, dir, "documents"), "doc_id", "text", D18Taus)

  def thresholdCurve(docs: DataFrame, idCol: String, textCol: String,
                     taus: Seq[Double]): DataFrame = {
    require(taus.nonEmpty)
    val pairs = ngramJaccardUnordered(docs, idCol, textCol, taus.min)
      .localCheckpoint(eager = false) // every arm filters this one frame
    taus.map { tau =>
      val p = pairs.filter(col("jaccard") >= tau)
      val stats = dupClusters(p).agg(
        count(lit(1)).as("n_members"),
        count_distinct(col("cluster")).as("n_clusters"))
      p.agg(count(lit(1)).as("n_pairs")).crossJoin(stats)
        .select(lit(math.floor(tau * 10 + 0.5).toInt).as("tau_deci"),
          col("n_pairs"), col("n_clusters"),
          (col("n_members") - col("n_clusters")).as("n_removed"))
    }.reduce(_ unionByName _).orderBy("tau_deci")
  }

  /** d17: incremental SIMHASH admission — the d11/d12/d15 store
    * discipline for the hamming family, completing the incremental
    * set: the accumulated store persists one 8-byte signature per
    * admitted doc ([[simhashStore]]); a new batch probes it via the
    * 16-bit-chunk pigeonhole buckets (shared chunk GUARANTEED for
    * hamming ≤ 3 — recall 1.0 by construction, unlike d12's
    * probabilistic bands), exact hamming verifies, and the report
    * carries each matched batch doc's best store match (hamming ASC,
    * id ASC) plus its match count. Batch docs with no verdict row are
    * the admissions whose signatures extend the store.
    *
    * At 100 TB: per-batch work is batch-sized (batch chunks × the
    * store-bucket lookups the equi-join prunes to); the store is the
    * family's smallest at 8 bytes/doc. */
  def incrementalSimhash(s: SparkSession, dir: String,
                         splitAt: Long = D12SplitAt): DataFrame = {
    val docs = t(s, dir, "documents")
    val store = docs.filter(col("doc_id") < splitAt)
    val batch = docs.filter(col("doc_id") >= splitAt)
    // the [[autoSigBits]] keyspace dial, sized on the STORE (the side
    // whose density saturates the chunk buckets); resolves to the
    // 64-bit path at every registered SF (store = splitAt docs). The
    // count memoizes per (dir, splitAt) — sizes only, the Similarity
    // memoCount discipline.
    val storeN = d17StoreCounts.computeIfAbsent(s"$dir#$splitAt",
      _ => store.count())
    if (autoSigBits(storeN) == 64)
      incrementalSimhash(
        simhashStore(batch, "doc_id", "text"),
        simhashStore(store, "doc_id", "text"))
    else
      incrementalSimhashWide(
        simhashStoreWide(batch, "doc_id", "text"),
        simhashStoreWide(store, "doc_id", "text"))
  }

  /** The probe half over WIDE (doc_id, sig0, sig1) frames — the
    * [[incrementalSimhash]] semantics with hamming over 128 bits and
    * 32-bit pigeonhole chunks (same ≤ 3 guarantee). */
  def incrementalSimhashWide(batchSig: DataFrame, storeSig: DataFrame,
                             maxHamming: Int = 3): DataFrame =
    simhashProbe(batchSig, storeSig, Seq("sig0", "sig1"),
      sigs => chunkKeysWide(sigs(0), sigs(1)), maxHamming)

  /** The probe half over pre-derived signature frames (doc_id, sig). */
  def incrementalSimhash(batchSig: DataFrame, storeSig: DataFrame): DataFrame =
    incrementalSimhash(batchSig, storeSig, 3)

  def incrementalSimhash(batchSig: DataFrame, storeSig: DataFrame,
                         maxHamming: Int): DataFrame =
    simhashProbe(batchSig, storeSig, Seq("sig"), sigs => chunkKeysOf(sigs.head),
      maxHamming)

  /** The one simhash probe over (doc_id, `sigCols`…) frames: batch and
    * store docs sharing a pigeonhole chunk (`chunkKeys` of the
    * signature columns) are candidates, hamming summed over the
    * signature words verifies them, and each matched batch doc reports
    * its best store match (hamming ASC, id ASC) and its match count. */
  private def simhashProbe(batchSig: DataFrame, storeSig: DataFrame,
                           sigCols: Seq[String], chunkKeys: Seq[Column] => Column,
                           maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      s"maxHamming=$maxHamming exceeds the 4-chunk candidate guarantee (max 3)")
    val b = batchSig.localCheckpoint(eager = false) // chunk probe + sig fetch
    val st = storeSig.localCheckpoint(eager = false)
    def chunks(df: DataFrame, as: String): DataFrame = df
      .select(col("doc_id").as(as),
        posexplode(chunkKeys(sigCols.map(col))).as(Seq("chunk", "key")))
    def sigs(df: DataFrame, as: String, side: String): DataFrame =
      df.select(col("doc_id").as(as) +: sigCols.map(c => col(c).as(s"${c}_$side")): _*)
    val cand = chunks(b, "batch_id")
      .join(chunks(st, "store_id"), Seq("chunk", "key"))
      .select("batch_id", "store_id").distinct()
    val verified = cand
      .join(sigs(b, "batch_id", "b"), "batch_id")
      .join(sigs(st, "store_id", "s"), "store_id")
      .withColumn("hamming", sigCols
        .map(c => bit_count(col(s"${c}_b").bitwiseXOR(col(s"${c}_s"))))
        .reduce(_ + _))
      .filter(col("hamming") <= maxHamming)
    val w = Window.partitionBy("batch_id")
      .orderBy(asc("hamming"), asc("store_id"))
    verified
      .withColumn("rk", row_number().over(w))
      .withColumn("n_matches",
        count(lit(1)).over(Window.partitionBy("batch_id")))
      .filter(col("rk") === 1)
      .select(col("batch_id").as("doc_id"),
        col("store_id").as("best_match"), col("hamming"), col("n_matches"))
      .orderBy("doc_id")
  }
}
