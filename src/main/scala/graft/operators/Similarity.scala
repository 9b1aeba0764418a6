package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables.t
import graft.functions.VectorExprs.dot

/** Similarity search over the `embeddings` table (vec_id,
  * embedding: array<float>, label).
  *
  * Two tiers, mirroring what a 100 TB pipeline needs:
  *  - brute-force cosine top-k for a small query set: broadcast the
  *    queries, one narrow pass over the corpus — scales linearly, no
  *    shuffle of the corpus.
  *  - hyperplane-LSH bucketing for all-pairs / large query sets: shuffle
  *    on a 16-bit bucket key, exact re-rank inside buckets.
  *
  * All dot products go through [[graft.functions.DotProduct]] (a
  * codegen'd Catalyst expression); per-vector norms are computed ONCE
  * per row before any pair join, so the O(n²) inner loop is a single
  * tight codegen'd dot per pair.
  */
object Similarity {

  /** Default hot-bucket/cell cap for the anchor-star pair generators
    * (lshPairs / lshPairsMulti / semDedupPairs). Single-sourced: the
    * oracle-side cap guards (OracleSqlHelpers.capGuardCte) read the SAME
    * constant, so the engine can never engage the cap at a different
    * threshold than the oracle asserts. */
  val DefaultBucketCap: Int = 1000

  /** s18 replay constants — single-sourced for the same reason as
    * [[DefaultBucketCap]]: the ingested/batch split id, the entry-set
    * size, and the per-node edge count (k = m in the insert) appear in
    * [[annGraphInsert]]'s defaults AND in the generated oracle SQL
    * (OracleSqlSim.s18OracleSql); deriving both sites from here means
    * changing a default can never desync the engine from its oracle
    * replay. */
  val S18SplitId: Long = 100
  val S18NEntries: Int = 4
  val GraphM: Int = 12

  /** s19's fixed NN-descent round count — single-sourced into the
    * generated replays like the s18 constants above. */
  val S19Rounds: Int = 1

  /** Cosine similarity over two array<double> columns, computed in
    * double with the same op order as `Σab / (√Σa² · √Σb²)`. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Embeddings with the L2 norm precomputed (`nrm` = √Σv²). Pair-level
    * cosine is then `dot / (nrm_a * nrm_b)` — bit-identical to
    * [[cosine]] since `√x·√y` is evaluated in the same order. */
  private[operators] def emb(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"), col("label"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Brute-force cosine top-k: queries (vec_id < nQueries) broadcast
    * against the full corpus; rank per query. Deterministic: cosine is
    * rounded to 6 decimals before ranking, ties broken by vec_id. */
  def annBruteForce(s: SparkSession, dir: String,
                    nQueries: Int = 5, k: Int = 3): DataFrame = {
    val all = emb(s, dir)
    val queries = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("q_nrm"))
    val scored = all.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(dot(col("qv"), col("v")) / (col("q_nrm") * col("nrm")), 6).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "n_id", "cos")
      .orderBy("q_id", "rk")
  }

  /** s15: hard-negative mining for contrastive training — for each
    * query vector, the k most-similar vectors carrying a DIFFERENT
    * label (the "close but wrong" examples a contrastive loss needs;
    * random negatives are trivially separable). Same broadcast-queries
    * × corpus-stream shape as [[annBruteForce]] — the label inequality
    * is one extra predicate in the broadcast join, so the 100 TB cost
    * is identical: linear corpus scan, no corpus shuffle, codegen'd
    * dot. Deterministic: cosine rounded to 6 decimals, ties to the
    * lower vec_id. */
  def hardNegatives(s: SparkSession, dir: String,
                    nQueries: Int = 5, k: Int = 3): DataFrame = {
    val all = emb(s, dir)
    val queries = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("q_nrm"), col("label").as("q_label"))
    val scored = all.join(broadcast(queries),
        col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("label").as("n_label"),
        round(dot(col("qv"), col("v")) / (col("q_nrm") * col("nrm")), 6).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "n_id", "n_label", "cos")
      .orderBy("q_id", "rk")
  }

  /** s16: graph ANN — HNSW-lite greedy beam search over a k-NN graph,
    * the one ANN family the IVF/PQ/LSH queries don't cover. Two phases,
    * matching the production shape (build once, search many):
    *
    *  1. BUILD: a directed k-NN graph — each node's top-`m` neighbors
    *     by (cosine DESC, id ASC). Registered build is the exact
    *     all-pairs baseline (the same O(n²) contract as [[cosinePairs]]
    *     vs [[lshPairs]]); at 100 TB the pair source swaps for the
    *     [[lshPairsMulti]] candidates + NN-descent refinement — the
    *     search phase below is pair-source-agnostic. The graph frame
    *     is `localCheckpoint`'d: every hop re-reads it, and nothing
    *     may re-run the build per hop.
    *  2. SEARCH: greedy beam search, HNSW's layer-0 loop with the
    *     hierarchy replaced by a pinned ENTRY SET (vec_ids
    *     [nQueries, nQueries+nEntries) — deterministic, the analog of
    *     HNSW's top-layer descent seeds). Per hop: take the current
    *     top-`beam` of each query's visited set (ties to the lower id),
    *     expand their graph neighbors, score ONLY the never-visited
    *     candidates, union. `hops` is FIXED (not run-to-convergence),
    *     so both engines run the identical unrolled computation — the
    *     t13 discipline. All beam/result selection compares the
    *     6-decimal ROUNDED cosine with integer tie-breaks, so the
    *     ranking is engine-portable (the s01/s02 discipline).
    *
    * Per-hop frames are eagerly checkpointed: `visited` feeds three
    * consumers per hop (frontier, anti-join, union) and its lineage
    * would otherwise grow 3^hops. Search cost per query is
    * O(hops · beam · m) score evaluations regardless of corpus size —
    * the whole point of graph ANN; the corpus-side work is the
    * vector fetch join on n_id (bucketed on vec_id at 100 TB), with
    * the query set broadcast. Defaults tuned on the synthetic corpus:
    * recall@3 = 0.8 vs exact (s01) while visiting ~1/3 of the 500-node
    * graph; real (clustered) corpora navigate far better than this
    * uniform-random worst case. */
  def annGraph(s: SparkSession, dir: String, m: Int = 12, beam: Int = 8,
               hops: Int = 4, k: Int = 3, nQueries: Int = 5,
               nEntries: Int = 4): DataFrame = {
    val all = emb(s, dir)
    val aSide = all.select(col("vec_id").as("src"), col("v").as("va"),
      col("nrm").as("na"))
    val bSide = all.select(col("vec_id").as("dst"), col("v").as("vb"),
      col("nrm").as("nb"))
    // score each unordered pair ONCE (src < dst), mirror for the
    // directed graph — halves the O(n²) dot products, the build's
    // dominant cost; cos(a,b) = cos(b,a) exactly (same rounded value)
    val half = aSide.join(bSide, col("src") < col("dst"))
      .select(col("src"), col("dst"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cos"))
    val scored = half.unionByName(
      half.select(col("dst").as("src"), col("src").as("dst"), col("cos")))
    beamSearch(all, topMGraph(scored, m).select("src", "dst"), beam, hops, k,
      nQueries, nEntries)
  }

  /** Occupancy-targeted nPlanes dial for the LSH-built graph queries:
    * in-bucket candidate volume grows ~N²/2^nPlanes per table, so
    * holding expected bucket occupancy near a constant (2⁵ = 32
    * vectors) means nPlanes = log₂N − 5, floored at the gate-corpus
    * setting. The response curve is MEASURED, not assumed (BASELINE.md
    * r9/r10, GraphKnobProbe at sf1 = 20,000 vectors:
    * nPlanes 6 → 24.6 s, 8 → 8.0 s, 9 → 6.6 s, recall@3 = 1.00
    * throughout); this formula reproduces the probe's best point
    * (N=20000 → 9) while leaving every oracle-compared SF at the
    * baked-in 6 (N=500 at sf0.001/sf0.01, N=2000 at sf0.1 → 6 — the
    * s17/s18/s19/s20 replay SQL carries nPlanes=6 plane literals, so
    * the dial MUST resolve to 6 wherever hashes are compared). */
  /** `occLog2` is the occupancy target's log₂ (default 2⁵ = 32, the
    * graph-build sweet spot); candidate-volume-bound consumers like
    * [[bitextMineLsh]] pass a smaller target — mining cost is
    * N·occupancy, so holding occupancy lower keeps the candidate set
    * ∝ N where the graph build can afford denser buckets. */
  def autoNPlanes(n: Long, floor: Int = 6, occLog2: Int = 5): Int = {
    val log2n = math.round(
      math.log(n.max(1L).toDouble) / math.log(2.0)).toInt
    // second-decade occupancy shrink (r17 sweep, AnnSweepProbe at
    // N=200k): holding occupancy 2^5 at the second decade buys ~2×
    // more candidates than recall needs once the query-side dials
    // ([[autoBeam]]/[[autoHops]]) scale — recall 0.967 @ 46 s at
    // occ 2⁵ vs 0.917 @ 22 s at occ 2⁴ with beam 32. One occupancy
    // notch per ~decade past sf1 (log₂N = 14), floored at 2² so the
    // shrink can never starve buckets entirely; 0 shift at every
    // oracle-compared SF (log₂N ≤ 11) and at sf1.
    val occEff = math.max(2, occLog2 - math.max(0, (log2n - 14) / 4))
    math.max(floor, log2n - occEff)
  }

  /** Occupancy-companion BEAM dial for the graph-ANN search phase —
    * the r16 second-decade finding made engine behavior: at N = 200k
    * the plane dial holds occupancy but the fixed beam=8 budget
    * becomes the binding recall constraint (recall@3 0.60–0.87). The
    * search budget is QUERY-side (hops·beam·m score evaluations per
    * query — corpus-free), so it is the cheap recall lever: +6 beam
    * per log₂ step past sf1 reproduces the sweep's recall ≥ 0.9 point
    * (beam 32 at N=200k, AnnSweepProbe r17) while resolving to the
    * baked-in 8 at every oracle-compared SF and at sf1. */
  def autoBeam(n: Long, base: Int = 8): Int = {
    val log2n = math.round(
      math.log(n.max(1L).toDouble) / math.log(2.0)).toInt
    base + 6 * math.max(0, log2n - 14)
  }

  /** [[autoBeam]]'s HOPS companion: the descent path length grows with
    * log N (the graph-diameter argument), +1 hop per log₂ step past
    * sf1 — 8 hops at N=200k (the sweep's recall-0.917 point), the
    * baked-in 4 at every oracle-compared SF and at sf1. */
  def autoHops(n: Long, base: Int = 4): Int = {
    val log2n = math.round(
      math.log(n.max(1L).toDouble) / math.log(2.0)).toInt
    base + math.max(0, log2n - 14)
  }

  /** Session-scoped memo of corpus CARDINALITIES feeding the
    * [[autoNPlanes]] dial — sizes only, never data, so the driver-side
    * state is a handful of longs keyed by (dir, predicate tag). The
    * testdata dir is immutable within a session; memoizing saves the
    * per-invocation count job (~0.5 s of pure job overhead per repeat
    * under the bench's min-of-N protocol, measured in r10's A/B). */
  private val corpusCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def memoCount(key: String)(compute: => Long): Long =
    corpusCounts.computeIfAbsent(key, _ => compute)

  /** s17: [[annGraph]]'s 100 TB twin — the SAME fixed-hop beam search
    * over a k-NN graph built from the multi-table sign-LSH candidate
    * pairs ([[lshPairsMulti]], threshold disabled: a kNN graph wants
    * each node's nearest whatever their absolute cosine) instead of
    * the exact O(n²) pair join. Candidate volume is the bucketed pair
    * count (~2% of all-pairs at the gate SF with the defaults), and
    * the graph quality matches: recall@3 equals the exact-built
    * graph's on the gate corpus. ORACLE-EXACT end-to-end: integer-grid
    * buckets (s03's discipline) + the unrolled beam replay (s16's) —
    * the full scale path of graph ANN is driver-verified, the same
    * baseline/twin contract as s02→s03 and d07→d09.
    *
    * `nPlanes = None` (the registered default) engages the
    * [[autoNPlanes]] occupancy dial: one metadata-cheap parquet count
    * sizes the corpus and the build self-tunes with it — the r9
    * scale finding (fixed 6 planes cost 6.3× wall at 10× data) is
    * engine behavior now, not a deployment footnote.
    *
    * It is [[annGraphLshRefined]] at `rounds = 0`. */
  def annGraphLsh(s: SparkSession, dir: String, nTables: Int = 6,
                  nPlanes: Option[Int] = None): DataFrame =
    annGraphLshRefined(s, dir, rounds = 0, nTables, nPlanes)

  /** s19: [[annGraphLsh]] + NN-descent refinement (Dong et al.,
    * WWW '11) — the graph-quality step the raw-LSH build lacks in
    * sparse-bucket regimes (many planes, few cohabitants: nodes whose
    * buckets are singletons get few or NO candidate edges, and the
    * beam search can't reach what the graph doesn't link). Each
    * refinement round proposes every NEIGHBOR-OF-NEIGHBOR pair of the
    * current top-m graph (two nodes sharing a graph source — the
    * "your neighbor's neighbor is probably your neighbor" closure),
    * scores only the never-seen proposals, and rebuilds the top-m
    * graph over the union. `rounds` is FIXED (t13 discipline), so the
    * whole refinement unrolls into oracle CTEs and both engines run
    * the identical computation; `rounds = 0` is exactly [[annGraphLsh]].
    *
    * Scale shape: a round's proposal volume is ≤ n·m(m−1)/2 pairs
    * (corpus-LINEAR, m is a constant — vs the build's bucket-quadratic
    * candidates), shuffled on the shared source id; the anti-join
    * against already-scored pairs keeps re-scoring off the hot path;
    * per-round `localCheckpoint` truncates the union lineage exactly
    * like the CC rounds'. */
  def annGraphLshRefined(s: SparkSession, dir: String,
                         rounds: Int = S19Rounds,
                         nTables: Int = 6, nPlanes: Option[Int] = None,
                         m: Int = GraphM, k: Int = 3,
                         nQueries: Int = 5,
                         nEntries: Int = 4,
                         bucketCap: Int = DefaultBucketCap): DataFrame = {
    val all = emb(s, dir)
    val n = memoCount(dir)(t(s, dir, "embeddings").count())
    val nP = nPlanes.getOrElse(autoNPlanes(n))
    val aSide = all.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"))
    val bSide = all.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    val pairs = lshPairsMulti(all, threshold = -2.0, nTables, nP,
        dim = 64, bucketCap)
      .select(col("id_a"), col("id_b"), col("cos"))
    // only the refinement rounds re-read the candidates
    var cs = if (rounds > 0) pairs.localCheckpoint() else pairs
    for (_ <- 1 to rounds) {
      val g = topMGraph(directed(cs), m).select("src", "dst")
      val nn = g.as("g1").join(g.as("g2"),
          col("g1.src") === col("g2.src") && col("g1.dst") < col("g2.dst"))
        .select(col("g1.dst").as("id_a"), col("g2.dst").as("id_b"))
        .distinct()
      val fresh = nn
        .join(cs.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_anti")
        .join(aSide, Seq("id_a"))
        .join(bSide, Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
            .as("cos"))
      cs = cs.unionByName(fresh).localCheckpoint()
    }
    beamSearch(all, topMGraph(directed(cs), m).select("src", "dst"), autoBeam(n),
      autoHops(n), k, nQueries, nEntries)
  }

  /** s18: incremental INSERT into the graph index — the lifecycle step
    * [[annGraphLsh]]'s build-once story needs (d11's incremental-dedup
    * contract, ported to ANN): the index over the already-ingested
    * corpus (vec_id ≥ `splitId`) is NOT rebuilt when a batch arrives;
    * each new vector beam-searches the EXISTING graph and the result
    * IS its edge selection — HNSW's insertion primitive (search layer-0
    * with ef=beam, connect to the top-m found). Output: the `m` edges
    * each batch vector would attach with, (q_id, rk, n_id, cos), every
    * n_id an ingested-corpus node.
    *
    * Scale shape: the old-corpus graph is the [[annGraphLsh]] build
    * (bucketed candidates, anchor-capped — never O(n²)); the insert
    * itself costs O(hops · beam · m) score evaluations PER BATCH
    * VECTOR regardless of ingested-corpus size, with the batch
    * broadcast — the property that makes continuous ingestion viable
    * at 100 TB. `nPlanes = None` engages the [[autoNPlanes]] dial,
    * sized on the INGESTED corpus (the side the graph is built
    * over), same contract as [[annGraphLsh]]. */
  def annGraphInsert(s: SparkSession, dir: String,
                     splitId: Long = S18SplitId,
                     nTables: Int = 6, nPlanes: Option[Int] = None,
                     m: Int = GraphM,
                     beam: Option[Int] = None, hops: Option[Int] = None,
                     nEntries: Int = S18NEntries,
                     bucketCap: Int = DefaultBucketCap): DataFrame =
    insertSearch(s, dir, splitQueries(s, dir, splitId), maxQueries = splitId,
      splitId, nTables, nPlanes, m, beam, hops, nEntries, bucketCap)._2

  /** The batch side of the split corpus (vec_id < `splitId`) as
    * (q_id, qv, qn) queries. */
  private def splitQueries(s: SparkSession, dir: String, splitId: Long): DataFrame =
    emb(s, dir).filter(col("vec_id") < splitId)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))

  /** The insert primitive over an EXPLICIT batch frame — the
    * foreachBatch-consumer form of [[annGraphInsert]] (see
    * [[graft.streaming.IncrementalJobs]]): the micro-batch arrives as
    * a streaming source, not a vec_id predicate. `queries` must carry
    * (q_id, qv, qn); [[annGraphInsertQueries]] adapts a raw
    * (vec_id, embedding) frame. Each batch vector's search is
    * independent, so the union of per-batch outputs equals the
    * all-at-once [[annGraphInsert]] on the same query set — the
    * composition law StreamingIncrementalSpec pins across
    * kill/restart. */
  def annGraphInsertFrames(s: SparkSession, dir: String, queries: DataFrame,
                           splitId: Long = S18SplitId,
                           nTables: Int = 6, nPlanes: Option[Int] = None,
                           m: Int = GraphM,
                           beam: Option[Int] = None, hops: Option[Int] = None,
                           nEntries: Int = S18NEntries,
                           bucketCap: Int = DefaultBucketCap): DataFrame =
    insertSearch(s, dir, queries, maxQueries = Long.MaxValue,
      splitId, nTables, nPlanes, m, beam, hops, nEntries, bucketCap)._2

  /** The insert family's one build and search (s18, s20 and the
    * streaming insert): the scored top-m graph over the ingested corpus
    * (vec_id ≥ `splitId`, the [[annGraphLsh]] build), and the `queries`
    * beam-searched over it, for a query set the caller knows holds at
    * most `maxQueries` rows (Long.MaxValue: unknown). */
  private def insertSearch(s: SparkSession, dir: String, queries: DataFrame,
                           maxQueries: Long, splitId: Long, nTables: Int,
                           nPlanes: Option[Int], m: Int, beam: Option[Int],
                           hops: Option[Int], nEntries: Int,
                           bucketCap: Int): (DataFrame, DataFrame) = {
    val all = emb(s, dir)
    val old = all.filter(col("vec_id") >= splitId)
    val n = memoCount(s"$dir#ge$splitId")(
      t(s, dir, "embeddings").filter(col("vec_id") >= splitId).count())
    val nP = nPlanes.getOrElse(autoNPlanes(n))
    val graph = topMGraph(directed(lshPairsMulti(old, threshold = -2.0,
      nTables, nP, dim = 64, bucketCap)), m)
    (graph, beamSearchFrames(all, graph.select("src", "dst"), queries,
      old.filter(col("vec_id") < splitId + nEntries)
        .select(col("vec_id").as("n_id")),
      beam.getOrElse(autoBeam(n)), hops.getOrElse(autoHops(n)), k = m,
      maxQueries))
  }

  /** Adapt a raw (vec_id, embedding) frame — e.g. a streaming
    * micro-batch of the embeddings table — to the (q_id, qv, qn)
    * query shape [[annGraphInsertFrames]] expects, with the same
    * double-cast and norm as the corpus side. */
  def annGraphInsertQueries(batch: DataFrame): DataFrame =
    batch
      .select(col("vec_id").as("q_id"),
        asDouble(col("embedding")).as("qv"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))

  /** s20: the RECIPROCAL half of HNSW insertion — the index-mutation
    * step [[annGraphInsert]] (which only emits the new nodes' OUTGOING
    * edge selections) leaves unmodeled. Every old node that receives
    * an incoming edge from a batch vector re-selects its top-m
    * neighbor list over (existing edges ∪ incoming new edges) — the
    * prune that keeps per-node degree at m and the graph navigable
    * under continuous ingestion. Output: the updated neighbor lists of
    * the AFFECTED nodes only, (n_id, rk, dst, cos).
    *
    * The re-selection is EXACT, not an approximation of a batch
    * rebuild: top-m(top-m(A) ∪ B) = top-m(A ∪ B) for any candidate
    * set A and incoming set B (an A-edge outside top-m(A) is dominated
    * by m retained edges, so it can never re-enter), so insert-then-
    * update equals the batch-built graph over the union pair source —
    * the law GraphInsertSpec pins.
    *
    * Scale shape: the affected set is ≤ nBatch·m node ids
    * (parameter-bounded, broadcast-hinted — the s03 anchor lesson);
    * the old graph is already degree-capped at m rows per node; the
    * incoming frame is the insert output itself. The whole update
    * touches O(nBatch · m²) rows regardless of ingested-corpus
    * size. */
  def annGraphInsertRecip(s: SparkSession, dir: String,
                          splitId: Long = S18SplitId,
                          nTables: Int = 6, nPlanes: Option[Int] = None,
                          m: Int = GraphM,
                          beam: Option[Int] = None, hops: Option[Int] = None,
                          nEntries: Int = S18NEntries,
                          bucketCap: Int = DefaultBucketCap): DataFrame = {
    val (oldGraph, newEdges) = insertSearch(s, dir, splitQueries(s, dir, splitId),
      maxQueries = splitId, splitId, nTables, nPlanes, m, beam, hops, nEntries,
      bucketCap)
    val incoming = newEdges
      .select(col("n_id").as("src"), col("q_id").as("dst"), col("cos"))
    val affected = incoming.select("src").distinct()
    val w = Window.partitionBy("src").orderBy(desc("cos"), asc("dst"))
    oldGraph.unionByName(incoming)
      .join(broadcast(affected), Seq("src"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= m)
      .select(col("src").as("n_id"), col("rk"), col("dst"), col("cos"))
      .orderBy("n_id", "rk")
  }

  /** Mirror an undirected (id_a, id_b, cos) pair frame into directed
    * (src, dst, cos) edges. */
  private def directed(pairs: DataFrame): DataFrame = pairs
    .select(col("id_a").as("src"), col("id_b").as("dst"), col("cos"))
    .unionByName(pairs
      .select(col("id_b").as("src"), col("id_a").as("dst"), col("cos")))

  /** Directed k-NN graph (src, dst, cos): each src's top-`m` candidates
    * by (rounded cos DESC, dst ASC). The search callers select
    * (src, dst); the insert-update path (s20) re-ranks neighbor lists
    * by the kept cos. Checkpointed ONCE, here: every beam-search hop
    * re-reads the graph and nothing may re-run the (expensive) pair
    * source per hop, and a second checkpoint of a projection of it
    * cost +2.7 s per build on s17 at sf0.1 (r17) — select after this
    * call, never checkpoint again. Deliberately the row_number WINDOW,
    * not TopKPerGroup: the group count here is the CORPUS (every node
    * selects top-m), so
    * per-partition rows-per-group ≈ occupancy·tables/partitions ≈ 3 —
    * below the heap cap m=12, and the map-side heaps prune nothing
    * while paying their overhead (measured r17 at sf10: 36.3 s via
    * TopKPerGroup vs 18.3 s via the window on the identical build).
    * TopKPerGroup wins when k·groups ≪ partition rows (q31/t10/x09's
    * regime), not here. */
  private def topMGraph(scored: DataFrame, m: Int): DataFrame = {
    val wG = Window.partitionBy("src").orderBy(desc("cos"), asc("dst"))
    scored.withColumn("rk", row_number().over(wG))
      .filter(col("rk") <= m)
      .select("src", "dst", "cos")
      .localCheckpoint()
  }

  /** The fixed-hop greedy beam search shared by [[annGraph]],
    * [[annGraphLsh]] and [[annGraphInsert]] — pair-source-agnostic,
    * like the CC core the dedup clusterings share. `corpus` =
    * (vec_id, v, nrm) must cover every id the search can score (graph
    * nodes AND queries). */
  private def beamSearch(corpus: DataFrame, graph: DataFrame, beam: Int,
                         hops: Int, k: Int, nQueries: Int,
                         nEntries: Int): DataFrame =
    beamSearchDriver(corpus, graph,
      corpus.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn")),
      corpus
        .filter(col("vec_id") >= nQueries &&
          col("vec_id") < nQueries + nEntries)
        .select(col("vec_id").as("n_id")),
      beam, hops, k)

  /** [[beamSearchFrames]] with the per-hop BOOKKEEPING on the driver —
    * for the PARAM-BOUNDED query sets of s16/s17/s19 (nQueries/nEntries
    * are literals, default 5/4, at any SF). r18, guide §1.2: the
    * row-frame form spent its wall on orchestration, not compute — per
    * hop it planned a window + two sort-merge joins + a distinct + an
    * eager checkpoint over frames of ≤ nq·(ne + hops·beam·m) ≈ 2k rows
    * (JobProfile: s17 = 65 AQE stage-jobs, jobSum ≈ wall — pure sync
    * floor; 8 cores beat 32 suite-wide on exactly these paths). The
    * search state is MODEL-state-sized by the graph-ANN contract
    * (hops·beam·m score evaluations per query, corpus-free), so it is
    * driver state in the same sense as t13's merge table, the Lloyd
    * centroids and x26's Gram matrix — the corpus-scaled work (frontier
    * neighbor fetch, vector fetch + cosine) stays DISTRIBUTED: one slim
    * broadcast-join job per hop against the checkpointed graph and one
    * against the corpus, with no search-phase shuffle at all. Scoring
    * runs the IDENTICAL Column expression (round(dot/(qn·nrm), 6)), and
    * the driver merge/rank only COMPARES already-rounded doubles —
    * replicating Spark's nanSafeCompareDoubles (-0.0 == 0.0) with
    * integer tie-breaks — so ranks and values are bit-identical to the
    * frame form. The insert family s18/s20 enters through
    * [[beamSearchFrames]], whose query set is the BATCH: at or under
    * [[BeamDriverMaxQueries]] it runs here on the driver too (the
    * s18/s20 batch of 100 does), and only a larger batch keeps the
    * distributed row-frame loop. */
  private def beamSearchDriver(corpus: DataFrame, graph: DataFrame,
                               queries: DataFrame, entries: DataFrame,
                               beam: Int, hops: Int, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // Spark DoubleType ordering: -0.0 == 0.0 (nanSafeCompareDoubles);
    // no NaNs can reach here (cosines of finite non-zero-norm vectors)
    val byCosDescIdAsc = new Ordering[(Long, Double)] {
      def compare(a: (Long, Double), b: (Long, Double)): Int = {
        val c = if (a._2 == b._2) 0 else if (a._2 > b._2) -1 else 1
        if (c != 0) c else java.lang.Long.compare(a._1, b._1)
      }
    }
    val qIds = queries.select("q_id").collect().map(_.getLong(0)).sorted
    val eIds = entries.select("n_id").collect().map(_.getLong(0)).sorted
    val visited =
      scala.collection.mutable.LinkedHashMap(qIds.map(q =>
        q -> scala.collection.mutable.LinkedHashMap.empty[Long, Double]): _*)
    // ONE scoring job: corpus streams through two broadcast hash joins
    // (candidate pairs + query vectors), no exchange anywhere; the
    // collect is ≤ nq·beam·m rows — query-set-sized at any corpus SF
    def score(cands: Seq[(Long, Long)]): Unit = if (cands.nonEmpty) {
      val rows = corpus.withColumnRenamed("vec_id", "n_id")
        .join(broadcast(cands.toDF("q_id", "n_id")), Seq("n_id"))
        .join(broadcast(queries), Seq("q_id"))
        .select(col("q_id"), col("n_id"),
          round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
            .as("cos"))
        .collect()
      rows.foreach { r =>
        val m = visited(r.getLong(0))
        if (!m.contains(r.getLong(1))) m(r.getLong(1)) = r.getDouble(2)
      }
    }
    score(for (q <- qIds.toSeq; e <- eIds if e != q) yield (q, e))
    for (_ <- 1 to hops) {
      val frontier: Seq[(Long, Long)] = visited.toSeq.flatMap { case (q, m) =>
        m.toSeq.sorted(byCosDescIdAsc).take(beam).map(p => (q, p._1))
      }
      val fIds = frontier.map(_._2).distinct.sorted
      // distributed frontier expansion: the graph (corpus-scaled, a
      // checkpointed degree-capped edge list) streams through ONE
      // broadcast semi-join; the collect is ≤ |frontier|·m rows
      val nbrs: Map[Long, Array[Long]] =
        if (fIds.isEmpty) Map.empty
        else graph.join(broadcast(fIds.toDF("src")), Seq("src"))
          .select("src", "dst").collect()
          .groupBy(_.getLong(0))
          .map { case (s, rs) => s -> rs.map(_.getLong(1)).sorted }
      val cands = (for {
        (q, f) <- frontier
        d <- nbrs.getOrElse(f, Array.empty[Long])
        if d != q && !visited(q).contains(d)
      } yield (q, d)).distinct
      score(cands)
    }
    val out = visited.toSeq.flatMap { case (q, m) =>
      m.toSeq.map { case (n, c) => (n, c) }.sorted(byCosDescIdAsc).take(k)
        .zipWithIndex.map { case ((n, c), i) => (q, i + 1, n, c) }
    }.sortBy(r => (r._1, r._2))
    spark.createDataFrame(out).toDF("q_id", "rk", "n_id", "cos")
  }

  /** Query sets at or under this size run [[beamSearchDriver]] — the
    * same size-gated locality trade as [[graft.operators.Dedup]]'s
    * union-find finisher (driver state ≤ bound·(ne + hops·beam·m)
    * entries ≈ a few MB at the bound; the s18-class insert batch is
    * 100 here). A mega-batch beyond the bound keeps the distributed
    * row-frame loop below. A caller that knows its query set holds at
    * most `maxQueries` rows passes that bound (s18/s20: `vec_id <
    * splitId` over the non-negative ids holds at most splitId rows);
    * otherwise ONE limit(bound+1) probe job of the query-id column
    * decides. */
  private val BeamDriverMaxQueries = 10000

  private def beamSearchFrames(corpus: DataFrame, graph: DataFrame,
                               queries: DataFrame, entries: DataFrame,
                               beam: Int, hops: Int, k: Int,
                               maxQueries: Long): DataFrame = {
    if (maxQueries <= BeamDriverMaxQueries ||
        queries.select("q_id").limit(BeamDriverMaxQueries + 1).collect()
          .length <= BeamDriverMaxQueries)
      return beamSearchDriver(corpus, graph, queries, entries, beam, hops, k)
    def score(cand: DataFrame): DataFrame =
      cand.join(corpus.withColumnRenamed("vec_id", "n_id"), Seq("n_id"))
        .join(broadcast(queries), Seq("q_id"))
        .select(col("q_id"), col("n_id"),
          round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6).as("cos"))
    val wB = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    var visited = score(queries.select("q_id").crossJoin(entries)
      .filter(col("n_id") =!= col("q_id"))).localCheckpoint()
    for (_ <- 1 to hops) {
      val frontier = visited.withColumn("rk", row_number().over(wB))
        .filter(col("rk") <= beam).select("q_id", "n_id")
      val expanded = frontier.join(graph, frontier("n_id") === graph("src"))
        .select(col("q_id"), col("dst").as("n_id"))
        .filter(col("n_id") =!= col("q_id"))
        .distinct()
      val fresh = expanded
        .join(visited.select("q_id", "n_id"), Seq("q_id", "n_id"), "left_anti")
      // each hop reads `visited` three times (frontier, anti-join,
      // union) — unchecked, the lineage grows 3^hops; checkpoint per
      // hop. The visited frame is query-set-sized (≤ nq·(ne +
      // hops·beam·m) rows) at ANY corpus SF, so the materialization
      // is metadata-cheap at scale too.
      visited = visited.unionByName(score(fresh)).localCheckpoint()
    }
    visited.withColumn("rk", row_number().over(wB))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "n_id", "cos")
      .orderBy("q_id", "rk")
  }

  /** All-pairs near-duplicate embeddings above a cosine threshold —
    * brute force (corpus x corpus). Correct at any scale but O(n^2):
    * the oracle-checked exact baseline for [[lshPairs]]. */
  def cosinePairs(s: SparkSession, dir: String, threshold: Double = 0.4): DataFrame =
    cosinePairsUnordered(s, dir, threshold).orderBy("id_a", "id_b")

  /** [[cosinePairs]] without the presentation sort — the CC consumer
    * (d07) feeds this form: its eager pair-frame checkpoint would
    * otherwise MATERIALIZE a global sort of the full quadratic pair
    * set that nothing downstream needs. */
  private[graft] def cosinePairsUnordered(s: SparkSession, dir: String,
                                          threshold: Double): DataFrame = {
    val a = emb(s, dir).select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nrm").as("nrm_a"))
    val b = emb(s, dir).select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nrm_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("va"), col("vb")) / (col("nrm_a") * col("nrm_b")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** d07: near-duplicate CLUSTERS in embedding space — the cosine
    * variant of d05 dup-clustering: the exact pair baseline
    * ([[cosinePairs]], oracle-checked in s02) feeds the same
    * star-contraction connected components as the text path
    * ([[Dedup.dupClusters]]). Output: (vec_id, cluster) for every
    * vector in a near-dup pair, cluster = smallest member id. At
    * 100 TB swap the pair source for [[lshPairs]] — the CC stage is
    * pair-source-agnostic. */
  def embeddingClusters(s: SparkSession, dir: String,
                        threshold: Double = 0.4): DataFrame =
    Dedup.dupClusters(cosinePairsUnordered(s, dir, threshold)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("cluster"))
      .orderBy("vec_id")

  /** Deterministic pseudo-random hyperplanes: planes(i)(d) in [-1, 1),
    * a pure function of (i, d) via SplitMix64 — identical across JVMs. */
  private def plane(i: Int, dim: Int): Seq[Double] =
    (0 until dim).map { d =>
      val h = Dedup.splitmix64(i.toLong * 131071L + d)
      (h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }

  /** Sign-LSH bucket key: `nPlanes` hyperplane sign bits packed into a
    * string key. Vectors in the same bucket are candidate neighbors.
    * Each plane is ONE array literal (`typedlit`, not 64 scalar
    * literals) and the projection is the codegen'd dot product.
    * `planeOffset` selects a disjoint plane set, so multi-table LSH
    * ([[lshPairsMulti]]) gets independent hash tables from the same
    * deterministic plane family. */
  def lshBucket(v: Column, nPlanes: Int = 12, dim: Int = 64,
                planeOffset: Int = 0): Column =
    concat_ws("", (0 until nPlanes).map { i =>
      when(dot(v, typedlit(plane(planeOffset + i, dim))) >= 0, "1").otherwise("0")
    }: _*)

  /** Integer-grid hyperplanes for ORACLE-EXACT sign-LSH: component
    * (i, d) is a SplitMix64-derived integer in [-2¹⁹, 2¹⁹) — the same
    * deterministic family as [[plane]], quantized so the bucket sign
    * is integer arithmetic any engine reproduces bit-exactly. */
  def intPlane(i: Int, dim: Int): Seq[Long] =
    (0 until dim).map { d =>
      val h = Dedup.splitmix64(i.toLong * 131071L + d)
      (h >>> 44) - (1L << 19)
    }

  /** Sign-LSH bucket key over an INTEGER grid — [[lshBucket]]'s
    * oracle-exact twin (s04): quantize each component to
    * q_d = ⌊v_d·10⁶ + 0.5⌋ (an exact double→integer map both Spark and
    * DuckDB evaluate identically) and take the sign of Σ q_d·P(i,d)
    * against the integer plane [[intPlane]]. Every product ≤ 2⁴⁰ and
    * the 64-term sum ≤ 2⁴⁶ — exact in doubles, so the codegen'd dot is
    * usable AND the sum is order-independent (integer addition in
    * double has no rounding here), which is what makes the bucket sign
    * reproducible in SQL with no float-summation-order caveat. Recall
    * behavior is the same as [[lshBucket]]: the grid shifts each
    * hyperplane by < 10⁻⁵ relative, invisible to bucketing recall.
    *
    * The exactness proof NEEDS |v_d| ≤ 128 (then |q_d| < 2²⁷, each
    * product < 2⁴⁶, the 64-term sum < 2⁵²: all exactly representable
    * in double). Embeddings are ~unit vectors so real inputs sit far
    * inside the bound, but nothing upstream enforces it — so the
    * quantizer ASSERTS it per component: a corpus with larger
    * components raises a self-describing error instead of silently
    * reintroducing float rounding (and diverging from the BIGINT-exact
    * oracle replay). */
  def lshBucketInt(v: Column, nPlanes: Int, dim: Int = 64,
                   planeOffset: Int = 0): Column = {
    val qv = transform(v, x =>
      when(abs(x) <= 128.0, floor(x * lit(1000000.0) + lit(0.5)).cast("double"))
        .otherwise(raise_error(concat(
          lit("lshBucketInt: |component| > 128 voids the exact-integer " +
            "bucket-sign proof (needs |q_d| < 2^27); got "),
          x.cast("string")))))
    concat_ws("", (0 until nPlanes).map { i =>
      when(dot(qv, typedlit(intPlane(planeOffset + i, dim).map(_.toDouble))) >= 0, "1")
        .otherwise("0")
    }: _*)
  }

  /** Anchor-star capped in-bucket pair join — the shared tail of every
    * bucketed candidate generator ([[lshPairs]], [[lshPairsMulti]],
    * [[semDedupPairs]]). `keyed` carries (vec_id, v, nrm, keyCols…);
    * rows sharing all `keyCols` are candidate neighbors.
    *
    * The uncapped form (`a.key = b.key AND a.id < b.id`) degrades
    * O(r²) on a hot bucket — and dup-heavy corpora, the very input a
    * dedup exists for, are exactly the ones that produce a bucket
    * holding most of the corpus (near-identical vectors share every
    * sign bit / probe cell by construction). So within each bucket of
    * size r only "anchor" rows join against all rows:
    *
    *  - hash anchors: xxhash64(vec_id) mod ⌈r/cap⌉ = 0, expected count
    *    ≈ cap — candidates fall from r²/2 to ≈ cap·r, linear in r;
    *  - plus the bucket's min vec_id is ALWAYS an anchor, so every
    *    bucket has ≥ 1 anchor and every member pairs with it: each
    *    bucket's surviving pair graph is strictly CONNECTED (a star
    *    around the min id at minimum), which is what the downstream CC
    *    clustering needs. (A dup group STRADDLING buckets reconnects
    *    only through a shared bucket in another table / probe cell —
    *    overwhelmingly likely for near-identical vectors, but
    *    probabilistic, not strict.)
    *
    * For buckets ≤ cap, ⌈r/cap⌉ = 1 makes every row an anchor and the
    * output is exactly the uncapped pair set. Both selections are
    * map-side: bucket sizes are a metadata-sized agg joined back by
    * BROADCAST (no shuffle of `keyed`, no per-bucket sort — a 10⁹-row
    * hot bucket must not become one sort task). Precision stays 1.0
    * (every candidate is exact-cosine re-ranked); only recall among
    * non-anchor pairs of an oversized bucket is sacrificed — the same
    * contract as d06's document-frequency cap. */
  /** The anchor-flagged frame behind [[anchorStarPairs]] — exposed
    * (package-private) so the s03c pinned-anchor fixture and its spec
    * can pin the exact anchor set the capped generator selects. */
  private[graft] def anchorFlagged(keyed: DataFrame, keyCols: Seq[String],
                                   cap: Int): DataFrame = {
    val sizes = keyed.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("rn"), min(col("vec_id")).as("min_id"))
    keyed.join(broadcast(sizes), keyCols)
      .withColumn("anchor",
        col("vec_id") === col("min_id") ||
        pmod(xxhash64(col("vec_id")),
          ceil(col("rn").cast("double") / cap).cast("long")) === 0)
  }

  private def anchorStarPairs(keyed: DataFrame, keyCols: Seq[String],
                              threshold: Double, cap: Int): DataFrame = {
    val rows = anchorFlagged(keyed, keyCols, cap)
    // The anchor side is EXPLICITLY broadcast: its size is bounded by
    // the operator's parameters (≈ 2·cap·nBuckets·nTables rows — the
    // hash selection targets `cap` per bucket), NOT by corpus size, so
    // the hint is safe at any SF — while AQE's size ESTIMATE crosses
    // the 10 MB auto-broadcast threshold already at sf1 and silently
    // flips the pair join to sort-merge, shuffling the whole corpus
    // (caught by PlanGateSpec at sf1). Callers whose cap·2^nPlanes·
    // nTables product is not broadcast-sized must shrink one of the
    // three; the defaults here are ≤ 64k rows for s03.
    broadcast(rows.filter(col("anchor"))).as("a").join(rows.as("b"),
        keyCols.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _) &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(
        least(col("a.vec_id"), col("b.vec_id")).as("id_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("id_b"),
        // dot and the norm product are symmetric, so cos is identical
        // whichever side was the anchor — the dedup is deterministic
        round(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 6).as("cos"))
      .filter(col("cos") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** LSH-bucketed near-neighbor pairs: shuffle on the bucket key, exact
    * cosine re-rank inside each bucket, [[anchorStarPairs]] cap on hot
    * buckets (near-identical vectors share every sign bit, so a
    * dup-blob corpus funnels into ONE bucket — the cap keeps that
    * bucket's join linear in its size). The 100 TB path for all-pairs
    * similarity — recall is tunable via nPlanes (fewer planes = bigger
    * buckets = higher recall and cost). ORACLE-EXACT: the bucket key
    * is the integer-grid [[lshBucketInt]], so the full bucketed pair
    * set is driver-verified against a DuckDB replay of the plane
    * literals (the cap is a no-op at gate scale; the capped regime is
    * spec-pinned in LshClusterSpec). */
  def lshPairs(s: SparkSession, dir: String, threshold: Double = 0.3,
               nPlanes: Int = 6, bucketCap: Int = DefaultBucketCap): DataFrame =
    lshPairs(emb(s, dir), threshold, nPlanes, dim = 64, bucketCap)
      .orderBy("id_a", "id_b")

  private def lshKeyed(embFrame: DataFrame, nPlanes: Int, dim: Int): DataFrame =
    // localCheckpoint: the bucket-size count and both pair-join sides
    // all read this frame — the nPlanes plane dots run once per row,
    // not once per consumer (1× corpus materialized, same pattern as
    // semDedupPairs/minhashLsh)
    embFrame
      .select(col("vec_id"), col("v"), col("nrm"),
        lshBucketInt(col("v"), nPlanes, dim).as("bucket"))
      .localCheckpoint()

  def lshPairs(embFrame: DataFrame, threshold: Double, nPlanes: Int,
               dim: Int, bucketCap: Int): DataFrame =
    anchorStarPairs(lshKeyed(embFrame, nPlanes, dim), Seq("bucket"),
      threshold, bucketCap)

  /** The anchor vec_id set [[lshPairs]] selects at (nPlanes, bucketCap)
    * — the min-id of every bucket plus the xxhash64-sampled rows of
    * oversized ones. Exposed so the s03c capped-regime query can pin
    * this set as a literal fixture (PinModelsTool) for a DuckDB oracle
    * that cannot evaluate Spark's xxhash64; PinnedModelsSpec re-derives
    * it and compares against the fixture. */
  def lshAnchorIds(s: SparkSession, dir: String, nPlanes: Int,
                   bucketCap: Int): DataFrame =
    anchorFlagged(lshKeyed(emb(s, dir), nPlanes, dim = 64), Seq("bucket"),
        bucketCap)
      .filter(col("anchor")).select(col("vec_id")).orderBy("vec_id")

  /** Multi-table sign-LSH near-neighbor pairs: `nTables` independent
    * hash tables (disjoint `nPlanes`-plane sets from the deterministic
    * SplitMix64 family), a pair is a candidate if it collides in ANY
    * table (the OR-construction that buys recall), and every candidate
    * is re-ranked with the EXACT cosine — so precision is exactly 1.0
    * (output ⊆ [[cosinePairs]], same `cos` values) and only recall is
    * probabilistic, at per-pair hit rate 1 − (1 − p^nPlanes)^nTables,
    * p = 1 − θ/π. On real near-dup corpora (cos ≥ 0.9 ⇒ p ≥ 0.86) the
    * defaults give per-pair recall > 0.999; on uniform data where all
    * threshold survivors sit AT the threshold (this repo's synthetic
    * embeddings), recall is structurally capped — LshClusterSpec pins
    * both regimes.
    *
    * Scale shape: one narrow pass computes all table keys, one
    * posexplode → shuffle on (table, key), per-bucket self-join capped
    * by [[anchorStarPairs]] (a dup blob shares every sign bit, so it
    * funnels into one bucket PER TABLE — without the cap each table
    * pays O(r²) on it), exact dot inline (the vectors are already in
    * the joined rows — no second join back to the corpus), then a
    * pair-level distinct (pairs colliding in several tables carry
    * identical (id_a, id_b, cos) rows, so it is deterministic).
    * Candidate volume is sized by nPlanes (bucket count 2^nPlanes per
    * table): more planes = smaller buckets = fewer candidates and
    * lower recall; more tables = linearly more candidates and higher
    * recall. */
  def lshPairsMulti(embFrame: DataFrame, threshold: Double, nTables: Int,
                    nPlanes: Int, dim: Int, bucketCap: Int): DataFrame = {
    val keys = array((0 until nTables).map { tb =>
      lshBucketInt(col("v"), nPlanes, dim, planeOffset = tb * nPlanes)
    }: _*)
    // localCheckpoint BEFORE the explode: the bucket-size count and
    // both pair-join sides re-read the keys, and the nTables×nPlanes
    // plane dots per row are the expensive part — materialize them
    // once at 1× corpus size (id, v, nrm, nTables key strings), not
    // the nTables×-exploded frame
    val keyed = embFrame
      .select(col("vec_id"), col("v"), col("nrm"), keys.as("ks"))
      .localCheckpoint()
      .select(col("vec_id"), col("v"), col("nrm"),
        posexplode(col("ks")).as(Seq("tb", "key")))
    anchorStarPairs(keyed, Seq("tb", "key"), threshold, bucketCap)
  }

  def lshPairsMulti(s: SparkSession, dir: String, threshold: Double = 0.4,
                    nTables: Int = 12, nPlanes: Int = 8,
                    bucketCap: Int = DefaultBucketCap): DataFrame =
    lshPairsMulti(emb(s, dir), threshold, nTables, nPlanes, dim = 64, bucketCap)
      .orderBy("id_a", "id_b")

  /** d09: the 100 TB twin of [[embeddingClusters]] — the SAME
    * pair-source-agnostic star-contraction CC core, fed from
    * [[lshPairsMulti]] instead of the exact O(n²) pair join. This is
    * the composition a real dedup deploys: banded/bucketed candidate
    * generation, exact re-rank, then clustering. ORACLE-EXACT: the
    * integer-grid bucket key makes the 12-table pair set SQL-
    * replayable, and the CC tail is the d05 oracle's recursive-CTE
    * class — so the full clustering is driver-verified. LshClusterSpec
    * additionally pins the laws: pairs ⊆ exact pairs, every LSH
    * cluster refines an exact cluster, and on planted near-dup data
    * (cos ≥ 0.97) the LSH clustering is IDENTICAL to the exact one. */
  def embeddingClustersLsh(s: SparkSession, dir: String,
                           threshold: Double = 0.4, nTables: Int = 12,
                           nPlanes: Int = 8): DataFrame =
    Dedup.dupClusters(lshPairsMulti(emb(s, dir), threshold, nTables, nPlanes, dim = 64, bucketCap = DefaultBucketCap)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("cluster"))
      .orderBy("vec_id")

  /** s22: margin-based bitext mining — the parallel-corpus mining
    * criterion of Artetxe & Schwenk (ACL '19), the scoring CCMatrix /
    * CCAligned run over billions of sentences: a cross-lingual pair
    * (x, y) is a translation candidate when cos(x, y) is high RELATIVE
    * to each side's own neighborhood, margin(x, y) =
    * cos(x, y) / ((avgₖ cos(x, NNₖ(x)) + avgₖ cos(y, NNₖ(y))) / 2) —
    * the ratio form, which cancels the "hubness" that makes raw cosine
    * thresholds useless across languages. Sides here are the label's
    * parity (even = source, odd = target — the synthetic corpus has no
    * language column on embeddings); output is each source vector's
    * best target by margin.
    *
    * This is the EXACT all-pairs baseline (the s02/s16 contract:
    * deliberately quadratic, the correctness oracle for the bucketed
    * twin [[bitextMineLsh]]). Float discipline: cosines are 6-dp
    * rounded then lifted to integer MICROS, so the k-NN mean is an
    * exact integer sum (the x11 lesson — no float-sum-order hazard in
    * the aggregate); the only float op is the final margin division,
    * evaluated in one fixed expression order and r4-floored before
    * ranking. */
  /** k-NN denominator width for s22/s23 — single-sourced into both
    * replay SQL forms via [[graft.OracleSqlHelpers.bitextTailSql]]. */
  val BitextK: Int = 4

  def bitextMine(s: SparkSession, dir: String, k: Int = BitextK): DataFrame = {
    val e = emb(s, dir)
    bitextMine(e.filter(col("label") % 2 === 0),
      e.filter(col("label") % 2 === 1), k)
  }

  /** Generic exact core: `src`/`tgt` carry (vec_id, v, nrm) — any two
    * embedding corpora (the real use: two languages' sentence
    * embeddings). */
  def bitextMine(srcFrame: DataFrame, tgtFrame: DataFrame,
                 k: Int): DataFrame = {
    val src = srcFrame.select(col("vec_id").as("src_id"),
      col("v").as("vs"), col("nrm").as("ns"))
    val tgt = tgtFrame.select(col("vec_id").as("tgt_id"),
      col("v").as("vt"), col("nrm").as("nt"))
    val pairs = src.join(tgt, lit(true))
      .select(col("src_id"), col("tgt_id"),
        floor(round(dot(col("vs"), col("vt")) / (col("ns") * col("nt")), 6)
          * lit(1e6) + lit(0.5)).cast("long").as("c"))
      .localCheckpoint(eager = false) // feeds both k-NN aggs + the margin join
    bitextMargin(pairs, k)
  }

  /** s23: the 100 TB twin of [[bitextMine]] — candidates from the
    * d09-regime multi-table sign-LSH (12 tables × 8 integer-grid
    * planes, threshold disabled: every cross-side collision is a
    * candidate), margins computed over the CANDIDATE neighborhoods —
    * exactly what CCMatrix does with its ANN index (the k-NN
    * denominator is the index's top-k, not the exact one). Same
    * micro-integer float discipline as s22; the pair source is the
    * oracle-replayable [[lshPairsMulti]], so the whole mining run is
    * driver-verified end-to-end.
    *
    * Scale shape: candidate generation is the bucketed anchor-star
    * join (never all-pairs); the side/parity lookup joins on the
    * candidate set (candidate-sized, not corpus-sized); both k-NN
    * aggregates and the margin join run on candidates; the per-source
    * best-target pick is a [[graft.plans.TopKPerGroup]] k=1. */
  def bitextMineLsh(s: SparkSession, dir: String, k: Int = BitextK,
                    nTables: Int = 12,
                    nPlanes: Option[Int] = None): DataFrame = {
    val e = emb(s, dir)
    // occupancy dial, mining-tuned: candidate volume is N·occupancy,
    // so the target is 2⁴ (vs the graph build's 2⁵) — resolves to the
    // baked-in 8 at every oracle-compared SF (N=500 → 8, N=2000 → 8)
    // and to 10 at sf1's N=20000, where fixed-8 measured 4.8× wall at
    // 10× data (BASELINE.md r10)
    val nP = nPlanes.getOrElse(autoNPlanes(
      memoCount(dir)(t(s, dir, "embeddings").count()),
      floor = 8, occLog2 = 4))
    val cand = lshPairsMulti(e, threshold = -2.0, nTables, nP,
      dim = 64, bucketCap = DefaultBucketCap)
    val lab = e.select(col("vec_id"), (col("label") % 2).as("par"))
    val pairs = cand
      .join(lab.select(col("vec_id").as("id_a"), col("par").as("pa")), "id_a")
      .join(lab.select(col("vec_id").as("id_b"), col("par").as("pb")), "id_b")
      .filter(col("pa") =!= col("pb"))
      .select(
        when(col("pa") === 0, col("id_a")).otherwise(col("id_b")).as("src_id"),
        when(col("pa") === 0, col("id_b")).otherwise(col("id_a")).as("tgt_id"),
        floor(col("cos") * lit(1e6) + lit(0.5)).cast("long").as("c"))
      .localCheckpoint(eager = false)
    bitextMargin(pairs, k)
  }

  /** nDCG discount 1/log₂(i+1) and the ideal DCG for graded gains
    * k..1 — single-sourced into the s25 replay SQL (the interpolated
    * literals are these exact doubles, so both engines multiply
    * identical binary values). */
  def ndcgDiscount(i: Int): Double = 1.0 / (math.log(i + 1.0) / math.log(2.0))
  def ndcgIdeal(k: Int): Double =
    (1 to k).map(i => (k - i + 1) * ndcgDiscount(i)).sum

  /** s25: rank-quality evaluation — MRR and nDCG@k of the served ANN
    * ranking against the exact one, the other half of s21's story:
    * recall says WHETHER the right neighbors surface, these say WHERE.
    * Graded relevance is positional (gain of an approx result = k −
    * exact_rank + 1 when it sits in the exact top-k, else 0 — the
    * standard graded-nDCG instantiation when the gold list is itself a
    * ranking); MRR is the reciprocal of the approx position of the
    * exact TOP-1 neighbor (0 when it is missed entirely).
    *
    * Float discipline: the per-rank discounts and the ideal DCG are
    * Scala-computed doubles interpolated into the replay SQL verbatim
    * (the s24 1−λ treatment), the DCG is a FIXED left-associative
    * 3-term expression over integer gains — no aggregate float sum —
    * and both metrics are r4-floored. Members are s01/s04 unchanged;
    * every joined frame is k·nQueries rows at any corpus scale. */
  def annRankEval(s: SparkSession, dir: String, nQueries: Int = 5,
                  k: Int = 3): DataFrame = {
    val bf = annBruteForce(s, dir, nQueries, k)
      .select(col("q_id"), col("rk").as("ex_rk"), col("n_id"))
    val iv = annIvf(s, dir, nQueries, k)
      .select(col("q_id").as("q2"), col("rk").as("ap_rk"),
        col("n_id").as("n2"))
    val joined = iv.join(broadcast(bf),
        col("q2") === col("q_id") && col("n2") === col("n_id"), "left")
      .select(col("q2").as("q_id"), col("ap_rk"),
        coalesce(lit(k + 1) - col("ex_rk"), lit(0)).as("gain"),
        when(col("ex_rk") === 1, col("ap_rk")).as("t1"))
    val gainCols = (1 to k).map(i =>
      max(when(col("ap_rk") === i, col("gain"))).as(s"g$i"))
    val per = joined.groupBy("q_id")
      .agg(gainCols.head, gainCols.tail :+ min(col("t1")).as("t1pos"): _*)
    val dcg = (1 to k).map(i =>
        coalesce(col(s"g$i"), lit(0)).cast("double") * lit(ndcgDiscount(i)))
      .reduce(_ + _)
    per.select(col("q_id"),
        TextOps.r4(coalesce(lit(1.0) / col("t1pos").cast("double"),
          lit(0.0))).as("mrr"),
        TextOps.r4(dcg / lit(ndcgIdeal(k))).as("ndcg"))
      .orderBy("q_id")
  }

  /** s24: MMR diversity re-ranking (Carbonell & Goldstein, SIGIR '98 —
    * Maximal Marginal Relevance) — the serving-side pass every
    * retrieval stack runs between the ANN index and the consumer:
    * from each query's top-`nCand` candidate list, greedily select `k`
    * results maximizing λ·cos(q, d) − (1−λ)·max_{s∈selected} cos(d, s)
    * — relevance traded against redundancy with what is already
    * picked, so near-duplicate hits stop crowding out coverage. The
    * first pick is the plain top hit (no selected set yet; its score
    * is λ·cos by the same formula with an empty max).
    *
    * Determinism: all cosines 6-dp rounded; the per-step score is
    * r4-floored BEFORE the argmax (ties to the smaller id); the 1−λ
    * coefficient is the DOUBLE `1.0 − λ` and the oracle SQL
    * interpolates that exact double (0.7 → 0.30000000000000004), not
    * a retyped decimal — the two engines multiply identical literals.
    *
    * At 100 TB: the candidate list is whatever retrieval produced it
    * (here the s01 shape — swap in s04/s09/s17's list and nothing
    * downstream moves); every MMR frame is QUERY-SET-sized
    * (nQueries·nCand rows, nQueries·nCand² pair sims), so the k−1
    * unrolled selection rounds cost the same at any corpus scale —
    * the beam-search argument (s16) applied to re-ranking. */
  /** s24 knobs — single-sourced into both replay SQL forms. */
  val MmrCand: Int = 10
  val MmrK: Int = 5
  val MmrLambda: Double = 0.7

  def mmrRerank(s: SparkSession, dir: String, nQueries: Int = 5,
                nCand: Int = MmrCand, k: Int = MmrK,
                lambda: Double = MmrLambda): DataFrame = {
    require(nCand >= k, s"nCand ($nCand) must be >= k ($k)")
    val all = emb(s, dir)
    val queries = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("q_nrm"))
    val scored = all.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("v"), col("nrm"),
        round(dot(col("qv"), col("v")) / (col("q_nrm") * col("nrm")), 6)
          .as("c"))
    val wC = Window.partitionBy("q_id").orderBy(desc("c"), asc("n_id"))
    // the candidate frame: nQueries×nCand rows at ANY SF — checkpointed
    // once, re-read by the pair-sim build and every selection round
    val cand = scored.withColumn("crk", row_number().over(wC))
      .filter(col("crk") <= nCand)
      .select("q_id", "n_id", "v", "nrm", "c")
      .localCheckpoint(eager = false)
    val pc = cand.select(col("q_id"), col("n_id").as("a"),
        col("v").as("va"), col("nrm").as("na"))
      .join(cand.select(col("q_id").as("q2"), col("n_id").as("b"),
        col("v").as("vb"), col("nrm").as("nb")),
        col("q_id") === col("q2") && col("a") =!= col("b"))
      .select(col("q_id"), col("a"), col("b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("pcos"))
      .localCheckpoint(eager = false)
    val candSlim = cand.select("q_id", "n_id", "c")
    val lam = lit(lambda)
    val oneMinus = lit(1.0 - lambda) // the exact double the oracle replays
    val wPick = Window.partitionBy("q_id").orderBy(desc("mmr"), asc("n_id"))
    var selected = candSlim
      .withColumn("mmr", TextOps.r4(lam * col("c")))
      .withColumn("rk0", row_number().over(wPick))
      .filter(col("rk0") === 1)
      .select(col("q_id"), col("n_id"), col("mmr"), lit(1L).as("rk"))
      .localCheckpoint(eager = false)
    for (t <- 2 to k) {
      val rem = candSlim.join(selected.select("q_id", "n_id"),
        Seq("q_id", "n_id"), "left_anti")
      val selPairs = pc.join(
        selected.select(col("q_id"), col("n_id").as("b")), Seq("q_id", "b"))
      val div = rem.join(
          selPairs.select(col("q_id"), col("a").as("n_id"), col("pcos")),
          Seq("q_id", "n_id"))
        .groupBy("q_id", "n_id", "c").agg(max("pcos").as("d"))
      val pick = div
        .select(col("q_id"), col("n_id"),
          TextOps.r4(lam * col("c") - oneMinus * col("d")).as("mmr"))
        .withColumn("rk0", row_number().over(wPick))
        .filter(col("rk0") === 1)
        .select(col("q_id"), col("n_id"), col("mmr"), lit(t.toLong).as("rk"))
      selected = selected.unionByName(pick).localCheckpoint(eager = false)
    }
    selected.select("q_id", "rk", "n_id", "mmr").orderBy("q_id", "rk")
  }

  /** Shared margin tail over a cross-side pair set
    * `pairs(src_id, tgt_id, c)` with `c` the micro-scaled 6-dp cosine:
    * per-node top-k sums (exact integer arithmetic), margin =
    * 2c / (sx/nx + sy/ny) r4-floored BEFORE ranking, best target per
    * source. The per-node aggregates are node-count-sized and
    * broadcast; both top-k selections and the final pick run through
    * [[graft.plans.TopKPerGroup]] (map-side caps — a hub vector never
    * funnels its full candidate list through one task). */
  private def bitextMargin(pairs: DataFrame, k: Int): DataFrame = {
    val nnSrc = graft.plans.TopKPerGroup.topKPerGroup(pairs, Seq("src_id"),
        Seq("c" -> false, "tgt_id" -> true), k)
      .groupBy("src_id").agg(sum("c").as("sx"), count(lit(1)).as("nx"))
    val nnTgt = graft.plans.TopKPerGroup.topKPerGroup(pairs, Seq("tgt_id"),
        Seq("c" -> false, "src_id" -> true), k)
      .groupBy("tgt_id").agg(sum("c").as("sy"), count(lit(1)).as("ny"))
    val margined = pairs
      .join(broadcast(nnSrc), Seq("src_id"))
      .join(broadcast(nnTgt), Seq("tgt_id"))
      .select(col("src_id"), col("tgt_id"), col("c"),
        TextOps.r4(lit(2.0) * col("c").cast("double") /
          (col("sx").cast("double") / col("nx").cast("double") +
           col("sy").cast("double") / col("ny").cast("double"))).as("margin"))
    graft.plans.TopKPerGroup.topKPerGroup(margined, Seq("src_id"),
        Seq("margin" -> false, "tgt_id" -> true), 1)
      .select(col("src_id"), col("tgt_id"),
        (col("c").cast("double") / lit(1e6)).as("cos"), col("margin"))
      .orderBy("src_id")
  }

  /** Cluster-bucketed near-neighbor pairs — the candidate generator of
    * SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    * corpus into cells, compare only within a cell. Multi-probe
    * (`nprobe` nearest cells per vector, OR-construction like
    * [[lshPairsMulti]]) recovers pairs that straddle a cell boundary.
    * Every candidate is re-ranked with the EXACT cosine, so precision
    * is 1.0 (output ⊆ [[cosinePairs]], identical `cos` values) and
    * only recall is approximate — the same contract as the LSH path,
    * but with DATA-ADAPTIVE buckets: k-means cells track the corpus's
    * own density, where hyperplane buckets are oblivious.
    *
    * Scale shape: the k-means fit follows the s11 lesson — a bounded
    * deterministic sample ([[PqModel.sampleVectors]], one TakeOrdered
    * pass, no corpus shuffle) and driver-side Lloyd
    * ([[PqModel.lloyd]]: microseconds of arithmetic vs a full job
    * round-trip per distributed iteration). The model is k×dim
    * doubles; serving is `nprobe` cell keys per row (codegen'd dots
    * against centroid literals), one explode, one shuffle on the cell
    * id, per-cell self-join, pair-level dedup. Cell population is
    * corpus/k on AVERAGE — but dup-heavy corpora are exactly the ones
    * that produce a HOT cell holding most of the corpus, and an
    * uncapped in-cell join then degrades toward O(n²). Two guards
    * bound it (both no-ops for cells ≤ `cellCap`, so small-cell output
    * is bit-identical to the uncapped form):
    *
    *  1. LSH sub-bucket refinement — a cell of size m > cellCap is
    *     split by the first ⌈log₂(m/cellCap)⌉ bits of a deterministic
    *     sign-LSH signature (disjoint plane set from the d02/d09
    *     family), so a hot-but-DIVERSE cell falls back to hyperplane
    *     buckets of expected size ≤ cellCap while near-duplicates
    *     (matching signs) stay co-bucketed. (Recall caveat: a dup
    *     group STRADDLING a refinement hyperplane — one sign bit
    *     flipped by a tiny perturbation — splits across refined
    *     buckets and reconnects only through another probe cell, so
    *     group connectivity after refinement holds with overwhelming
    *     probability, not strictly.)
    *  2. Anchor-star cap ([[anchorStarPairs]]) — refinement cannot
    *     split NEAR-IDENTICAL vectors (same signature by
    *     construction), so within each refined bucket only anchor
    *     rows join against all rows: candidates fall from r²/2 to
    *     ≈ cellCap·r, each bucket's min vec_id is always an anchor
    *     (no zero-anchor bucket), and every member pairs with it, so
    *     each refined bucket's pair graph stays strictly connected
    *     for the downstream CC clustering.
    *
    * Both selections are map-side (no per-cell Window sort — a
    * 10⁹-row hot cell must not become one sort task); the two
    * cell-size counts are metadata-sized hash aggregates. Precision
    * stays 1.0 (every candidate is exact-cosine re-ranked); only
    * recall among NON-anchor members of an oversized refined bucket is
    * sacrificed — the same contract as d06's df cap. */
  def semDedupPairs(embFrame: DataFrame, threshold: Double, kCells: Int,
                    iters: Int, nprobe: Int, cellCap: Int,
                    cells: Option[Array[Array[Double]]]): DataFrame = {
    val normed = embFrame
      .select(col("vec_id"), transform(col("v"), x => x / col("nrm")).as("v"))
    val cents = cells.getOrElse(PqModel.lloyd(
      PqModel.sampleVectors(normed, cap = 4096), kCells, iters))
    val dim = cents.headOption.map(_.length).getOrElse(64)
    val maxBits = 16
    // probe cells + the refinement signature in one narrow pass;
    // materialized once (cell-size count + pair join both read it)
    val keyed = embFrame
      .select(col("vec_id"), col("v"), col("nrm"),
        lshBucket(transform(col("v"), x => x / col("nrm")), maxBits, dim,
          planeOffset = 4096).as("sig"),
        explode(topCells(transform(col("v"), x => x / col("nrm")), cents, nprobe))
          .as("cell"))
      .localCheckpoint()
    val cellSizes = keyed.groupBy("cell").agg(count(lit(1)).as("cell_n"))
    val refined = keyed.join(broadcast(cellSizes), "cell")
      .withColumn("bits",
        when(col("cell_n") > cellCap,
          least(lit(maxBits),
            ceil(log(2.0, col("cell_n").cast("double") / cellCap))))
          .otherwise(lit(0)).cast("int"))
      .withColumn("rcell", concat_ws("|",
        col("cell").cast("string"), col("sig").substr(lit(1), col("bits"))))
      .select("vec_id", "v", "nrm", "rcell")
    anchorStarPairs(refined, Seq("rcell"), threshold, cellCap)
  }

  def semDedupPairs(s: SparkSession, dir: String, threshold: Double = 0.4,
                    kCells: Int = 8, iters: Int = 3, nprobe: Int = 2,
                    cellCap: Int = DefaultBucketCap): DataFrame =
    semDedupPairs(emb(s, dir), threshold, kCells, iters, nprobe, cellCap,
        cells = None)
      .orderBy("id_a", "id_b")

  /** s14: SemDeDup — semantic near-duplicate CLUSTERS from
    * cluster-bucketed candidates: [[semDedupPairs]] feeding the same
    * pair-source-agnostic star-contraction CC as d07 (exact) and d09
    * (LSH). This is the third — and at 100 TB usually the cheapest —
    * pair source: the paper's observation is that near-duplicates
    * co-locate in embedding-space clusters, so comparing within cells
    * finds almost all of them at O(n²/k) pair cost. The REGISTERED s14
    * serves the [[Pinned.semCells]] fixture (exact DuckDB oracle:
    * probe cells + pair cosine + the d05-class recursive-CTE CC are
    * all replayable; the refinement/anchor cap is a no-op below
    * cellCap per cell — the capped regime is spec-pinned in
    * LshClusterSpec). `cells = None` re-fits inline; SimilaritySpec
    * pins the deterministic laws: pairs ⊆ exact pairs with equal cos,
    * every cluster refines an exact cluster, and planted near-dup
    * groups are recovered identically. */
  def semDedupClusters(s: SparkSession, dir: String, threshold: Double = 0.4,
                       kCells: Int = 8, iters: Int = 3, nprobe: Int = 2,
                       cellCap: Int = DefaultBucketCap,
                       cells: Option[Array[Array[Double]]] = None): DataFrame =
    Dedup.dupClusters(
        semDedupPairs(emb(s, dir), threshold, kCells, iters, nprobe, cellCap,
          cells)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("cluster"))
      .orderBy("vec_id")

  /** Symmetric per-vector int8 quantization: q_i = half-up-round of
    * v_i·127/max|v|, values in [-127, 127] (kept in a double array so
    * the codegen'd DotProduct consumes them directly). At 100 TB this
    * is the memory lever for ANN: 4-8× smaller vectors in the shuffle
    * and in cache, with dot products that become EXACT integer sums
    * (< 2^53 — no float-order nondeterminism at all). floor(x+0.5) is
    * the engine-portable half-up round. */
  def quantizeInt8(v: Column): Column = {
    val m = array_max(transform(v, x => abs(x)))
    when(m > 0, transform(v, x => floor(x * lit(127.0) / m + lit(0.5))))
      .otherwise(v)
  }

  /** Brute-force ANN over int8-quantized embeddings — s01's shape with
    * quantized vectors and exact-integer dot products. Rankings agree
    * with the full-precision search except where neighbors are closer
    * than the quantization error (SimilaritySpec measures recall@k). */
  def annQuantized(s: SparkSession, dir: String,
                   nQueries: Int = 5, k: Int = 3): DataFrame = {
    val all = t(s, dir, "embeddings")
      .select(col("vec_id"), quantizeInt8(asDouble(col("embedding"))).as("qv"))
      .withColumn("nrm", sqrt(dot(col("qv"), col("qv"))))
    val queries = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("qv").as("qq"), col("nrm").as("q_nrm"))
    val scored = all.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(dot(col("qq"), col("qv")) / (col("q_nrm") * col("nrm")), 6).as("qcos"))
    val w = Window.partitionBy("q_id").orderBy(desc("qcos"), asc("n_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "n_id", "qcos")
      .orderBy("q_id", "rk")
  }

  /** Sign-bit packing for [[annBinarySign]]: bit (i − from) of the
    * result is set iff v[i] > 0 (0-based dims, strict — an exact-zero
    * component packs as 0 in both engines). Emitted as an exact
    * integer sum of powers of two (max 2^31 per half, no float-order
    * hazard), so the two BIGINT halves are bit-identical across
    * engines and XOR/popcount on them is pure integer arithmetic. */
  private[operators] def signPack(v: Column, from: Int, until: Int): Column =
    aggregate(
      transform(sequence(lit(from), lit(until - 1)),
        i => when(get(v, i) > lit(0.0),
          pow(lit(2.0), (i - lit(from)).cast("double")).cast("long"))
          .otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)

  /** s26 shortlist size — single-sourced into the generated oracle
    * replay (OracleSqlSim.s26OracleSql) like [[S18NEntries]]. */
  val S26NCand: Int = 20

  /** s26: binary (1-bit-per-dimension) sign-quantized ANN — Hamming
    * shortlist over 64-bit signatures, exact cosine re-rank of the
    * shortlist only. The third point on the compression curve after
    * full-precision (s01) and int8 (s08): 1 bit/dim is a 64× memory
    * reduction (16 bytes/vector for dim=64, two BIGINT halves), and
    * sign(v_a)·sign(v_b) agreement is the classic cosine proxy
    * (Charikar STOC'02 — hamming/dim estimates the angle, here with
    * the identity planes instead of random ones).
    *
    * 100 TB shape: the Hamming pass scans ONLY (vec_id, lo, hi) — the
    * signature projection, 16 bytes/row, the full-precision vectors
    * stay in their parquet column — against the broadcast query
    * signatures, and the per-query shortlist routes through the
    * [[graft.plans.TopKPerGroup]] physical plan (map-side capped
    * heaps: nCand rows per partition per query cross the exchange, a
    * `Window.partitionBy(q_id)` would drag each query's full
    * corpus-sized score list through one task). Only the
    * nQueries×nCand shortlist rows (broadcast) fetch their
    * full-precision vectors for the re-rank — the targeted-fetch
    * pattern of a real two-tier index. Deterministic end to end:
    * integer Hamming with id tie-breaks picks the shortlist, the
    * re-rank compares the 6-dp-rounded cosine with id tie-breaks (the
    * s01 discipline), so the DuckDB oracle replays it exactly. */
  def annBinarySign(s: SparkSession, dir: String, nQueries: Int = 5,
                    k: Int = 3, nCand: Int = S26NCand): DataFrame = {
    val all = emb(s, dir)
    val sigs = all.select(col("vec_id"),
      signPack(col("v"), 0, 32).as("lo"), signPack(col("v"), 32, 64).as("hi"))
    val qs = sigs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("lo").as("q_lo"), col("hi").as("q_hi"))
    val ham = sigs.join(broadcast(qs), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (bit_count(col("lo").bitwiseXOR(col("q_lo"))) +
         bit_count(col("hi").bitwiseXOR(col("q_hi")))).cast("int").as("hamming"))
    val cands = graft.plans.TopKPerGroup.topKPerGroup(
      ham, Seq("q_id"), Seq(("hamming", true), ("n_id", true)), nCand)
    val qv = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("q_nrm"))
    val rer = all.join(broadcast(cands), col("vec_id") === col("n_id"))
      .join(broadcast(qv), "q_id")
      .select(col("q_id"), col("n_id"), col("hamming"),
        round(dot(col("qv"), col("v")) / (col("q_nrm") * col("nrm")), 6).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    rer.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "n_id", "hamming", "cos")
      .orderBy("q_id", "rk")
  }

  /** s30's swept shortlist depths — single-sourced into the oracle. */
  val S30Depths: Seq[Int] = Seq(4, 8, 16, 32)

  /** s30: rerank-depth recall curve — for each shortlist depth d, the
    * recall@k of s26's binary-sign pipeline (Hamming shortlist of d →
    * exact re-rank → top-k) against exact ground truth. THE two-stage
    * retrieval dial: s21/s25 grade one operating point, this sweeps
    * the depth knob so the serving config ("re-rank 16 is enough,
    * 4 is not") is measured, not guessed — at 64× compression the
    * re-rank depth IS the serving cost.
    *
    * Each arm is s26's plan (map-side TopKPerGroup shortlist heap,
    * broadcast re-rank fetch); the truth set is computed once and
    * checkpointed (query-set-sized). Recall is milli-rounded on exact
    * integer hit counts. */
  def annRerankDepthEval(s: SparkSession, dir: String, nQueries: Int = 5,
                         k: Int = 3,
                         depths: Seq[Int] = S30Depths): DataFrame = {
    // r13 rewrite to the s31 shape (arms were full annBinarySign
    // re-scans — 4 corpus passes): the Hamming shortlist is ranked
    // ONCE at the deepest swept depth and cosine-scored ONCE (two
    // broadcast fetches), both behind localCheckpoints; each arm is a
    // filter + a tiny window over the ≤ nQueries·dMax rows. Results
    // are bit-identical to the arm-per-scan form (same ordering, same
    // tie-breaks — the oracle already ranks once), at ~2 scans
    // instead of 4·2.
    val dMax = depths.max
    val all = emb(s, dir)
    val sigs = all.select(col("vec_id"),
      signPack(col("v"), 0, 32).as("lo"), signPack(col("v"), 32, 64).as("hi"))
    val qsig = sigs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("lo").as("q_lo"),
        col("hi").as("q_hi"))
    val ham = sigs.join(broadcast(qsig), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (bit_count(col("lo").bitwiseXOR(col("q_lo"))) +
         bit_count(col("hi").bitwiseXOR(col("q_hi")))).cast("int")
          .as("hamming"))
    val short = graft.plans.TopKPerGroup.topKPerGroup(
      ham, Seq("q_id"), Seq(("hamming", true), ("n_id", true)), dMax)
    val crkW = Window.partitionBy("q_id")
      .orderBy(asc("hamming"), asc("n_id"))
    val qv = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("q_nrm"))
    val scored = all
      .join(broadcast(short.withColumn("crk", row_number().over(crkW))),
        col("vec_id") === col("n_id"))
      .join(broadcast(qv), "q_id")
      .select(col("q_id"), col("n_id"), col("crk"),
        round(dot(col("qv"), col("v")) / (col("q_nrm") * col("nrm")), 6)
          .as("cos"))
      .localCheckpoint()
    val truth = annBruteForce(s, dir, nQueries, k)
      .select(col("q_id"), col("n_id")).localCheckpoint()
    val possible = (nQueries * k).toDouble
    depths.map { d =>
      val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
      scored.filter(col("crk") <= d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select("q_id", "n_id")
        .join(truth, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(d).as("depth"), col("n_hits"),
          lit(nQueries.toLong * k).as("n_possible"),
          floor(col("n_hits") * 1000.0 / possible + 0.5).cast("long")
            .as("recall_milli"))
    }.reduce(_ unionByName _).orderBy("depth")
  }

  /** s31's pinned diagonal-scorer weight for dimension `i` (0-based):
    * 1 + (i mod 5)/10 — a deterministic closed form both engines
    * replay verbatim, standing in for learned reranker weights the
    * same way the [[graft.operators.Pinned]] fixtures stand in for
    * fitted models. */
  val S31WeightPeriod: Int = 5
  /** Divisor of the s31 reranker weight formula; interpolated into the
    * generated oracle/dialect SQL alongside [[S31WeightPeriod]] so the
    * three copies of the formula cannot drift. */
  val S31WeightDivisor: Double = 10.0

  private[operators] def s31WeightAt(i: Column): Column =
    lit(1.0) + (i % S31WeightPeriod).cast("double") / S31WeightDivisor

  /** s31: two-tower rerank eval — completes the two-stage retrieval
    * story s30 opened: there the candidate generator and the re-rank
    * scorer shared the same geometry (cosine); here the SCORER is a
    * DIFFERENT model — a pinned diagonal bilinear reranker
    * score(q, d) = Σ_i w_i·q_i·d_i (a cross-encoder-style joint
    * scorer restricted to its diagonal interaction matrix, the
    * simplest form that still disagrees with raw cosine). The curve
    * answers the production question s30 can't: when the reranker
    * disagrees with the retrieval geometry, how deep must the binary
    * shortlist be before scorer-top-k survives candidate generation?
    *
    * 100 TB shape: ONE linear corpus stream over 16-byte signatures
    * ranked by the map-side TopKPerGroup heap at the DEEPEST swept
    * depth (the arms are filters over the checkpointed shortlist,
    * not re-scans — tighter than s30's arm-per-scan), one broadcast
    * fetch of the shortlist's full-precision vectors, and one more
    * linear stream for the scorer-exact truth (eval-only — a serving
    * deployment never runs it). Every frame after the streams is
    * query-set-sized. Deterministic: scores are 6-dp-rounded with id
    * tie-breaks (the s01 discipline), so the DuckDB oracle replays
    * the whole eval exactly. */
  /** s31's query tower: each query vector pre-multiplied by the
    * pinned diagonal weights, so every per-pair score downstream is
    * one codegen'd dot. Query-set-sized. */
  private[graft] def twoTowerQueries(s: SparkSession, dir: String,
                                     nQueries: Int): DataFrame =
    emb(s, dir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"),
        transform(col("v"), (x, i) => x * s31WeightAt(i)).as("wq"))

  /** s31's scorer-exact truth stream (eval-only): one linear corpus
    * pass against the broadcast query tower, map-side TopKPerGroup
    * heaps. Exposed un-checkpointed so PlanGateSpec can assert the
    * shape. */
  private[graft] def twoTowerTruth(s: SparkSession, dir: String,
                                   nQueries: Int, k: Int): DataFrame = {
    val qw = twoTowerQueries(s, dir, nQueries)
    val truthScores = emb(s, dir)
      .join(broadcast(qw), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(dot(col("wq"), col("v")), 6).as("score"))
    graft.plans.TopKPerGroup.topKPerGroup(
        truthScores, Seq("q_id"), Seq(("score", false), ("n_id", true)), k)
      .select("q_id", "n_id")
  }

  /** s31's scored shortlist: s26's Hamming candidate stream ranked
    * ONCE at the deepest swept depth (crk), each candidate scored
    * ONCE by the reranker via two broadcast fetches. The arms are
    * FILTERS over this frame. Exposed un-checkpointed for the gate. */
  private[graft] def twoTowerScored(s: SparkSession, dir: String,
                                    nQueries: Int, dMax: Int): DataFrame = {
    val all = emb(s, dir)
    val sigs = all.select(col("vec_id"),
      signPack(col("v"), 0, 32).as("lo"), signPack(col("v"), 32, 64).as("hi"))
    val qsig = sigs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("lo").as("q_lo"),
        col("hi").as("q_hi"))
    val ham = sigs.join(broadcast(qsig), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (bit_count(col("lo").bitwiseXOR(col("q_lo"))) +
         bit_count(col("hi").bitwiseXOR(col("q_hi")))).cast("int")
          .as("hamming"))
    val short = graft.plans.TopKPerGroup.topKPerGroup(
      ham, Seq("q_id"), Seq(("hamming", true), ("n_id", true)), dMax)
    // ranking the ≤ nQueries·dMax survivors is the documented tiny
    // post-TopK window (the TextOps.scala:320 family)
    val crk = Window.partitionBy("q_id")
      .orderBy(asc("hamming"), asc("n_id"))
    all.join(broadcast(short.withColumn("crk", row_number().over(crk))),
        col("vec_id") === col("n_id"))
      .join(broadcast(twoTowerQueries(s, dir, nQueries)), "q_id")
      .select(col("q_id"), col("n_id"), col("crk"),
        round(dot(col("wq"), col("v")), 6).as("score"))
  }

  def twoTowerRerankEval(s: SparkSession, dir: String, nQueries: Int = 5,
                         k: Int = 3,
                         depths: Seq[Int] = S30Depths): DataFrame = {
    val dMax = depths.max
    // both streams materialize ONCE; the arms are filters over the
    // checkpointed query-set-sized frames
    val truth = twoTowerTruth(s, dir, nQueries, k).localCheckpoint()
    val scored = twoTowerScored(s, dir, nQueries, dMax).localCheckpoint()
    val possible = (nQueries * k).toDouble
    depths.map { d =>
      val w = Window.partitionBy("q_id").orderBy(desc("score"), asc("n_id"))
      scored.filter(col("crk") <= d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select("q_id", "n_id")
        .join(truth, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(d).as("depth"), col("n_hits"),
          lit(nQueries.toLong * k).as("n_possible"),
          floor(col("n_hits") * 1000.0 / possible + 0.5).cast("long")
            .as("recall_milli"))
    }.reduce(_ unionByName _).orderBy("depth")
  }

  /** s36 dials — single-sourced into the generated oracle/dialect SQL
    * (the s31/s35 fixture discipline). [[S36Tokens]] per-token vectors
    * stand in for a ColBERT-style multi-vector encoder: token `t` of a
    * document is its base vector under the pinned per-token diagonal
    * `1 + ((i + S36TokStride·t) mod S36TokPeriod)/S36TokDivisor` — a
    * deterministic closed form both engines replay verbatim, chosen
    * coprime to s31's period-5 scorer so token directions genuinely
    * differ per token. All weights are exact multiples of 1/8, so the
    * per-token reweighting stays engine-portable. */
  val S36Tokens: Int = 4
  val S36TokPeriod: Int = 7
  val S36TokStride: Int = 3
  val S36TokDivisor: Double = 8.0
  val S36NCand: Int = 20

  private[operators] def s36TokenWeight(tk: Int, i: Column): Column =
    lit(1.0) + ((i + lit(S36TokStride * tk)) % S36TokPeriod).cast("double") /
      S36TokDivisor

  /** s36: late-interaction MaxSim re-rank (ColBERT-shaped; Khattab &
    * Zaharia, SIGIR 2020) — the missing rung of the retrieval-serving
    * ladder between s30/s31's single-vector re-rankers and a full
    * cross-encoder: queries and documents are MULTI-vector
    * ([[S36Tokens]] per-token embeddings, stood in by the pinned
    * diagonal family above), and the re-rank score is the late
    * interaction `MaxSim(q, d) = Σ_t max_u (q_t · d_u)` — every query
    * token finds its best-matching document token, no token-level
    * join key needed.
    *
    * Two-stage serve economics (the s26/s31 shape): the corpus
    * contributes ONE 16-byte sign signature per row to a linear
    * Hamming stream ranked by the map-side TopKPerGroup heap at depth
    * `nCand`; only the shortlist's nQueries·nCand full-precision rows
    * are fetched (broadcast equi-joins), and the S36Tokens² token
    * interaction matrix is expanded ONLY on those rows — token
    * expansion never touches the corpus at large, which is exactly
    * why ColBERT serving is tractable: the multi-vector blow-up is
    * confined to the re-rank set. Deterministic: MaxSim is 6-dp
    * rounded with id tie-breaks (the s01 discipline); the per-token
    * dots unroll as S36Tokens² codegen'd [[graft.functions.VectorExprs.dot]]
    * expressions over plan-literal weight forms — no UDF anywhere. */
  def maxSimRerank(s: SparkSession, dir: String, nQueries: Int = 5,
                   k: Int = 3, nCand: Int = S36NCand): DataFrame = {
    val all = emb(s, dir)
    val sigs = all.select(col("vec_id"),
      signPack(col("v"), 0, 32).as("lo"), signPack(col("v"), 32, 64).as("hi"))
    val qsig = sigs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("lo").as("q_lo"),
        col("hi").as("q_hi"))
    val ham = sigs.join(broadcast(qsig), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (bit_count(col("lo").bitwiseXOR(col("q_lo"))) +
         bit_count(col("hi").bitwiseXOR(col("q_hi")))).cast("int")
          .as("hamming"))
    val short = graft.plans.TopKPerGroup.topKPerGroup(
      ham, Seq("q_id"), Seq(("hamming", true), ("n_id", true)), nCand)
    val qv = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    // Σ_t max_u (q_t · d_u), unrolled: S36Tokens² dots, each a codegen
    // fold; evaluated per fetched pair only. Op order is the oracle's:
    // (qv[i]·w_t(i)) · (v[i]·w_u(i)) summed in index order, maxes per
    // t via greatest, t-sums left-associated.
    val maxsim = round(
      (0 until S36Tokens).map { tk =>
        val qTok = transform(col("qv"), (x, i) => x * s36TokenWeight(tk, i))
        greatest((0 until S36Tokens).map { u =>
          val dTok = transform(col("v"), (x, i) => x * s36TokenWeight(u, i))
          dot(qTok, dTok)
        }: _*)
      }.reduce(_ + _), 6)
    val scored = all.join(broadcast(short), col("vec_id") === col("n_id"))
      .join(broadcast(qv), "q_id")
      .select(col("q_id"), col("n_id"), col("hamming"), maxsim.as("maxsim"))
    val w = Window.partitionBy("q_id").orderBy(desc("maxsim"), asc("n_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "n_id", "maxsim")
      .orderBy("q_id", "rk")
  }

  /** s32's already-ingested/incoming split — single-sourced into the
    * oracle (the d15 fixture discipline). */
  val S32SplitFrac: Double = 0.8

  /** The (vec_id, cell) index frame against the PINNED coarse
    * quantizer — a pure per-row map (k codegen dots vs plan-literal
    * centroids), which is why the IVF index is trivially maintainable
    * under continuous ingestion: batch partials ARE index rows
    * ([[graft.streaming.IncrementalJobs.startIncrementalAnnIndex]]),
    * and s29's health stats, s32's drift dial, and the s04/s05
    * cell-probe serve path all read the same frame. */
  def indexAssignments(vecs: DataFrame): DataFrame =
    semanticStore(vecs).select("vec_id", "cell")

  /** s34's store artifact: [[indexAssignments]] plus the L2-normalized
    * vector — (vec_id, cell, sv), what a continuous-ingestion semantic
    * admission keeps on disk instead of raw corpus rows (the d11/d12
    * store discipline applied to the embedding family). Cell rows are
    * idempotent under replay (assignment is a pure function of the
    * vector and the pinned centroids), so batchId-keyed store PARTIALS
    * compose exactly
    * ([[graft.streaming.IncrementalJobs.startSemanticAdmission]]). */
  def semanticStore(vecs: DataFrame): DataFrame =
    semanticStoreAt(vecs, Pinned.ivfCentroids)

  /** [[semanticStore]] against an EXPLICIT quantizer — the re-fit
    * serve half of the s34 auto-scaling path (cells come from
    * [[refitCells]] instead of the pinned fixture). */
  def semanticStoreAt(vecs: DataFrame,
                      cents: Array[Array[Double]]): DataFrame =
    assignToCentroid(normalizedVecs(vecs), cents)
      .select(col("vec_id"), col("c").as("cell"), col("v").as("sv"))

  private def normalizedVecs(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id"),
        transform(col("v"), x => x / col("nrm")).as("v"))

  /** Occupancy-targeted CELL-COUNT dial for the semantic store — the
    * [[autoNPlanes]] pattern applied to the s34 quantizer: in-cell
    * admission work is store/cells × batch/cells PER CELL (quadratic
    * in occupancy at fixed cells — the r16 second-decade 34×), so
    * holding expected occupancy near 2^occLog2 = 512 means
    * cells = 2^(log₂N − 9), floored at the PINNED quantizer's 8. At
    * every oracle-compared SF (N ≤ 2000) the dial resolves to 8 and
    * the pinned path runs verbatim — the s23/autoNPlanes oracle
    * contract; at sf1 (N=20k) it fires at 32 cells, at sf10 (N=200k)
    * at 512. */
  def autoNCells(n: Long, floorLog2: Int = 3, occLog2: Int = 9): Int = {
    val log2n = math.log(n.max(1L).toDouble) / math.log(2.0)
    1 << math.max(floorLog2, math.round(log2n).toInt - occLog2)
  }

  /** Driver-side spherical Lloyd over a bounded deterministic sample —
    * the [[PqModel]] fit discipline (model-sized state, zero
    * per-iteration Spark jobs) with [[fitCentroids]]' conventions:
    * init = first k sample rows, assignment by max dot (ties to the
    * lowest index), update = member mean, empty clusters keep their
    * previous centroid. Deterministic in the sample. */
  private[graft] def lloydDot(sample: Array[Array[Double]], k: Int,
                                  iters: Int): Array[Array[Double]] = {
    require(sample.length >= k, s"sample ${sample.length} < k $k")
    val dim = sample(0).length
    var cents = sample.take(k).map(_.clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0; var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { d += v(i) * cents(c)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        cnts(best) += 1
      }
      cents = Array.tabulate(k)(c =>
        if (cnts(c) == 0) cents(c)
        else sums(c).map(_ / cnts(c)))
    }
    cents
  }

  /** The s34 RE-FIT composed from the s40 runbook's stages 1–2: when
    * the occupancy bound fires ([[autoNCells]] > the pinned 8), the
    * quantizer re-fits at cell count ∝ N over a bounded deterministic
    * sample of store ∪ batch ([[PqModel.sampleVectors]] — one
    * TakeOrdered pass, no corpus shuffle; Lloyd runs driver-side on
    * the sample, the model is k×dim doubles). Computed fresh per
    * invocation — no session memo (the r17 honesty rule: a timed
    * query pays its own fit; the bounded sample keeps that cost one
    * TakeOrdered job + driver flops). */
  private[graft] def refitCells(s: SparkSession, dir: String,
                                    k: Int): Array[Array[Double]] =
    lloydDot(PqModel.sampleVectors(
      normalizedVecs(t(s, dir, "embeddings")),
      cap = math.max(16 * k, 8192)), k, iters = 3)

  /** s34's registered store/batch split fraction and admission
    * threshold — single-sourced into the generated replays (the
    * d15/s18 fixture discipline). 0.4 is the s14 semantic-dup regime
    * on this corpus's cosine scale. */
  val S34SplitFrac: Double = 0.8
  val S34Threshold: Double = 0.4

  /** s34: INCREMENTAL SEMANTIC ADMISSION — the embedding member of the
    * incremental-admission store family (d11 exact, d12 minhash, d15
    * fuzzy, d17 simhash, m12 media, t24 spans, t34 novelty): should
    * this new vector even enter the corpus, given what the corpus
    * already contains SEMANTICALLY? The ingested corpus persists as
    * its [[semanticStore]] (cell + normalized vector — s14's cells,
    * the s05 pinned coarse quantizer); an incoming batch assigns to
    * the SAME pinned cells, probes only its own cell's stored rows
    * (nprobe=1, the s05 serve semantic), exact-cosine re-ranks, and
    * each batch vector gets an admission verdict: admit iff no stored
    * vector in its cell reaches the threshold, else the best blocking
    * match and how many stored near-dups it collides with. SemDeDup
    * (s14) is the backfill over a static corpus; this is the daily
    * job at the ingestion gate.
    *
    * Store-only probe (the d12 semantic): two batch vectors that are
    * near-dups of each other but of nothing stored are BOTH admitted —
    * the batch is the ingestion atom; intra-batch dedup is s14's job
    * on the admitted set.
    *
    * At 100 TB: the store is cell-partitioned on disk and never
    * shuffles — the batch side (day-sized) BROADCASTS into the cell
    * equi-join, so per-batch cost is |batch| × cell-occupancy codegen
    * dots, and the store grows only by admitted (vec_id, cell, sv)
    * rows. The occupancy dial is s29's report; WHEN to re-fit the
    * cells is s32's. */
  def incrementalSemanticAdmission(s: SparkSession, dir: String,
                                   splitFrac: Double = S34SplitFrac,
                                   threshold: Double = S34Threshold): DataFrame = {
    val e = t(s, dir, "embeddings")
    val mx = e.agg(max("vec_id")).head
    require(!mx.isNullAt(0),
      s"incrementalSemanticAdmission: embeddings table at $dir is empty")
    // floor() on BOTH sides (oracle replays the same scalar)
    val cut = math.floor(mx.getLong(0) * splitFrac).toLong
    // cell count ∝ N (the [[autoNCells]] occupancy dial): at every
    // oracle-compared SF the dial resolves to the pinned 8 cells and
    // the fixture path below runs verbatim; past the occupancy bound
    // the quantizer RE-FITS at k cells (the s40 stages-1/2 composition
    // — the r16 second-decade fix: fixed cells made the in-cell
    // store×batch product quadratic, 34×/decade at sf10)
    val k = autoNCells(memoCount(dir)(e.count()))
    val cents =
      if (k <= Pinned.ivfCentroids.length) Pinned.ivfCentroids
      else refitCells(s, dir, k)
    // materialize the assignment ONCE for the two split reads (the
    // d12 sketch discipline); in production the store half is read
    // from its persisted parquet instead
    val assigned = semanticStoreAt(e, cents).localCheckpoint()
    incrementalSemanticAdmission(
      assigned.filter(col("vec_id") >= cut),
      assigned.filter(col("vec_id") < cut), threshold)
  }

  /** The probe half of s34 over pre-assigned [[semanticStore]] frames:
    * cell-bucketed candidates (batch side broadcast — the store never
    * shuffles), exact-cosine re-rank, one verdict row per BATCH vector
    * (admitted or not, with the best blocking match). */
  def incrementalSemanticAdmission(batch: DataFrame, store: DataFrame,
                                   threshold: Double): DataFrame = {
    val b = batch.select(col("vec_id").as("batch_id"), col("cell"),
      col("sv").as("bv"))
    val st = store.select(col("vec_id").as("store_id"), col("cell"),
      col("sv").as("stv"))
    val hits = st.join(broadcast(b), Seq("cell"))
      .select(col("batch_id"), col("store_id"),
        round(dot(col("bv"), col("stv")), 6).as("cos"))
      .filter(col("cos") >= threshold)
    val w = Window.partitionBy("batch_id").orderBy(desc("cos"), asc("store_id"))
    val best = hits.withColumn("rk", row_number().over(w))
      .withColumn("n_near",
        count(lit(1)).over(Window.partitionBy("batch_id")))
      .filter(col("rk") === 1)
      .select(col("batch_id").as("vec_id"), col("store_id"), col("cos"),
        col("n_near"))
    // best is at most batch-sized — broadcast it so the verdict join
    // never sorts/shuffles either side (PlanGateSpec s34)
    batch.select("vec_id").join(broadcast(best), Seq("vec_id"), "left")
      .select(col("vec_id"),
        col("n_near").isNull.as("admit"),
        coalesce(col("store_id"), lit(-1L)).as("best_match"),
        coalesce(col("cos"), lit(-1.0)).as("cos"),
        coalesce(col("n_near"), lit(0L)).as("n_near"))
      .orderBy("vec_id")
  }

  /** s32: embedding-drift monitor — v04's PSI applied to the serving
    * index's OWN geometry: every vector is assigned to its pinned
    * coarse cell (the s05 quantizer) and the incoming batch's
    * cell-occupancy histogram is compared against the
    * already-ingested corpus. THE index-maintenance dial: cell-level
    * PSI tells the serving side when the coarse quantizer no longer
    * fits the data (re-train / split cells) BEFORE recall degrades —
    * and it detects that from k integers per side, with no eval
    * queries. Completes the index-ops suite: s29 measures cost
    * skew, s21/s25/s30 measure recall, s32 measures WHEN to re-fit.
    *
    * Scale shape: ONE corpus pass (k codegen'd dots per row against
    * the plan-literal centroids — the s05 assignment map), one
    * k-row aggregate: the v04 shape on the quantizer's bins. The
    * report IS [[Checks.psiReport]] with nBins = k (the r13
    * nBins dial made load-bearing); `bin` is the cell id. */
  def embeddingDrift(s: SparkSession, dir: String,
                     splitFrac: Double = S32SplitFrac): DataFrame = {
    val all = emb(s, dir)
      .withColumn("nv", transform(col("v"), x => x / col("nrm")))
      .select(col("vec_id"), col("nv").as("v"))
    // floor() on BOTH sides (oracle replays the same scalar); max()
    // over an empty table is NULL — fail with a clear message instead
    // of an opaque NPE
    val mx = all.agg(max("vec_id")).head
    require(!mx.isNullAt(0),
      s"embeddingDrift: embeddings table at $dir is empty (no vec_id to split on)")
    val cut = math.floor(mx.getLong(0) * splitFrac).toLong
    val cents = Pinned.ivfCentroids
    Checks.psiReport(
      assignToCentroid(all, cents)
        .select(col("c").as("bin"), (col("vec_id") < cut).as("is_ref")),
      nBins = cents.length)
  }

  /** Per-label embedding centroids via the typed
    * [[graft.functions.CentroidAggregator]] UDAF: one (sums, count)
    * buffer per label per partition, so the shuffle carries k×dim
    * doubles per partition instead of the n×dim exploded rows the
    * declarative posexplode+avg formulation would move. Output is
    * exploded to (label, pos, c) rows only for the oracle compare. */
  def labelCentroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = new graft.functions.CentroidAggregator().toColumn
    emb(s, dir).select(col("label"), col("v")).as[(Int, Seq[Double])]
      .groupByKey(_._1)
      .agg(agg.name("centroid"))
      .toDF("label", "centroid")
      .select(col("label"), posexplode(col("centroid")).as(Seq("pos", "x")))
      .select(col("label"), col("pos"), round(col("x"), 4).as("c"))
      .orderBy("label", "pos")
  }

  /** Per-label embedding statistics — array columns as first-class
    * aggregate inputs (norms via the codegen'd dot). */
  def labelNorms(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(avg(col("nrm")), 4).as("avg_norm"),
        round(min(col("nrm")), 4).as("min_norm"),
        round(max(col("nrm")), 4).as("max_norm"))
      .orderBy("label")

  /** Deterministic k-means coarse quantizer (Lloyd's, fixed iteration
    * count, init = first k vectors by vec_id). Centroids are driver-held
    * model state (k × dim doubles — bytes, not data); every data pass is
    * distributed: assignment is k codegen'd dots per row, the update is
    * a posexplode + (cluster, dim) average — one shuffle of k×dim
    * partial sums per iteration regardless of corpus size. */
  def fitCentroids(vecs: DataFrame, k: Int, iters: Int): Array[Array[Double]] =
    fitCentroidsBy(vecs, k, iters, assignToCentroid)

  /** Squared-L2 argmin against a 2-level codebook literal, as a pure
    * Column expression: scores(j)(c) = 2⟨sv, B(j)(c)⟩ − ‖B(j)(c)‖², so
    * argmin L2 = argmax score. `jCol` selects the subspace's codebook
    * out of the m×k×(dim/m) literal at runtime — ALL m subspaces share
    * one expression, which is what lets the whole PQ fit run as one job
    * per Lloyd iteration instead of m independent fits. */
  private def pqCode(sv: Column, jCol: Column,
                     books: Array[Array[Array[Double]]]): Column = {
    val b = typedlit(books.map(_.map(_.toSeq).toSeq).toSeq)
    val bNorm2 = typedlit(books.map(_.map(_.map(x => x * x).sum).toSeq).toSeq)
    val scores = zip_with(element_at(b, jCol + 1), element_at(bNorm2, jCol + 1),
      (c, n2) => lit(2.0) * dot(sv, c) - n2)
    (array_position(scores, array_max(scores)) - 1).cast("int")
  }

  private def fitCentroidsBy(vecs: DataFrame, k: Int, iters: Int,
      assign: (DataFrame, Array[Array[Double]]) => DataFrame): Array[Array[Double]] = {
    var cents = vecs.orderBy("vec_id").limit(k)
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    for (_ <- 1 to iters) {
      val sums = assign(vecs, cents)
        .select(col("c"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("c", "pos").agg(avg("x").as("m"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { r =>
        next(r.getAs[Int]("c"))(r.getAs[Int]("pos")) = r.getAs[Double]("m")
      }
      cents = next // empty clusters keep their previous centroid
    }
    cents
  }

  /** Nearest centroid by maximum dot product (use normalized vectors for
    * cosine). Ties break to the lowest centroid index (array_position
    * returns the first match). */
  private def assignToCentroid(vecs: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val dots = array(cents.map(c => dot(col("v"), typedlit(c.toSeq))): _*)
    vecs.withColumn("c",
      (array_position(dots, array_max(dots)) - 1).cast("int"))
  }

  /** The `p` centroid indices with the highest dot product against `v`,
    * best first (ties to the lower index): sort (dot, index) structs on
    * negated dot, slice, project the index back out — pure Column
    * expression, no UDF. */
  private[operators] def topCells(v: Column, cents: Array[Array[Double]], p: Int): Column = {
    val scored = array(cents.zipWithIndex.map { case (c, i) =>
      struct((-dot(v, typedlit(c.toSeq))).as("nd"), lit(i).as("i"))
    }: _*)
    transform(slice(array_sort(scored), 1, p), s => s("i").cast("int"))
  }

  /** s38's swept probe widths — single-sourced into the generated
    * oracle/dialect SQL (the s30-depths discipline). The max equals
    * the pinned quantizer's cell count, so the deepest arm is the
    * exhaustive-probe law anchor (recall ≡ 1000 by construction). */
  val S38Probes: Seq[Int] = Seq(1, 2, 4, 8)

  /** s38: IVF nprobe-recall sweep — the OTHER serving dial of the
    * coarse quantizer (s29 grades cell balance = COST; s21 grades
    * recall at one operating point; s30/s31 sweep re-rank depth): for
    * each nprobe in [[S38Probes]], recall@k of probing the query's
    * nprobe closest cells vs the exhaustive normalized-dot truth. The
    * curve is the number a deployment reads to pick nprobe — the
    * recall-per-probe-cost trade IS the IVF contract (Jégou et al.,
    * TPAMI 2011, §V's nprobe sweeps).
    *
    * Eval economics (the s30/s31 arms-as-filters discipline): the
    * corpus is scored ONCE against the broadcast (query, cell, crank)
    * table at the DEEPEST probe (every cell ranked per query, a
    * nQueries×nCells frame) and checkpointed; each arm is a FILTER
    * (crank <= p) into a map-side TopKPerGroup heap — no per-arm
    * re-scan, no corpus shuffle, truth as one more linear stream.
    * Deterministic: 6-dp rounds, id tie-breaks, cell ranks tie-broken
    * by cell index (topCells' struct sort) — the DuckDB oracle
    * replays the whole sweep exactly from the pinned centroids. */
  /** s38's normalized corpus (one checkpoint feeds assignment, truth
    * stream and queries). */
  private def s38Normed(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .withColumn("nv", transform(col("v"), x => x / col("nrm")))
      .select(col("vec_id"), col("nv").as("v"))

  /** s38's scored candidate stream at full probe width — one corpus
    * pass against the broadcast (query, cell, crank) table. Exposed
    * un-checkpointed so PlanGateSpec can assert the shape (the s31
    * discipline); the registered query materializes it once. */
  private[graft] def nprobeScored(normed: DataFrame, nQueries: Int,
                                  pMax: Int,
                                  cents: Array[Array[Double]]): DataFrame = {
    val corpus = assignToCentroid(normed, cents)
    val queries = corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        posexplode(topCells(col("v"), cents, pMax)).as(Seq("crk0", "c")))
      .select(col("q_id"), col("qv"), col("c"),
        (col("crk0") + 1).cast("int").as("crank"))
    corpus.join(broadcast(queries), Seq("c"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("crank"),
        round(dot(col("qv"), col("v")), 6).as("cos"))
  }

  /** s38's exhaustive-truth stream (eval-only), un-checkpointed for
    * the gate. */
  private[graft] def nprobeTruth(normed: DataFrame, nQueries: Int,
                                 k: Int): DataFrame = {
    val qv = normed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val truthScores = normed.join(broadcast(qv), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(dot(col("qv"), col("v")), 6).as("cos"))
    graft.plans.TopKPerGroup.topKPerGroup(
        truthScores, Seq("q_id"), Seq(("cos", false), ("n_id", true)), k)
      .select("q_id", "n_id")
  }

  def annNprobeEval(s: SparkSession, dir: String, nQueries: Int = 5,
                    k: Int = 3, probes: Seq[Int] = S38Probes,
                    cents: Array[Array[Double]] = Pinned.ivfCentroids)
      : DataFrame = {
    val pMax = probes.max.min(cents.length)
    val normed = s38Normed(s, dir).localCheckpoint()
    val scored = nprobeScored(normed, nQueries, pMax, cents).localCheckpoint()
    val truth = nprobeTruth(normed, nQueries, k).localCheckpoint()
    val possible = (nQueries * k).toDouble
    probes.map { p =>
      graft.plans.TopKPerGroup.topKPerGroup(
          scored.filter(col("crank") <= p),
          Seq("q_id"), Seq(("cos", false), ("n_id", true)), k)
        .select("q_id", "n_id")
        .join(truth, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(p).as("nprobe"), col("n_hits"),
          lit(nQueries.toLong * k).as("n_possible"),
          floor(col("n_hits") * 1000.0 / possible + 0.5).cast("long")
            .as("recall_milli"))
    }.reduce(_ unionByName _).orderBy("nprobe")
  }

  /** True IVF ANN: k-means coarse quantizer over L2-normalized
    * embeddings, probe the query's cell, exact cosine re-rank inside it.
    * The 100 TB shape: centroids broadcast implicitly as plan literals,
    * the corpus partitioned by cell, each query touches one cell
    * (nprobe=1 here; more cells = higher recall, linearly more work).
    * The REGISTERED s05 serves the [[Pinned.ivfCentroids]] fixture
    * (exact DuckDB oracle — cell argmax and re-rank replayed as
    * unrolled sums); `model = None` fits inline (law-tested, since the
    * distributed centroid averages are partition-order-dependent in
    * their last ulps). */
  def annKmeansIvf(s: SparkSession, dir: String, nQueries: Int = 5,
                   k: Int = 3, nCent: Int = 8, iters: Int = 3,
                   nprobe: Int = 1,
                   model: Option[Array[Array[Double]]] = None): DataFrame = {
    require(nprobe >= 1 && nprobe <= nCent, s"nprobe=$nprobe out of [1, $nCent]")
    val normed = emb(s, dir)
      .withColumn("nv", transform(col("v"), x => x / col("nrm")))
      .select(col("vec_id"), col("nv").as("v"))
      // localCheckpoint, not cache: read k-means-iters× during fitting +
      // twice in the final plan; blocks are freed on plan GC instead of
      // pinning a CacheManager entry per invocation
      .localCheckpoint()
    val cents = model.getOrElse(fitCentroids(normed, nCent, iters))
    val corpus = assignToCentroid(normed, cents)
    // each query probes its nprobe closest cells (nprobe=1 ≡ own cell);
    // recall and probe cost both scale linearly with nprobe
    val queries = corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        explode(topCells(col("v"), cents, nprobe)).as("c"))
    val scored = corpus.join(broadcast(queries), Seq("c"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(dot(col("qv"), col("v")), 6).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "n_id", "cos")
      .orderBy("q_id", "rk")
  }

  /** s09: product-quantization ANN (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011) — the ANN variant whose
    * lever is CORPUS MEMORY, complementing [[annKmeansIvf]] (probe
    * pruning) and [[annQuantized]] (scalar int8):
    *
    *  1. split each L2-normalized vector into `m` subvectors; a
    *     `codebookSize`-centroid L2 k-means codebook per subspace comes
    *     from the FIT-ONCE [[PqModel]] — trained driver-side on a
    *     bounded deterministic sample (one collect, zero per-iteration
    *     jobs; Jégou trains on a learning subset too) and either fit
    *     inline or passed in pre-trained via `model` after
    *     [[PqModel.save]]/[[PqModel.load]];
    *  2. ENCODE: corpus rows carry only their m code ids from then on —
    *     m bytes instead of dim floats (64-dim float → 8 bytes here,
    *     32× smaller), which is what lets a 100 TB corpus' index live
    *     in executor memory;
    *  3. query via ADC (asymmetric distance): per query, a driver-built
    *     m×k lookup table of subvector·centroid dots; the approximate
    *     cosine of a corpus row is the sum of m LUT entries picked by
    *     its codes — a pure Column fold, no vector math per pair.
    *
    *  4. RE-RANK: the top `rerank` ADC candidates per query (and only
    *     those — a candidate-sized join, not a corpus scan) are scored
    *     with the exact dot, and the final top-k comes from that. This
    *     is Jégou's ADC + re-ranking: the PQ index prunes 500→C, the
    *     exact pass fixes the quantization error where it matters.
    *
    * Rows-only check (recall is probabilistic — measured vs [[annBruteForce]]
    * in SimilaritySpec); at 100 TB compose with the IVF probe: coarse
    * cell first, PQ-ADC inside the cell, exact re-rank of the top C. */
  def annPq(s: SparkSession, dir: String, nQueries: Int = 5, k: Int = 3,
            m: Int = 8, codebookSize: Int = 32, iters: Int = 3,
            rerank: Int = 100, model: Option[PqModel] = None,
            sampleCap: Int = 4096): DataFrame = {
    val normed = emb(s, dir)
      .withColumn("nv", transform(col("v"), x => x / col("nrm")))
      .select(col("vec_id"), col("nv").as("v"))
    annPqFrom(s, normed, nQueries, k, m, codebookSize, iters, rerank,
      model, sampleCap)
  }

  /** s13: PQ over a ROTATED basis — the OPQ idea (Ge et al., "Optimized
    * Product Quantization", CVPR 2013) realized with the [[Pca]] model
    * as the rotation: project each L2-normalized vector onto the full
    * orthonormal PCA basis (inner products are invariant under the
    * rotation, so exact re-rank scores still equal original cosines)
    * and deal the decorrelated dimensions ROUND-ROBIN across the m
    * subspaces, so every subspace sees a balanced slice of the
    * spectrum instead of raw correlated coordinates — the variance-
    * balancing that lets the per-subspace codebooks spend their
    * capacity evenly. Then the standard PQ pipeline
    * ([[annPqFrom]]: fit-once codebooks, ADC, exact re-rank) runs
    * unchanged on the rotated frame. Rows-only; SimilaritySpec measures
    * recall@3 vs brute force beside plain s09. */
  def annPqRotated(s: SparkSession, dir: String, nQueries: Int = 5, k: Int = 3,
                   m: Int = 8, codebookSize: Int = 32, iters: Int = 3,
                   rerank: Int = 100,
                   rotation: Option[Array[Array[Double]]] = None,
                   model: Option[PqModel] = None): DataFrame = {
    val dim = 64
    val normed = emb(s, dir)
      .withColumn("nv", transform(col("v"), x => x / col("nrm")))
      .select(col("vec_id"), col("nv").as("v"))
      .localCheckpoint() // PCA moment pass + rotation input
    val rot = rotation.getOrElse(Pca.fit(normed, dim, k = dim).components)
    annPqFrom(s, rotatedFrame(normed, rot, m), nQueries, k, m, codebookSize,
      iters, rerank, model, sampleCap = 4096)
  }

  /** Project onto the full orthonormal `rot` basis and deal the rotated
    * dimensions round-robin across the m subspaces: position
    * p = (d mod m)·sub + (d div m) — dimension d of the rotated space
    * lands in subspace d mod m, balancing the spectrum per subspace. */
  private[graft] def rotatedFrame(normed: DataFrame,
                                  rot: Array[Array[Double]], m: Int): DataFrame = {
    val dim = rot.length
    val sub = dim / m
    val cols = new Array[Column](dim)
    for (d <- 0 until dim)
      cols((d % m) * sub + d / m) = dot(col("v"), typedlit(rot(d).toSeq))
    normed.select(col("vec_id"), array(cols.toSeq: _*).as("v"))
  }

  private def annPqFrom(s: SparkSession, vecs: DataFrame, nQueries: Int,
                        k: Int, m: Int, codebookSize: Int, iters: Int,
                        rerank: Int, model: Option[PqModel],
                        sampleCap: Int): DataFrame = {
    import s.implicits._
    val normed = vecs
      .localCheckpoint() // read to sample/fit + encode + re-rank
    // fit-once model state: either passed in (the serve path — fit
    // elsewhere, persisted via PqModel.save/load) or fit here from a
    // bounded deterministic sample in ONE collect — no per-iteration
    // driver-synced jobs (the r4 s09 bottleneck)
    val mdl = model.getOrElse(
      PqModel.fit(PqModel.sampleVectors(normed, sampleCap), m, codebookSize, iters))
    require(mdl.m == m, s"model has ${mdl.m} subspaces, expected $m")
    val sub = mdl.sub
    val books = mdl.books
    val codeCols = (0 until m).map { j =>
      pqCode(slice(col("v"), j * sub + 1, sub), lit(j), books)
    }
    val encoded = normed.select(col("vec_id"), array(codeCols: _*).as("codes"))
    // per-query ADC lookup tables: lut(j)(c) = ⟨q_sub_j, books(j)(c)⟩ —
    // nQueries × m × k doubles of driver model state, like the codebooks
    val luts = normed.filter(col("vec_id") < nQueries)
      .select("vec_id", "v").collect()
      .map { r =>
        val q = r.getSeq[Double](1).toArray
        (r.getLong(0), pqLut(q, books, sub))
      }.toSeq.toDF("q_id", "lut")
    val scored = encoded.join(broadcast(luts), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), adcScore(m).as("approx_cos"))
    adcRerank(scored, normed, nQueries, k, rerank)
  }

  /** The full fit-once / persist / serve lifecycle as ONE operator
    * (s11): fit the PQ model from a bounded sample (or take a
    * pre-fit one), [[PqModel.save]] it, [[PqModel.load]] it back, and
    * answer the query from the LOADED model — proving the persisted
    * artifact carries the whole model. At 100 TB the three phases run
    * as separate jobs (fit once, serve many); this registered form
    * exercises the seam end-to-end. The REGISTERED s11 persists the
    * [[Pinned.pq]] fixture, which makes its served output equal s09's
    * pinned output — parquet round-trips doubles exactly — so it
    * shares s09's exact DuckDB oracle; the real-fit lifecycle
    * (`model = None`) stays spec-covered in SimilaritySpec. */
  def annPqFitServe(s: SparkSession, dir: String, modelPath: String,
                    m: Int = 8, codebookSize: Int = 32,
                    iters: Int = 3, model: Option[PqModel] = None): DataFrame = {
    val mdl = model.getOrElse {
      val corpus = emb(s, dir)
        .withColumn("nv", transform(col("v"), x => x / col("nrm")))
        .select(col("vec_id"), col("nv").as("v"))
      PqModel.fit(PqModel.sampleVectors(corpus, 4096), m, codebookSize, iters)
    }
    mdl.save(s, modelPath)
    annPq(s, dir, model = Some(PqModel.load(s, modelPath)))
  }

  /** Driver-side ADC lookup table for one query vector: lut(j)(c) =
    * ⟨q subvector j, books(j)(c)⟩, summed in index order. */
  private def pqLut(q: Array[Double], books: Array[Array[Array[Double]]],
                    sub: Int): Seq[Seq[Double]] =
    books.indices.map { j =>
      books(j).map(c =>
        c.indices.map(i => c(i) * q(j * sub + i)).sum).toSeq
    }

  /** The ADC sum: m LUT entries picked by the row's codes, folded in
    * subspace order — a pure Column expression over (`lut`, `codes`). */
  private def adcScore(m: Int): Column = aggregate(
    transform(sequence(lit(0), lit(m - 1)),
      j => element_at(element_at(col("lut"), j + 1),
        element_at(col("codes"), j + 1) + 1)),
    lit(0.0), (acc, x) => acc + x)

  /** Shared ADC tail: keep the top `rerank` approximate candidates per
    * query, score ONLY those with the exact dot (a candidate-sized
    * join, not a corpus scan), return the exact top-k. */
  private def adcRerank(scored: DataFrame, normed: DataFrame,
                        nQueries: Int, k: Int, rerank: Int): DataFrame = {
    val wApprox = Window.partitionBy("q_id").orderBy(desc("approx_cos"), asc("n_id"))
    val candidates = scored.withColumn("crk", row_number().over(wApprox))
      .filter(col("crk") <= rerank)
      .select("q_id", "n_id")
    val queries = normed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val exact = candidates
      .join(normed.withColumnRenamed("vec_id", "n_id"), "n_id")
      .join(broadcast(queries), "q_id")
      .select(col("q_id"), col("n_id"),
        round(dot(col("qv"), col("v")), 6).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    exact.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "n_id", "cos")
      .orderBy("q_id", "rk")
  }

  /** s10: IVF + residual PQ — the composition the 100 TB path actually
    * deploys (Jégou's IVFADC): a coarse k-means quantizer prunes the
    * corpus to `nprobe` cells per query, and a product quantizer over
    * the RESIDUALS (v − coarse centroid) — finer-grained than s09's
    * direct PQ because residuals concentrate near 0 — gives each row an
    * m-byte code for in-cell ADC scoring. approx_cos = ⟨q, centroid_c⟩
    * + Σ_j lut_c(j)(code_j), since v ≈ centroid_c + residual̂; the LUT
    * is per (query, probed cell), nQueries × nprobe × m × k doubles of
    * driver model state. Exact re-rank of the top `rerank` candidates,
    * as in s09. Rows-only (probabilistic recall, measured vs s01 in
    * SimilaritySpec). */
  def annIvfPq(s: SparkSession, dir: String, nQueries: Int = 5, k: Int = 3,
               nCoarse: Int = 8, coarseIters: Int = 3, nprobe: Int = 3,
               m: Int = 8, codebookSize: Int = 32, pqIters: Int = 3,
               rerank: Int = 50, model: Option[PqModel] = None,
               sampleCap: Int = 4096): DataFrame = {
    import s.implicits._
    require(nprobe >= 1 && nprobe <= nCoarse, s"nprobe=$nprobe out of [1, $nCoarse]")
    val normed = emb(s, dir)
      .withColumn("nv", transform(col("v"), x => x / col("nrm")))
      .select(col("vec_id"), col("nv").as("v"))
      .localCheckpoint() // sample/fit + encode + queries + re-rank
    // fit-once IVFADC model (coarse centroids + residual codebooks):
    // passed in on the serve path, else ONE sample collect here
    val mdl = model.getOrElse(
      PqModel.fit(PqModel.sampleVectors(normed, sampleCap), m, codebookSize,
        pqIters, nCoarse = nCoarse, coarseIters = coarseIters))
    require(mdl.m == m, s"model has ${mdl.m} subspaces, expected $m")
    require(mdl.coarse.exists(_.length == nCoarse),
      s"model coarse quantizer missing or not $nCoarse centroids")
    val sub = mdl.sub
    val books = mdl.books
    val cents = mdl.coarse.get
    val centLit = typedlit(cents.map(_.toSeq).toSeq)
    val resid = assignToCentroid(normed, cents)
      .withColumn("r", zip_with(col("v"), element_at(centLit, col("c") + 1),
        (x, mu) => x - mu))
      .select("vec_id", "c", "r")
    val codeCols = (0 until m).map { j =>
      pqCode(slice(col("r"), j * sub + 1, sub), lit(j), books)
    }
    val encoded = resid.select(col("vec_id"), col("c"), array(codeCols: _*).as("codes"))
    def dotLocal(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    // per (query, probed cell): the ⟨q, centroid⟩ bias + the residual LUT
    val luts = normed.filter(col("vec_id") < nQueries)
      .select("vec_id", "v").collect().toSeq
      .flatMap { row =>
        val qid = row.getLong(0)
        val q = row.getSeq[Double](1).toArray
        cents.zipWithIndex.map { case (cv, i) => (i, dotLocal(q, cv)) }
          .sortBy { case (i, d) => (-d, i) }.take(nprobe)
          .map { case (c, qDotCent) => (qid, c, qDotCent, pqLut(q, books, sub)) }
      }.toDF("q_id", "c", "q_dot_cent", "lut")
    // the cell id is the join key: each query scans only its probed cells
    val scored = encoded.join(broadcast(luts), Seq("c"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (col("q_dot_cent") + adcScore(m)).as("approx_cos"))
    adcRerank(scored, normed, nQueries, k, rerank)
  }

  /** IVF-style search: assign every vector to its LSH bucket (the
    * "inverted file"), probe only the query's bucket, exact re-rank.
    * Demonstrates the coarse-quantize → probe → re-rank shape; the
    * k-means coarse quantizer variant is [[annKmeansIvf]].
    *
    * ORACLE-EXACT (unlike s03/d09): the bucket key is the integer-grid
    * [[lshBucketInt]], whose plane components are plain integer
    * literals a SQL oracle can embed and whose quantized dot is
    * order-independent integer arithmetic — so the full probe +
    * exact-re-rank output is driver-verified against DuckDB, not just
    * rows-counted. */
  def annIvf(s: SparkSession, dir: String,
             nQueries: Int = 5, k: Int = 3, nPlanes: Int = 4,
             tombstoned: Option[Column] = None): DataFrame = {
    val all = ivfIndex(s, dir, nPlanes)
    // s28 serve-time logical deletes: the bucket INDEX is untouched
    // (built before the deletes, exactly a FAISS IDSelector / Lucene
    // live-docs serve); tombstoned ids are dropped from the CANDIDATE
    // side only, before any scoring — queries stay external.
    val candidates = tombstoned.fold(all)(dead => all.filter(!dead))
    ivfServe(candidates, all, nQueries, k)
  }

  /** The s04 bucket index ARTIFACT: one (bucket)-keyed posting row per
    * vector, norms precomputed — [[filteredIndex]] without the label
    * key. Pure per-row map, so segment PARTIALS of this frame are
    * index rows (the property [[indexCompaction]] relies on). */
  private[graft] def ivfIndex(s: SparkSession, dir: String,
                              nPlanes: Int = 4): DataFrame =
    emb(s, dir)
      .select(col("vec_id"), col("v"), col("nrm"),
        lshBucketInt(col("v"), nPlanes).as("bucket"))

  /** The IVF serve tail over an index frame: broadcast the query rows
    * (drawn from `queryIndex`, which may differ from the candidate
    * frame — s28 serves live queries against a tombstone-filtered
    * candidate side, s37 serves pre-compaction queries against the
    * compacted index), probe the query's bucket, exact re-rank. */
  private[graft] def ivfServe(candidates: DataFrame, queryIndex: DataFrame,
                              nQueries: Int, k: Int): DataFrame = {
    val queries = queryIndex.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("q_nrm"), col("bucket"))
    val scored = candidates.join(broadcast(queries),
        Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(dot(col("qv"), col("v")) / (col("q_nrm") * col("nrm")), 6).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "n_id", "cos")
      .orderBy("q_id", "rk")
  }

  /** s33: FILTERED ANN — attribute-constrained vector search, the
    * vector-DB feature every RAG deployment asks for first ("top-k
    * neighbors WHERE label = X"). The filter rides the INDEX KEY,
    * not a post-scoring WHERE: candidates equi-join the queries on
    * (label, bucket), so a query never touches another label's
    * postings — the payload-partitioned index design (FAISS
    * IDSelector's pre-filter mode, Qdrant/Weaviate payload-keyed
    * HNSW) expressed as a declarative join-key choice. Post-filtering
    * (score everything, drop mismatches after) silently decays
    * recall@k whenever the top-k is filter-sparse; key-level
    * pre-filtering keeps recall AND prunes work. Each query searches
    * its OWN label (the self-retrieval eval fixture).
    *
    * At 100 TB: co-partition the corpus by (label, bucket) and each
    * query's probe touches one cell of one label shard — the filter
    * multiplies selectivity INTO the index instead of after it. */
  def annFiltered(s: SparkSession, dir: String, nQueries: Int = 5,
                  k: Int = 3, nPlanes: Int = 4): DataFrame =
    annFilteredFrom(
      filteredIndex(t(s, dir, "embeddings"), nPlanes), nQueries, k)

  /** s33's index ARTIFACT over a raw embeddings-schema frame: one
    * (label, bucket)-keyed posting row per vector, norms precomputed.
    * A pure per-row map (the bucket is [[lshBucketInt]] of the vector
    * alone), so batch PARTIALS of this frame ARE index rows and
    * batchId-keyed replays overwrite idempotently — which is what
    * makes the filtered index maintainable under continuous ingestion
    * ([[graft.streaming.IncrementalJobs.startFilteredIndex]]); the
    * serve half consumes the accumulated ledger unchanged. */
  def filteredIndex(vecs: DataFrame, nPlanes: Int = 4): DataFrame =
    vecs.select(col("vec_id"), asDouble(col("embedding")).as("v"),
        col("label"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id"), col("label"),
        lshBucketInt(col("v"), nPlanes).as("bucket"), col("v"), col("nrm"))

  /** The serve half over an index frame (fresh-built or the streaming
    * ledger): candidates equi-join the broadcast queries on
    * (label, bucket) — the pre-filtered probe s33's plan gate pins. */
  def annFilteredFrom(index: DataFrame, nQueries: Int = 5,
                      k: Int = 3): DataFrame = {
    val queries = index.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("q_nrm"), col("label"), col("bucket"))
    val scored = index.join(broadcast(queries), Seq("label", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("label"), col("vec_id").as("n_id"),
        round(dot(col("qv"), col("v")) / (col("q_nrm") * col("nrm")), 6)
          .as("cos"))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("q_id", "label", "rk", "n_id", "cos")
      .orderBy("q_id", "rk")
  }

  /** s28's tombstone rule — single-sourced into the oracle predicate:
    * vec_id ≡ [[S28TombResidue]] (mod [[S28TombMod]]) is deleted. */
  val S28TombMod: Int = 7
  val S28TombResidue: Int = 3

  /** s29: IVF index-health report — cell-occupancy statistics over
    * s04's bucket index BEFORE serving it: cell/vector counts,
    * extremes, a log₂ occupancy histogram, and the imbalance factor
    * (n_cells·Σc²/(Σc)², FAISS's `imbalance_factor`: 1.0 = perfectly
    * balanced, and under uniform queries it IS the expected probe-cost
    * multiplier vs balanced cells). s21/s25 grade the index's RECALL;
    * this grades its COST — the other dial read before committing
    * nPlanes/nprobe at scale.
    *
    * Scale shape: ONE bucket-key count shuffle (map-side combined) —
    * the corpus contributes only its bucket key; everything downstream
    * is cell-count-sized and the report is O(log) rows. The log₂ bin
    * is `length(bin(c)) − 1` (exact integer, engine-portable) rather
    * than floor(log2(c)), whose float form misbins at powers of two. */
  def annIndexStats(s: SparkSession, dir: String,
                    nPlanes: Int = 4): DataFrame = {
    val cells = emb(s, dir)
      .select(lshBucketInt(col("v"), nPlanes).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds the summary AND the histogram
    val hist = cells
      .withColumn("b", length(bin(col("c"))) - 1)
      .groupBy("b").agg(count(lit(1)).as("value"))
      .select(concat(lit("cells_log2_"),
        lpad(col("b").cast("string"), 2, "0")).as("metric"), col("value"))
    val summ = cells.agg(
        count(lit(1)).as("n_cells"),
        sum("c").as("n_vectors"),
        max("c").as("max_cell"),
        min("c").as("min_cell"),
        sum(col("c") * col("c")).as("ss"))
      .select(explode(map(
        lit("n_cells"), col("n_cells"),
        lit("n_vectors"), col("n_vectors"),
        lit("max_cell"), col("max_cell"),
        lit("min_cell"), col("min_cell"),
        lit("imbalance_milli"),
        floor(col("n_cells").cast("double") * col("ss").cast("double")
          / (col("n_vectors").cast("double") * col("n_vectors").cast("double"))
          * 1000.0 + 0.5).cast("long")
      )).as(Seq("metric", "value")))
    summ.unionByName(hist).orderBy("metric")
  }

  /** s28: ANN serving under LOGICAL DELETES — the index-maintenance
    * half of the serve lifecycle (s11 covered fit-once/serve-many;
    * this covers delete-without-rebuild): the IVF bucket index is
    * built over the full corpus, a tombstone set marks deleted ids,
    * and the serve path filters candidates BEFORE scoring, so deleted
    * vectors can never be returned while the index itself is never
    * rewritten — FAISS's IDSelector / Lucene's live-docs bitmap as a
    * declarative Spark filter. At 100 TB the tombstone predicate is a
    * broadcast semi-join against a delete table; here it is the
    * deterministic modular rule the oracle replays. */
  def annIvfTombstoned(s: SparkSession, dir: String,
                       nQueries: Int = 5, k: Int = 3,
                       nPlanes: Int = 4): DataFrame =
    annIvf(s, dir, nQueries, k, nPlanes,
      tombstoned = Some(col("vec_id") % S28TombMod === S28TombResidue))

  /** s37 segment rule — vec_id ≡ [[S37InsertResidue]] (mod
    * [[S37InsertMod]]) rows form the late-arriving INSERT segment;
    * single-sourced into the oracle predicate. Coprime to the s28
    * tombstone modulus, so all four (segment × liveness) quadrants
    * are populated at every SF — the fixture can't go vacuous. */
  val S37InsertMod: Int = 3
  val S37InsertResidue: Int = 2

  /** s37's REWRITE half: merge index segments and physically drop
    * tombstoned postings — the LSM compaction that reclaims what
    * s28's serve-time filter only hides. Because index rows are a
    * pure per-row map of their vector ([[ivfIndex]]), segment union
    * is posting-list concatenation and needs no re-hashing; the dead
    * filter is the only row-level work. Output is a serving-ready
    * index frame: [[ivfServe]] on it must equal [[annIvfTombstoned]]
    * on the original corpus (SimilaritySpec's equivalence law), and
    * re-compacting a compacted index is the identity (idempotence
    * law). At 100 TB this is one linear pass over posting rows —
    * 16-ish bytes each, payloads/vectors referenced but never
    * re-derived — writing the merged segment back partitioned by
    * bucket, exactly a FAISS/Lucene segment merge expressed as a
    * declarative filter over a union. */
  def compactIvfIndex(base: DataFrame, inserts: DataFrame,
                      dead: Column): DataFrame =
    base.unionByName(inserts).filter(!dead)

  /** s37: the compaction REPORT — per bucket, how many postings each
    * segment contributed and how many the rewrite reclaimed (n_dead)
    * vs kept (n_live). The page an index-maintenance job logs after
    * every merge: reclaimed bytes justify the rewrite, per-bucket
    * liveness feeds the s29 occupancy dial. The report is computed
    * from the same tagged segment union [[compactIvfIndex]] filters,
    * in ONE aggregate pass over bucket-key + two boolean flags (the
    * corpus contributes 3 narrow columns; vectors never move), and is
    * bucket-count-sized — all-integer, oracle-exact. */
  def indexCompaction(s: SparkSession, dir: String,
                      nPlanes: Int = 4): DataFrame = {
    val all = ivfIndex(s, dir, nPlanes)
    // the segment predicates ARE the segment definition (segments are
    // views of one posting table), so the report tags in place — ONE
    // scan, one bucket-keyed aggregate — instead of re-reading the two
    // segment views through a union
    val isInsert = col("vec_id") % S37InsertMod === S37InsertResidue
    val dead = col("vec_id") % S28TombMod === S28TombResidue
    all.select(col("bucket"), isInsert.as("is_insert"), dead.as("is_dead"))
      .groupBy("bucket")
      .agg(
        sum(when(!col("is_insert"), 1L).otherwise(0L)).as("n_base"),
        sum(when(col("is_insert"), 1L).otherwise(0L)).as("n_inserts"),
        sum(when(col("is_dead"), 1L).otherwise(0L)).as("n_dead"),
        sum(when(!col("is_dead"), 1L).otherwise(0L)).as("n_live"))
      .orderBy("bucket")
  }

  // ---- s40: index lifecycle — drift → re-fit → compact → serve ----

  /** s40 dials — single-sourced into both dialect replays. Eps is the
    * residual spread of the drifted batch around its anchor;
    * PsiMinMicro is the re-fit trigger on the SUMMED s32 PSI (0.1,
    * the standard "investigate/act" PSI band); Offset keys batch ids
    * above every store id so segment/liveness predicates stay pure
    * id arithmetic. */
  val S40Eps: Double = 0.25
  val S40PsiMinMicro: Long = 100000L
  val S40Offset: Long = 100000L
  val S40NQueries: Int = 8
  val S40K: Int = 3

  /** The s40 drift model: each batch vector collapses toward the
    * normalized MIDPOINT of two adjacent stale centroids — i.e. onto
    * the stale quantizer's DECISION BOUNDARY, the exact geometry a
    * stale coarse index mis-serves (a boundary cluster splits ~50/50
    * across two cells, so nprobe=1 loses half of every cluster's
    * neighbors) and a re-fit repairs (the re-fit centroids move onto
    * the clusters; measured: recall 583–791 stale → 1000 re-fit
    * across sf0.001/0.01/0.1). A deterministic closed form of the
    * pinned centroids — both engines replay it term by term. */
  private[graft] lazy val s40Anchors: Array[Array[Double]] =
    Array.tabulate(Pinned.ivfCentroids.length) { l =>
      val a = Pinned.ivfCentroids(l)
      val b = Pinned.ivfCentroids((l + 1) % Pinned.ivfCentroids.length)
      val m = Array.tabulate(a.length)(i => a(i) + b(i))
      val n = math.sqrt(m.map(x => x * x).sum)
      m.map(_ / n)
    }

  /** The lifecycle's STORE segment: the L2-normalized corpus. */
  private[graft] def s40Store(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .withColumn("nv", transform(col("v"), x => x / col("nrm")))
      .select(col("vec_id"), col("nv").as("sv"))

  /** The drifted INSERT batch: anchor(label) + Eps·v, renormalized;
    * ids offset by [[S40Offset]]. */
  private[graft] def s40Batch(s: SparkSession, dir: String): DataFrame = {
    val anch = typedlit(s40Anchors.map(_.toSeq).toSeq)
    emb(s, dir)
      .withColumn("nv", transform(col("v"), x => x / col("nrm")))
      .withColumn("anchor",
        element_at(anch, (col("label") % s40Anchors.length).cast("int") + 1))
      .withColumn("raw",
        zip_with(col("anchor"), col("nv"), (a, x) => a + lit(S40Eps) * x))
      .withColumn("rnrm", sqrt(dot(col("raw"), col("raw"))))
      .select((col("vec_id") + S40Offset).as("vec_id"),
        transform(col("raw"), x => x / col("rnrm")).as("sv"))
  }

  /** The frame the re-fit runs on (store ∪ drifted batch) — what
    * [[graft.tools.PinModelsTool]] fits Pinned.s40Centroids from. */
  private[graft] def s40FitFrame(s: SparkSession, dir: String): DataFrame =
    s40Store(s, dir).unionByName(s40Batch(s, dir))
      .select(col("vec_id"), col("sv").as("v"))

  /** The live (post-compaction) posting frame the serve arms probe —
    * store ∪ batch minus the s28 tombstones on the base segment. */
  private[graft] def s40LivePostings(s: SparkSession, dir: String): DataFrame =
    s40Store(s, dir).unionByName(s40Batch(s, dir))
      .filter(!(col("vec_id") % S28TombMod === S28TombResidue &&
        col("vec_id") < S40Offset))

  /** One serve arm's candidate scoring (shared by both quantizers in
    * [[indexLifecycle]] and by the PlanGate): assignment is k plan-
    * literal dots in the scan, the probe is a (cell) equi-join
    * against the BROADCAST drifted queries. */
  private[graft] def s40CellProbe(live: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    val asg = assignToCentroid(
      live.select(col("vec_id"), col("sv").as("v")), cents)
    val qs = asg.filter(col("vec_id") >= S40Offset &&
        col("vec_id") < S40Offset + S40NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("c"))
    asg.join(broadcast(qs), Seq("c"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(dot(col("qv"), col("v")), 6).as("cos"))
  }

  /** s40: the index-lifecycle RUNBOOK composed end-to-end — the
    * maintenance loop every production vector index runs, from the
    * library's own members: s32's drift monitor says the batch moved
    * (summed cell-PSI ≥ trigger), s05's quantizer re-fits on
    * store ∪ batch (the pinned fixture; the fit-once discipline),
    * s37's compaction merges the base and insert segments and drops
    * the s28 tombstones, and the s04/s05 serve runs the drifted
    * queries against BOTH quantizers so the report carries the
    * before/after recall@k the re-fit bought. Output: 8 integer
    * (stage, metric, value) rows — drift PSI + trigger, fit-frame
    * size, compaction liveness, stale/re-fit recall + recovery
    * verdict.
    *
    * Scale shape: every stage is a member's own gated shape — one
    * assignment pass per quantizer (k plan-literal dots per row),
    * broadcast query probes, fingerprint-free integer report rows;
    * nothing corpus-sized shuffles except the members' own cell
    * joins. */
  def indexLifecycle(s: SparkSession, dir: String,
                     refit: Option[Array[Array[Double]]] = None): DataFrame = {
    val stale = Pinned.ivfCentroids
    val rf = refit.getOrElse(
      fitCentroids(s40FitFrame(s, dir), stale.length, 3))
    // all eight checkpoints below are LAZY (r18): every consumer sits
    // inside the ONE final report union, so the blocks materialize in
    // its stages instead of as eight driver-synced jobs
    val store = s40Store(s, dir).localCheckpoint(eager = false)
    val batch = s40Batch(s, dir).localCheckpoint(eager = false)
    def row1(stage: String, metric: String, v: Column,
             src: DataFrame): DataFrame =
      src.select(lit(stage).as("stage"), lit(metric).as("metric"),
        v.cast("long").as("value"))
    // 1: drift — s32's PSI between store (ref) and batch under the
    // STALE cells, summed to one micro-int dial
    val binned = assignToCentroid(
      store.select(col("vec_id"), col("sv").as("v"), lit(true).as("is_ref"))
        .unionByName(batch.select(col("vec_id"), col("sv").as("v"),
          lit(false).as("is_ref"))), stale)
      .select(col("c").as("bin"), col("is_ref"))
    val psiAgg = Checks.psiReport(binned, stale.length)
      .agg(sum(floor(col("psi_term") * 1e6 + 0.5).cast("long")).as("psi"))
      .localCheckpoint(eager = false) // 1 row; feeds two report rows
    val r1 = row1("1_drift", "psi_micro", col("psi"), psiAgg)
    val r2 = row1("1_drift", "triggered",
      (col("psi") >= S40PsiMinMicro).cast("long"), psiAgg)
    // 2: re-fit — the fit-frame size (model quality is pinned-spec'd)
    val r3 = row1("2_refit", "n_fit", col("n"),
      store.unionByName(batch).agg(count(lit(1)).as("n")))
    // 3: compact — s37's rewrite over (base = store, insert = batch)
    // with the s28 tombstone rule on the base segment
    val dead = col("vec_id") % S28TombMod === S28TombResidue &&
      col("vec_id") < S40Offset
    val posted = store.unionByName(batch)
    val compAgg = posted.select(dead.as("is_dead"))
      .agg(sum(when(col("is_dead"), 1L).otherwise(0L)).as("n_dead"),
        sum(when(!col("is_dead"), 1L).otherwise(0L)).as("n_live"))
      .localCheckpoint(eager = false)
    val r4 = row1("3_compact", "n_dead", col("n_dead"), compAgg)
    val r5 = row1("3_compact", "n_live", col("n_live"), compAgg)
    // 4: serve — recall@k of the drifted queries against the live
    // compacted postings, stale vs re-fit quantizer
    val live = posted.filter(!dead).localCheckpoint(eager = false)
    val isQuery = col("vec_id") >= S40Offset &&
      col("vec_id") < S40Offset + S40NQueries
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
    val queries = live.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("sv").as("qv"))
    val truth = live.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(dot(col("qv"), col("sv")), 6).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= S40K)
      .select("q_id", "n_id")
      .localCheckpoint(eager = false) // nQ·k rows; both serve arms probe it
    def recallMilli(cents: Array[Array[Double]]): DataFrame =
      s40CellProbe(live, cents)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= S40K)
        .join(truth, Seq("q_id", "n_id"))
        .agg(count(lit(1)).as("hits"))
        .select(expr(s"hits * 1000 div ${S40NQueries * S40K}").as("r"))
    val rs = recallMilli(stale).localCheckpoint(eager = false)
    val rr = recallMilli(rf).localCheckpoint(eager = false)
    val r6 = row1("4_serve", "recall_stale_milli", col("r"), rs)
    val r7 = row1("4_serve", "recall_refit_milli", col("r"), rr)
    val r8 = rs.select(col("r").as("a"))
      .crossJoin(broadcast(rr.select(col("r").as("b"))))
      .select(lit("4_serve").as("stage"), lit("recovered").as("metric"),
        (col("b") > col("a")).cast("long").as("value"))
    Seq(r2, r3, r4, r5, r6, r7, r8).foldLeft(r1)(_.unionByName(_))
      .orderBy("stage", "metric")
  }

  /** s39: PQ quantization-distortion report — the index-governance
    * dial for the PQ family the occupancy stats (s29) can't see: per
    * subspace, how much signal the codebook throws away. s21/s25/s30
    * grade RECALL (symptom); this grades the CAUSE — per subspace j,
    * distortion(x) = ‖x_j − B_{j,c_j}‖² = ‖x_j‖² − max_c(2⟨x_j,B_jc⟩
    * − ‖B_jc‖²), i.e. the sub-vector's squared norm minus the encode
    * score the code assignment already maximizes (FAISS's
    * `imbalance`-companion reconstruction-error audit; Jégou et al.,
    * TPAMI 2011 §III-C — MSE is the quantity PQ training minimizes,
    * so a subspace whose distortion dwarfs its peers is where OPQ's
    * rotation (s13) or more codebook bits go). Report: per subspace,
    * n_vectors, Σ and max distortion in micros — each vector's
    * distortion is micro-FLOORED before aggregation so both engines
    * sum identical integers.
    *
    * Scale shape: ONE corpus pass — the m per-subspace distortions
    * are scan-stage projections over the same encode scores s09
    * computes (codebooks ride as plan literals), the explode emits
    * m slim (subspace, micro) rows per vector, and the report is an
    * m-row aggregate (map-side combined). Nothing corpus-sized
    * shuffles; the output is codebook-sized. */
  def pqDistortionReport(s: SparkSession, dir: String,
                         model: PqModel = Pinned.pq): DataFrame = {
    val normed = emb(s, dir)
      .withColumn("nv", transform(col("v"), x => x / col("nrm")))
      .select(col("vec_id"), col("nv").as("v"))
    val sub = model.sub
    val bAll = typedlit(model.books.map(_.map(_.toSeq).toSeq).toSeq)
    val bN2All = typedlit(model.books.map(_.map(_.map(x => x * x).sum).toSeq).toSeq)
    val distCols = (0 until model.m).map { j =>
      val sv = slice(col("v"), j * sub + 1, sub)
      val scores = zip_with(element_at(bAll, j + 1), element_at(bN2All, j + 1),
        (c, n2) => lit(2.0) * dot(sv, c) - n2)
      floor((dot(sv, sv) - array_max(scores)) * 1e6 + 0.5).cast("long")
    }
    normed.select(posexplode(array(distCols: _*)).as(Seq("j", "d")))
      .groupBy("j")
      .agg(count(lit(1)).as("n_vectors"),
        sum("d").as("sum_dist_micro"),
        max("d").as("max_dist_micro"))
      .select(col("j").cast("int").as("subspace"),
        col("n_vectors"), col("sum_dist_micro"), col("max_dist_micro"))
      .orderBy("subspace")
  }

  /** s27 truncation dims — single-sourced into the oracle replay. */
  val S27Dims: Seq[Int] = Seq(8, 16, 32)

  /** s27: Matryoshka truncation evaluation (Kusupati et al.,
    * "Matryoshka Representation Learning", NeurIPS 2022): how much
    * recall survives serving only the first d dimensions of the
    * embedding? For each d the brute-force top-k is recomputed on the
    * PREFIX slice and compared against the full-dimension truth set —
    * the measurement that justifies (or vetoes) shipping truncated
    * vectors, which at 100 TB cuts index bytes and dot cost by
    * dim/d with no re-embedding.
    *
    * Scale shape: one full-dim pass (the s01 plan) plus one narrow
    * pass per truncation — each is the same broadcast-queries ×
    * corpus-stream scan with a codegen'd dot over the SLICED array;
    * the truth set (nQueries·k rows) is localCheckpoint'd and joined
    * per dim, so nothing corpus-sized is reused across passes. */
  def matryoshkaEval(s: SparkSession, dir: String,
                     nQueries: Int = 5, k: Int = 3,
                     dims: Seq[Int] = S27Dims): DataFrame = {
    val base = t(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    def topkOf(vecs: DataFrame): DataFrame = {
      val withN = vecs.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      val qs = withN.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("q_nrm"))
      val scored = withN.join(broadcast(qs), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          round(dot(col("qv"), col("v")) / (col("q_nrm") * col("nrm")), 6)
            .as("cos"))
      val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("n_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k).select("q_id", "n_id")
    }
    val full = topkOf(base).localCheckpoint() // truth set, reused per dim
    val evals = dims.map { d =>
      // both joins operate on nQueries·k-row frames — broadcast-hinted
      // so AQE can never sort-merge a query-set-sized intersection
      // (the s03 anchor-side lesson from the sf1 scale run)
      val hits = full.join(broadcast(topkOf(base.select(col("vec_id"),
          slice(col("v"), 1, d).as("v")))),
          Seq("q_id", "n_id"), "left_semi")
        .groupBy("q_id").agg(count(lit(1)).as("hits"))
      full.select("q_id").distinct()
        .join(broadcast(hits), Seq("q_id"), "left")
        .select(lit(d).as("trunc_dim"), col("q_id"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          TextOps.r4(coalesce(col("hits"), lit(0L)).cast("double") / k)
            .as("recall"))
    }
    evals.reduce(_ unionByName _).orderBy("trunc_dim", "q_id")
  }

  /** t20: reciprocal-rank-fusion hybrid retrieval — the standard way
    * (Cormack/Clarke/Buettcher, SIGIR'09) to merge a keyword ranking
    * and a vector ranking without score calibration: each system
    * contributes 1/(c + rank) for the documents on its top-k list,
    * and the fused list ranks by the sum. Keyword side:
    * [[TextOps.bm25TopK]] over `documents`; vector side: cosine to the
    * pinned query vector (vec_id 0) over `embeddings` — the synthetic
    * corpus aligns `doc_id` ≡ `vec_id` row-for-row, which is exactly
    * the id discipline a production hybrid store needs anyway.
    *
    * At 100 TB both member queries are the already-scaled designs
    * (single-row stats broadcast + TopKPerGroup capped top-k; one
    * broadcast query vector against a corpus stream); the fusion
    * itself outer-joins two k-row lists — driver-trivial. The fused
    * score is floor-rounded to 6 decimals as a fixed two-term sum, so
    * ranking is engine-exact. */
  def rrfFusion(s: SparkSession, dir: String, k: Int = 10,
                c: Double = 60.0): DataFrame = {
    val kw = TextOps.bm25TopK(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("rk").as("rk_kw"))
    val all = emb(s, dir)
    val q = all.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("q_nrm"))
    val vscored = all.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        round(dot(col("qv"), col("v")) / (col("q_nrm") * col("nrm")), 6).as("cos"))
    val vtop = graft.plans.TopKPerGroup.topKPerGroup(vscored, Seq.empty,
      Seq("cos" -> false, "doc_id" -> true), k)
    val vrank = vtop
      .withColumn("rk_vec",
        row_number().over(Window.orderBy(desc("cos"), asc("doc_id"))).cast("long"))
      .select("doc_id", "rk_vec")
    val fused = kw.join(vrank, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (floor((coalesce(lit(1.0) / (lit(c) + col("rk_kw").cast("double")), lit(0.0))
          + coalesce(lit(1.0) / (lit(c) + col("rk_vec").cast("double")), lit(0.0)))
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("rrf"))
    val ftop = graft.plans.TopKPerGroup.topKPerGroup(fused, Seq.empty,
      Seq("rrf" -> false, "doc_id" -> true), k)
    ftop.withColumn("rk",
        row_number().over(Window.orderBy(desc("rrf"), asc("doc_id"))).cast("long"))
      .select("rk", "doc_id", "rrf")
      .orderBy("rk")
  }

  /** s21: recall@k evaluation — the measurement every ANN deployment
    * runs before trusting an index: per query, what fraction of the
    * exact top-k ([[annBruteForce]], the ground truth) does the
    * approximate index ([[annIvf]], random-hyperplane buckets) return?
    * This is the quality dial the IVF/LSH knobs (nPlanes, nProbe,
    * bucketCap) are tuned against; publishing it as a first-class
    * operator makes the accuracy/cost trade auditable instead of
    * anecdotal.
    *
    * At 100 TB the cost is the two member queries (each already
    * designed for scale); the comparison itself joins two k·nQueries
    * row frames — negligible. The ratio is floor-rounded to 4 decimals
    * ([[graft.operators.TextOps.r4]] discipline) so the hash is
    * engine-exact. */
  def annRecallEval(s: SparkSession, dir: String,
                    nQueries: Int = 5, k: Int = 3): DataFrame = {
    val bf = annBruteForce(s, dir, nQueries, k).select(col("q_id"), col("n_id"))
    val iv = annIvf(s, dir, nQueries, k)
      .select(col("q_id").as("q_id2"), col("n_id").as("n_id2"))
    // both lists are k·nQueries rows by construction — always
    // broadcastable, and the window-derived size estimates would
    // otherwise demote these to sort-merge (caught by PlanGateSpec)
    val hits = bf.join(broadcast(iv),
        col("q_id") === col("q_id2") && col("n_id") === col("n_id2"))
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    bf.select("q_id").distinct()
      .join(broadcast(hits), Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (floor((coalesce(col("n_hits"), lit(0L)).cast("double") / lit(k.toDouble))
          * lit(1e4) + lit(0.5)) / lit(1e4)).as("recall"))
      .orderBy("q_id")
  }
}
