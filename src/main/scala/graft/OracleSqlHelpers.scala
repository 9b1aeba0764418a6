package graft

import graft.operators.{Checks, Curation, Dedup, Multimodal, Pca, Pinned, Sampling, Similarity, TemporalJoins, TextOps, Warehouse}

/** GENERATED-BY-SPLIT (r14): SQL builders shared across the
  * OracleSql* family objects (bucket CTEs, pinned-model literal
  * expansions, PQ score/LUT builders, recursive-CC tails, splitmix
  * replays). Verbatim moves from the monolithic SparkEntry. */
object OracleSqlHelpers {

  /** Shared CTE prefix for the integer-grid sign-LSH oracles: one
    * bucket key per (vector, table), generated so the plane components
    * stay single-sourced in [[graft.operators.Similarity.intPlane]].
    * Table `tb`'s planes are intPlane(tb·nPlanes + i) — the same
    * disjoint-offset family the engine's lshBucketInt uses. */
  private[graft] def lshBucketsCte(nTables: Int, nPlanes: Int): String = {
    val planeRows = (for { tb <- 0 until nTables; i <- 0 until nPlanes } yield
      s"($tb, $i, ${Similarity.intPlane(tb * nPlanes + i, 64).mkString("[", ", ", "]")})")
      .mkString(",\n           ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         pl(tb, i, p) AS (VALUES
           $planeRows),
         comp AS (
           SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS k FROM e),
         sums AS (
           SELECT c.vec_id, pl.tb, pl.i,
             SUM(CAST(floor(c.x * 1000000 + 0.5) AS BIGINT) * pl.p[CAST(c.k AS INT)]) AS s
           FROM comp c CROSS JOIN pl GROUP BY c.vec_id, pl.tb, pl.i),
         buckets AS (
           SELECT vec_id, tb,
             string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY i) AS bucket
           FROM sums GROUP BY vec_id, tb)"""
  }


  /** Loud-failure guard for the capped pair generators (s03/d09/s14):
    * their oracles replay the UNCAPPED pair source, valid only while
    * every bucket/cell stays at or below the engine's cap (1000). If a
    * larger or skewed dataset ever crosses it, the engine engages
    * refinement/anchor capping and the oracle would silently
    * hash-mismatch as a phantom engine bug — so the SQL asserts the
    * precondition itself and raises a self-describing error instead.
    * `sizeSql` must select one `cnt` per bucket. */
  private[graft] def capGuardCte(name: String, sizeSql: String): String = {
    val cap = Similarity.DefaultBucketCap // single-sourced with the engine cap
    s"""guard AS (
           SELECT CASE WHEN max(cnt) > $cap THEN error(
             '$name oracle precondition violated: a bucket/cell exceeds the engine cap ($cap); the engine output is anchor-capped there and this uncapped SQL replay no longer applies')
             ELSE 1 END AS ok
           FROM ($sizeSql))"""
  }


  /** The graph-beam-search tail shared by the s16/s17/s18 replays:
    * expects a prior CTE `sc(src, dst, cos)` — the candidate edge
    * stream — plus the corpus CTE `e(vec_id, v)`; emits the top-m
    * graph, the pinned-entry seed, `hops` frontier/expand/score/union
    * blocks, and the final top-k select. The t13 unrolling
    * discipline: the engine's FIXED-hop beam search is re-derived as
    * chained CTEs (one block per hop), so the oracle runs the identical
    * computation, not a re-derivation; parameters must mirror
    * [[graft.operators.Similarity.annGraph]]'s defaults. */
  /** `finalCteHeader`: empty (default) ends the statement with the
    * ranked SELECT + ORDER BY; a header like `"res AS"` (or
    * `"res AS MATERIALIZED"` for the DuckDB dialect) instead wraps the
    * ranked select as one more CTE so a caller can keep composing —
    * the s20 insert-update replay consumes the insert edges this
    * way. */
  private[graft] def graphBeamTail(m: Int = 12, beam: Int = 8,
      hops: Int = 4, k: Int = 3, nq: Int = 5, ne: Int = 4,
      qPred: String = "", entriesIn: String = "",
      finalCteHeader: String = ""): String = {
    val qWhere = if (qPred.nonEmpty) qPred else s"vec_id < $nq"
    val entries =
      if (entriesIn.nonEmpty) entriesIn else (nq until nq + ne).mkString(", ")
    val sb = new StringBuilder
    sb ++= s"""g AS (
           SELECT src, dst FROM (
             SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rk
             FROM sc) WHERE rk <= $m),
         q AS (SELECT vec_id AS q_id, v FROM e WHERE $qWhere),
         v0 AS (
           SELECT q.q_id, n.vec_id AS n_id, ${duckCos("q", "n")} AS cos
           FROM q JOIN e n ON n.vec_id IN ($entries) AND n.vec_id <> q.q_id)"""
    for (h <- 1 to hops) {
      val prev = s"v${h - 1}"
      sb ++= s""",
         f$h AS (
           SELECT q_id, n_id FROM (
             SELECT q_id, n_id,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
             FROM $prev) WHERE rk <= $beam),
         x$h AS (
           SELECT DISTINCT f.q_id, g.dst AS n_id
           FROM f$h f JOIN g ON g.src = f.n_id WHERE g.dst <> f.q_id),
         n$h AS (
           SELECT x.q_id, x.n_id, ${duckCos("q", "n")} AS cos
           FROM x$h x JOIN q ON q.q_id = x.q_id JOIN e n ON n.vec_id = x.n_id
           WHERE NOT EXISTS (
             SELECT 1 FROM $prev p WHERE p.q_id = x.q_id AND p.n_id = x.n_id)),
         v$h AS (SELECT * FROM $prev UNION ALL SELECT * FROM n$h)"""
    }
    val ranked = s"""SELECT q_id, rk, n_id, cos FROM (
           SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
           FROM v$hops) WHERE rk <= $k"""
    sb ++= (if (finalCteHeader.isEmpty) s"""
         $ranked ORDER BY q_id, rk"""
    else s""",
         $finalCteHeader ($ranked)""")
    sb.toString
  }


  private[graft] def duckCos(a: String, b: String): String =
    s"round(list_cosine_similarity($a.v, $b.v), 6)"


  /** NN-descent refinement CTEs of the s19 replay: expects
    * `cs0(id_a, id_b, cos)` — the canonical undirected scored
    * candidate set (id_a < id_b) — plus the corpus CTE `e`; emits per
    * round r the directed top-m graph `gr{r}`, the
    * neighbor-of-neighbor proposals `nn{r}` (dst pairs sharing a graph
    * src), the never-seen filter `fr{r}`, the scored fresh pairs
    * `fs{r}`, and the union `cs{r}`. Mirrors
    * [[graft.operators.Similarity.annGraphLshRefined]] block for
    * block — the t13 unrolling discipline, fixed `rounds`. The caller
    * continues from `cs{rounds}`.
    *
    * gr/cs are each referenced 2–3 times downstream, and DuckDB 1.0
    * INLINES multi-referenced CTEs — without AS MATERIALIZED the
    * expansion tree re-runs the bucket self-join per reference and the
    * sf0.01 replay goes from 1.2 s to >300 s (measured r10). The caller
    * should mark its `cs0` the same way. */
  private[graft] def nnDescentCtes(rounds: Int): String = {
    val m = operators.Similarity.GraphM
    (1 to rounds).map { r =>
      val prev = s"cs${r - 1}"
      s"""gr$r AS MATERIALIZED (
           SELECT src, dst FROM (
             SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rk
             FROM (SELECT id_a AS src, id_b AS dst, cos FROM $prev
                   UNION ALL SELECT id_b, id_a, cos FROM $prev))
           WHERE rk <= $m),
         nn$r AS (
           SELECT DISTINCT g1.dst AS id_a, g2.dst AS id_b
           FROM gr$r g1 JOIN gr$r g2
             ON g1.src = g2.src AND g1.dst < g2.dst),
         fr$r AS (
           SELECT n.id_a, n.id_b FROM nn$r n
           WHERE NOT EXISTS (
             SELECT 1 FROM $prev c
             WHERE c.id_a = n.id_a AND c.id_b = n.id_b)),
         fs$r AS (
           SELECT f.id_a, f.id_b, ${duckCos("ea", "eb")} AS cos
           FROM fr$r f JOIN e ea ON ea.vec_id = f.id_a
           JOIN e eb ON eb.vec_id = f.id_b),
         cs$r AS MATERIALIZED (SELECT * FROM $prev UNION ALL SELECT * FROM fs$r)"""
    }.mkString(",\n         ")
  }


  /** s18: the incremental-insert replay — the s17 bucket CTEs
    * restricted to the ingested corpus (vec_id ≥ splitId), the batch
    * (vec_id < splitId) as the query set, entries = the smallest
    * ingested ids, k = m (the edge selection). Every split/entry/k
    * literal derives from the Similarity.S18* / GraphM constants —
    * the engine's own defaults — so a default change cannot desync
    * the replay (the DefaultBucketCap discipline). */
  /** The s18 candidate chain (buckets → guard → pairs → scores →
    * directed edges over the INGESTED corpus), shared by the s18 and
    * s20 replays — `guardName` is the only per-query difference. The
    * multi-referenced cs/sc are MATERIALIZED (the DuckDB inlining
    * lesson from the s19 replay: s20 reads `sc` twice). */
  private[graft] def s18DuckChain(guardName: String): String = {
    val split = operators.Similarity.S18SplitId
    s"""${lshBucketsCte(nTables = 6, nPlanes = 6)},
         ${capGuardCte(guardName,
           s"SELECT count(*) AS cnt FROM buckets WHERE vec_id >= $split GROUP BY tb, bucket")},
         cp AS (
           SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM buckets a JOIN buckets b
             ON a.tb = b.tb AND a.bucket = b.bucket AND a.vec_id < b.vec_id
           CROSS JOIN guard
           WHERE a.vec_id >= $split AND b.vec_id >= $split),
         cs AS MATERIALIZED (
           SELECT id_a, id_b, ${duckCos("ea", "eb")} AS cos
           FROM cp JOIN e ea ON ea.vec_id = cp.id_a
           JOIN e eb ON eb.vec_id = cp.id_b),
         sc AS MATERIALIZED (
           SELECT id_a AS src, id_b AS dst, cos FROM cs
           UNION ALL SELECT id_b, id_a, cos FROM cs)"""
  }


  /** Margin tail shared by the s22/s23 oracles (row_number / CAST /
    * floor only): from a `pairs(src_id, tgt_id, c)` CTE with `c` the
    * micro-scaled 6-dp cosine, per-node top-k integer sums → the
    * Artetxe–Schwenk ratio margin r4-floored before ranking → best
    * target per source. */
  private[graft] def bitextTailSql(k: Int): String =
    s"""nnx AS (
           SELECT src_id, CAST(sum(c) AS BIGINT) AS sx,
             CAST(count(*) AS BIGINT) AS nx
           FROM (SELECT src_id, c, row_number() OVER (PARTITION BY src_id
               ORDER BY c DESC, tgt_id ASC) AS r FROM pairs) rx
           WHERE r <= $k GROUP BY src_id),
         nny AS (
           SELECT tgt_id, CAST(sum(c) AS BIGINT) AS sy,
             CAST(count(*) AS BIGINT) AS ny
           FROM (SELECT tgt_id, c, row_number() OVER (PARTITION BY tgt_id
               ORDER BY c DESC, src_id ASC) AS r FROM pairs) ry
           WHERE r <= $k GROUP BY tgt_id),
         m AS (
           SELECT p.src_id, p.tgt_id, p.c,
             floor((CAST(2 * p.c AS DOUBLE) / (CAST(sx AS DOUBLE) / nx
               + CAST(sy AS DOUBLE) / ny))*1e4 + 0.5)/1e4 AS margin
           FROM pairs p JOIN nnx ON nnx.src_id = p.src_id
             JOIN nny ON nny.tgt_id = p.tgt_id)
         SELECT src_id, tgt_id, CAST(c AS DOUBLE) / 1e6 AS cos, margin FROM (
           SELECT src_id, tgt_id, c, margin,
             row_number() OVER (PARTITION BY src_id
               ORDER BY margin DESC, tgt_id ASC) AS rk
           FROM m) f
         WHERE rk = 1 ORDER BY src_id"""


  /** t22's IN-list, generated from the engine's own term list. */
  private[graft] lazy val t22TermsSql: String =
    TextOps.blocklist.map(t => s"'$t'").mkString(", ")


  /** MMR selection tail of the s24 oracle: from `cand(q_id, n_id, c)`
    * and pair sims `pc(q_id, a, b, pcos)`, k−1 unrolled greedy rounds
    * (the t13/s16 fixed-iteration discipline). The λ and 1−λ literals
    * are the ENGINE'S doubles interpolated verbatim (1−0.7 prints as
    * 0.30000000000000004 — both engines then multiply the identical
    * binary value). */
  private[graft] def mmrTailSql(k: Int, lambda: Double): String = {
    val lam = s"CAST($lambda AS DOUBLE)"
    val om = s"CAST(${1.0 - lambda} AS DOUBLE)"
    val steps = (2 to k).map { t =>
      s"""rem$t AS (
           SELECT cd.q_id, cd.n_id, cd.c FROM cand cd
           LEFT JOIN selu${t - 1} s
             ON s.q_id = cd.q_id AND s.n_id = cd.n_id
           WHERE s.n_id IS NULL),
         div$t AS (
           SELECT r.q_id, r.n_id, r.c, max(p.pcos) AS d
           FROM rem$t r JOIN selu${t - 1} s ON s.q_id = r.q_id
           JOIN pc p ON p.q_id = r.q_id AND p.a = r.n_id AND p.b = s.n_id
           GROUP BY r.q_id, r.n_id, r.c),
         pick$t AS (
           SELECT q_id, n_id, mmr, $t AS step FROM (
             SELECT q_id, n_id,
               floor(($lam*c - $om*d)*1e4 + 0.5)/1e4 AS mmr,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY floor(($lam*c - $om*d)*1e4 + 0.5)/1e4 DESC,
                   n_id ASC) AS rk
             FROM div$t) z WHERE rk = 1),
         selu$t AS (SELECT * FROM selu${t - 1}
           UNION ALL SELECT * FROM pick$t)"""
    }.mkString(",\n         ")
    s"""r0 AS (
           SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id
             ORDER BY c DESC, n_id ASC) AS rk FROM cand),
         selu1 AS (
           SELECT q_id, n_id, floor(($lam*c)*1e4 + 0.5)/1e4 AS mmr,
             1 AS step
           FROM r0 WHERE rk = 1),
         $steps
         SELECT q_id, CAST(step AS BIGINT) AS rk, n_id, mmr
         FROM selu$k ORDER BY q_id, rk"""
  }


  /** The d04 HUGEINT simhash replay CTEs (FNV-1a token hashes,
    * SplitMix64-mixed 3-gram shingles, per-bit majority → lo/hi sig
    * halves) — shared by the d04 all-pairs oracle and the d17
    * cross-split admission oracle. */
  private[graft] lazy val d04SigCtes: String =
    """WITH
         toks AS (
           SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\s+'),
             tk -> list_reduce(
               list_prepend(14695981039346656037::HUGEINT,
                 list_transform(string_split(tk, ''), c -> ord(c)::HUGEINT)),
               (h, c) -> (xor(h, c) * 1099511628211::HUGEINT)
                         % 18446744073709551616::HUGEINT)) AS th
           FROM documents
         ),
         sh_pos AS (
           SELECT doc_id, th, unnest(range(1, len(th) - 1)) AS i
           FROM toks WHERE len(th) >= 3
         ),
         sh AS (
           SELECT DISTINCT doc_id, a3 AS shingle FROM (
             SELECT doc_id,
               xor(11400714819323198485::HUGEINT, th[CAST(i AS INT)]) AS x1,
               (x1 + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS p1,
               xor(p1, p1 // 1073741824) AS t1,
               ((t1 % 4294967296) * 13787848793156543929::HUGEINT + (((t1 // 4294967296) * 13787848793156543929::HUGEINT) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT AS q1,
               xor(q1, q1 // 134217728) AS u1,
               ((u1 % 4294967296) * 10723151780598845931::HUGEINT + (((u1 // 4294967296) * 10723151780598845931::HUGEINT) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT AS r1,
               xor(r1, r1 // 2147483648) AS a1,
               xor(a1, th[CAST(i + 1 AS INT)]) AS x2,
               (x2 + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS p2,
               xor(p2, p2 // 1073741824) AS t2,
               ((t2 % 4294967296) * 13787848793156543929::HUGEINT + (((t2 // 4294967296) * 13787848793156543929::HUGEINT) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT AS q2,
               xor(q2, q2 // 134217728) AS u2,
               ((u2 % 4294967296) * 10723151780598845931::HUGEINT + (((u2 // 4294967296) * 10723151780598845931::HUGEINT) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT AS r2,
               xor(r2, r2 // 2147483648) AS a2,
               xor(a2, th[CAST(i + 2 AS INT)]) AS x3,
               (x3 + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS p3,
               xor(p3, p3 // 1073741824) AS t3,
               ((t3 % 4294967296) * 13787848793156543929::HUGEINT + (((t3 // 4294967296) * 13787848793156543929::HUGEINT) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT AS q3,
               xor(q3, q3 // 134217728) AS u3,
               ((u3 % 4294967296) * 10723151780598845931::HUGEINT + (((u3 // 4294967296) * 10723151780598845931::HUGEINT) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT AS r3,
               xor(r3, r3 // 2147483648) AS a3
             FROM sh_pos)
         ),
         bits AS (
           SELECT doc_id, b.i,
             sum(CASE WHEN (shingle // (1::HUGEINT << CAST(b.i AS INT))) % 2 = 1
                      THEN 1 ELSE -1 END) AS cnt
           FROM sh CROSS JOIN (SELECT unnest(range(0, 64)) AS i) b
           GROUP BY doc_id, b.i
         ),
         sig AS (
           SELECT doc_id,
             CAST(sum(CASE WHEN cnt >= 0 AND i < 32 THEN 1::BIGINT << CAST(i AS INT)
                           ELSE 0 END) AS BIGINT) AS lo,
             CAST(sum(CASE WHEN cnt >= 0 AND i >= 32 THEN 1::BIGINT << CAST(i - 32 AS INT)
                           ELSE 0 END) AS BIGINT) AS hi
           FROM bits GROUP BY doc_id
         )"""


  /** One splitmix64 round in DuckDB HUGEINT mod-2⁶⁴ SQL (the d04
    * form: add, xor-shift via `//`, split-form 128-bit-safe multiply),
    * aliased x/p/t/q/u/r/a with suffix `j`; `prev` is the accumulator
    * expression entering the round. */
  private[graft] def splitmixRoundSql(j: Int, prev: String, operand: String): String =
    splitmixChainSql(j.toString, prev, operand)


  /** The generalized form (string alias suffix) — the d16 minhash
    * replay runs 64 of these chains in PARALLEL inside one layer, so
    * suffixes like `p7` / `b3r1` must coexist in one SELECT. */
  private[graft] def splitmixChainSql(j: String, prev: String, operand: String): String = {
    def mulSplit(x: String, c: String) =
      s"(($x % 4294967296) * $c + ((($x // 4294967296) * $c) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT"
    s"""xor($prev, $operand) AS x$j,
             (x$j + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS p$j,
             xor(p$j, p$j // 1073741824) AS t$j,
             ${mulSplit(s"t$j", "13787848793156543929::HUGEINT")} AS q$j,
             xor(q$j, q$j // 134217728) AS u$j,
             ${mulSplit(s"u$j", "10723151780598845931::HUGEINT")} AS r$j,
             xor(r$j, r$j // 2147483648) AS a$j"""
  }


  /** t27's unrolled per-word Viterbi + backtrack as a nested-subquery
    * chain (one LAYER per step — the t26 lateral-substitution lesson),
    * parameterized on the round's piece-score CTE name. Layer grammar,
    * innermost to outermost: a pivoted SEED (w, n, len, dp_0, and one
    * s{start}_{len} score column per in-bounds substring slot, built
    * by ONE hash join against the score table — a correlated
    * subquery per slot made DuckDB's planner replay the whole chain
    * per lookup and never finish) → per position i: a CANDIDATE layer
    * (c{l}_{i} = dp_{i−l} + s{i−l+1}_{l}, NULL when the piece is out
    * of vocab or l > i) then a PICK layer (dp_i = greatest of the
    * coalesced candidates; ch_i = the smallest l attaining it — the
    * kernel's ascending-l strict-> rule) → backtrack layers walking
    * q_k = q_{k−1} − ch[q_{k−1}] → a UNION over segment slots emits
    * (piece, n); `bt` is MATERIALIZED so the 8 arms share one pass. */
  private[graft] def t27SegSql(sc: String): String =
    viterbiSegSql(sc, unkLit = None)


  /** The generator proper — `unkLit`, when set, is the serve path's
    * out-of-vocab single-character fallback (t29): the l=1 candidate
    * coalesces the missing score to it instead of going NULL. */
  private[graft] def viterbiSegSql(sc: String, unkLit: Option[String]): String = {
    val W = 8 // unroll bound; the oracle guard errors if exceeded
    val P = graft.operators.TextOps.T27MaxPieceLen
    val slots = for { st <- 1 to W; l <- 1 to P; if st + l - 1 <= W }
      yield (st, l)
    val pivots = slots.map { case (st, l) =>
      s"max(CASE WHEN p.i = $st AND p.l = $l THEN sc.s END) AS s${st}_$l"
    }.mkString(",\n               ")
    val seed =
      s"""SELECT w.w, any_value(w.n) AS n,
               any_value(length(w.w)) AS len,
               CAST(0.0 AS DOUBLE) AS dp_0,
               $pivots
             FROM words w
             JOIN (SELECT i.i, l.l
                   FROM (SELECT unnest(range(1, ${W + 1})) AS i) i
                   CROSS JOIN (SELECT unnest(range(1, ${P + 1})) AS l) l) p
               ON p.i + p.l - 1 <= length(w.w)
             LEFT JOIN $sc sc
               ON sc.piece = substr(w.w, CAST(p.i AS INT), CAST(p.l AS INT))
             GROUP BY w.w"""
    val dpChain = (1 to W).foldLeft(seed) { (inner, i) =>
      val cands = (1 to math.min(P, i)).map { l =>
        val sCol = (l, unkLit) match {
          case (1, Some(u)) => s"coalesce(s${i}_1, $u)"
          case _ => s"s${i - l + 1}_$l"
        }
        s"""CASE WHEN $i <= len THEN dp_${i - l} +
               $sCol END AS c${l}_$i"""
      }.mkString(",\n             ")
      val candLayer = s"""SELECT *,
             $cands
             FROM ($inner)"""
      val co = (1 to P).map { l =>
        if (l <= i) s"coalesce(c${l}_$i, -1e18)" else "-1e18"
      }
      val pick =
        s"""CASE WHEN $i > len THEN NULL
               WHEN ${co(0)} >= ${co(1)} AND ${co(0)} >= ${co(2)}
                 AND ${co(0)} >= ${co(3)} THEN 1
               WHEN ${co(1)} >= ${co(2)} AND ${co(1)} >= ${co(3)} THEN 2
               WHEN ${co(2)} >= ${co(3)} THEN 3
               ELSE 4 END AS ch_$i"""
      s"""SELECT *,
             CASE WHEN $i <= len THEN
               greatest(${co.mkString(", ")}) END AS dp_$i,
             $pick
             FROM ($candLayer)"""
    }
    val btSeed = s"""SELECT *, len AS q_0 FROM ($dpChain)"""
    val btChain = (1 to W).foldLeft(btSeed) { (inner, k) =>
      val chAt = (1 to W).map(j => s"WHEN ${j} THEN ch_$j").mkString(" ")
      s"""SELECT *,
             CASE WHEN q_${k - 1} > 0
               THEN CASE q_${k - 1} $chAt END END AS pick_$k,
             CASE WHEN q_${k - 1} > 0
               THEN q_${k - 1} - (CASE q_${k - 1} $chAt END)
               ELSE 0 END AS q_$k
             FROM ($inner)"""
    }
    if (unkLit.isEmpty) {
      val arms = (1 to W).map { k =>
        s"""SELECT substr(w, q_$k + 1, pick_$k) AS piece, n
             FROM bt WHERE pick_$k IS NOT NULL"""
      }.mkString("\n           UNION ALL\n           ")
      s"""SELECT piece, n FROM (
           WITH bt AS MATERIALIZED ($btChain)
           $arms)"""
    } else {
      // serve emitter (t29): per-word PIECE COUNT — one CASE sum over
      // the backtrack picks, no UNION arms
      val cnt = (1 to W)
        .map(k => s"(CASE WHEN pick_$k IS NOT NULL THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""SELECT w, CAST($cnt AS BIGINT) AS n_sub
           FROM ($btChain)"""
    }
  }


  /** m10 replay — dialect-portable: media dims re-derive from
    * `documents` exactly as the m05 oracle does; the bucket table is
    * the interpolated [[graft.operators.Multimodal.M10Buckets]]
    * VALUES list; distance and resize math mirror the engine
    * (integer products, one ln floored at 6 dp, integer division via
    * floor). */
  /** The m10 CTE chain + select body, shared with the m11 wrapper. */
  private[graft] lazy val m10Ctes: String = {
    val bucketVals = graft.operators.Multimodal.M10Buckets
      .map { case (i, w, h) => s"($i, $w, $h)" }.mkString(",")
    s"""m AS (
           SELECT doc_id AS media_id,
             CAST(64 + n_chars % 64 AS BIGINT) AS w,
             CAST(64 + n_chars % 48 AS BIGINT) AS h
           FROM documents
         ), b AS (SELECT * FROM (VALUES $bucketVals) AS v(bucket_id, bw, bh)
         ), scored AS (
           SELECT m.media_id, m.w, m.h, b.bucket_id, b.bw, b.bh,
             floor(abs(ln(CAST(m.w * b.bh AS DOUBLE)
               / CAST(m.h * b.bw AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS dist
           FROM m CROSS JOIN b
         ), best AS (
           SELECT *, row_number() OVER (PARTITION BY media_id
             ORDER BY dist, bucket_id) AS rk
           FROM scored)"""
  }


  private[graft] lazy val m10SelectBody: String =
    """SELECT media_id, bucket_id,
           CAST(bw AS INT) AS bucket_w, CAST(bh AS INT) AS bucket_h,
           CAST(CASE WHEN w * bh >= h * bw
             THEN floor(w * bh / h) ELSE bw END AS INT) AS resize_w,
           CAST(CASE WHEN w * bh >= h * bw
             THEN bh ELSE floor(h * bw / w) END AS INT) AS resize_h,
           CAST(CASE WHEN w * bh >= h * bw
             THEN floor(w * bh / h) - bw ELSE 0 END AS INT) AS crop_x,
           CAST(CASE WHEN w * bh >= h * bw
             THEN 0 ELSE floor(h * bw / w) - bh END AS INT) AS crop_y
         FROM best WHERE rk = 1"""


  /** m09 replays — the window-md5 boundary rule re-derived from the
    * text: position e (1-based) ends a chunk when the big-endian
    * unsigned first-4-bytes of md5(window) ≡ 0 mod
    * [[graft.operators.Multimodal.M09Divisor]]; chunks are the
    * lag-islands between boundaries, chunk fps are md5 of the char
    * slice. Payload bytes ARE the text's UTF-8 bytes, so char slices
    * equal byte slices only on ASCII — the DuckDB side enforces that
    * precondition with a guard CTE (the t25/t26 discipline, tightened
    * to 7 bits). Only the hex→int spelling, the unnest/explode
    * spelling, and the guard differ per dialect. */
  private[graft] def m09Sql(hexToInt: String => String, posGen: Int => String,
                     guardCte: String, guardPred: String): String = {
    val w = graft.operators.Multimodal.M09Window
    val d = graft.operators.Multimodal.M09Divisor
    s"""WITH base AS (
           SELECT doc_id AS media_id, text, length(text) AS n FROM documents
         ), $guardCte pos AS (
           SELECT media_id, text, n, ${posGen(w)} AS e
           FROM base WHERE n >= $w
         ), bounds AS (
           SELECT media_id, CAST(e AS INT) AS e FROM pos
           WHERE ${hexToInt(s"substring(md5(substring(text, CAST(e AS INT) - ${w - 1}, $w)), 1, 8)")} % $d = 0
           UNION
           SELECT media_id, CAST(n AS INT) FROM base
         ), chunks AS (
           SELECT media_id,
             coalesce(lag(e) OVER (PARTITION BY media_id ORDER BY e), 0) + 1
               AS start,
             e - coalesce(lag(e) OVER (PARTITION BY media_id ORDER BY e), 0)
               AS len
           FROM bounds
         ), fps AS (
           SELECT c.media_id, c.len,
             md5(substring(d.text, c.start, c.len)) AS fp
           FROM chunks c JOIN documents d ON d.doc_id = c.media_id
         ), cnt AS (
           SELECT fp, CAST(count(*) AS BIGINT) AS n_copies
           FROM fps GROUP BY fp
         )
         SELECT f.media_id, CAST(b.n AS BIGINT) AS n_bytes,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_chunks,
           CAST(sum(CASE WHEN n_copies > 1 THEN f.len ELSE 0 END) AS BIGINT)
             AS shared_bytes,
           floor((CAST(sum(CASE WHEN n_copies > 1 THEN f.len ELSE 0 END)
                    AS DOUBLE) / b.n)*1e4 + 0.5)/1e4 AS dup_frac
         FROM fps f JOIN cnt USING (fp) JOIN base b USING (media_id)
         $guardPred
         GROUP BY f.media_id, b.n
         ORDER BY f.media_id"""
  }


  private[graft] lazy val m09SparkSqlText: String = m09Sql(
    h => s"CAST(conv($h, 16, 10) AS BIGINT)",
    w => s"explode(sequence($w, n))",
    "", "")


  /** x18 replays — shared shape for both dialects: the Bloom
    * membership test WITHOUT bit arithmetic. A bit at position p is
    * set iff ANY benchmark doc maps one of its slices there, so
    * `bloom_hit` = all [[graft.operators.Dedup.X18K]] positions ∈ the
    * distinct benchmark-position set — provably ≡ the engine's
    * word/mask test (same positions, same membership). Positions are
    * the same disjoint 40-bit md5-hex slices mod
    * [[graft.operators.Dedup.X18Bits]]; only the hex→int spelling
    * differs per dialect (DuckDB `'0x' ||` cast, Spark `conv`). */
  private[graft] def x18Sql(hexToInt: String => String, gFlag: String,
                     ws: String): String = {
    val m = graft.operators.Dedup.X18Bits
    val k = graft.operators.Dedup.X18K
    require(k == 3, "the x18 replay joins exactly 3 probe slices")
    def posSql(j: Int) =
      s"${hexToInt(s"substring(fp, ${1 + 10 * (j - 1)}, 10)")} % $m AS p$j"
    val benchArms = (1 to k)
      .map(j => s"SELECT p$j AS pos FROM pos WHERE split = 'test'")
      .mkString("\n             UNION ALL ")
    val allHit = (1 to k).map(j => s"s$j.pos IS NOT NULL").mkString(" AND ")
    val setJoins = (1 to k)
      .map(j => s"LEFT JOIN setbits s$j ON s$j.pos = c.p$j")
      .mkString("\n         ")
    s"""WITH base AS (
           SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '$ws', ' '$gFlag))) AS fp,
             CASE WHEN substring(md5(CAST(doc_id AS STRING)), 1, 2) < '0d'
                    THEN 'test'
                  WHEN substring(md5(CAST(doc_id AS STRING)), 1, 2) < '1a'
                    THEN 'val'
                  ELSE 'train' END AS split
           FROM documents
         ), pos AS (
           SELECT doc_id, fp, split,
             ${(1 to k).map(posSql).mkString(",\n             ")}
           FROM base
         ), setbits AS (
           SELECT DISTINCT pos FROM (
             $benchArms)
         ), bfp AS (
           SELECT fp, CAST(count(*) AS BIGINT) AS n_bench
           FROM base WHERE split = 'test' GROUP BY fp
         )
         SELECT c.doc_id,
           ($allHit) AS bloom_hit,
           b.fp IS NOT NULL AS exact_hit,
           ($allHit AND b.fp IS NULL) AS is_fp,
           CAST(coalesce(b.n_bench, 0) AS BIGINT) AS n_bench_matches
         FROM pos c
         $setJoins
         LEFT JOIN bfp b ON b.fp = c.fp
         ORDER BY c.doc_id"""
  }


  private[graft] lazy val x18SparkSqlText: String =
    x18Sql(h => s"CAST(conv($h, 16, 10) AS BIGINT)", "", "\\\\s+")


  /** t26 DuckDB replay — the engine's window fingerprint
    * (FNV-1a token hashes chained through w splitmix64 rounds,
    * [[graft.operators.TextOps.spanCoverage]]'s kernel) re-derived
    * exactly: the d04 toks CTE provides the HUGEINT token hashes and
    * the chain is UNROLLED w rounds by [[splitmixRoundSql]] — one
    * NESTED SUBQUERY LAYER per round, because DuckDB expands
    * same-SELECT lateral aliases by substitution and a 16-round chain
    * in one SELECT would blow up ~32^16 expressions (the d04 3-round
    * chain is the safe ceiling for the single-SELECT form); each
    * layer materializes its accumulator once. Duplication is
    * fingerprint-count ≥ 2 corpus-wide, coverage via the q19/q33
    * gaps-and-islands running max. Width from
    * [[graft.operators.TextOps.T26Width]]. */
  /** The shared t26/d14 window-fingerprint CTE prefix (toks → guard →
    * base → wins → dup → marked): both oracles re-derive the stride-1
    * duplicated windows identically; only the reporting tail differs
    * (coverage fraction vs maximal spans). */
  private[graft] lazy val t26MarkedCtes: String = {
    val w = graft.operators.TextOps.T26Width
    val innermost =
      s"""SELECT doc_id, th, unnest(range(1, n_tokens - $w + 2)) AS i
                   FROM base WHERE n_tokens >= $w"""
    val chained = (1 to w).foldLeft(innermost) { (inner, j) =>
      val prev = if (j == 1) "11400714819323198485::HUGEINT" else s"a${j - 1}"
      s"""SELECT doc_id, th, i,
             ${splitmixRoundSql(j, prev, s"th[CAST(i + ${j - 1} AS INT)]")}
             FROM ($inner)"""
    }
    s"""WITH toks AS (
           SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\\s+'),
             tk -> list_reduce(
               list_prepend(14695981039346656037::HUGEINT,
                 list_transform(string_split(tk, ''), c -> ord(c)::HUGEINT)),
               (h, c) -> (xor(h, c) * 1099511628211::HUGEINT)
                         % 18446744073709551616::HUGEINT)) AS th
           FROM documents
         ), guard AS MATERIALIZED (
           SELECT CASE WHEN max(ord(c)) > 65535
             THEN CAST(error('t26 BMP bound: non-BMP code point desyncs the fnv64 replay (UTF-16 units vs code points)') AS INT)
             ELSE 1 END AS ok
           FROM (SELECT unnest(string_split(text, '')) AS c FROM documents)
         ), base AS (
           SELECT doc_id, th, len(th) AS n_tokens FROM toks
         ), wins AS (
           SELECT doc_id, CAST(i AS INT) - 1 AS i, a$w AS fp
           FROM ($chained)
         ), dup AS (
           SELECT fp FROM wins GROUP BY fp HAVING count(*) >= 2
         ), marked AS (
           SELECT wi.doc_id, wi.i, wi.i + $w - 1 AS e
           FROM wins wi JOIN dup USING (fp)
         )"""
  }


  /** s25 oracle tail: graded gains from the exact ranking, MRR + nDCG
    * with the ENGINE'S discount/ideal doubles interpolated verbatim
    * (Similarity.ndcgDiscount/ndcgIdeal). */
  private[graft] def rankEvalTailSql(bfSql: String, ivSql: String): String = {
    val k = 3
    val gains = (1 to k).map(i =>
      s"max(CASE WHEN ap_rk = $i THEN gain END) AS g$i").mkString(",\n             ")
    val dcg = (1 to k).map(i =>
      s"CAST(coalesce(g$i, 0) AS DOUBLE)*${Similarity.ndcgDiscount(i)}")
      .mkString(" + ")
    s"""WITH j AS (
           SELECT iv.q_id, iv.rk AS ap_rk,
             coalesce(${k + 1} - bf.rk, 0) AS gain,
             CASE WHEN bf.rk = 1 THEN iv.rk END AS t1
           FROM ($ivSql) iv LEFT JOIN ($bfSql) bf
             ON bf.q_id = iv.q_id AND bf.n_id = iv.n_id
         ), per AS (
           SELECT q_id,
             $gains,
             min(t1) AS t1pos
           FROM j GROUP BY q_id)
         SELECT q_id,
           floor(coalesce(CAST(1 AS DOUBLE) / t1pos, 0.0)*1e4 + 0.5)/1e4
             AS mrr,
           floor((($dcg) / ${Similarity.ndcgIdeal(k)})*1e4 + 0.5)/1e4
             AS ndcg
         FROM per ORDER BY q_id"""
  }


  /** `Σ v[d]²` unrolled — the L2 norm both ANN oracles divide by,
    * in the codegen'd dot's sequential order. */
  private[graft] lazy val unrolledNorm: String =
    (1 to 64).map(d => s"v[$d]*v[$d]").mkString(" + ")


  /** Unrolled per-centroid dot list over the normalized vector `sv` —
    * the shared assignment/probe arithmetic of s05/s10/s14 (one term
    * order for all three, the codegen'd dot's sequential order). */
  private[graft] def centroidDotsList(cents: Array[Array[Double]]): String =
    cents.map { c =>
      s"(${c.indices.map(d => s"sv[${d + 1}]*(${c(d)})").mkString(" + ")})"
    }.mkString("[", ",\n             ", "]")


  /** The d05-class connected-components tail shared by d09/s14: edges
    * from a `pairs(id_a, id_b)` CTE, reach/min recursive closure,
    * (vec_id, cluster) out. Callers must open WITH RECURSIVE. */
  private[graft] val ccTailSql: String =
    s"""edges AS (
           SELECT id_a AS a, id_b AS b FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
         nodes AS (SELECT DISTINCT a AS n FROM edges),
         reach(n, m) AS (
           SELECT n, n FROM nodes
           UNION
           SELECT r.n, e2.b FROM reach r JOIN edges e2 ON r.m = e2.a)
         SELECT n AS vec_id, min(m) AS cluster FROM reach
         GROUP BY n ORDER BY vec_id"""


  // --- shared builders for the PQ-family oracles (s09/s10/s11/s13) ---

  /** Per-subspace encode scores over vector column `vc` (optionally
    * with per-element expressions via `elem`): 2⟨x_j, B_jc⟩ − ‖B_jc‖²,
    * the ‖·‖² constants baked with the same sequential sum the engine
    * uses. */
  private[graft] def pqScoreCols(books: Array[Array[Array[Double]]], sub: Int,
                          elem: (Int) => String): String = {
    def scores(j: Int): String = books(j).map { c =>
      val n2 = c.map(x => x * x).sum
      val d = c.indices.map(i => s"${elem(j * sub + i + 1)}*(${c(i)})").mkString(" + ")
      s"2.0*($d) - ($n2)"
    }.mkString("[", ",\n             ", "]")
    books.indices.map(j => s"${scores(j)} AS s$j").mkString(",\n           ")
  }


  private[graft] def pqCodesList(m: Int): String =
    (0 until m).map(j => s"list_position(s$j, list_max(s$j)) - 1")
      .mkString("[", ", ", "]")


  /** Query-side ADC lookup table: lut[j][c] = ⟨q_sub_j, B_jc⟩ with the
    * engine's centroid-first product order. */
  private[graft] def pqLutList(books: Array[Array[Array[Double]]], sub: Int,
                        vc: String): String = {
    def lutJ(j: Int): String = books(j).map { c =>
      s"(${c.indices.map(i => s"(${c(i)})*$vc[${j * sub + i + 1}]").mkString(" + ")})"
    }.mkString("[", ",\n             ", "]")
    books.indices.map(lutJ).mkString("[", ",\n           ", "]")
  }


  /** ADC sum: m LUT picks folded in subspace order (the fold starts at
    * 0.0, so the plain left-associative chain matches it exactly). */
  private[graft] def pqApprox(m: Int): String =
    (1 to m).map(j => s"q.lut[$j][c.codes[$j]+1]").mkString(" + ")


  /** Shared tail: top-`rerank` ADC candidates per query, exact-dot
    * re-rank over vector column `vc` of CTE `n`, top-3. */
  private[graft] def pqRerankTail(rerank: Int, vc: String): String =
    s"""cand AS (SELECT q_id, n_id FROM (
           SELECT q_id, n_id,
             row_number() OVER (PARTITION BY q_id ORDER BY approx DESC, n_id ASC) AS crk
           FROM scored) WHERE crk <= $rerank),
         ex AS (
           SELECT cand.q_id, cand.n_id,
             round(${(1 to 64).map(d => s"qn.$vc[$d]*an.$vc[$d]").mkString(" + ")}, 6) AS cos
           FROM cand
           JOIN n an ON an.vec_id = cand.n_id
           JOIN n qn ON qn.vec_id = cand.q_id)
         SELECT q_id, rk, n_id, cos FROM (
           SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
           FROM ex)
         WHERE rk <= 3 ORDER BY q_id, rk"""


}
