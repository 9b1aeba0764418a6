package graft

import graft.operators.{Checks, Curation, Dedup, Multimodal, Pca, Pinned, Sampling, Similarity, TemporalJoins, TextOps, Warehouse}

/** GENERATED-BY-SPLIT (r14, from the monolithic SparkEntry): the
  * DuckDB oracle SQL and hand-written Spark-dialect forms for the
  * similarity/ANN (s*) queries —
  * [[SparkEntry.oracleSql]]/[[SparkEntry.sparkSql]] compose the
  * family maps; shared SQL builders live in [[OracleSqlHelpers]].
  * The SQL texts are verbatim moves — the r14 split diffed the
  * composed maps byte-for-byte against the pre-split dump. */
object OracleSqlSim {
  import OracleSqlHelpers._

  /** The s12 oracle, generated so the 4×64(+64) fixture components
    * stay single-sourced in [[graft.operators.Pca.pinnedModel]]. */
  private[graft] lazy val s12OracleSql: String = {
    val m = Pca.pinnedModel
    def pcExpr(w: Array[Double]): String =
      (0 until 64).map(d => s"(v[${d + 1}] - (${m.mean(d)}))*(${w(d)})")
        .mkString(" + ")
    val cols = m.components.zipWithIndex.map { case (w, i) =>
      s"round(${pcExpr(w)}, 4) AS pc${i + 1}"
    }.mkString(",\n           ")
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings)
         SELECT vec_id, label,
           $cols
         FROM e ORDER BY vec_id"""
  }


  /** s16: the brute-force graph replay — every ordered pair scored as
    * the candidate edge stream, then [[graphBeamTail]]. */
  private[graft] lazy val s16OracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         sc AS (
           SELECT a.vec_id AS src, b.vec_id AS dst, ${duckCos("a", "b")} AS cos
           FROM e a JOIN e b ON a.vec_id <> b.vec_id),
         ${graphBeamTail()}"""


  /** s17: the LSH-built graph — candidate edges from the SAME
    * integer-grid multi-table buckets the s03 family replays
    * ([[lshBucketsCte]], nTables=6 × nPlanes=6), then the identical
    * beam tail as s16. The guard asserts the uncapped-replay
    * precondition exactly like s03's. */
  private[graft] lazy val s17OracleSql: String =
    s"""WITH ${lshBucketsCte(nTables = 6, nPlanes = 6)},
         ${capGuardCte("s17",
           "SELECT count(*) AS cnt FROM buckets GROUP BY tb, bucket")},
         cp AS (
           SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM buckets a JOIN buckets b
             ON a.tb = b.tb AND a.bucket = b.bucket AND a.vec_id < b.vec_id
           CROSS JOIN guard),
         cs AS (
           SELECT id_a, id_b, ${duckCos("ea", "eb")} AS cos
           FROM cp JOIN e ea ON ea.vec_id = cp.id_a
           JOIN e eb ON eb.vec_id = cp.id_b),
         sc AS (
           SELECT id_a AS src, id_b AS dst, cos FROM cs
           UNION ALL SELECT id_b, id_a, cos FROM cs),
         ${graphBeamTail()}"""


  /** s19: the refined-graph replay — s17's bucket candidates as
    * `cs0`, then the unrolled NN-descent rounds ([[nnDescentCtes]],
    * S19Rounds fixed), then the identical beam tail over the refined
    * graph. */
  private[graft] lazy val s19OracleSql: String =
    s"""WITH ${lshBucketsCte(nTables = 6, nPlanes = 6)},
         ${capGuardCte("s19",
           "SELECT count(*) AS cnt FROM buckets GROUP BY tb, bucket")},
         cp AS (
           SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM buckets a JOIN buckets b
             ON a.tb = b.tb AND a.bucket = b.bucket AND a.vec_id < b.vec_id
           CROSS JOIN guard),
         cs0 AS MATERIALIZED (
           SELECT id_a, id_b, ${duckCos("ea", "eb")} AS cos
           FROM cp JOIN e ea ON ea.vec_id = cp.id_a
           JOIN e eb ON eb.vec_id = cp.id_b),
         ${nnDescentCtes(operators.Similarity.S19Rounds)},
         sc AS (
           SELECT id_a AS src, id_b AS dst, cos
           FROM cs${operators.Similarity.S19Rounds}
           UNION ALL SELECT id_b, id_a, cos
           FROM cs${operators.Similarity.S19Rounds}),
         ${graphBeamTail()}"""


  private[graft] lazy val s18OracleSql: String = {
    val split = operators.Similarity.S18SplitId
    val entries = (split until split + operators.Similarity.S18NEntries)
      .mkString(", ")
    s"""WITH ${s18DuckChain("s18")},
         ${graphBeamTail(k = operators.Similarity.GraphM,
           qPred = s"vec_id < $split", entriesIn = entries)}"""
  }


  /** s20: the reciprocal-update replay — the s18 chain, the insert
    * edges wrapped as a CTE (`res`), then each affected old node's
    * re-ranked top-m over (its degree-capped old edges ∪ incoming
    * new edges). Mirrors
    * [[graft.operators.Similarity.annGraphInsertRecip]]. */
  private[graft] lazy val s20OracleSql: String = {
    val split = operators.Similarity.S18SplitId
    val entries = (split until split + operators.Similarity.S18NEntries)
      .mkString(", ")
    val m = operators.Similarity.GraphM
    s"""WITH ${s18DuckChain("s20")},
         ${graphBeamTail(k = m, qPred = s"vec_id < $split", entriesIn = entries,
           finalCteHeader = "res AS MATERIALIZED")},
         inc AS MATERIALIZED (
           SELECT n_id AS src, q_id AS dst, cos FROM res),
         oldg AS (
           SELECT src, dst, cos FROM (
             SELECT src, dst, cos,
               row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rk
             FROM sc) WHERE rk <= $m),
         uni AS (
           SELECT * FROM oldg UNION ALL SELECT * FROM inc),
         aff AS (SELECT DISTINCT src FROM inc)
         SELECT n_id, rk, dst, cos FROM (
           SELECT u.src AS n_id, u.dst AS dst, u.cos AS cos,
             row_number() OVER (PARTITION BY u.src ORDER BY u.cos DESC, u.dst ASC) AS rk
           FROM uni u JOIN aff a ON a.src = u.src) WHERE rk <= $m
         ORDER BY n_id, rk"""
  }


  private[graft] lazy val s03OracleSql: String =
    s"""WITH ${lshBucketsCte(nTables = 1, nPlanes = 6)},
         ${capGuardCte("s03",
           "SELECT count(*) AS cnt FROM buckets GROUP BY tb, bucket")}
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(ea.v, eb.v), 6) AS cos
         FROM buckets a JOIN buckets b
           ON a.tb = b.tb AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         JOIN e ea ON ea.vec_id = a.vec_id
         JOIN e eb ON eb.vec_id = b.vec_id
         CROSS JOIN guard
         WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.3
         ORDER BY id_a, id_b"""


  /** s03c: the anchor-star CAPPED pair set as a pure function the
    * oracle replays — buckets from the integer-grid planes (nPlanes=4),
    * anchors from the PINNED fixture (Pinned.s03cAnchors: the engine's
    * xxhash64-sampled anchor ids at sf0.01 plus every bucket min,
    * proven == runtime selection by PinnedModelsSpec), pairs = anchor ×
    * bucket, dedup'd on (id_a, id_b). The guard is the INVERSE of
    * [[capGuardCte]]: it errors if NO bucket exceeds the cap (8), i.e.
    * if the capped regime this query exists to verify is not engaged. */
  private[graft] lazy val s03cOracleSql: String = {
    val anchors = Pinned.s03cAnchors.mkString(", ")
    s"""WITH ${lshBucketsCte(nTables = 1, nPlanes = 4)},
         guard AS (
           SELECT CASE WHEN max(cnt) <= 8 THEN error(
             's03c precondition violated: every bucket is at or below the cap (8) - the anchor-star capped regime is not engaged and this query no longer verifies it')
             ELSE 1 END AS ok
           FROM (SELECT count(*) AS cnt FROM buckets GROUP BY tb, bucket)),
         pairs AS (
           SELECT DISTINCT least(a.vec_id, b.vec_id) AS id_a,
             greatest(a.vec_id, b.vec_id) AS id_b,
             round(list_cosine_similarity(ea.v, eb.v), 6) AS cos
           FROM buckets a JOIN buckets b
             ON a.tb = b.tb AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
           JOIN e ea ON ea.vec_id = a.vec_id
           JOIN e eb ON eb.vec_id = b.vec_id
           CROSS JOIN guard
           WHERE a.vec_id IN ($anchors))
         SELECT id_a, id_b, cos FROM pairs
         WHERE cos >= 0.3 ORDER BY id_a, id_b"""
  }


  /** s24: MMR re-ranking over the s01-shape top-10 candidates. */
  private[graft] lazy val s24OracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         sc AS (
           SELECT q.vec_id AS q_id, a.vec_id AS n_id,
             round(list_cosine_similarity(q.v, a.v), 6) AS c
           FROM e q JOIN e a ON a.vec_id <> q.vec_id
           WHERE q.vec_id < 5),
         cand AS (
           SELECT q_id, n_id, c FROM (
             SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id
               ORDER BY c DESC, n_id ASC) AS crk FROM sc) z
           WHERE crk <= ${Similarity.MmrCand}),
         pc AS (
           SELECT x.q_id, x.n_id AS a, y.n_id AS b,
             round(list_cosine_similarity(ex.v, ey.v), 6) AS pcos
           FROM cand x JOIN cand y
             ON y.q_id = x.q_id AND y.n_id <> x.n_id
           JOIN e ex ON ex.vec_id = x.n_id
           JOIN e ey ON ey.vec_id = y.n_id),
         ${mmrTailSql(k = Similarity.MmrK, lambda = Similarity.MmrLambda)}"""


  /** s22: exact all-pairs bitext margins — cross-side cosines lifted
    * to integer micros, the shared [[bitextTailSql]] margin tail. */
  private[graft] lazy val s22OracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         lab AS (SELECT vec_id, label % 2 AS par FROM embeddings),
         pairs AS (
           SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
             CAST(floor(round(list_cosine_similarity(es.v, et.v), 6)*1e6 + 0.5)
               AS BIGINT) AS c
           FROM lab s, lab t, e es, e et
           WHERE s.par = 0 AND t.par = 1
             AND es.vec_id = s.vec_id AND et.vec_id = t.vec_id),
         ${bitextTailSql(k = Similarity.BitextK)}"""


  /** s23: the LSH twin — candidates from the d09-regime bucket replay
    * (12 tables × 8 integer-grid planes, no threshold), cross-side
    * re-orientation by label parity, same margin tail. */
  private[graft] lazy val s23OracleSql: String =
    s"""WITH ${lshBucketsCte(nTables = 12, nPlanes = 8)},
         ${capGuardCte("s23",
           "SELECT count(*) AS cnt FROM buckets GROUP BY tb, bucket")},
         cand AS (
           SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(floor(round(list_cosine_similarity(ea.v, eb.v), 6)*1e6 + 0.5)
               AS BIGINT) AS c
           FROM buckets a JOIN buckets b
             ON a.tb = b.tb AND a.bucket = b.bucket AND a.vec_id < b.vec_id
           JOIN e ea ON ea.vec_id = a.vec_id
           JOIN e eb ON eb.vec_id = b.vec_id
           CROSS JOIN guard),
         lab AS (SELECT vec_id, label % 2 AS par FROM embeddings),
         pairs AS (
           SELECT CASE WHEN la.par = 0 THEN id_a ELSE id_b END AS src_id,
                  CASE WHEN la.par = 0 THEN id_b ELSE id_a END AS tgt_id, c
           FROM cand JOIN lab la ON la.vec_id = cand.id_a
             JOIN lab lb ON lb.vec_id = cand.id_b
           WHERE la.par <> lb.par),
         ${bitextTailSql(k = Similarity.BitextK)}"""


  private[graft] lazy val s04OracleSql: String =
    s"""WITH ${lshBucketsCte(nTables = 1, nPlanes = 4)},
         scored AS (
           SELECT q.vec_id AS q_id, a.vec_id AS n_id,
             round(list_cosine_similarity(qe.v, ae.v), 6) AS cos
           FROM buckets q
           JOIN buckets a
             ON a.tb = q.tb AND a.bucket = q.bucket AND a.vec_id <> q.vec_id
           JOIN e qe ON qe.vec_id = q.vec_id
           JOIN e ae ON ae.vec_id = a.vec_id
           WHERE q.vec_id < 5)
         SELECT q_id, rk, n_id, cos FROM (
           SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
           FROM scored)
         WHERE rk <= 3 ORDER BY q_id, rk"""


  /** s33 replay — [[s04OracleSql]] with the label equality folded
    * into the candidate join (the pre-filter rides the index key). */
  private[graft] lazy val s33OracleSql: String =
    s"""WITH ${lshBucketsCte(nTables = 1, nPlanes = 4)},
         lab AS (SELECT vec_id, label FROM embeddings),
         scored AS (
           SELECT q.vec_id AS q_id, ql.label, a.vec_id AS n_id,
             round(list_cosine_similarity(qe.v, ae.v), 6) AS cos
           FROM buckets q
           JOIN lab ql ON ql.vec_id = q.vec_id
           JOIN buckets a
             ON a.tb = q.tb AND a.bucket = q.bucket AND a.vec_id <> q.vec_id
           JOIN lab al ON al.vec_id = a.vec_id AND al.label = ql.label
           JOIN e qe ON qe.vec_id = q.vec_id
           JOIN e ae ON ae.vec_id = a.vec_id
           WHERE q.vec_id < 5)
         SELECT q_id, label, rk, n_id, cos FROM (
           SELECT q_id, label, n_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
           FROM scored)
         WHERE rk <= 3 ORDER BY q_id, rk"""


  /** s38 replay — the s05 pinned-centroid machinery swept over probe
    * widths: per-query cell ranks from the SAME unrolled centroid-dot
    * list (dot DESC, cell ASC — topCells' struct sort), corpus scored
    * once at full width, arms as crank filters, truth as the
    * exhaustive normalized-dot top-k. Probes/centroids interpolated
    * from Similarity/Pinned — the oracle cannot sweep a grid the
    * engine doesn't. */
  private[graft] lazy val s38OracleSql: String = {
    val cents = Pinned.ivfCentroids
    val dts = centroidDotsList(cents)
    val probes = graft.operators.Similarity.S38Probes
    val nCent = cents.length
    val nPossible = 5 * 3
    val pairDot = (1 to 64).map(d => s"q.sv[$d]*a.sv[$d]").mkString(" + ")
    val arms = probes.map { p =>
      s"""SELECT $p AS nprobe, CAST(count(*) AS BIGINT) AS n_hits
           FROM (
             SELECT q_id, n_id FROM (
               SELECT q_id, n_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY cos DESC, n_id ASC) AS rk
               FROM sc WHERE crank <= $p)
             WHERE rk <= 3) got
           JOIN truth t ON got.q_id = t.q_id AND got.n_id = t.n_id"""
    }.mkString("\n           UNION ALL\n           ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n0 AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt($unrolledNorm)) AS sv FROM e),
         asg AS (SELECT vec_id, sv,
                 CAST(list_position(dts, list_max(dts)) - 1 AS INT) AS c
               FROM (SELECT vec_id, sv, $dts AS dts FROM n0)),
         qd AS (SELECT vec_id AS q_id, sv, dts
                FROM (SELECT vec_id, sv, $dts AS dts FROM n0)
                WHERE vec_id < 5),
         qcells AS (
           SELECT q_id, cell,
             row_number() OVER (PARTITION BY q_id
               ORDER BY d DESC, cell ASC) AS crank
           FROM (SELECT q_id, CAST(i.i AS INT) AS cell,
                   dts[CAST(i.i AS INT) + 1] AS d
                 FROM qd, (SELECT unnest(range(0, $nCent)) AS i) i)),
         sc AS (
           SELECT qc.q_id, a.vec_id AS n_id, qc.crank,
             round($pairDot, 6) AS cos
           FROM asg a
           JOIN qcells qc ON a.c = qc.cell
           JOIN qd q ON q.q_id = qc.q_id
           WHERE a.vec_id <> qc.q_id),
         truth AS (
           SELECT q_id, n_id FROM (
             SELECT q.q_id, a.vec_id AS n_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY round($pairDot, 6) DESC, a.vec_id ASC) AS rk
             FROM n0 a JOIN qd q ON a.vec_id <> q.q_id)
           WHERE rk <= 3)
         SELECT nprobe, n_hits, CAST($nPossible AS BIGINT) AS n_possible,
           CAST(floor(CAST(n_hits AS DOUBLE) * 1000.0 / $nPossible.0 + 0.5)
             AS BIGINT) AS recall_milli
         FROM (
           $arms)
         ORDER BY nprobe"""
  }

  /** s34 replay — the s05 pinned-cell assignment on BOTH splits (s32's
    * floor(max·frac) cut replayed as a scalar CTE), batch probes only
    * its own cell's stored rows, cosine is the s05 normalized-sum
    * discipline at 6 dp, verdict = LEFT join of batch ids onto the
    * rk=1 blocking match (admitted rows coalesce to -1/-1.0/0). */
  private[graft] lazy val s34OracleSql: String = {
    val dts = centroidDotsList(Pinned.ivfCentroids)
    val frac = graft.operators.Similarity.S34SplitFrac
    val thr = graft.operators.Similarity.S34Threshold
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n0 AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt($unrolledNorm)) AS sv FROM e),
         cutv AS (SELECT CAST(floor(max(vec_id) * $frac) AS BIGINT) AS c
                  FROM embeddings),
         asg AS (SELECT vec_id, sv,
                 CAST(list_position(dts, list_max(dts)) - 1 AS INT) AS cell
               FROM (SELECT vec_id, sv, $dts AS dts FROM n0)),
         b AS (SELECT a.* FROM asg a, cutv WHERE a.vec_id >= cutv.c),
         st AS (SELECT a.* FROM asg a, cutv WHERE a.vec_id < cutv.c),
         matched AS (
           SELECT * FROM (
             SELECT b.vec_id AS vec_id, st.vec_id AS store_id,
               round(${(1 to 64).map(d => s"b.sv[$d]*st.sv[$d]").mkString(" + ")}, 6) AS cos
             FROM b JOIN st ON b.cell = st.cell)
           WHERE cos >= $thr),
         best AS (
           SELECT vec_id, store_id, cos, n_near FROM (
             SELECT vec_id, store_id, cos,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY cos DESC, store_id ASC) AS rk,
               CAST(count(*) OVER (PARTITION BY vec_id) AS BIGINT) AS n_near
             FROM matched) WHERE rk = 1)
       SELECT b.vec_id,
         best.vec_id IS NULL AS admit,
         coalesce(best.store_id, -1) AS best_match,
         coalesce(best.cos, -1.0) AS cos,
         coalesce(best.n_near, 0) AS n_near
       FROM b LEFT JOIN best ON b.vec_id = best.vec_id
       ORDER BY b.vec_id"""
  }


  /** s37 replay — the shared integer-grid bucket CTE, the segment
    * (S37InsertMod) and tombstone (S28TombMod) predicates
    * interpolated from the engine constants, ONE grouped count per
    * bucket — the oracle cannot tag a segment the engine doesn't. */
  private[graft] lazy val s37OracleSql: String = {
    val im = Similarity.S37InsertMod; val ir = Similarity.S37InsertResidue
    val tm = Similarity.S28TombMod; val tr = Similarity.S28TombResidue
    s"""WITH ${lshBucketsCte(nTables = 1, nPlanes = 4)},
         seg AS (
           SELECT bucket,
             vec_id % $im = $ir AS is_insert,
             vec_id % $tm = $tr AS is_dead
           FROM buckets)
         SELECT bucket,
           CAST(sum(CASE WHEN NOT is_insert THEN 1 ELSE 0 END) AS BIGINT)
             AS n_base,
           CAST(sum(CASE WHEN is_insert THEN 1 ELSE 0 END) AS BIGINT)
             AS n_inserts,
           CAST(sum(CASE WHEN is_dead THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dead,
           CAST(sum(CASE WHEN NOT is_dead THEN 1 ELSE 0 END) AS BIGINT)
             AS n_live
         FROM seg GROUP BY bucket ORDER BY bucket"""
  }


  /** s28 replay — [[s04OracleSql]] with the serve-time tombstone
    * predicate on the CANDIDATE side of the bucket join (queries stay
    * external); modulus/residue interpolate from
    * [[graft.operators.Similarity.S28TombMod]]. */
  private[graft] lazy val s28OracleSql: String = {
    val m = graft.operators.Similarity.S28TombMod
    val r = graft.operators.Similarity.S28TombResidue
    s"""WITH ${lshBucketsCte(nTables = 1, nPlanes = 4)},
         scored AS (
           SELECT q.vec_id AS q_id, a.vec_id AS n_id,
             round(list_cosine_similarity(qe.v, ae.v), 6) AS cos
           FROM buckets q
           JOIN buckets a
             ON a.tb = q.tb AND a.bucket = q.bucket AND a.vec_id <> q.vec_id
             AND a.vec_id % $m <> $r
           JOIN e qe ON qe.vec_id = q.vec_id
           JOIN e ae ON ae.vec_id = a.vec_id
           WHERE q.vec_id < 5)
         SELECT q_id, rk, n_id, cos FROM (
           SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
           FROM scored)
         WHERE rk <= 3 ORDER BY q_id, rk"""
  }


  /** s29 replay — the s04 bucket assignment ([[lshBucketsCte]],
    * nTables=1) reduced to cell occupancies; all-integer metrics plus
    * one milli-floored float (the imbalance factor, identical op
    * order); the log₂ bin is `length(bin(c)) − 1` on both engines
    * (exact integer — floor(log2) would misbin at powers of two). */
  private[graft] lazy val s29OracleSql: String =
    s"""WITH ${lshBucketsCte(nTables = 1, nPlanes = 4)},
         cells AS (
           SELECT bucket, CAST(count(*) AS BIGINT) AS c
           FROM buckets GROUP BY bucket
         ), summ AS (
           SELECT CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(c) AS BIGINT) AS n_vectors,
             CAST(max(c) AS BIGINT) AS max_cell,
             CAST(min(c) AS BIGINT) AS min_cell,
             CAST(sum(c * c) AS BIGINT) AS ss
           FROM cells
         ), hist AS (
           SELECT 'cells_log2_' || lpad(CAST(length(bin(c)) - 1 AS VARCHAR),
               2, '0') AS metric,
             CAST(count(*) AS BIGINT) AS value
           FROM cells GROUP BY 1
         ), mets AS (
           SELECT 'n_cells' AS metric, n_cells AS value FROM summ
           UNION ALL SELECT 'n_vectors', n_vectors FROM summ
           UNION ALL SELECT 'max_cell', max_cell FROM summ
           UNION ALL SELECT 'min_cell', min_cell FROM summ
           UNION ALL SELECT 'imbalance_milli',
             CAST(floor(CAST(n_cells AS DOUBLE) * CAST(ss AS DOUBLE)
               / (CAST(n_vectors AS DOUBLE) * CAST(n_vectors AS DOUBLE))
               * 1000.0 + 0.5) AS BIGINT)
           FROM summ)
         SELECT metric, value FROM
           (SELECT * FROM mets UNION ALL SELECT * FROM hist)
         ORDER BY metric"""


  /** s27 replay — one s01-shaped brute-force CTE per truncation (the
    * DuckDB list slice `v[1:d]` mirrors the engine's `slice(v,1,d)`),
    * LEFT-joined to the full-dimension truth set; dims interpolate
    * from [[graft.operators.Similarity.S27Dims]]. */
  private[graft] lazy val s27OracleSql: String = {
    val dims = graft.operators.Similarity.S27Dims
    def topCte(name: String, vq: String, va: String): String =
      s"""$name AS (
           SELECT q_id, n_id FROM (
             SELECT q.vec_id AS q_id, a.vec_id AS n_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity($vq, $va), 6) DESC,
                          a.vec_id ASC) AS rk
             FROM e q JOIN e a ON a.vec_id <> q.vec_id
             WHERE q.vec_id < 5)
           WHERE rk <= 3)"""
    val ctes = (topCte("fullr", "q.v", "a.v") +: dims.map(d =>
      topCte(s"t$d", s"q.v[1:$d]", s"a.v[1:$d]"))).mkString(",\n         ")
    val arms = dims.map { d =>
      s"""SELECT $d AS trunc_dim, f.q_id,
           CAST(count(t.n_id) AS BIGINT) AS hits,
           floor(CAST(count(t.n_id) AS DOUBLE) / 3 * 1e4 + 0.5)/1e4 AS recall
         FROM fullr f LEFT JOIN t$d t ON t.q_id = f.q_id AND t.n_id = f.n_id
         GROUP BY f.q_id"""
    }.mkString("\n         UNION ALL\n         ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         $ctes
         SELECT * FROM (
         $arms)
         ORDER BY trunc_dim, q_id"""
  }


  /** s01 Spark-dialect replay. */
  private lazy val s01SparkSql: String =
    """WITH e AS (
           SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings
         ), n AS (
           SELECT vec_id, v, sqrt(graft_dot(v, v)) AS nrm FROM e
         ), scored AS (
           SELECT q.vec_id AS q_id, a.vec_id AS n_id,
             round(graft_dot(q.v, a.v) / (q.nrm * a.nrm), 6) AS cos
           FROM n q JOIN n a ON a.vec_id <> q.vec_id
           WHERE q.vec_id < 5)
         SELECT q_id, rk, n_id, cos FROM (
           SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
           FROM scored)
         WHERE rk <= 3 ORDER BY q_id, rk"""


  /** s26 DuckDB replay — sign-bit halves as exact integer sums of
    * powers of two (bit i set iff v[i] > 0, the engine's strict rule),
    * the d04 lo/hi xor+bit_count Hamming, row_number-over-(hamming,id)
    * shortlist (≡ the TopKPerGroup selection — the order is total),
    * then the s01 cosine re-rank restricted to the shortlist. nCand is
    * interpolated from [[graft.operators.Similarity.S26NCand]] so the
    * replay can never desync from the engine's shortlist width. */
  private[graft] lazy val s26OracleSql: String = {
    val nc = graft.operators.Similarity.S26NCand
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         sg AS (SELECT vec_id,
             CAST(list_sum(list_transform(range(1, 33),
               i -> CASE WHEN v[i] > 0 THEN CAST(2 ** (i - 1) AS BIGINT)
                    ELSE 0 END)) AS BIGINT) AS lo,
             CAST(list_sum(list_transform(range(33, 65),
               i -> CASE WHEN v[i] > 0 THEN CAST(2 ** (i - 33) AS BIGINT)
                    ELSE 0 END)) AS BIGINT) AS hi
           FROM e),
         ham AS (
           SELECT q.vec_id AS q_id, a.vec_id AS n_id,
             CAST(bit_count(xor(a.lo, q.lo)) + bit_count(xor(a.hi, q.hi)) AS INT)
               AS hamming
           FROM sg q JOIN sg a ON a.vec_id <> q.vec_id
           WHERE q.vec_id < 5),
         cand AS (
           SELECT q_id, n_id, hamming FROM (
             SELECT q_id, n_id, hamming,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY hamming ASC, n_id ASC) AS crk
             FROM ham)
           WHERE crk <= $nc),
         rr AS (
           SELECT c.q_id, c.n_id, c.hamming,
             round(list_cosine_similarity(qe.v, ae.v), 6) AS cos
           FROM cand c
           JOIN e qe ON qe.vec_id = c.q_id
           JOIN e ae ON ae.vec_id = c.n_id)
         SELECT q_id, rk, n_id, hamming, cos FROM (
           SELECT q_id, n_id, hamming, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, n_id ASC) AS rk
           FROM rr)
         WHERE rk <= 3 ORDER BY q_id, rk"""
  }


  /** s30 replay — the s26 Hamming-shortlist chain ranked ONCE (crk),
    * one re-rank arm per swept depth from
    * [[graft.operators.Similarity.S30Depths]], each intersected with
    * the exact top-3 truth; milli recall on integer hit counts. */
  private[graft] lazy val s30OracleSql: String = {
    val depths = graft.operators.Similarity.S30Depths
    val nPossible = 5 * 3
    val arms = depths.map { d =>
      s"""SELECT $d AS depth, CAST(count(*) AS BIGINT) AS n_hits
           FROM (
             SELECT q_id, n_id FROM (
               SELECT rr.q_id, rr.n_id,
                 row_number() OVER (PARTITION BY rr.q_id
                   ORDER BY rr.cos DESC, rr.n_id ASC) AS rk
               FROM (
                 SELECT c.q_id, c.n_id,
                   round(list_cosine_similarity(qe.v, ae.v), 6) AS cos
                 FROM (SELECT q_id, n_id FROM hamrk WHERE crk <= $d) c
                 JOIN e qe ON qe.vec_id = c.q_id
                 JOIN e ae ON ae.vec_id = c.n_id) rr)
             WHERE rk <= 3) got
           JOIN truth t ON got.q_id = t.q_id AND got.n_id = t.n_id"""
    }.mkString("\n           UNION ALL\n           ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         sg AS (SELECT vec_id,
             CAST(list_sum(list_transform(range(1, 33),
               i -> CASE WHEN v[i] > 0 THEN CAST(2 ** (i - 1) AS BIGINT)
                    ELSE 0 END)) AS BIGINT) AS lo,
             CAST(list_sum(list_transform(range(33, 65),
               i -> CASE WHEN v[i] > 0 THEN CAST(2 ** (i - 33) AS BIGINT)
                    ELSE 0 END)) AS BIGINT) AS hi
           FROM e),
         ham AS (
           SELECT q.vec_id AS q_id, a.vec_id AS n_id,
             CAST(bit_count(xor(a.lo, q.lo)) + bit_count(xor(a.hi, q.hi)) AS INT)
               AS hamming
           FROM sg q JOIN sg a ON a.vec_id <> q.vec_id
           WHERE q.vec_id < 5),
         hamrk AS (
           SELECT q_id, n_id,
             row_number() OVER (PARTITION BY q_id
               ORDER BY hamming ASC, n_id ASC) AS crk
           FROM ham),
         truth AS (
           SELECT q_id, n_id FROM (
             SELECT q.vec_id AS q_id, a.vec_id AS n_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.v, a.v), 6) DESC,
                          a.vec_id ASC) AS rk
             FROM e q JOIN e a ON a.vec_id <> q.vec_id
             WHERE q.vec_id < 5)
           WHERE rk <= 3)
         SELECT depth, n_hits, CAST($nPossible AS BIGINT) AS n_possible,
           CAST(floor(CAST(n_hits AS DOUBLE) * 1000.0 / $nPossible.0 + 0.5)
             AS BIGINT) AS recall_milli
         FROM (
           $arms)
         ORDER BY depth"""
  }


  /** s31 replay — the s26 Hamming-shortlist chain ranked once (crk),
    * each shortlist candidate scored ONCE by the pinned diagonal
    * reranker w_i = 1 + (i mod 5)/10 (0-based; range(1,65) is
    * 1-based, hence (i-1)), arms filter the scored frame; truth is
    * the scorer-exact top-3. Multiplication grouping (q·w)·d and
    * sequential list_sum order match the engine's pre-weighted
    * query-tower dot; 6-dp rounding absorbs the tail. */
  private[graft] lazy val s31OracleSql: String = {
    val depths = graft.operators.Similarity.S30Depths
    val dMax = depths.max
    val nPossible = 5 * 3
    val wPeriod = graft.operators.Similarity.S31WeightPeriod
    val wDiv = graft.operators.Similarity.S31WeightDivisor
    val score = (q: String, a: String) =>
      s"""round(list_sum(list_transform(range(1, 65),
             i -> ($q.v[i] * (1.0 + CAST((i - 1) % $wPeriod AS DOUBLE) / $wDiv))
                  * $a.v[i])), 6)"""
    val arms = depths.map { d =>
      s"""SELECT $d AS depth, CAST(count(*) AS BIGINT) AS n_hits
           FROM (
             SELECT q_id, n_id FROM (
               SELECT q_id, n_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY score DESC, n_id ASC) AS rk
               FROM sc WHERE crk <= $d)
             WHERE rk <= 3) got
           JOIN truth t ON got.q_id = t.q_id AND got.n_id = t.n_id"""
    }.mkString("\n           UNION ALL\n           ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         sg AS (SELECT vec_id,
             CAST(list_sum(list_transform(range(1, 33),
               i -> CASE WHEN v[i] > 0 THEN CAST(2 ** (i - 1) AS BIGINT)
                    ELSE 0 END)) AS BIGINT) AS lo,
             CAST(list_sum(list_transform(range(33, 65),
               i -> CASE WHEN v[i] > 0 THEN CAST(2 ** (i - 33) AS BIGINT)
                    ELSE 0 END)) AS BIGINT) AS hi
           FROM e),
         ham AS (
           SELECT q.vec_id AS q_id, a.vec_id AS n_id,
             CAST(bit_count(xor(a.lo, q.lo)) + bit_count(xor(a.hi, q.hi)) AS INT)
               AS hamming
           FROM sg q JOIN sg a ON a.vec_id <> q.vec_id
           WHERE q.vec_id < 5),
         hamrk AS (
           SELECT q_id, n_id,
             row_number() OVER (PARTITION BY q_id
               ORDER BY hamming ASC, n_id ASC) AS crk
           FROM ham),
         sc AS (
           SELECT c.q_id, c.n_id, c.crk,
             ${score("qe", "ae")} AS score
           FROM (SELECT q_id, n_id, crk FROM hamrk WHERE crk <= $dMax) c
           JOIN e qe ON qe.vec_id = c.q_id
           JOIN e ae ON ae.vec_id = c.n_id),
         truth AS (
           SELECT q_id, n_id FROM (
             SELECT q.vec_id AS q_id, a.vec_id AS n_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY ${score("q", "a")} DESC,
                          a.vec_id ASC) AS rk
             FROM e q JOIN e a ON a.vec_id <> q.vec_id
             WHERE q.vec_id < 5)
           WHERE rk <= 3)
         SELECT depth, n_hits, CAST($nPossible AS BIGINT) AS n_possible,
           CAST(floor(CAST(n_hits AS DOUBLE) * 1000.0 / $nPossible.0 + 0.5)
             AS BIGINT) AS recall_milli
         FROM (
           $arms)
         ORDER BY depth"""
  }


  /** s36 replay — the s31 sign-signature/Hamming shortlist CTEs at
    * depth [[graft.operators.Similarity.S36NCand]], then the MaxSim
    * late interaction UNROLLED: S36Tokens² per-token dots (pinned
    * diagonal token weights interpolated from the same Similarity
    * constants the engine reads), max per query token via greatest,
    * token sums left-associated, 6-dp rounded — op-for-op the
    * engine's fold. */
  private[graft] lazy val s36OracleSql: String = {
    val S = graft.operators.Similarity
    val T = S.S36Tokens
    val per = S.S36TokPeriod
    val st = S.S36TokStride
    val dv = S.S36TokDivisor
    val nCand = S.S36NCand
    def w(t: Int) =
      s"(1.0 + CAST(((i - 1) + ${st * t}) % $per AS DOUBLE) / $dv)"
    def dotTU(t: Int, u: Int) =
      s"""list_sum(list_transform(range(1, 65),
             i -> (qe.v[i] * ${w(t)}) * (ae.v[i] * ${w(u)})))"""
    val sumT = (0 until T).map { t =>
      "greatest(" + (0 until T).map(u => dotTU(t, u)).mkString(",\n             ") + ")"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         sg AS (SELECT vec_id,
             CAST(list_sum(list_transform(range(1, 33),
               i -> CASE WHEN v[i] > 0 THEN CAST(2 ** (i - 1) AS BIGINT)
                    ELSE 0 END)) AS BIGINT) AS lo,
             CAST(list_sum(list_transform(range(33, 65),
               i -> CASE WHEN v[i] > 0 THEN CAST(2 ** (i - 33) AS BIGINT)
                    ELSE 0 END)) AS BIGINT) AS hi
           FROM e),
         ham AS (
           SELECT q.vec_id AS q_id, a.vec_id AS n_id,
             CAST(bit_count(xor(a.lo, q.lo)) + bit_count(xor(a.hi, q.hi)) AS INT)
               AS hamming
           FROM sg q JOIN sg a ON a.vec_id <> q.vec_id
           WHERE q.vec_id < 5),
         hamrk AS (
           SELECT q_id, n_id,
             row_number() OVER (PARTITION BY q_id
               ORDER BY hamming ASC, n_id ASC) AS crk
           FROM ham),
         sc AS (
           SELECT c.q_id, c.n_id,
             round($sumT, 6) AS maxsim
           FROM (SELECT q_id, n_id FROM hamrk WHERE crk <= $nCand) c
           JOIN e qe ON qe.vec_id = c.q_id
           JOIN e ae ON ae.vec_id = c.n_id)
         SELECT q_id, rk, n_id, maxsim FROM (
           SELECT q_id, n_id, maxsim,
             row_number() OVER (PARTITION BY q_id
               ORDER BY maxsim DESC, n_id ASC) AS rk
           FROM sc)
         WHERE rk <= 3 ORDER BY q_id, rk"""
  }

  /** s32 replay — the s05 pinned-centroid assignment CTE feeding
    * v04's PSI tail with nBins = the quantizer's cell count; the cut
    * is floor(max(vec_id)·frac) on both sides. */
  private[graft] lazy val s32OracleSql: String = {
    val cents = graft.operators.Pinned.ivfCentroids
    val dts = centroidDotsList(cents)
    val n = cents.length
    val frac = graft.operators.Similarity.S32SplitFrac
    val binVals = (0 until n).map(i => s"($i)").mkString(",")
    val half = n / 2.0
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n0 AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt($unrolledNorm)) AS sv FROM e),
         cutv AS (SELECT CAST(floor(max(vec_id) * $frac) AS BIGINT) AS c
                  FROM embeddings),
         b AS (SELECT CAST(list_position(dts, list_max(dts)) - 1 AS INT)
                 AS bin,
                 CASE WHEN vec_id < cutv.c THEN 1 ELSE 0 END AS is_ref
               FROM (SELECT vec_id, sv, $dts AS dts FROM n0), cutv
         ), c AS (
           SELECT bin, CAST(sum(is_ref) AS BIGINT) AS n_ref,
             CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
           FROM b GROUP BY bin
         ), t AS (
           SELECT CAST(sum(is_ref) AS BIGINT) AS t_ref,
             CAST(sum(1 - is_ref) AS BIGINT) AS t_cur
           FROM b
         ), bins AS (SELECT * FROM (VALUES $binVals) AS v(bin)
         ), f AS (
           SELECT bins.bin,
             coalesce(c.n_ref, 0) AS n_ref, coalesce(c.n_cur, 0) AS n_cur,
             (coalesce(c.n_ref, 0) + 0.5) / (t.t_ref + $half) AS p,
             (coalesce(c.n_cur, 0) + 0.5) / (t.t_cur + $half) AS q
           FROM bins LEFT JOIN c ON bins.bin = c.bin CROSS JOIN t)
         SELECT bin, n_ref, n_cur,
           floor((p - q) * ln(p / q) * 1e6 + 0.5) / 1e6 AS psi_term,
           floor((p - q) * ln(p / q) * 1e6 + 0.5) / 1e6 < 0.01 AS stable
         FROM f ORDER BY bin"""
  }


  /** s40: the lifecycle replay — drift PSI, compaction counts and
    * both serve arms re-derived from the raw embeddings with the
    * STALE ([[Pinned.ivfCentroids]]) and RE-FIT
    * ([[Pinned.s40Centroids]]) quantizers as literals. The drifted
    * batch is the closed-form boundary collapse (anchor(label) +
    * Eps·sv, renormalized — anchors are literal normalized midpoints
    * of adjacent stale centroids), so every stage replays term by
    * term in both dialects. */
  private[graft] def s40Sql(duck: Boolean): String = {
    val Sim = graft.operators.Similarity
    val stale = Pinned.ivfCentroids
    val refit = Pinned.s40Centroids
    val anchors = Sim.s40Anchors
    val eps = Sim.S40Eps
    val off = Sim.S40Offset
    val nQ = Sim.S40NQueries
    val k = Sim.S40K
    val psiMin = Sim.S40PsiMinMicro
    val tombMod = Sim.S28TombMod
    val tombRes = Sim.S28TombResidue
    val nCent = stale.length
    val half = nCent / 2.0
    def el(c: String, i: Int): String = // 1-based on both sides
      if (duck) s"$c[$i]" else s"element_at($c, $i)"
    // Spark side: the registered graft_dot kernel + one array literal
    // per quantizer — the unrolled 8×64-term chains (the DuckDB
    // spelling) at this composition depth push Catalyst's analyzer
    // over the heap (the ccTail inlining lesson, at the expression
    // level). graft_dot IS the engine's codegen dot, same sequential
    // order.
    def centsLit(cents: Array[Array[Double]]): String =
      cents.map(_.mkString("array(", ", ", ")"))
        .mkString("array(", ",\n             ", ")")
    def dots(cents: Array[Array[Double]], vc: String): String =
      if (duck)
        cents.map { c =>
          s"(${c.indices.map(d => s"${el(vc, d + 1)}*(${c(d)})").mkString(" + ")})"
        }.mkString("[", ",\n             ", "]")
      else s"transform(${centsLit(cents)}, gc -> graft_dot($vc, gc))"
    def pairDot(a: String, b: String): String =
      if (duck) (1 to 64).map(i => s"${el(a, i)}*${el(b, i)}").mkString(" + ")
      else s"graft_dot($a, $b)"
    def norm2(vc: String): String =
      if (duck) pairDot(vc, vc) else s"graft_dot($vc, $vc)"
    val anchLit = anchors.map(_.mkString(
        if (duck) "[" else "array(", ", ", if (duck) "]" else ")"))
      .mkString(if (duck) "[" else "array(",
        ",\n             ", if (duck) "]" else ")")
    val argpos = if (duck) "list_position" else "array_position"
    val argmax = if (duck) "list_max" else "array_max"
    val lxform = if (duck) "list_transform" else "transform"
    val castArr =
      if (duck) "CAST(embedding AS DOUBLE[])"
      else "transform(embedding, x -> CAST(x AS DOUBLE))"
    val binVals = (0 until nCent).map(i => s"($i)").mkString(", ")
    val binsCte =
      if (duck) s"SELECT * FROM (VALUES $binVals) AS v(bin)"
      else s"SELECT * FROM VALUES $binVals AS v(bin)"
    val div = if (duck) "//" else "DIV"
    // The 8 report rows emitted from ONE reference of the scalar
    // frame (struct explode / unnest) — a per-row UNION ALL would
    // re-inline (and re-execute) the whole lifecycle chain once per
    // referencing branch under Spark's CTE inlining.
    def rowEmit(rows: Seq[(String, String, String)], duck: Boolean): String =
      if (duck)
        rows.map { case (s, m, v) =>
          s"{'s': '$s', 'm': '$m', 'v': CAST($v AS BIGINT)}"
        }.mkString("unnest([", ",\n             ", "])")
      else
        rows.map { case (s, m, v) =>
          s"named_struct('s', '$s', 'm', '$m', 'v', CAST($v AS BIGINT))"
        }.mkString("explode(array(", ",\n             ", "))")
    // Spark-only materialization barriers between array-lambda levels:
    // CollapseProject folds adjacent projections, and a lambda that
    // references a COLLAPSED array column re-evaluates the entire
    // child array per element — the 4-level chain (cast → normalize →
    // anchor-shift → renormalize → quantizer dots) goes ~64⁴ ops/row
    // interpreted (measured: minutes per 1000 rows). A repartition
    // hint is an exchange the optimizer cannot collapse through, so
    // each level's array materializes once per row. DuckDB
    // materializes CTEs natively — no hint needed or parsed there.
    val bar = if (duck) "" else "/*+ REPARTITION(8) */ "
    s"""WITH e AS (
           SELECT vec_id, label, $castArr AS v FROM embeddings
         ), n0 AS (
           SELECT $bar vec_id, label,
             $lxform(v, x -> x / sqrt(${norm2("v")})) AS sv
           FROM e
         ), store AS (
           SELECT vec_id, sv FROM n0
         ), braw AS (
           SELECT vec_id + $off AS vec_id,
             $lxform(${if (duck) "range(1, 65)" else "sequence(1, 64)"},
               i -> ${if (duck) "anch[i]" else "element_at(anch, CAST(i AS INT))"
                 } + $eps * ${if (duck) "sv[i]" else "element_at(sv, CAST(i AS INT))"}) AS v
           FROM (SELECT vec_id, sv,
                   ${if (duck)
                      s"($anchLit)[CAST(label % ${anchors.length} AS INT) + 1]"
                    else
                      s"element_at($anchLit, CAST(label % ${anchors.length} AS INT) + 1)"
                   } AS anch
                 FROM n0)
         ), batch AS (
           SELECT $bar vec_id,
             $lxform(v, x -> x / sqrt(${norm2("v")})) AS sv
           FROM braw
         ), sb AS (
           SELECT vec_id, sv, 1 AS is_ref FROM store
           UNION ALL SELECT vec_id, sv, 0 AS is_ref FROM batch
         ), dsb AS (
           SELECT $bar vec_id, is_ref, ${dots(stale, "sv")} AS dts
           FROM sb
         ), asg AS (
           SELECT vec_id, is_ref,
             CAST($argpos(dts, $argmax(dts)) - 1 AS INT) AS bin
           FROM dsb
         ), c AS (
           SELECT bin, CAST(sum(is_ref) AS BIGINT) AS n_ref,
             CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
           FROM asg GROUP BY bin
         ), cw AS (
           SELECT bin, n_ref, n_cur,
             sum(n_ref) OVER () AS t_ref, sum(n_cur) OVER () AS t_cur
           FROM c
         ), bins AS ($binsCte
         ), psiagg AS (
           SELECT CAST(sum(CAST(floor(
               (floor((p - q) * ln(p / q) * 1e6 + 0.5) / 1e6) * 1e6 + 0.5)
             AS BIGINT)) AS BIGINT) AS psi
           FROM (
             SELECT (CAST(n_ref AS DOUBLE) + 0.5) / (t_ref + $half) AS p,
               (CAST(n_cur AS DOUBLE) + 0.5) / (t_cur + $half) AS q
             FROM (
               SELECT coalesce(cw.n_ref, 0) AS n_ref,
                 coalesce(cw.n_cur, 0) AS n_cur,
                 CAST(max(cw.t_ref) OVER () AS DOUBLE) AS t_ref,
                 CAST(max(cw.t_cur) OVER () AS DOUBLE) AS t_cur
               FROM bins LEFT JOIN cw ON bins.bin = cw.bin))
         ), fitn AS (
           SELECT CAST(count(*) AS BIGINT) AS n FROM sb
         ), comp AS (
           SELECT
             CAST(sum(CASE WHEN vec_id % $tombMod = $tombRes
               AND vec_id < $off THEN 1 ELSE 0 END) AS BIGINT) AS n_dead,
             CAST(sum(CASE WHEN vec_id % $tombMod = $tombRes
               AND vec_id < $off THEN 0 ELSE 1 END) AS BIGINT) AS n_live
           FROM sb
         ), live AS (
           SELECT vec_id, sv FROM sb
           WHERE NOT (vec_id % $tombMod = $tombRes AND vec_id < $off)
         ), dl AS (
           SELECT $bar vec_id, sv,
             ${dots(stale, "sv")} AS dts,
             ${dots(refit, "sv")} AS dtr
           FROM live
         ), lasg AS (
           SELECT vec_id, sv,
             CAST($argpos(dts, $argmax(dts)) - 1 AS INT) AS cs,
             CAST($argpos(dtr, $argmax(dtr)) - 1 AS INT) AS cr
           FROM dl
         ), pairs AS (
           SELECT q.vec_id AS q_id, a.vec_id AS n_id,
             round(${pairDot("q.sv", "a.sv")}, 6) AS cos,
             CASE WHEN a.cs = q.cs THEN 1 ELSE 0 END AS same_cs,
             CASE WHEN a.cr = q.cr THEN 1 ELSE 0 END AS same_cr
           FROM lasg a JOIN lasg q
             ON a.vec_id <> q.vec_id
           WHERE q.vec_id >= $off AND q.vec_id < $off + $nQ
         ), ranked AS (
           SELECT q_id, n_id, same_cs, same_cr,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos DESC, n_id ASC) AS rkt,
             row_number() OVER (PARTITION BY q_id, same_cs
               ORDER BY cos DESC, n_id ASC) AS rks,
             row_number() OVER (PARTITION BY q_id, same_cr
               ORDER BY cos DESC, n_id ASC) AS rkr
           FROM pairs
         ), rec AS (
           SELECT
             CAST(CAST(sum(CASE WHEN rkt <= $k AND same_cs = 1
                 AND rks <= $k THEN 1 ELSE 0 END) AS BIGINT) * 1000
               $div ${nQ * k} AS BIGINT) AS r_stale,
             CAST(CAST(sum(CASE WHEN rkt <= $k AND same_cr = 1
                 AND rkr <= $k THEN 1 ELSE 0 END) AS BIGINT) * 1000
               $div ${nQ * k} AS BIGINT) AS r_refit
           FROM ranked
         ), scal AS (
           SELECT psi, n, n_dead, n_live, r_stale, r_refit
           FROM psiagg CROSS JOIN fitn CROSS JOIN comp CROSS JOIN rec
         )
         SELECT u.s AS stage, u.m AS metric, u.v AS value FROM (
           SELECT ${rowEmit(Seq(
             ("1_drift", "psi_micro", "psi"),
             ("1_drift", "triggered",
               s"CASE WHEN psi >= $psiMin THEN 1 ELSE 0 END"),
             ("2_refit", "n_fit", "n"),
             ("3_compact", "n_dead", "n_dead"),
             ("3_compact", "n_live", "n_live"),
             ("4_serve", "recall_stale_milli", "r_stale"),
             ("4_serve", "recall_refit_milli", "r_refit"),
             ("4_serve", "recovered",
               "CASE WHEN r_refit > r_stale THEN 1 ELSE 0 END")),
             duck)} AS u FROM scal)
         ORDER BY stage, metric"""
  }

  private[graft] lazy val s40OracleSql: String = s40Sql(duck = true)
  private[graft] lazy val s40SparkSql: String = s40Sql(duck = false)

  /** s01 DuckDB replay — extracted to a val so [[s21OracleSql]] can
    * compose it as the ground-truth side of the recall evaluation. */
  private[graft] lazy val s01OracleSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         scored AS (
           SELECT q.vec_id AS q_id, a.vec_id AS n_id,
             round(list_cosine_similarity(q.v, a.v), 6) AS cos
           FROM e q JOIN e a ON a.vec_id <> q.vec_id
           WHERE q.vec_id < 5)
         SELECT q_id, rk, n_id, cos FROM (
           SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
           FROM scored)
         WHERE rk <= 3 ORDER BY q_id, rk"""


  /** s21: the recall replay IS the two member replays — the exact
    * [[s01OracleSql]] and approximate [[s04OracleSql]] statements as
    * derived tables (each carries its own WITH; k = 3 mirrors both) —
    * joined on (query, neighbor) and reduced to hits per query. */
  private lazy val s21OracleSql: String =
    s"""WITH hits AS (
           SELECT bf.q_id, count(*) AS n_hits
           FROM ($s01OracleSql) bf
           JOIN ($s04OracleSql) iv
             ON iv.q_id = bf.q_id AND iv.n_id = bf.n_id
           GROUP BY bf.q_id
         ), qs AS (SELECT DISTINCT q_id FROM ($s01OracleSql))
         SELECT q_id,
           CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
           floor((CAST(coalesce(n_hits, 0) AS DOUBLE) / 3.0)*1e4 + 0.5)/1e4
             AS recall
         FROM qs LEFT JOIN hits USING (q_id) ORDER BY q_id"""


  /** s25: MRR/nDCG replay over the s01 (exact) and s04 (IVF) member
    * replays as derived tables — the s21 composition. */
  private lazy val s25OracleSql: String =
    rankEvalTailSql(s01OracleSql, s04OracleSql)


  /** s05: pinned-centroid k-means IVF — cell = first-max argmax over
    * 8 unrolled centroid dots (ties to the lower index, same as
    * array_position), probe the query's own cell (nprobe=1), exact
    * re-rank. */
  private[graft] lazy val s05OracleSql: String = {
    val dts = centroidDotsList(Pinned.ivfCentroids)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt($unrolledNorm)) AS sv FROM e),
         asg AS (SELECT vec_id, sv, list_position(dts, list_max(dts)) - 1 AS c
                 FROM (SELECT vec_id, sv, $dts AS dts FROM n)),
         scored AS (
           SELECT q.vec_id AS q_id, a.vec_id AS n_id,
             round(${(1 to 64).map(d => s"q.sv[$d]*a.sv[$d]").mkString(" + ")}, 6) AS cos
           FROM asg a JOIN asg q ON a.c = q.c AND a.vec_id <> q.vec_id
           WHERE q.vec_id < 5)
         SELECT q_id, rk, n_id, cos FROM (
           SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
           FROM scored)
         WHERE rk <= 3 ORDER BY q_id, rk"""
  }


  /** s09: pinned-codebook PQ-ADC — encode = per-subspace first-max
    * argmax of the score list, ADC = 8 LUT picks summed in subspace
    * order, top-100 re-rank by the exact dot. */
  private[graft] lazy val s09OracleSql: String = {
    val books = Pinned.pq.books
    val sub = Pinned.pq.sub
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt($unrolledNorm)) AS sv FROM e),
         enc AS (SELECT vec_id,
           ${pqScoreCols(books, sub, i => s"sv[$i]")}
           FROM n),
         codes AS (SELECT vec_id, ${pqCodesList(books.length)} AS codes FROM enc),
         q AS (SELECT vec_id AS q_id,
           ${pqLutList(books, sub, "sv")} AS lut
           FROM n WHERE vec_id < 5),
         scored AS (
           SELECT q.q_id, c.vec_id AS n_id, ${pqApprox(books.length)} AS approx
           FROM codes c CROSS JOIN q WHERE c.vec_id <> q.q_id),
         ${pqRerankTail(rerank = 100, vc = "sv")}"""
  }


  /** s39 replay — the s09 normalize+encode chain (same [[pqScoreCols]]
    * emitters, codebook norms baked with the engine's fold order) cut
    * before the query tail: per subspace, ‖x_j‖² − list_max(s_j),
    * micro-floored per vector, m UNION arms, one m-row aggregate. */
  private[graft] lazy val s39OracleSql: String = {
    val books = Pinned.pq.books
    val sub = Pinned.pq.sub
    val distArms = books.indices.map { j =>
      val n2 = (1 to sub).map(d => s"sv[${j * sub + d}]*sv[${j * sub + d}]")
        .mkString(" + ")
      s"""SELECT $j AS subspace,
           CAST(floor((($n2) - list_max(s$j)) * 1e6 + 0.5) AS BIGINT) AS d
           FROM enc"""
    }.mkString("\n           UNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt($unrolledNorm)) AS sv FROM e),
         enc AS (SELECT vec_id, sv,
           ${pqScoreCols(books, sub, i => s"sv[$i]")}
           FROM n),
         d AS ($distArms)
         SELECT subspace, CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(d) AS BIGINT) AS sum_dist_micro,
           CAST(max(d) AS BIGINT) AS max_dist_micro
         FROM d GROUP BY subspace ORDER BY subspace"""
  }


  /** s10: pinned IVFADC — coarse cell by first-max argmax over plain
    * centroid dots, PQ codes over the RESIDUAL (sv − centroid, inlined
    * per term), queries probe their top-3 cells (dot desc, index asc),
    * approx = ⟨q, centroid⟩ + ADC (parenthesized so the fold order
    * matches the engine's q_dot_cent + Σ), top-50 exact re-rank. */
  private[graft] lazy val s10OracleSql: String = {
    val mdl = Pinned.ivfPq
    val cents = mdl.coarse.get
    val books = mdl.books
    val sub = mdl.sub
    val centsLit = cents.map(c => s"[${c.mkString(", ")}]").mkString("[", ",\n             ", "]")
    val dts = centroidDotsList(cents)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt($unrolledNorm)) AS sv FROM e),
         cl AS (SELECT $centsLit AS cl),
         asg AS (SELECT vec_id, sv, list_position(dts, list_max(dts)) - 1 AS c
                 FROM (SELECT vec_id, sv, $dts AS dts FROM n)),
         enc AS (SELECT a.vec_id, a.c,
           ${pqScoreCols(books, sub, i => s"(a.sv[$i] - cl.cl[a.c+1][$i])")}
           FROM asg a CROSS JOIN cl),
         codes AS (SELECT vec_id, c, ${pqCodesList(books.length)} AS codes FROM enc),
         qd AS (SELECT vec_id AS q_id, $dts AS qdts,
           ${pqLutList(books, sub, "sv")} AS lut
           FROM n WHERE vec_id < 5),
         probes AS (SELECT q_id, c, q_dot_cent, lut FROM (
           SELECT q_id, lut,
             generate_subscripts(qdts, 1) - 1 AS c,
             unnest(qdts) AS q_dot_cent FROM qd) p
           QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY q_dot_cent DESC, c ASC) <= 3),
         scored AS (
           SELECT q.q_id, c.vec_id AS n_id,
             q.q_dot_cent + (${pqApprox(books.length)}) AS approx
           FROM codes c JOIN probes q ON c.c = q.c AND c.vec_id <> q.q_id),
         ${pqRerankTail(rerank = 50, vc = "sv")}"""
  }


  /** s13: pinned OPQ — project onto the pinned 64-dim rotation, deal
    * the rotated dimensions round-robin into subspaces (rv[p] is
    * rotated dim d = (p−1 mod 8)·8 + (p−1) div 8 — the dealing
    * permutation is an involution), then the s09 machinery over the
    * rotated frame, exact re-rank in rotated coordinates (inner
    * products are rotation-invariant mathematically; float-wise the
    * engine re-ranks in rotated coords, so the oracle does too). */
  private[graft] lazy val s13OracleSql: String = {
    val rot = Pinned.opqRotation
    val books = Pinned.opqBooks.books
    val sub = Pinned.opqBooks.sub
    val m = books.length
    val rv = (1 to 64).map { p =>
      val d = ((p - 1) % m) * sub + (p - 1) / m
      s"(${(1 to 64).map(k => s"sv[$k]*(${rot(d)(k - 1)})").mkString(" + ")})"
    }.mkString("[", ",\n             ", "]")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n0 AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt($unrolledNorm)) AS sv FROM e),
         n AS (SELECT vec_id, $rv AS rv FROM n0),
         enc AS (SELECT vec_id,
           ${pqScoreCols(books, sub, i => s"rv[$i]")}
           FROM n),
         codes AS (SELECT vec_id, ${pqCodesList(m)} AS codes FROM enc),
         q AS (SELECT vec_id AS q_id,
           ${pqLutList(books, sub, "rv")} AS lut
           FROM n WHERE vec_id < 5),
         scored AS (
           SELECT q.q_id, c.vec_id AS n_id, ${pqApprox(m)} AS approx
           FROM codes c CROSS JOIN q WHERE c.vec_id <> q.q_id),
         ${pqRerankTail(rerank = 100, vc = "rv")}"""
  }


  /** s14: pinned-cell SemDeDup — every vector probes its top-2 cells
    * by centroid dot (ties to the lower index, matching the engine's
    * struct(-dot, i) sort), vectors sharing a probed cell pair up,
    * exact-cosine filter at 0.4, then the d05-class recursive-CTE CC.
    * Valid while every cell stays below cellCap — asserted in-query by
    * the cap guard (the capped regime is spec-pinned, not oracled). */
  private[graft] lazy val s14OracleSql: String = {
    val dts = centroidDotsList(Pinned.semCells)
    s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt($unrolledNorm)) AS sv FROM e),
         dd AS (SELECT vec_id, $dts AS dts FROM n),
         probes AS (SELECT vec_id, c FROM (
           SELECT vec_id,
             generate_subscripts(dts, 1) - 1 AS c,
             unnest(dts) AS d FROM dd) p
           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, c ASC) <= 2),
         ${capGuardCte("s14",
           "SELECT count(*) AS cnt FROM probes GROUP BY c")},
         pairs AS (
           SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM probes a JOIN probes b
             ON a.c = b.c AND a.vec_id < b.vec_id
           JOIN e ea ON ea.vec_id = a.vec_id
           JOIN e eb ON eb.vec_id = b.vec_id
           CROSS JOIN guard
           WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.4),
         $ccTailSql"""
  }


  /** s35 replay builder — both dialects share the shape: media tower =
    * m07's hex-nibble histogram, text tower = first-md5-hex-digit token
    * histogram projected by the pinned [[Multimodal.s35Projection]]
    * matrix (unrolled literals), centered-sign signatures, Hamming
    * shortlist of [[Multimodal.S35NCand]], exact cosine re-rank. All
    * arithmetic is the engine's exact order (left-assoc chains, 6 dp
    * rounding); projection entries and means are exact binary
    * fractions, so the sign comparisons replay identically. */
  /** The s35/m14 shared dialect fragments: 1-based element access,
    * unrolled 16-dim dot/norm chains, the media nibble-histogram CTEs
    * (hx, h), the text-tower token-hash histogram and the pinned-
    * projection list — factored so the cross-modal serve (s35) and
    * the alignment gate (m14/m14h) replay IDENTICAL towers. */
  private[graft] final case class TowerFrags(
      el: (String, Int) => String,
      pairDot: (String, String) => String,
      norm2: String => String,
      hexToInt: String => String,
      tokSplit: String,
      qhList: String,
      histCtes: String,
      pjList: String)

  private[graft] def towerFrags(duck: Boolean): TowerFrags = {
    val W = Multimodal.s35Projection
    def el(c: String, i: Int): String = // i is 1-based
      if (duck) s"$c[$i]" else s"$c[${i - 1}]"
    def pairDot(a: String, b: String): String =
      (1 to 16).map(i => s"${el(a, i)}*${el(b, i)}").mkString(" + ")
    def norm2(c: String): String = pairDot(c, c)
    val hexToInt = (h: String) =>
      if (duck) s"CAST(('0x' || $h) AS BIGINT)"
      else s"CAST(conv($h, 16, 10) AS BIGINT)"
    // text-tower histogram: one bucket-count element per md5 hex digit
    val qhList =
      if (duck)
        s"""[CAST(len(list_filter(tk, t -> ${hexToInt("substr(md5(t), 1, 1)")} = b)) AS DOUBLE)
              for b in range(0, 16)]"""
      else
        s"""transform(sequence(0, 15), b ->
              CAST(size(filter(tk, t -> ${hexToInt("substring(md5(t), 1, 1)")} = CAST(b AS BIGINT))) AS DOUBLE))"""
    val tokSplit =
      if (duck) s"regexp_split_to_array(trim(text), '\\s+')"
      else s"split(trim(text), '\\\\s+')"
    // m07's hex-nibble media histogram
    val histCtes =
      if (duck)
        s"""hx AS (
           SELECT doc_id AS media_id,
             regexp_replace(hex(encode(text)), '(.).', '\\1', 'g') AS hn
           FROM documents
         ), h AS (
           SELECT media_id,
             [CAST(length(hn) - length(replace(hn, c, '')) AS DOUBLE)
              for c in ['0','1','2','3','4','5','6','7',
                        '8','9','A','B','C','D','E','F']] AS v
           FROM hx
         )"""
      else
        s"""hx AS (
           SELECT doc_id AS media_id,
             regexp_replace(hex(encode(text, 'UTF-8')), '(.).', '$$1') AS hn
           FROM documents
         ), h AS (
           SELECT media_id,
             transform(split('0123456789ABCDEF', ''),
               c -> CAST(length(hn) - length(replace(hn, c, '')) AS DOUBLE)) AS v
           FROM hx
         )"""
    // projection: pj[j] = sum_i tq[i] * W(i)(j), W literals unrolled
    val pjList = (0 until 16).map { j =>
      (1 to 16).map(i => s"${el("tq", i)}*(${W(i - 1)(j)})").mkString(" + ")
    }.mkString(if (duck) "[" else "array(",
      if (duck) ",\n             " else ",\n             ",
      if (duck) "]" else ")")
    TowerFrags(el, pairDot, norm2, hexToInt, tokSplit, qhList, histCtes,
      pjList)
  }

  private def s35Sql(duck: Boolean): String = {
    val nq = Multimodal.S35NQueries
    val nCand = Multimodal.S35NCand
    val k = Multimodal.S35K
    val tf = towerFrags(duck)
    import tf.{el, pairDot, norm2, tokSplit, qhList, histCtes, pjList}
    def sumChain(c: String, f: Int => String): String =
      (1 to 16).map(f).mkString(" + ")
    val pow2 = (i: Int) =>
      if (duck) s"CAST(2 ** ${i - 1} AS BIGINT)"
      else s"CAST(pow(2.0D, ${i - 1}.0D) AS BIGINT)"
    def sigExpr(c: String): String =
      (1 to 16).map(i =>
        s"CASE WHEN ${el(c, i)} > mn THEN ${pow2(i)} ELSE ${if (duck) "CAST(0 AS BIGINT)" else "0L"} END")
        .mkString(" + ")
    val xorCnt =
      if (duck) "bit_count(xor(m.sig, q.q_sig))"
      else "bit_count(m.sig ^ q.q_sig)"
    s"""WITH $histCtes,
         qt AS (
           SELECT doc_id AS q_id, $tokSplit AS tk
           FROM documents WHERE doc_id < $nq
         ), qh AS (
           SELECT q_id, $qhList AS tq FROM qt
         ), qp AS (
           SELECT q_id, $pjList AS pj FROM qh
         ), mpre AS (
           SELECT media_id, v, (${sumChain("v", i => el("v", i))}) / 16.0 AS mn,
             sqrt(${norm2("v")}) AS nrm
           FROM h
         ), msig AS (
           SELECT media_id, v, nrm, ${sigExpr("v")} AS sig FROM mpre
         ), qpre AS (
           SELECT q_id, pj, (${sumChain("pj", i => el("pj", i))}) / 16.0 AS mn,
             sqrt(${norm2("pj")}) AS q_nrm
           FROM qp
         ), qsig AS (
           SELECT q_id, pj, q_nrm, ${sigExpr("pj")} AS q_sig FROM qpre
         ), ham AS (
           SELECT q.q_id, m.media_id, CAST($xorCnt AS INT) AS hamming
           FROM msig m, qsig q
         ), cand AS (
           SELECT q_id, media_id, hamming FROM (
             SELECT q_id, media_id, hamming,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY hamming ASC, media_id ASC) AS crk
             FROM ham)
           WHERE crk <= $nCand
         ), scored AS (
           SELECT c.q_id, c.media_id, c.hamming,
             round((${pairDot("q.pj", "m.v")}) / (q.q_nrm * m.nrm), 6) AS cos
           FROM cand c JOIN msig m ON c.media_id = m.media_id
           JOIN qsig q ON q.q_id = c.q_id)
       SELECT q_id, rk, media_id, hamming, cos FROM (
         SELECT q_id, media_id, hamming, cos,
           row_number() OVER (PARTITION BY q_id
             ORDER BY cos DESC, media_id ASC) AS rk
         FROM scored)
       WHERE rk <= $k ORDER BY q_id, rk"""
  }

  private[graft] lazy val s35OracleSql: String = s35Sql(duck = true)
  private[graft] lazy val s35SparkSql: String = s35Sql(duck = false)

  /** m14/m14h: the alignment gate over the SAME towers as s35 — every
    * (media, caption = its own document) pair scored by raw projected
    * cosine, thresholded at [[Multimodal.M14AlignMin]]; the hist form
    * reduces to (source × width-0.1 bin) keep counts. The tower CTEs
    * come from [[towerFrags]] verbatim, so gate and serve cannot
    * drift. */
  private def m14Sql(duck: Boolean, hist: Boolean): String = {
    val tf = towerFrags(duck)
    import tf.{pairDot, norm2, tokSplit, qhList, histCtes, pjList}
    val minCos = Multimodal.M14AlignMin
    val bins = Multimodal.M14HistBins
    // the corpus-wide gate filters empty tokens (split(trim('')) =
    // [''] in both engines) — the engine-side degenerate-doc rule;
    // s35's 3-query towers keep the unfiltered spelling (no-op on
    // non-blank captions, which is all its pinned queries are)
    val tkFiltered =
      if (duck) s"list_filter($tokSplit, t -> t != '')"
      else s"filter($tokSplit, t -> t != '')"
    val pairs =
      s"""WITH $histCtes,
         qt AS (
           SELECT doc_id AS q_id, $tkFiltered AS tk FROM documents
         ), qh AS (
           SELECT q_id, $qhList AS tq FROM qt
         ), qp AS (
           SELECT q_id, $pjList AS pj FROM qh
         ), mpre AS (
           SELECT media_id, v, sqrt(${norm2("v")}) AS nrm FROM h
         ), qpre AS (
           SELECT q_id, pj, sqrt(${norm2("pj")}) AS q_nrm FROM qp
         ), src AS (
           SELECT doc_id, source FROM documents
         ), pairs AS (
           SELECT m.media_id, s.source,
             CASE WHEN q.q_nrm > 0 AND m.nrm > 0
               THEN round((${pairDot("q.pj", "m.v")}) / (q.q_nrm * m.nrm), 6)
               ELSE 0.0 END AS cos
           FROM mpre m JOIN qpre q ON q.q_id = m.media_id
           JOIN src s ON s.doc_id = m.media_id)"""
    if (!hist)
      s"""$pairs
         SELECT media_id, source, cos, (cos >= $minCos) AS keep
         FROM pairs ORDER BY media_id"""
    else
      s"""$pairs
         SELECT source, bin, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN cos >= $minCos THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keep
         FROM (SELECT source, cos,
                 CAST(least(${bins - 1}, floor((cos + 1.0) * ${bins / 2.0}))
                   AS INT) AS bin
               FROM pairs)
         GROUP BY source, bin ORDER BY source, bin"""
  }

  private[graft] lazy val m14OracleSql: String =
    m14Sql(duck = true, hist = false)
  private[graft] lazy val m14HistOracleSql: String =
    m14Sql(duck = true, hist = true)
  private[graft] lazy val m14SparkSql: String =
    m14Sql(duck = false, hist = false)
  private[graft] lazy val m14HistSparkSql: String =
    m14Sql(duck = false, hist = true)

  private[graft] val oracles: Map[String, String] = Map(
    "s35_cross_modal" -> s35OracleSql,
    "s40_index_lifecycle" -> s40OracleSql,
    "m14_alignment_gate" -> m14OracleSql,
    "m14h_alignment_hist" -> m14HistOracleSql,
    "s06_label_norms" ->
      """WITH e AS (SELECT label,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS nrm
         FROM embeddings)
         SELECT label, count(*) AS n,
           round(avg(nrm), 4) AS avg_norm,
           round(min(nrm), 4) AS min_norm,
           round(max(nrm), 4) AS max_norm
         FROM e GROUP BY 1 ORDER BY 1""",
    "s07_label_centroid" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         ex AS (SELECT label, unnest(v) AS x,
                       unnest(range(0, len(v))) AS pos FROM e)
         SELECT label, CAST(pos AS INT) AS pos, round(avg(x), 4) AS c
         FROM ex GROUP BY 1, 2 ORDER BY 1, 2""",
    "s08_ann_quantized" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         q AS (SELECT vec_id,
                 list_transform(v, x -> floor(x * 127.0 /
                   list_max(list_transform(v, y -> abs(y))) + 0.5)) AS qv
               FROM e),
         n AS (SELECT vec_id, qv,
                 sqrt(list_dot_product(qv, qv)) AS nrm FROM q),
         scored AS (
           SELECT qq.vec_id AS q_id, a.vec_id AS n_id,
             round(list_dot_product(qq.qv, a.qv) / (qq.nrm * a.nrm), 6) AS qcos
           FROM n qq JOIN n a ON a.vec_id <> qq.vec_id
           WHERE qq.vec_id < 5)
         SELECT q_id, rk, n_id, qcos FROM (
           SELECT q_id, n_id, qcos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY qcos DESC, n_id ASC) AS rk
           FROM scored)
         WHERE rk <= 3 ORDER BY q_id, rk""",
    "s15_hard_negatives" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
                    FROM embeddings),
         scored AS (
           SELECT q.vec_id AS q_id, a.vec_id AS n_id, a.label AS n_label,
             round(list_cosine_similarity(q.v, a.v), 6) AS cos
           FROM e q JOIN e a
             ON a.vec_id <> q.vec_id AND a.label <> q.label
           WHERE q.vec_id < 5)
         SELECT q_id, rk, n_id, n_label, cos FROM (
           SELECT q_id, n_id, n_label, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
           FROM scored)
         WHERE rk <= 3 ORDER BY q_id, rk""",
    "s01_ann_bruteforce" -> s01OracleSql,
    "s26_ann_binary" -> s26OracleSql,
    "s21_ann_recall" -> s21OracleSql,
    "s22_bitext_mine" -> s22OracleSql,
    "s23_bitext_mine_lsh" -> s23OracleSql,
    "s24_mmr_rerank" -> s24OracleSql,
    "s25_ann_rank_eval" -> s25OracleSql,
    "s02_cosine_pairs" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
         ORDER BY id_a, id_b""",
    // The sign-LSH queries (s03/s04/d09) use the integer-grid bucket
    // key (Similarity.lshBucketInt): quantized components
    // ⌊v·10⁶ + 0.5⌋ against integer plane literals — every product
    // and sum is exact integer arithmetic, so the bucket assignment
    // (and with it the probe/pair/cluster output) is engine-portable.
    // The plane components are embedded in the SQL as literals of the
    // same SplitMix64 family the engine evaluates. The anchor-star
    // hot-bucket cap is a NO-OP below 1000 rows per bucket, far above
    // any bucket at the sf0.01 gate (500 vectors) — the capped regime
    // is spec-pinned instead (LshClusterSpec hot-bucket tests).,
    "s03_lsh_pairs" -> s03OracleSql,
    "s16_ann_graph" -> s16OracleSql,
    "s17_ann_graph_lsh" -> s17OracleSql,
    "s18_ann_graph_insert" -> s18OracleSql,
    "s19_ann_graph_refined" -> s19OracleSql,
    "s20_ann_graph_insert_recip" -> s20OracleSql,
    "s03c_lsh_pairs_capped" -> s03cOracleSql,
    "s04_ann_ivf" -> s04OracleSql,
    "s37_index_compaction" -> s37OracleSql,
    "s27_matryoshka_eval" -> s27OracleSql,
    "s28_ann_tombstones" -> s28OracleSql,
    "s29_ann_index_stats" -> s29OracleSql,
    "s30_rerank_depth" -> s30OracleSql,
    "s31_two_tower_rerank" -> s31OracleSql,
    "s36_maxsim_rerank" -> s36OracleSql,
    "s38_ann_nprobe_sweep" -> s38OracleSql,
    "s32_embedding_drift" -> s32OracleSql,
    "s33_ann_filtered" -> s33OracleSql,
    "s34_semantic_admission" -> s34OracleSql,
    "s05_ann_kmeans_ivf" -> s05OracleSql,
    "s09_ann_pq" -> s09OracleSql,
    "s39_pq_distortion" -> s39OracleSql,
    // s11 persists Pinned.pq and serves the LOADED copy; parquet
    // round-trips doubles exactly, so its output is s09's and the
    // oracle is shared.,
    "s11_ann_pq_fitserve" -> s09OracleSql,
    "s10_ann_ivfpq" -> s10OracleSql,
    "s13_ann_opq" -> s13OracleSql,
    // s14 serves Pinned.semCells; at gate scale every cell is far
    // below cellCap, so the LSH refinement and anchor cap are no-ops
    // (spec-pinned separately) and the pair source is exactly
    // "collide in any of the top-2 probe cells".,
    "s14_semdedup" -> s14OracleSql,
    // t13 BPE TRAINING, fully self-derived in SQL: 8 unrolled rounds,
    // each picking the weighted argmax adjacent pair (ties
    // lexicographic, binary collation both engines) and re-encoding
    // the vocabulary with t14's recursive replace-first CTE (proven
    // equivalent to the engine's left-to-right non-overlapping merge).
    // No fixture — the oracle re-derives the whole trajectory.,
    "s12_pca_project" -> s12OracleSql
  )

  private[graft] val spark: Map[String, String] = Map(
    "s35_cross_modal" -> s35SparkSql,
    "s40_index_lifecycle" -> s40SparkSql,
    "m14_alignment_gate" -> m14SparkSql,
    "m14h_alignment_hist" -> m14HistSparkSql,
    "s02_cosine_pairs" ->
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings
         ), n AS (
           SELECT vec_id, v, sqrt(graft_dot(v, v)) AS nrm FROM e)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(graft_dot(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
         FROM n a JOIN n b ON a.vec_id < b.vec_id
         WHERE round(graft_dot(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.4
         ORDER BY id_a, id_b""",
    "s01_ann_bruteforce" -> s01SparkSql,
    "s15_hard_negatives" ->
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v, label
           FROM embeddings
         ), n AS (
           SELECT vec_id, v, label, sqrt(graft_dot(v, v)) AS nrm FROM e
         ), scored AS (
           SELECT q.vec_id AS q_id, a.vec_id AS n_id, a.label AS n_label,
             round(graft_dot(q.v, a.v) / (q.nrm * a.nrm), 6) AS cos
           FROM n q JOIN n a
             ON a.vec_id <> q.vec_id AND a.label <> q.label
           WHERE q.vec_id < 5)
         SELECT q_id, rk, n_id, n_label, cos FROM (
           SELECT q_id, n_id, n_label, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
           FROM scored)
         WHERE rk <= 3 ORDER BY q_id, rk""",
    "s08_ann_quantized" ->
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings
         ), q AS (
           SELECT vec_id,
             transform(v, x -> floor(x * 127.0D /
               array_max(transform(v, y -> abs(y))) + 0.5D)) AS qv
           FROM e
         ), n AS (
           SELECT vec_id, qv, sqrt(graft_dot(qv, qv)) AS nrm FROM q
         ), scored AS (
           SELECT qq.vec_id AS q_id, a.vec_id AS n_id,
             round(graft_dot(qq.qv, a.qv) / (qq.nrm * a.nrm), 6) AS qcos
           FROM n qq JOIN n a ON a.vec_id <> qq.vec_id
           WHERE qq.vec_id < 5)
         SELECT q_id, rk, n_id, qcos FROM (
           SELECT q_id, n_id, qcos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY qcos DESC, n_id ASC) AS rk
           FROM scored)
         WHERE rk <= 3 ORDER BY q_id, rk""",
    "s07_label_centroid" ->
      """WITH e AS (SELECT label, CAST(embedding AS ARRAY<DOUBLE>) AS v
                    FROM embeddings),
         ex AS (SELECT label, posexplode(v) AS (pos, x) FROM e)
         SELECT label, CAST(pos AS INT) AS pos, round(avg(x), 4) AS c
         FROM ex GROUP BY 1, 2 ORDER BY 1, 2""",
    "s06_label_norms" ->
      """WITH e AS (SELECT label,
           sqrt(graft_dot(CAST(embedding AS ARRAY<DOUBLE>),
                          CAST(embedding AS ARRAY<DOUBLE>))) AS nrm
         FROM embeddings)
         SELECT label, count(*) AS n,
           round(avg(nrm), 4) AS avg_norm,
           round(min(nrm), 4) AS min_norm,
           round(max(nrm), 4) AS max_norm
         FROM e GROUP BY 1 ORDER BY 1"""
  )
}
