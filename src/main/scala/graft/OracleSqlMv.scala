package graft

import graft.operators.{Checks, Curation, Dedup, Multimodal, Pca, Pinned, Sampling, Similarity, TemporalJoins, TextOps, Warehouse}

/** GENERATED-BY-SPLIT (r14, from the monolithic SparkEntry): the
  * DuckDB oracle SQL and hand-written Spark-dialect forms for the
  * multimodal (m*) and governance (v*) queries —
  * [[SparkEntry.oracleSql]]/[[SparkEntry.sparkSql]] compose the
  * family maps; shared SQL builders live in [[OracleSqlHelpers]].
  * The SQL texts are verbatim moves — the r14 split diffed the
  * composed maps byte-for-byte against the pre-split dump. */
object OracleSqlMv {
  import OracleSqlHelpers._

  /** v06 replay — the three dedup lenses composed from their own
    * oracle machinery: d01's fingerprint rule, d05's recursive-CTE CC
    * + d08's keep-best window (string shingles, the documented hash
    * equivalence), and t26's window-fingerprint coverage
    * ([[t26MarkedCtes]], spliced to `WITH RECURSIVE` for the CC arm;
    * its MATERIALIZED BMP guard is re-referenced in the final WHERE).
    * Every stage is a scalar aggregate, so empty stages still emit
    * their 0 row (the q35 lesson). */
  private[graft] lazy val v06OracleSql: String = {
    val prefix = t26MarkedCtes.replaceFirst("WITH ", "WITH RECURSIVE ")
    s"""$prefix, vbase AS (
           SELECT doc_id, n_chars,
             md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
           FROM documents
         ), exact AS (
           SELECT 'exact_dedup' AS stage,
             CAST(coalesce(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS docs_affected,
             CAST(coalesce(sum(CASE WHEN rk > 1 THEN n_tokens ELSE 0 END), 0)
               AS BIGINT) AS tokens_removed
           FROM (SELECT n_tokens, row_number() OVER (PARTITION BY fp
                   ORDER BY doc_id) AS rk FROM vbase)
         ), vtoks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
           FROM documents
         ), vsh AS (
           SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
             for i in range(1, len(tk)-1)]) AS shingles
           FROM vtoks WHERE len(tk) >= 3
         ), vpairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM vsh a
           JOIN vsh b ON a.doc_id < b.doc_id
           WHERE round(len(list_intersect(a.shingles, b.shingles)) * 1.0 /
             (len(a.shingles) + len(b.shingles)
              - len(list_intersect(a.shingles, b.shingles))), 4) >= 0.7
         ), vedges AS (
           SELECT doc_a AS a, doc_b AS b FROM vpairs
           UNION ALL SELECT doc_b, doc_a FROM vpairs
         ), vnodes AS (SELECT DISTINCT a AS n FROM vedges),
         reach(n, m) AS (
           SELECT n, n FROM vnodes
           UNION
           SELECT r.n, e.b FROM reach r JOIN vedges e ON r.m = e.a
         ), vclusters AS (
           SELECT n AS doc_id, min(m) AS cluster FROM reach GROUP BY n
         ), vkeep AS (
           SELECT cluster, doc_id AS kept FROM (
             SELECT c.cluster, d.doc_id,
               row_number() OVER (PARTITION BY c.cluster
                 ORDER BY d.n_chars DESC, d.doc_id ASC) AS rk
             FROM vclusters c JOIN documents d ON c.doc_id = d.doc_id)
           WHERE rk = 1
         ), near AS (
           SELECT 'near_dedup' AS stage,
             CAST(coalesce(sum(CASE WHEN c.doc_id <> k.kept
               THEN 1 ELSE 0 END), 0) AS BIGINT) AS docs_affected,
             CAST(coalesce(sum(CASE WHEN c.doc_id <> k.kept
               THEN b.n_tokens ELSE 0 END), 0) AS BIGINT) AS tokens_removed
           FROM vclusters c JOIN vkeep k USING (cluster)
           JOIN vbase b ON b.doc_id = c.doc_id
         ), visl AS (
           SELECT doc_id,
             greatest(0, e - greatest(i - 1,
               coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)))
               AS contrib
           FROM marked
         ), vcov AS (
           SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS covered
           FROM visl GROUP BY doc_id
         ), vspan AS (
           SELECT 'span_dedup' AS stage,
             CAST(coalesce(sum(CASE WHEN covered > 0 THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS docs_affected,
             CAST(coalesce(sum(covered), 0) AS BIGINT) AS tokens_removed
           FROM vcov)
         SELECT stage, docs_affected, tokens_removed FROM (
           SELECT * FROM exact UNION ALL
           SELECT * FROM near UNION ALL
           SELECT * FROM vspan)
         WHERE (SELECT ok FROM guard) = 1
         ORDER BY stage"""
  }


  /** v10 replay — the five member contamination oracles replayed
    * VERBATIM as nested CTEs (x05/x16 from [[OracleSqlDx]], x18 from
    * the shared [[OracleSqlHelpers.x18Sql]] geometry, t31 from
    * [[OracleSqlText]], v08 from this object) — the oracle can never
    * score a lens the members don't; plus three denominator CTEs
    * (shingled train docs for x05/x16, the corpus count for x18,
    * distinct content fps for v08's content row). `rate_milli` is the
    * uniform floor(flagged*1000/probed + 0.5) both engines compute on
    * exact integers. */
  private def v10Sql(x05: String, x16: String, x18: String, t31: String,
                     v08: String, den: String, fpd: String): String =
    s"""WITH x05r AS (
           $x05
         ), x16r AS (
           $x16
         ), x18r AS (
           $x18
         ), t31r AS (
           $t31
         ), v08r AS (
           $v08
         ), den AS (
           $den
         ), corp AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
         ), fpd AS (
           $fpd)
         SELECT lens, docs_flagged, docs_probed,
           CASE WHEN docs_probed = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(docs_flagged * 1000.0 / docs_probed + 0.5)
                  AS BIGINT) END AS rate_milli
         FROM (
           SELECT 'exact_overlap' AS lens,
             (SELECT CAST(count(*) AS BIGINT) FROM x05r) AS docs_flagged,
             (SELECT n_train_shingled FROM den) AS docs_probed
           UNION ALL SELECT 'fuzzy_overlap',
             (SELECT CAST(count(*) AS BIGINT) FROM x16r),
             (SELECT n_train_shingled FROM den)
           UNION ALL SELECT 'bloom_exact',
             (SELECT CAST(coalesce(sum(CASE WHEN exact_hit THEN 1 ELSE 0 END),
               0) AS BIGINT) FROM x18r),
             (SELECT n_docs FROM corp)
           UNION ALL SELECT 'bloom_prefilter',
             (SELECT CAST(coalesce(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END),
               0) AS BIGINT) FROM x18r),
             (SELECT n_docs FROM corp)
           UNION ALL SELECT 'memorization',
             (SELECT CAST(coalesce(sum(CASE WHEN n_memorized > 0
               THEN 1 ELSE 0 END), 0) AS BIGINT) FROM t31r),
             (SELECT CAST(count(*) AS BIGINT) FROM t31r)
           UNION ALL SELECT 'split_content',
             (SELECT value FROM v08r WHERE metric = 'content_fps_multi_split'),
             (SELECT n_fps FROM fpd)
           UNION ALL SELECT 'split_ngrams',
             (SELECT value FROM v08r WHERE metric = 'test_ngrams_in_train'),
             (SELECT value FROM v08r WHERE metric = 'test_ngrams'))
         ORDER BY lens"""

  private[graft] lazy val v10OracleSql: String = v10Sql(
    OracleSqlDx.x05OracleSql, OracleSqlDx.x16OracleSql,
    OracleSqlDx.x18OracleSql, OracleSqlText.t31OracleSql, v08OracleSql,
    raw"""SELECT CAST(count(*) AS BIGINT) AS n_train_shingled
           FROM documents
           WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3
             AND substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= '1a'""",
    raw"""SELECT CAST(count(DISTINCT
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))))
             AS BIGINT) AS n_fps
           FROM documents""")


  /** v02 replay — dialect-PORTABLE (runs verbatim in DuckDB AND via
    * spark.sql): one slim-key LEFT JOIN per FK edge, arms generated
    * from the SAME [[graft.operators.Checks.warehouseEdges]] list the
    * engine audits. */
  private[graft] lazy val v02OracleSql: String = {
    val arms = graft.operators.Checks.warehouseEdges.map { e =>
      s"""SELECT '${e.id}' AS edge,
             CAST(count(*) AS BIGINT) AS n_child,
             CAST(coalesce(
               sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_orphans
           FROM (SELECT ${e.childCol} AS k FROM ${e.child}
                 WHERE ${e.childCol} IS NOT NULL) c
           LEFT JOIN (SELECT DISTINCT ${e.parentCol} AS k
                      FROM ${e.parent}) p ON c.k = p.k"""
    }.mkString("\n           UNION ALL\n           ")
    s"""SELECT edge, n_child, n_orphans, n_orphans = 0 AS ok FROM (
           $arms)
         ORDER BY edge"""
  }


  /** v03 replay — dialect-PORTABLE (runs verbatim in DuckDB AND via
    * spark.sql): one scalar-aggregate arm per profiled column,
    * generated from the SAME
    * [[graft.operators.Checks.V03NumCols]]/[[graft.operators.Checks.V03StrCols]]
    * lists the engine profiles — the oracle can never profile a
    * column set the engine doesn't. */
  private[graft] lazy val v03OracleSql: String = {
    val C = graft.operators.Checks
    def arm(c: String, isNum: Boolean): String = {
      val (minNum, maxNum, minStr, maxStr) =
        if (isNum) (s"floor(CAST(min($c) AS DOUBLE)*1e4 + 0.5)/1e4",
                    s"floor(CAST(max($c) AS DOUBLE)*1e4 + 0.5)/1e4",
                    "CAST(NULL AS STRING)", "CAST(NULL AS STRING)")
        else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
              s"CAST(min($c) AS STRING)", s"CAST(max($c) AS STRING)")
      s"""SELECT '$c' AS col_name,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(coalesce(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS n_null,
             CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             $minNum AS min_num, $maxNum AS max_num,
             $minStr AS min_str, $maxStr AS max_str
           FROM orders"""
    }
    val arms = (C.V03NumCols.map(arm(_, isNum = true)) ++
      C.V03StrCols.map(arm(_, isNum = false)))
      .mkString("\n         UNION ALL\n         ")
    s"""SELECT * FROM (
         $arms)
       ORDER BY col_name"""
  }


  /** v04 replay — dialect-portable (runs verbatim in Spark too): the
    * bin frame is a literal VALUES list, counts are exact integers,
    * and the one float expression (add-half smoothing + ln, 6-dp
    * floored) mirrors [[graft.operators.Checks.driftPsi]] op for op.
    * Bin geometry and the split date interpolate from the same
    * constants the engine reads. */
  private[graft] lazy val v04OracleSql: String = {
    val C = graft.operators.Checks
    val n = C.V04NBins
    val binVals = (0 until n).map(i => s"($i)").mkString(",")
    val half = n / 2.0
    s"""WITH b AS (
           SELECT CAST(least(floor(o_totalprice / ${C.V04BinWidth}), ${n - 1})
               AS INT) AS bin,
             CASE WHEN o_orderdate < TIMESTAMP '${C.V04SplitDate}'
               THEN 1 ELSE 0 END AS is_ref
           FROM orders
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


  /** v08 replay — the x21 assignment CTE + t33's trigram CTE keyed by
    * split; val/test totalized via a VALUES frame so an empty split
    * still reports (the engine's ungrouped aggregate is total). */
  private[graft] lazy val v08OracleSql: String =
    raw"""WITH f AS (
           SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
           FROM documents
         ), asg AS (
           SELECT doc_id, fp,
             CASE WHEN substring(md5(fp), 1, 2) < '0d' THEN 'test'
                  WHEN substring(md5(fp), 1, 2) < '1a' THEN 'val'
                  ELSE 'train' END AS split
           FROM f
         ), multi AS (
           SELECT CAST(count(*) AS BIGINT) AS v FROM (
             SELECT fp FROM (SELECT DISTINCT fp, split FROM asg)
             GROUP BY fp HAVING count(*) > 1)
         ), tk AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents
         ), tri AS (
           SELECT DISTINCT doc_id,
             md5(array_to_string(list_slice(t, i, i + 2), ' ')) AS fp3
           FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
                 FROM tk WHERE len(t) >= 3)
         ), sfp AS (
           SELECT DISTINCT asg.split, tri.fp3
           FROM tri JOIN asg ON tri.doc_id = asg.doc_id
         ), tr AS (SELECT fp3 FROM sfp WHERE split = 'train'
         ), lk AS (
           SELECT split, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN t.fp3 IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS h
           FROM sfp LEFT JOIN tr t USING (fp3)
           WHERE split IN ('val', 'test') GROUP BY split
         ), lk2 AS (
           SELECT s.split, CAST(coalesce(n, 0) AS BIGINT) AS n,
             CAST(coalesce(h, 0) AS BIGINT) AS h
           FROM (VALUES ('val'), ('test')) AS s(split)
           LEFT JOIN lk ON lk.split = s.split)
         SELECT metric, value FROM (
           SELECT 'content_fps_multi_split' AS metric, v AS value FROM multi
           UNION ALL SELECT split || '_ngrams', n FROM lk2
           UNION ALL SELECT split || '_ngrams_in_train', h FROM lk2
           UNION ALL SELECT split || '_leak_milli',
             CASE WHEN n = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor(h * 1000.0 / n + 0.5) AS BIGINT) END
           FROM lk2)
         ORDER BY metric"""


  /** v07 replay — the 1-row exact aggregate (three COUNT DISTINCTs —
    * a datasheet can't ship approximations) unpivoted to (stat,
    * value) rows. All-integer/milli. */
  private[graft] lazy val v07OracleSql: String =
    raw"""WITH d AS (
           SELECT
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n_tokens,
             CAST(n_chars AS BIGINT) AS n_chars, lang, source,
             md5(lower(regexp_replace(trim(text), '\s+', ' '))) AS fp
           FROM documents
         ), a AS (
           SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             CAST(sum(n_chars) AS BIGINT) AS n_chars,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_content,
             CAST(min(n_tokens) AS BIGINT) AS tokens_min,
             CAST(max(n_tokens) AS BIGINT) AS tokens_max
           FROM d)
         SELECT stat, value FROM (
           SELECT 'n_docs' AS stat, n_docs AS value FROM a
           UNION ALL SELECT 'n_tokens', n_tokens FROM a
           UNION ALL SELECT 'n_chars', n_chars FROM a
           UNION ALL SELECT 'n_langs', n_langs FROM a
           UNION ALL SELECT 'n_sources', n_sources FROM a
           UNION ALL SELECT 'n_distinct_content', n_distinct_content FROM a
           UNION ALL SELECT 'tokens_min', tokens_min FROM a
           UNION ALL SELECT 'tokens_max', tokens_max FROM a
           UNION ALL SELECT 'dup_docs', n_docs - n_distinct_content FROM a
           UNION ALL SELECT 'dup_milli',
             CAST(floor((n_docs - n_distinct_content) * 1000.0 / n_docs + 0.5)
               AS BIGINT) FROM a
           UNION ALL SELECT 'tokens_avg_milli',
             CAST(floor(n_tokens * 1000.0 / n_docs + 0.5) AS BIGINT) FROM a)
         ORDER BY stat"""


  private[graft] lazy val m10OracleSql: String =
    s"""WITH $m10Ctes
         $m10SelectBody ORDER BY media_id"""


  /** m11 replay — the m10 chain verbatim plus the batch-chunk window;
    * batch size interpolates from
    * [[graft.operators.Multimodal.M11BatchSize]]. Integer division is
    * spelled floor() (a bare CAST would round-half-even in DuckDB but
    * truncate in Spark). Dialect-portable like m10. */
  private[graft] lazy val m11OracleSql: String = {
    val b = graft.operators.Multimodal.M11BatchSize
    s"""WITH $m10Ctes, picked AS (
           $m10SelectBody
         ), ranked AS (
           SELECT media_id, bucket_id,
             row_number() OVER (PARTITION BY bucket_id ORDER BY media_id)
               AS rn
           FROM picked
         ), chunked AS (
           SELECT bucket_id,
             CAST(floor((rn - 1) / $b.0) AS INT) AS batch_idx,
             CAST((rn - 1) % $b AS INT) AS slot, media_id
           FROM ranked)
         SELECT bucket_id, batch_idx, slot, media_id,
           count(*) OVER (PARTITION BY bucket_id, batch_idx) = $b AS full
         FROM chunked ORDER BY bucket_id, batch_idx, slot"""
  }


  /** v05 replay — the floor-then-sum KL terms re-derived per
    * (source, word): nano-floored doubles summed as BIGINTs (the x11
    * lam_micro discipline), absent-word mass in closed form
    * (Σ_{w∉s} q·ln2 = ln2·(1 − Σ_{w∈s} q)), final jsd floored at
    * 6 dp. Engine and oracle share every scalar op and its order. */
  private[graft] lazy val v05OracleSql: String =
    """WITH tok AS (
           SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
           FROM documents
         ), st AS (
           SELECT source, w, CAST(count(*) AS BIGINT) AS c
           FROM tok GROUP BY 1, 2
         ), g AS (
           SELECT w, CAST(sum(c) AS BIGINT) AS cg FROM st GROUP BY 1
         ), ts AS (
           SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM st GROUP BY 1
         ), nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM st),
         pq AS (
           SELECT source, cg, ns, n,
             CAST(c AS DOUBLE) / CAST(ns AS DOUBLE) AS p,
             CAST(cg AS DOUBLE) / CAST(n AS DOUBLE) AS q
           FROM st JOIN g USING (w) JOIN ts USING (source) CROSS JOIN nn
         ), terms AS (
           SELECT source, cg, ns, n,
             CAST(floor(p * ln(p / ((p + q) / 2.0)) * 1e9 + 0.5) AS BIGINT)
               AS kp_nano,
             CAST(floor(q * ln(q / ((p + q) / 2.0)) * 1e9 + 0.5) AS BIGINT)
               AS kq_nano
           FROM pq)
         SELECT source, CAST(max(ns) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           floor(((CAST(sum(kp_nano) AS BIGINT) / 1e9) * 0.5
             + ((CAST(sum(kq_nano) AS BIGINT) / 1e9)
                + (1.0 - CAST(sum(cg) AS BIGINT) / CAST(max(n) AS DOUBLE))
                  * ln(2.0)) * 0.5) * 1e6 + 0.5) / 1e6 AS jsd
         FROM terms GROUP BY source ORDER BY source"""


  private[graft] lazy val m09OracleSql: String = m09Sql(
    h => s"CAST(('0x' || $h) AS BIGINT)",
    w => s"unnest(range($w, n + 1))",
    """guard AS MATERIALIZED (
           SELECT CASE WHEN max(ord(c)) > 127
             THEN CAST(error('m09 ASCII bound: a non-ASCII byte desyncs char offsets from the byte offsets the engine chunks by') AS INT)
             ELSE 1 END AS ok
           FROM (SELECT unnest(string_split(text, '')) AS c FROM documents)
         ),""",
    "WHERE (SELECT ok FROM guard) = 1")

  /** m13 DuckDB replay — the m02 frame generator, each frame's
    * [[graft.operators.Multimodal.M13Window]]-byte window sliced out
    * of the hex payload (byte p = hex chars 2p+1..2p+2, so the window
    * slice is exact BYTE semantics, ASCII or not), the m07
    * replace-and-count high-nibble histogram, one lag window, an
    * integer L1 — threshold interpolated from the engine constant. */
  private[graft] lazy val m13OracleSql: String = {
    val M = graft.operators.Multimodal
    val l1 = """CAST(list_sum(list_transform(range(1, 17),
             i -> abs(h[CAST(i AS INT)] - p[CAST(i AS INT)]))) AS BIGINT)"""
    s"""WITH v AS (
           SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             CAST(n_chars * 10 AS BIGINT) AS dur
           FROM documents WHERE doc_id % 3 = 2 AND n_chars > 0
         ), fr AS (
           SELECT media_id, hx, unnest(range(0, dur, 500)) AS off
           FROM v
         ), win AS (
           SELECT media_id, CAST(off // 500 AS BIGINT) AS frame_idx,
             regexp_replace(substring(hx, CAST(2*(off // 10) + 1 AS INT),
               ${2 * M.M13Window}), '(.).', '\\1', 'g') AS hn
           FROM fr
         ), hist AS (
           SELECT media_id, frame_idx,
             [CAST(length(hn) - length(replace(hn, c, '')) AS BIGINT)
              for c in ['0','1','2','3','4','5','6','7',
                        '8','9','A','B','C','D','E','F']] AS h
           FROM win
         ), lagged AS (
           SELECT media_id, frame_idx, h,
             lag(h) OVER (PARTITION BY media_id ORDER BY frame_idx) AS p
           FROM hist)
         SELECT media_id, frame_idx,
           $l1 AS delta,
           $l1 > ${M.M13CutDelta} AS is_cut
         FROM lagged WHERE p IS NOT NULL
         ORDER BY media_id, frame_idx"""
  }

  /** m13 Spark-dialect form — the engine's own kernel face:
    * graft_nibble_hist over the binary substring, 16 unrolled abs
    * terms (the engine's projection, spelled in SQL). */
  private[graft] lazy val m13SparkSql: String = {
    val M = graft.operators.Multimodal
    val l1 = (1 to 16)
      .map(i => s"abs(element_at(h, $i) - element_at(p, $i))")
      .mkString(" + ")
    s"""WITH v AS (
           SELECT doc_id AS media_id, CAST(text AS BINARY) AS payload,
             CAST(n_chars * 10 AS BIGINT) AS dur
           FROM documents WHERE doc_id % 3 = 2 AND n_chars > 0
         ), fr AS (
           SELECT media_id, payload,
             explode(sequence(CAST(0 AS BIGINT), dur - 1,
               CAST(500 AS BIGINT))) AS off
           FROM v
         ), win AS (
           SELECT media_id, CAST(off / 500 AS BIGINT) AS frame_idx,
             graft_nibble_hist(substring(payload,
               CAST(off / 10 AS INT) + 1, ${M.M13Window})) AS h
           FROM fr
         ), lagged AS (
           SELECT media_id, frame_idx, h,
             lag(h) OVER (PARTITION BY media_id ORDER BY frame_idx) AS p
           FROM win)
         SELECT media_id, frame_idx,
           ($l1) AS delta,
           ($l1) > ${M.M13CutDelta} AS is_cut
         FROM lagged WHERE p IS NOT NULL
         ORDER BY media_id, frame_idx"""
  }

  /** m08 DuckDB replay — the m04 hex-nibble trick per payload (high
    * nibble of byte i = hex char 2i−1), 16 quantized levels
    * (`8·count // n`, exact integer division both engines) joined to
    * a signature, then a plain group. */
  private[graft] lazy val m08OracleSql: String = {
    val digits = "0123456789ABCDEF"
    val levels = (0 until 16).map { i =>
      s"""CAST((8 * len(list_filter(range(1, L + 1),
             i -> substring(hx, CAST(2*i - 1 AS INT), 1) = '${digits(i)}')))
             // L AS VARCHAR)"""
    }.mkString(",\n             ")
    s"""WITH m AS (
           SELECT doc_id AS media_id,
             octet_length(encode(text)) AS L,
             hex(encode(text)) AS hx
           FROM documents
         ), sigs AS (
           SELECT media_id, concat_ws('-', $levels) AS sig FROM m)
         SELECT sig, min(media_id) AS keeper,
           CAST(count(*) AS BIGINT) AS n_members
         FROM sigs GROUP BY sig ORDER BY keeper"""
  }


  /** m08 Spark-dialect replay — same statement with Spark's
    * hex/filter spellings; `div` is Spark's integer division. */
  private[graft] lazy val m08SparkSql: String = {
    val digits = "0123456789ABCDEF"
    val levels = (0 until 16).map { i =>
      s"""CAST((8 * size(filter(sequence(1, L),
             i -> substring(hx, CAST(2*i - 1 AS INT), 1) = '${digits(i)}')))
             div L AS STRING)"""
    }.mkString(",\n             ")
    s"""WITH m AS (
           SELECT doc_id AS media_id,
             octet_length(CAST(text AS BINARY)) AS L,
             hex(CAST(text AS BINARY)) AS hx
           FROM documents
         ), sigs AS (
           SELECT media_id, concat_ws('-', $levels) AS sig FROM m)
         SELECT sig, min(media_id) AS keeper, count(1) AS n_members
         FROM sigs GROUP BY sig ORDER BY keeper"""
  }


  /** v09 DuckDB replay — the t29 pinned-unigram serve machinery
    * (model VALUES, [[OracleSqlHelpers.viterbiSegSql]] in serve mode)
    * split ref/cur by the s32-style floor(max·frac) cut, aggregated
    * per split with whole-piece membership and the cur-side new-word
    * anti-join. All-integer/milli outputs. */
  private[graft] lazy val v09OracleSql: String = {
    val T = graft.operators.TextOps
    val unk = s"CAST(${T.T29UnkScore} AS DOUBLE)"
    val vals = T.pinnedUnigram
      .map { case (p, c) => s"('$p', $c)" }.mkString(", ")
    val frac = T.V09SplitFrac
    s"""WITH cutv AS (SELECT CAST(floor(max(doc_id) * $frac) AS BIGINT) AS c
                  FROM documents),
         tok AS MATERIALIZED (
           SELECT CASE WHEN doc_id < cutv.c THEN '1_ref' ELSE '2_cur' END
               AS split,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
           FROM documents, cutv
         ), words AS MATERIALIZED (
           SELECT w, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY w
         ), guard AS MATERIALIZED (
           SELECT CASE WHEN max(length(w)) > 8
             THEN CAST(error('v09 unroll bound: word longer than 8') AS INT)
             ELSE 1 END AS ok FROM words
         ), scp AS MATERIALIZED (
           SELECT piece,
             ln(CAST(c + 1 AS DOUBLE) /
                CAST(${T.pinnedUnigramDenom} AS DOUBLE)) AS s
           FROM (VALUES $vals) AS t(piece, c)
         ), seg AS MATERIALIZED (
           ${OracleSqlHelpers.viterbiSegSql("scp", Some(unk))}
         ), pw AS (
           SELECT seg.w, seg.n_sub,
             CASE WHEN sp.piece IS NULL THEN 0 ELSE 1 END AS in_vocab
           FROM seg LEFT JOIN scp sp ON sp.piece = seg.w
         ), stats AS (
           SELECT split, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(pw.n_sub) AS BIGINT) AS n_pieces,
             CAST(sum(pw.in_vocab) AS BIGINT) AS n_whole
           FROM tok JOIN pw ON tok.w = pw.w
           GROUP BY split
         ), refw AS (SELECT DISTINCT w FROM tok WHERE split = '1_ref'
         ), curw AS (SELECT DISTINCT w FROM tok WHERE split = '2_cur'
         ), newr AS (
           SELECT '2_cur' AS split,
             CAST(floor(
               CAST((SELECT count(*) FROM curw
                     WHERE w NOT IN (SELECT w FROM refw)) AS DOUBLE)
               * 1000.0 / (SELECT count(*) FROM curw) + 0.5) AS BIGINT)
               AS new_word_milli)
       SELECT s.split, s.n_words,
         CAST(floor(CAST(s.n_pieces AS DOUBLE) * 1000.0
           / CAST(s.n_words AS DOUBLE) + 0.5) AS BIGINT) AS fertility_milli,
         CAST(floor(CAST(s.n_whole AS DOUBLE) * 1000.0
           / CAST(s.n_words AS DOUBLE) + 0.5) AS BIGINT) AS whole_piece_milli,
         coalesce(n.new_word_milli, 0) AS new_word_milli
       FROM stats s LEFT JOIN newr n ON s.split = n.split
       WHERE (SELECT ok FROM guard) = 1
       ORDER BY s.split"""
  }

  /** v09 Spark-dialect replay — the t29 serve kernel
    * (`graft_unigram_segment_unk`, model as array literals) under the
    * same split/aggregate statement. */
  private[graft] lazy val v09SparkSql: String = {
    val T = graft.operators.TextOps
    val pcs = T.pinnedUnigramPieces
      .map(p => s"'$p'").mkString("array(", ", ", ")")
    val cts = T.pinnedUnigram
      .map(_._2.toString + "L").mkString("array(", ", ", ")")
    val frac = T.V09SplitFrac
    s"""WITH cutv AS (SELECT CAST(floor(max(doc_id) * $frac) AS BIGINT) AS c
                  FROM documents),
         tok AS (
           SELECT CASE WHEN doc_id < (SELECT c FROM cutv) THEN '1_ref'
                       ELSE '2_cur' END AS split,
             explode(split(trim(text), '\\\\s+')) AS w
           FROM documents
         ), seg AS (
           SELECT w,
             CAST(size(graft_unigram_segment_unk(w, $pcs,
               transform($cts, c -> ln(CAST(c + 1 AS DOUBLE) /
                 CAST(${T.pinnedUnigramDenom}L AS DOUBLE))),
               CAST(${T.T29UnkScore} AS DOUBLE))) AS BIGINT) AS n_sub,
             CAST(CASE WHEN w IN (${T.pinnedUnigramPieces
               .map(p => s"'$p'").mkString(", ")})
               THEN 1 ELSE 0 END AS BIGINT) AS in_vocab
           FROM (SELECT DISTINCT w FROM tok)
         ), stats AS (
           SELECT split, count(1) AS n_words, sum(n_sub) AS n_pieces,
             sum(in_vocab) AS n_whole
           FROM tok JOIN seg USING (w) GROUP BY split
         ), refw AS (SELECT DISTINCT w FROM tok WHERE split = '1_ref'
         ), curw AS (SELECT DISTINCT w FROM tok WHERE split = '2_cur'
         ), newr AS (
           SELECT '2_cur' AS split,
             CAST(floor(CAST(n_new AS DOUBLE) * 1000.0
               / CAST(n_cur AS DOUBLE) + 0.5) AS BIGINT) AS new_word_milli
           FROM (SELECT count(1) AS n_new
                 FROM curw LEFT ANTI JOIN refw USING (w))
           CROSS JOIN (SELECT count(1) AS n_cur FROM curw))
       SELECT s.split, s.n_words,
         CAST(floor(CAST(s.n_pieces AS DOUBLE) * 1000.0
           / CAST(s.n_words AS DOUBLE) + 0.5) AS BIGINT) AS fertility_milli,
         CAST(floor(CAST(s.n_whole AS DOUBLE) * 1000.0
           / CAST(s.n_words AS DOUBLE) + 0.5) AS BIGINT) AS whole_piece_milli,
         coalesce(n.new_word_milli, 0L) AS new_word_milli
       FROM stats s LEFT JOIN newr n ON s.split = n.split
       ORDER BY s.split"""
  }

  /** m15: the audio spectral-stub replay — low nibbles are the EVEN
    * hex chars ('.(.)'; m07's high-nibble slice is '(.).'), halves are
    * substring slices of the one-char-per-byte low-nibble string, and
    * centroid/flux unroll the 16 bands as replace-and-count terms —
    * all integer arithmetic, so the replay is exact at any SF. */
  private def m15Cnt(s: String, c: Char): String =
    s"(length($s) - length(replace($s, '$c', '')))"
  private val m15Hex = "0123456789ABCDEF"
  private[graft] def m15Sql(duck: Boolean): String = {
    val lo =
      if (duck) """regexp_replace(hex(encode(text)), '.(.)', '\1', 'g')"""
      else """regexp_replace(hex(CAST(text AS BINARY)), '.(.)', '$1')"""
    val nb =
      if (duck) "octet_length(encode(text))"
      else "length(CAST(text AS BINARY))"
    val div = if (duck) "//" else "DIV"
    val wsum = (1 to 15).map(b =>
      s"$b * (${m15Cnt("l1", m15Hex(b))} + ${m15Cnt("l2", m15Hex(b))})")
      .mkString(" + ")
    val flux = (0 to 15).map(b =>
      s"abs(${m15Cnt("l1", m15Hex(b))} - ${m15Cnt("l2", m15Hex(b))})")
      .mkString(" + ")
    s"""WITH a AS (
         SELECT doc_id AS media_id, $nb AS n_bytes, $lo AS lo
         FROM documents WHERE doc_id % 3 = 1
       ), h AS (
         SELECT media_id, n_bytes,
           substring(lo, 1, n_bytes $div 2) AS l1,
           substring(lo, n_bytes $div 2 + 1,
             n_bytes - n_bytes $div 2) AS l2
         FROM a)
       SELECT media_id, CAST(n_bytes AS BIGINT) AS n_bytes,
         CAST(CASE WHEN n_bytes = 0 THEN 0
           ELSE ($wsum) * 1000 $div n_bytes END AS BIGINT)
           AS centroid_milli,
         CAST($flux AS BIGINT) AS flux
       FROM h ORDER BY media_id"""
  }

  private[graft] val oracles: Map[String, String] = Map(
    "v09_tokenizer_drift" -> v09OracleSql,
    "m15_audio_spectral" -> m15Sql(duck = true),
    "m01_media_stats" ->
      """SELECT doc_id AS media_id,
         (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
         octet_length(encode(text)) AS n_bytes,
         CAST(64 + n_chars % 64 AS INT) AS width,
         CAST(64 + n_chars % 48 AS INT) AS height,
         CAST(n_chars * 10 AS INT) AS duration_ms
         FROM documents ORDER BY media_id""",
    "m06_media_dedup" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keeper,
           count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY keeper""",
    // m12: the d11 cross-split replay over payload fingerprints
    // (md5(text) ≡ md5 of the UTF-8 payload bytes — the m06
    // equivalence); split from Dedup.D12SplitAt.,
    "m12_incremental_media" ->
      s"""WITH f AS (
           SELECT doc_id, md5(text) AS fp FROM documents
         ), store AS (SELECT DISTINCT fp FROM f
                      WHERE doc_id < ${graft.operators.Dedup.D12SplitAt}),
         batch AS (SELECT * FROM f
                   WHERE doc_id >= ${graft.operators.Dedup.D12SplitAt})
         SELECT b.fp, min(b.doc_id) AS keeper, count(*) AS n_copies
         FROM batch b LEFT JOIN store s ON b.fp = s.fp
         WHERE s.fp IS NULL
         GROUP BY b.fp ORDER BY keeper""",
    // m07: the m04 hex-nibble trick vectorized — odd hex chars of the
    // payload are the high nibbles; 16 replace-and-count bins form the
    // feature vector, then the s01 cosine/top-k replay.,
    "m07_media_similar" ->
      """WITH hx AS (
           SELECT doc_id AS media_id,
             regexp_replace(hex(encode(text)), '(.).', '\1', 'g') AS hn
           FROM documents
         ), h AS (
           SELECT media_id,
             [CAST(length(hn) - length(replace(hn, c, '')) AS DOUBLE)
              for c in ['0','1','2','3','4','5','6','7',
                        '8','9','A','B','C','D','E','F']] AS v
           FROM hx
         ), scored AS (
           SELECT q.media_id AS q_id, a.media_id AS n_id,
             round(list_cosine_similarity(q.v, a.v), 6) AS cos
           FROM h q JOIN h a ON a.media_id <> q.media_id
           WHERE q.media_id < 3)
         SELECT q_id, rk, n_id, cos FROM (
           SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos DESC, n_id ASC) AS rk
           FROM scored)
         WHERE rk <= 3 ORDER BY q_id, rk""",
    "m02_frame_sample" ->
      """SELECT doc_id AS media_id,
         CAST(f / 500 AS BIGINT) AS frame_idx,
         CAST(f AS BIGINT) AS frame_off_ms,
         CAST(n_chars * 10 AS BIGINT) AS duration_ms
         FROM (SELECT doc_id, n_chars,
                 unnest(range(0, CAST(n_chars * 10 AS BIGINT), 500)) AS f
               FROM documents WHERE doc_id % 3 = 2)
         ORDER BY media_id, frame_idx""",
    "m08_media_dup_clusters" -> m08OracleSql,
    "m09_cdc_chunks" -> m09OracleSql,
    "m13_scene_cuts" -> m13OracleSql,
    "m04_byte_histogram" ->
      // UTF-8 BYTE semantics, not characters: hex(encode(text)) renders
      // each payload byte as 2 hex digits, so the high nibble of byte i
      // is hex char 2i-1 — matches the Spark side's (b & 0xF0) >>> 4
      // for any input, ASCII or not.
      """SELECT (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
         count(*) AS n_docs,
         CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
         CAST(sum(len(list_filter(
           range(1, octet_length(encode(text)) + 1),
           i -> substring(hex(encode(text)), CAST(2*i-1 AS INT), 1) = '2')))
           AS BIGINT) AS bin2_bytes,
         CAST(sum(len(list_filter(
           range(1, octet_length(encode(text)) + 1),
           i -> substring(hex(encode(text)), CAST(2*i-1 AS INT), 1) = '6')))
           AS BIGINT) AS bin6_bytes
         FROM documents GROUP BY 1 ORDER BY 1""",
    "m03_media_features" ->
      // the decode stub's feature 5 (index 4) is bin4/len — integer
      // nibble count (the m04 hex trick: high nibble of byte i = hex
      // char 2i−1) divided in DOUBLE and rounded once to REAL, exactly
      // what FakeDecoder.decode computes
      """SELECT (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
         count(*) AS n,
         round(avg(CAST(
           CAST(len(list_filter(
             range(1, octet_length(encode(text)) + 1),
             i -> substring(hex(encode(text)), CAST(2*i-1 AS INT), 1) = '4'))
             AS DOUBLE)
           / greatest(octet_length(encode(text)), 1) AS REAL)), 4) AS avg_f4,
         round(CAST(sum(octet_length(encode(text))) AS DOUBLE), 4) AS total_bytes
         FROM documents GROUP BY 1 ORDER BY 1""",
    "m05_resize_meta" ->
      // replicate resizeMeta's double arithmetic exactly: scale =
      // least(1.0, 96 / double(max(w,h))), then floor(dim * scale)
      """WITH m AS (
           SELECT doc_id AS media_id,
             (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
             CAST(64 + n_chars % 64 AS INT) AS w,
             CAST(64 + n_chars % 48 AS INT) AS h
           FROM documents),
         sc AS (SELECT *,
             least(1.0, 96 / CAST(greatest(w, h) AS DOUBLE)) AS scale FROM m)
         SELECT media_id, kind,
           CAST(floor(w * scale) AS INT) AS r_width,
           CAST(floor(h * scale) AS INT) AS r_height
         FROM sc ORDER BY media_id""",
    "v02_referential_integrity" -> v02OracleSql,
    "v03_profile" -> v03OracleSql,
    "v04_drift_psi" -> v04OracleSql,
    "v07_corpus_datasheet" -> v07OracleSql,
    "v08_split_leakage" -> v08OracleSql,
    "m10_aspect_buckets" -> m10OracleSql,
    "m11_batch_manifest" -> m11OracleSql,
    "v05_vocab_divergence" -> v05OracleSql,
    "v01_quality_checks" ->
      """WITH m AS (SELECT
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             AS nn,
           CAST(count(*) - count(DISTINCT o_orderkey) AS DOUBLE) AS uq,
           CAST(min(o_totalprice) AS DOUBLE) AS mn,
           CAST(max(o_totalprice) AS DOUBLE) AS mx,
           CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END)
             AS DOUBLE) AS st
         FROM orders)
         SELECT * FROM (
           SELECT 'not_null(o_custkey)' AS chk, nn AS metric, nn = 0 AS passed
             FROM m
           UNION ALL SELECT 'unique(o_orderkey)', uq, uq = 0 FROM m
           UNION ALL SELECT 'min_bound(o_totalprice)', mn, mn >= 0 FROM m
           UNION ALL SELECT 'max_bound(o_totalprice)', mx, mx <= 100000 FROM m
           UNION ALL SELECT 'in_set(o_orderstatus)', st, st = 0 FROM m)
         ORDER BY chk""",
    "v06_dedup_impact" -> v06OracleSql,
    "v10_contamination_report" -> v10OracleSql
  )

  private[graft] val spark: Map[String, String] = Map(
    "v09_tokenizer_drift" -> v09SparkSql,
    "m15_audio_spectral" -> m15Sql(duck = false),
    "m09_cdc_chunks" -> m09SparkSqlText,
    "m13_scene_cuts" -> m13SparkSql,
    "m01_media_stats" ->
      """SELECT doc_id AS media_id,
           element_at(array('image','audio','video'), CAST(doc_id % 3 AS INT) + 1) AS kind,
           octet_length(text) AS n_bytes,
           CAST(64 + n_chars % 64 AS INT) AS width,
           CAST(64 + n_chars % 48 AS INT) AS height,
           CAST(n_chars * 10 AS INT) AS duration_ms
         FROM documents ORDER BY media_id""",
    "m02_frame_sample" ->
      """SELECT doc_id AS media_id,
           CAST(f / 500 AS BIGINT) AS frame_idx,
           CAST(f AS BIGINT) AS frame_off_ms,
           CAST(n_chars * 10 AS BIGINT) AS duration_ms
         FROM (SELECT doc_id, n_chars,
                 explode(sequence(CAST(0 AS BIGINT),
                   CAST(n_chars * 10 AS BIGINT) - 1, CAST(500 AS BIGINT))) AS f
               FROM documents WHERE doc_id % 3 = 2)
         ORDER BY media_id, frame_idx""",
    "m08_media_dup_clusters" -> m08SparkSql,
    "m04_byte_histogram" ->
      """SELECT element_at(array('image','audio','video'), CAST(doc_id % 3 AS INT) + 1) AS kind,
           count(*) AS n_docs,
           sum(CAST(octet_length(text) AS BIGINT)) AS total_bytes,
           sum(CAST(size(filter(sequence(1, octet_length(text)),
             i -> substring(hex(encode(text, 'UTF-8')), CAST(2*i-1 AS INT), 1) = '2'))
             AS BIGINT)) AS bin2_bytes,
           sum(CAST(size(filter(sequence(1, octet_length(text)),
             i -> substring(hex(encode(text, 'UTF-8')), CAST(2*i-1 AS INT), 1) = '6'))
             AS BIGINT)) AS bin6_bytes
         FROM documents GROUP BY 1 ORDER BY 1""",
    "m05_resize_meta" ->
      """WITH m AS (
           SELECT doc_id AS media_id,
             element_at(array('image','audio','video'), CAST(doc_id % 3 AS INT) + 1) AS kind,
             CAST(64 + n_chars % 64 AS INT) AS w,
             CAST(64 + n_chars % 48 AS INT) AS h
           FROM documents),
         sc AS (SELECT *,
             least(1.0, 96 / CAST(greatest(w, h) AS DOUBLE)) AS scale FROM m)
         SELECT media_id, kind,
           CAST(floor(w * scale) AS INT) AS r_width,
           CAST(floor(h * scale) AS INT) AS r_height
         FROM sc ORDER BY media_id""",
    "m06_media_dedup" ->
      """SELECT md5(CAST(text AS BINARY)) AS fp, min(doc_id) AS keeper,
           count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY keeper""",
    "m12_incremental_media" ->
      s"""WITH f AS (
           SELECT doc_id, md5(CAST(text AS BINARY)) AS fp FROM documents
         ), store AS (SELECT DISTINCT fp FROM f
                      WHERE doc_id < ${graft.operators.Dedup.D12SplitAt}),
         batch AS (SELECT * FROM f
                   WHERE doc_id >= ${graft.operators.Dedup.D12SplitAt})
         SELECT b.fp, min(b.doc_id) AS keeper, count(*) AS n_copies
         FROM batch b LEFT JOIN store s ON b.fp = s.fp
         WHERE s.fp IS NULL
         GROUP BY b.fp ORDER BY keeper""",
    "m07_media_similar" ->
      """WITH h AS (
           SELECT doc_id AS media_id,
             transform(graft_nibble_hist(CAST(text AS BINARY)),
               x -> CAST(x AS DOUBLE)) AS v
           FROM documents
         ), n AS (
           SELECT media_id, v, sqrt(graft_dot(v, v)) AS nrm FROM h
         ), scored AS (
           SELECT q.media_id AS q_id, a.media_id AS n_id,
             round(graft_dot(q.v, a.v) / (q.nrm * a.nrm), 6) AS cos
           FROM n q JOIN n a ON a.media_id <> q.media_id
           WHERE q.media_id < 3)
         SELECT q_id, rk, n_id, cos FROM (
           SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos DESC, n_id ASC) AS rk
           FROM scored)
         WHERE rk <= 3 ORDER BY q_id, rk"""
  )
}
