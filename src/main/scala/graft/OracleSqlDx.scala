package graft

import graft.operators.{Checks, Curation, Dedup, Multimodal, Pca, Pinned, Sampling, Similarity, TemporalJoins, TextOps, Warehouse}

/** GENERATED-BY-SPLIT (r14, from the monolithic SparkEntry): the
  * DuckDB oracle SQL and hand-written Spark-dialect forms for the
  * dedup (d*) and curation/sampling (x*) queries —
  * [[SparkEntry.oracleSql]]/[[SparkEntry.sparkSql]] compose the
  * family maps; shared SQL builders live in [[OracleSqlHelpers]].
  * The SQL texts are verbatim moves — the r14 split diffed the
  * composed maps byte-for-byte against the pre-split dump. */
object OracleSqlDx {
  import OracleSqlHelpers._

  /** x15: the pinned weight vector as a DuckDB list literal, indexed
    * by the md5-hex-prefix bucket. */
  private lazy val x15OracleSql: String = {
    val ws = graft.operators.Curation.qualityModelMicro.mkString("[", ", ", "]")
    s"""WITH fb AS (
           SELECT doc_id,
             CAST(('0x' || substring(md5(w), 1, 2)) AS BIGINT) AS f
           FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
                 FROM documents)
         ), pd AS (
           SELECT doc_id, f, CAST(count(*) AS BIGINT) AS c
           FROM fb GROUP BY doc_id, f
         ), sc AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(sum(c * ($ws[CAST(f + 1 AS INT)])) AS BIGINT)
               AS score_micro
           FROM pd GROUP BY doc_id)
         SELECT doc_id, n_tokens, score_micro,
           floor((score_micro / 1e6 / n_tokens)*1e4 + 0.5)/1e4 AS score,
           (score_micro > 0) AS keep
         FROM sc ORDER BY doc_id"""
  }


  private[graft] lazy val d04OracleSql: String =
    s"""$d04SigCtes
         SELECT doc_a, doc_b, hamming FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INT)
               AS hamming
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
         WHERE hamming <= 3
         ORDER BY doc_a, doc_b"""


  /** d17 replay — [[d04SigCtes]] with the d12 cross-split tail: exact
    * hamming over batch×store (the pigeonhole buckets carry it at
    * recall 1.0 for hamming ≤ 3, so the brute force is equal), best
    * match per batch doc. Split constant single-sourced from
    * [[graft.operators.Dedup.D12SplitAt]]. */
  private[graft] lazy val d17OracleSql: String = {
    val split = graft.operators.Dedup.D12SplitAt
    s"""$d04SigCtes, m AS (
           SELECT b.doc_id AS doc_id, a.doc_id AS store_id,
             CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
               AS INT) AS hamming
           FROM sig a JOIN sig b
             ON a.doc_id < $split AND b.doc_id >= $split
           WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3)
         SELECT doc_id, best_match, hamming, n_matches FROM (
           SELECT doc_id, store_id AS best_match, hamming,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY hamming ASC, store_id ASC) AS rk,
             CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_matches
           FROM m)
         WHERE rk = 1 ORDER BY doc_id"""
  }


  /** x20 replay — dialect-portable: the closed-form water-filling
    * level (λ* = max over saturation prefixes of g, see
    * [[graft.operators.Sampling.mixtureWaterfill]]) is two window
    * cumsums and one scalar max; every count is an exact integer and
    * every divide is the same IEEE double op the engine runs. */
  /** The x20 water-filling level-problem CTE tail (dialect-PORTABLE —
    * runs verbatim in DuckDB AND Spark) over a preceding CTE
    * `a(source, avail)` — shared by x20 (char mass) and x23
    * (model-token mass), so the closed-form level problem cannot
    * drift between the two allocations. Append after "WITH a AS
    * (...), ". */
  private[graft] def waterfillTailSql(frac: Double): String =
    s"""w AS (
           SELECT source, avail,
             CAST(count(*) OVER () + 1 - row_number() OVER (ORDER BY source)
               AS BIGINT) AS weight
           FROM a
         ), t AS (
           SELECT CAST(sum(weight) AS BIGINT) AS tot_w,
             CAST(floor(sum(avail) * $frac) AS BIGINT) AS budget
           FROM w
         ), c AS (
           SELECT w.source, w.avail, w.weight, t.tot_w, t.budget,
             sum(w.avail) OVER (ORDER BY w.avail * 1.0 / w.weight, w.source
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_avail,
             t.tot_w - sum(w.weight) OVER (ORDER BY w.avail * 1.0 / w.weight,
               w.source ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS w_rem
           FROM w CROSS JOIN t
         ), l AS (
           SELECT max(CASE WHEN w_rem > 0
             THEN (budget - cum_avail) * 1.0 / w_rem END) AS g_max
           FROM c
         ), f AS (
           SELECT c.source, c.avail, c.weight,
             greatest(l.g_max, c.budget * 1.0 / c.tot_w) AS lam
           FROM c CROSS JOIN l)
         SELECT source, avail, weight,
           least(avail, CAST(floor(lam * weight) AS BIGINT)) AS alloc,
           least(avail, CAST(floor(lam * weight) AS BIGINT)) = avail
             AS saturated
         FROM f ORDER BY source"""

  private[graft] lazy val x20OracleSql: String = {
    val frac = graft.operators.Sampling.X20BudgetFrac
    s"""WITH a AS (
           SELECT source, CAST(sum(n_chars) AS BIGINT) AS avail
           FROM documents GROUP BY source
         ), ${waterfillTailSql(frac)}"""
  }

  /** x23 replay — per-source model-token availability via the
    * [[OracleSqlHelpers.viterbiSegSql]] serve emitter (the t29/v09
    * unrolled Viterbi, pieces/scores interpolated from the SAME
    * pinned model the engine broadcasts), then [[waterfillTailSql]]
    * verbatim — the oracle can neither tokenize with a different
    * model nor allocate with a different level problem. */
  /** The x23 availability chain (token explode → Viterbi fertility →
    * per-source model-token mass → waterfill), parameterized on the
    * docs relation so x24 can run it verbatim over the DECONTAMINATED
    * train split — the two allocations share every scalar op — and on
    * an integer availability scale so x25 can run the SAME level
    * problem over the epoch-scaled supply (E × unique tokens). */
  private[graft] def x23ChainSql(docsRel: String,
                                 availScale: Int = 1,
                                 frac: Double =
                                   graft.operators.Sampling.X20BudgetFrac)
      : String = {
    val T = graft.operators.TextOps
    val unk = s"CAST(${T.T29UnkScore} AS DOUBLE)"
    val vals = T.pinnedUnigram
      .map { case (p, c) => s"('$p', $c)" }.mkString(", ")
    s"""tok AS MATERIALIZED (
           SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+'))
             AS w
           FROM $docsRel
         ), words AS MATERIALIZED (
           SELECT w, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY w
         ), guard AS MATERIALIZED (
           SELECT CASE WHEN max(length(w)) > 8
             THEN CAST(error('x23 unroll bound: word longer than 8') AS INT)
             ELSE 1 END AS ok FROM words
         ), scp AS MATERIALIZED (
           SELECT piece,
             ln(CAST(c + 1 AS DOUBLE) /
                CAST(${T.pinnedUnigramDenom} AS DOUBLE)) AS s
           FROM (VALUES $vals) AS t(piece, c)
         ), seg AS MATERIALIZED (
           ${OracleSqlHelpers.viterbiSegSql("scp", Some(unk))}
         ), a AS (
           SELECT source,
             CAST(sum(seg.n_sub) AS BIGINT) * $availScale AS avail
           FROM tok JOIN seg ON tok.w = seg.w
           WHERE (SELECT ok FROM guard) = 1
           GROUP BY source
         ), ${waterfillTailSql(frac)}"""
  }

  private[graft] lazy val x23OracleSql: String =
    s"WITH ${x23ChainSql("documents")}"

  /** x25 replay — THE SAME [[x23ChainSql]] level problem over the
    * epoch-scaled supply (availScale = E, frac = the x25 fraction),
    * wrapped once to derive unique supply and epochs from the scaled
    * outputs (both exact: scaled avail = E × unique by construction,
    * and the ceil runs on an exact double quotient). */
  private[graft] lazy val x25OracleSql: String = {
    val e = graft.operators.Sampling.X25MaxEpochs
    val frac = graft.operators.Sampling.X25BudgetFrac
    s"""SELECT source,
           CAST(avail / $e AS BIGINT) AS unique_avail,
           weight, alloc,
           CASE WHEN avail > 0
             THEN CAST(ceil(alloc * 1.0 / (avail / $e)) AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS epochs_used,
           saturated
         FROM (WITH ${x23ChainSql("documents", availScale = e, frac = frac)}
         ) t ORDER BY source"""
  }

  /** x26: the [[graft.operators.Curation.qualityFitTrajectory]]
    * gradient-descent fit with all [[Curation.X26Rounds]] rounds
    * UNROLLED as CTEs (the t13 discipline) — round r scores every doc
    * against w(r−1), takes the micro-scaled residual against the
    * t02-quality label, aggregates the per-feature int64 gradient,
    * and derives w(r) with the single shared IEEE
    * ⌊g·1.0/(n·LrDen)⌋ step. Features are the milli-normalized counts
    * (exact positive integer division — `//` and `DIV` agree). The
    * oracle re-derives the whole training trajectory from the raw
    * corpus; only the final weight table is compared. `serve = true`
    * appends the normalized-serve tail over the final weights instead
    * (the x26s registration), so the fit chain and the serve
    * machinery are the same text in both queries. */
  private[graft] def x26Sql(duck: Boolean, serve: Boolean): String = {
    val C = graft.operators.Curation
    val rounds = C.X26Rounds
    val scale = C.X26Scale
    val lrDen = C.X26LrDen
    val thr = C.X26LabelMin
    val tokSplit =
      if (duck) """regexp_split_to_array(trim(text), '\s+')"""
      else """split(trim(text), '\\s+')"""
    val unnestTok =
      if (duck) s"unnest($tokSplit)" else s"explode($tokSplit)"
    val hexToInt =
      if (duck) "CAST(('0x' || substring(md5(w), 1, 2)) AS BIGINT)"
      else "CAST(conv(substring(md5(w), 1, 2), 16, 10) AS BIGINT)"
    val lenFn = if (duck) "len" else "size"
    val filterFn = if (duck) "list_filter" else "filter"
    val reFlags = if (duck) ", 'g'" else ""
    val wsPat = if (duck) """'\s+'""" else """'\\s+'"""
    val rangeF =
      if (duck) "SELECT CAST(range AS BIGINT) AS f FROM range(0, 256)"
      else "SELECT CAST(id AS BIGINT) AS f FROM range(0, 256)"
    val stop = "('the','a','of','and','to','in','is')"
    val roundCtes = (1 to rounds).map { r =>
      s"""s$r AS (
           SELECT pd.doc_id, CAST(sum(pd.c * w.w) AS BIGINT) AS sc
           FROM pd JOIN w${r - 1} w ON w.f = pd.f GROUP BY pd.doc_id
         ), e$r AS (
           SELECT l.doc_id, s.sc - l.y * $scale AS e
           FROM s$r s JOIN lab l ON l.doc_id = s.doc_id
         ), g$r AS (
           SELECT pd.f, CAST(sum(pd.c * e.e) AS BIGINT) AS g
           FROM pd JOIN e$r e ON e.doc_id = pd.doc_id GROUP BY pd.f
         ), w$r AS (
           SELECT w.f, w.w - CAST(floor((COALESCE(g.g, 0) * 1.0) /
             (nn.n * $lrDen)) AS BIGINT) AS w
           FROM w${r - 1} w LEFT JOIN g$r g ON g.f = w.f CROSS JOIN nn)"""
    }.mkString(",\n         ")
    val intDiv = if (duck) "//" else "DIV"
    val tail =
      if (!serve)
        s"SELECT CAST(f AS INT) AS f, w AS w_micro FROM w$rounds ORDER BY f"
      else {
        val scoreExpr =
          if (duck) "floor((score_micro / 1e6)*1e4 + 0.5)/1e4"
          else
            "floor((CAST(score_micro AS DOUBLE) / 1e6)*1e4 + 0.5)/1e4"
        s"""SELECT doc_id, n_tokens, score_micro,
             $scoreExpr AS score,
             (score_micro >= ${C.X26KeepMin}) AS keep
           FROM (
             SELECT pd.doc_id, CAST(max(pd.ntok) AS BIGINT) AS n_tokens,
               CAST(sum(pd.c * w.w) AS BIGINT) AS score_micro
             FROM pd JOIN w$rounds w ON w.f = pd.f GROUP BY pd.doc_id)
           ORDER BY doc_id"""
      }
    s"""WITH fb AS (
           SELECT doc_id, $hexToInt AS f
           FROM (SELECT doc_id, $unnestTok AS w FROM documents)
         ), craw AS (
           SELECT doc_id, f, CAST(count(*) AS BIGINT) AS craw
           FROM fb GROUP BY doc_id, f
         ), tot AS (
           SELECT doc_id, CAST(sum(craw) AS BIGINT) AS ntok
           FROM craw GROUP BY doc_id
         ), pd AS (
           SELECT c.doc_id, c.f, t.ntok,
             CAST((c.craw * 1000) $intDiv t.ntok AS BIGINT) AS c
           FROM craw c JOIN tot t ON t.doc_id = c.doc_id
         ), lab AS (
           SELECT doc_id,
             CASE WHEN floor((least(1.0, n_tok/20.0)*0.4
                   + least(1.0, (n_stop/n_tok)*5.0)*0.3
                   + (CASE WHEN n_nonspace/n_tok BETWEEN 3.0 AND 10.0
                           THEN 1.0 ELSE 0.0 END)*0.3)*1e4 + 0.5)/1e4
                  >= CAST($thr AS DOUBLE)
               THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
           FROM (
             SELECT doc_id,
               CAST($lenFn($tokSplit) AS DOUBLE) AS n_tok,
               CAST($lenFn($filterFn($tokSplit,
                 x -> x IN $stop)) AS DOUBLE) AS n_stop,
               CAST(length(regexp_replace(text, $wsPat, ''$reFlags))
                 AS DOUBLE) AS n_nonspace
             FROM documents)
         ), nn AS (
           SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM pd
         ), w0 AS (
           SELECT f, CAST(0 AS BIGINT) AS w FROM ($rangeF)
         ),
         $roundCtes
         $tail"""
  }

  private[graft] lazy val x26OracleSql: String =
    x26Sql(duck = true, serve = false)
  private[graft] lazy val x26ServeOracleSql: String =
    x26Sql(duck = true, serve = true)
  private[graft] lazy val x26SparkSql: String =
    x26Sql(duck = false, serve = false)
  private[graft] lazy val x26ServeSparkSql: String =
    x26Sql(duck = false, serve = true)

  /** x27: the read-back manifest replay — re-derives the
    * epoch-ordered pack from the raw corpus: x19's epoch-0 key
    * (md5("0:"+id)) fixes the order, the token prefix sum runs in
    * that order, and the x10 sequence geometry + round-robin shard
    * follow arithmetically. The truth side uses a plain global window
    * (oracle-only — the ENGINE splices md5-prefix buckets so no task
    * sees the whole corpus). What makes this row special: the engine
    * side is read back FROM THE WRITTEN SHARD FILES, so a hash match
    * proves the on-disk export, not just the plan. */
  private[graft] def x27Sql(duck: Boolean, epoch: Long = 0L): String = {
    val S = graft.operators.Sampling
    val budget = S.X22Budget
    val nSh = S.X27Shards
    val nTok =
      if (duck) """CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)"""
      else """CAST(size(split(trim(text), '\\s+')) AS BIGINT)"""
    val key =
      if (duck) s"md5('$epoch:' || CAST(doc_id AS VARCHAR))"
      else s"md5(concat('$epoch:', CAST(doc_id AS STRING)))"
    val div = if (duck) "//" else "DIV"
    s"""WITH d AS (
           SELECT doc_id, $nTok AS n_tokens, $key AS key
           FROM documents
         ), o AS (
           SELECT doc_id, n_tokens,
             CAST(row_number() OVER (ORDER BY key, doc_id) AS BIGINT)
               AS pos,
             CAST(COALESCE(sum(n_tokens) OVER (ORDER BY key, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_tok
           FROM d)
         SELECT doc_id, pos, n_tokens, start_tok,
           CAST(start_tok $div $budget AS BIGINT) AS seq_first,
           CAST((start_tok + n_tokens - 1) $div $budget
             - start_tok $div $budget + 1 AS BIGINT) AS n_seqs,
           CAST(start_tok % $budget AS BIGINT) AS pos_in_seq,
           CAST((start_tok $div $budget) % $nSh AS INT) AS shard
         FROM o ORDER BY doc_id"""
  }

  private[graft] lazy val x27OracleSql: String = x27Sql(duck = true)
  private[graft] lazy val x27SparkSql: String = x27Sql(duck = false)
  /** x27e1: the epoch-1 tree — same replay with the epoch-1 key. */
  private[graft] lazy val x27e1OracleSql: String =
    x27Sql(duck = true, epoch = 1L)
  private[graft] lazy val x27e1SparkSql: String =
    x27Sql(duck = false, epoch = 1L)

  /** x24 replay — x05's member oracle VERBATIM as a CTE (the v10
    * composition discipline) filtered at the engine's near-copy
    * threshold, the md5-prefix train filter, a left-anti survivors
    * frame, then the SAME [[x23ChainSql]] over it — the oracle can
    * neither flag with a different lens nor budget with a different
    * tokenizer/level problem than the members'. */
  private[graft] lazy val x24OracleSql: String = {
    val thr = graft.operators.Sampling.X24ContaminationMin
    s"""WITH x05r AS MATERIALIZED (
           $x05OracleSql
         ), flagged AS (
           SELECT doc_id FROM x05r
           WHERE contamination >= CAST($thr AS DOUBLE)
         ), sp AS (
           SELECT doc_id, source, text,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
           FROM documents
         ), clean AS MATERIALIZED (
           SELECT s.doc_id, s.source, s.text FROM sp s
           LEFT JOIN flagged f ON f.doc_id = s.doc_id
           WHERE s.bucket >= '1a' AND f.doc_id IS NULL
         ), ${x23ChainSql("clean")}"""
  }


  /** x21 replay — the x17 content-fingerprint spelling pushed through
    * the x01 hash-prefix split, keyed on the FAMILY fingerprint. */
  private[graft] lazy val x21OracleSql: String =
    """WITH f AS (
           SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
           FROM documents
         ), sp AS (
           SELECT fp,
             CASE WHEN substring(md5(fp), 1, 2) < '0d' THEN 'test'
                  WHEN substring(md5(fp), 1, 2) < '1a' THEN 'val'
                  ELSE 'train' END AS split
           FROM f)
         SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_families
         FROM sp GROUP BY split ORDER BY split"""


  /** x22 replay — x10's offsets chain, each doc exploded to its
    * occupied sequences via range() (DuckDB range is half-open; the
    * engine's `sequence` is inclusive, hence the +n_seqs bound), then
    * one (seq_id) aggregate. All-integer math. */
  private[graft] lazy val x22OracleSql: String = {
    val B = Sampling.X22Budget
    // raw interpolator: the s-interpolator would escape-process the
    // regex backslash
    raw"""WITH n AS (
           SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
           FROM documents
         ), c AS (
           SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
               AS BIGINT) AS start_tok
           FROM n
         ), m AS (
           SELECT n_tokens, start_tok,
             ((start_tok + n_tokens - 1) // $B) - (start_tok // $B) + 1
               AS n_seqs
           FROM c WHERE n_tokens >= 1
         ), ex AS (
           SELECT n_tokens, start_tok, n_seqs,
             unnest(range(start_tok // $B, start_tok // $B + n_seqs))
               AS seq_id
           FROM m)
         SELECT seq_id, n_tokens_filled, n_docs, n_fragments,
           n_tokens_filled = $B AS full
         FROM (
           SELECT seq_id,
             CAST(sum(least(start_tok + n_tokens, (seq_id + 1) * $B)
               - greatest(start_tok, seq_id * $B)) AS BIGINT)
               AS n_tokens_filled,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN n_seqs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fragments
           FROM ex GROUP BY seq_id)
         ORDER BY seq_id"""
  }


  private[graft] lazy val x18OracleSql: String =
    x18Sql(h => s"CAST(('0x' || $h) AS BIGINT)", ", 'g'", "\\s+")

  /** x05 replay — named (not inline in the map) so v10's composed
    * contamination report replays it verbatim as a CTE
    * ([[OracleSqlMv.v10OracleSql]]). */
  private[graft] lazy val x05OracleSql: String =
    """WITH toks AS (
           SELECT doc_id,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
             regexp_split_to_array(trim(text), '\s+') AS tk
           FROM documents
         ), sh AS (
           SELECT doc_id, bucket,
             list_distinct([array_to_string(tk[i:i+2], ' ')
               for i in range(1, len(tk)-1)]) AS shingles
           FROM toks WHERE len(tk) >= 3
         ), test_sh AS (
           SELECT DISTINCT unnest(shingles) AS shingle
           FROM sh WHERE bucket < '0d'
         ), train AS (
           SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_shingles,
             unnest(shingles) AS shingle
           FROM sh WHERE bucket >= '1a')
         SELECT t.doc_id,
           count(*) AS n_contaminated,
           n_shingles,
           floor((count(*) / CAST(n_shingles AS DOUBLE))*1e4 + 0.5)/1e4
             AS contamination
         FROM train t JOIN test_sh USING (shingle)
         GROUP BY t.doc_id, n_shingles ORDER BY t.doc_id"""

  /** x16 replay — named for the same v10 composition reason. */
  private[graft] lazy val x16OracleSql: String =
    s"""WITH toks AS (
           SELECT doc_id,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
             regexp_split_to_array(trim(text), '\\s+') AS tk
           FROM documents
         ), sh AS (
           SELECT doc_id, bucket,
             list_distinct([array_to_string(tk[i:i+2], ' ')
               for i in range(1, len(tk)-1)]) AS shingles
           FROM toks WHERE len(tk) >= 3
         ), m AS (
           SELECT t.doc_id AS doc_id, b.doc_id AS bench_id,
             round(len(list_intersect(t.shingles, b.shingles)) * 1.0
               / (len(t.shingles) + len(b.shingles)
                  - len(list_intersect(t.shingles, b.shingles))), 4) AS jaccard
           FROM sh t JOIN sh b ON t.bucket >= '1a' AND b.bucket < '0d'
           WHERE round(len(list_intersect(t.shingles, b.shingles)) * 1.0
               / (len(t.shingles) + len(b.shingles)
                  - len(list_intersect(t.shingles, b.shingles))), 4)
             >= ${graft.operators.Dedup.X16Threshold})
         SELECT doc_id, bench_id, jaccard, n_matches FROM (
           SELECT doc_id, bench_id, jaccard,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY jaccard DESC, bench_id ASC) AS rk,
             CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_matches
           FROM m)
         WHERE rk = 1 ORDER BY doc_id"""

  /** x19 replay — dialect-PORTABLE (runs verbatim in DuckDB AND via
    * spark.sql): per-epoch md5-salted sort keys ranked by one window;
    * the engine's bucket-splice produces the same total order. Epochs
    * and shard count interpolate from
    * [[graft.operators.Sampling.X19Epochs]]/[[graft.operators.Sampling.X19Shards]]. */
  private[graft] lazy val x19OracleSql: String = {
    val e = graft.operators.Sampling.X19Epochs
    val sh = graft.operators.Sampling.X19Shards
    val values = (0 until e).map(i => s"($i)").mkString(", ")
    s"""WITH k AS (
           SELECT e.epoch, d.doc_id,
             md5(CAST(e.epoch AS STRING) || ':' || CAST(d.doc_id AS STRING))
               AS key
           FROM documents d CROSS JOIN (VALUES $values) AS e(epoch)
         )
         SELECT epoch, doc_id, pos, CAST((pos - 1) % $sh AS INT) AS shard
         FROM (
           SELECT epoch, doc_id,
             CAST(row_number() OVER (PARTITION BY epoch
               ORDER BY key ASC, doc_id ASC) AS BIGINT) AS pos
           FROM k)
         ORDER BY epoch, pos"""
  }


  /** d14 replay — the t26 fingerprint CTEs verbatim, with the span
    * tail: a window opens a new island iff a token gap precedes it
    * (start > running max end + 1, so touching windows merge), then
    * each island reports its extent. */
  private[graft] lazy val d14OracleSql: String =
    s"""$t26MarkedCtes, isl AS (
           SELECT doc_id, i, e,
             CASE WHEN i > coalesce(max(e) OVER (PARTITION BY doc_id
                 ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
               THEN 1 ELSE 0 END AS opens
           FROM marked
         ), isl2 AS (
           SELECT doc_id, i, e,
             sum(opens) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM isl)
         SELECT doc_id, CAST(island AS INT) AS span_id,
           CAST(min(i) AS INT) AS span_start,
           CAST(max(e) AS INT) AS span_end,
           CAST(max(e) - min(i) + 1 AS INT) AS span_tokens,
           CAST(count(*) AS BIGINT) AS n_windows
         FROM isl2
         WHERE (SELECT ok FROM guard) = 1
         GROUP BY doc_id, island
         ORDER BY doc_id, span_id"""


  /** d13 replay — the deliberate ALL-PAIRS levenshtein baseline (the
    * d03 quadratic-oracle contract): the engine's delete-neighborhood
    * candidate join must reproduce the brute-force pair set exactly.
    * Dialect-portable (Spark and DuckDB both ship `levenshtein`). */
  private[graft] lazy val d13OracleSql: String = {
    val k = graft.operators.Dedup.D13MaxDist
    s"""WITH c AS (SELECT c_custkey AS id, c_name AS name FROM customer)
         SELECT a.id AS a_id, b.id AS b_id,
           a.name AS a_name, b.name AS b_name,
           CAST(levenshtein(a.name, b.name) AS INT) AS dist
         FROM c a JOIN c b ON a.id < b.id
         WHERE levenshtein(a.name, b.name) <= $k
         ORDER BY a_id, b_id"""
  }


  /** d15 replay — the incremental-admission verdicts as a brute-force
    * batch×store levenshtein (the d13 quadratic-oracle contract); the
    * split scalar replays the engine's floor(max·frac). Dialect-
    * portable. */
  private[graft] lazy val d15OracleSql: String = {
    val k = graft.operators.Dedup.D13MaxDist
    val frac = graft.operators.Dedup.D15SplitFrac
    s"""WITH c AS (SELECT c_custkey AS id, c_name AS name FROM customer),
         cut AS (SELECT CAST(floor(max(id) * $frac) AS BIGINT) AS v FROM c),
         b AS (SELECT id, name FROM c CROSS JOIN cut WHERE id >= cut.v),
         st AS (SELECT id, name FROM c CROSS JOIN cut WHERE id < cut.v),
         m AS (
           SELECT b.id, st.id AS store_id,
             CAST(levenshtein(b.name, st.name) AS INT) AS dist
           FROM b JOIN st ON levenshtein(b.name, st.name) <= $k)
         SELECT id, best_match, dist, n_matches FROM (
           SELECT id, store_id AS best_match, dist,
             row_number() OVER (PARTITION BY id ORDER BY dist, store_id)
               AS rk,
             CAST(count(*) OVER (PARTITION BY id) AS BIGINT) AS n_matches
           FROM m)
         WHERE rk = 1 ORDER BY id"""
  }


  /** d16 replay — the ONLY oracle that replays the full
    * 64-permutation minhash in SQL (d02 sidesteps it by running in
    * the band-recall-1.0 regime; d16's whole point is measuring the
    * band recall where it is NOT 1). Layout follows the t26
    * layer-per-splitmix-round lesson:
    *
    *  - `shr`: the d04 HUGEINT hashed-shingle rows (FNV-1a tokens,
    *    3-round splitmix 3-grams) — the same values the engine's
    *    [[graft.functions.Hashing.shingleHashes]] kernel emits;
    *  - `perm`: ONE layer with 64 PARALLEL one-splitmix chains
    *    (independent chains don't compound the lateral-substitution
    *    blow-up the way d04's 3 chained rounds do);
    *  - `mins`: per-doc minima taken over the SIGNED reinterpretation
    *    (the engine's `Long` compare), mapped back to unsigned bits;
    *  - `bnd0..3`: four layers of 16 parallel chains folding the band
    *    minima into the 8-byte band keys, inits/seeds single-sourced
    *    from [[graft.functions.Hashing.permSeed]]/`bandInit`;
    *  - candidates from the (band, key) self-join; ground truth from
    *    the d03 string-shingle brute force at
    *    [[graft.operators.Dedup.D16MinJaccard]]; binned recall tail.
    */
  /** Shared 64-permutation minhash-minima CTE chain (toks -> sh_pos ->
    * shr -> perm -> mins -> minsu) — the expensive half of the d16 AND
    * d19 replays, extracted so the two oracles cannot drift. Emits
    * `minsu(doc_id, m0..m63)`. Callers open `WITH `. */
  private lazy val minhashMinimaCtes: String = {
    val hash = graft.functions.Hashing
    val nPerm = hash.NumPerm
    def u(v: Long) = java.lang.Long.toUnsignedString(v) + "::HUGEINT"
    val permChains = (0 until nPerm).map { i =>
      splitmixChainSql(i.toString, "shingle", u(hash.permSeed(i)))
    }.mkString(",\n             ")
    val minCols = (0 until nPerm).map { i =>
      s"""min(CASE WHEN a$i >= 9223372036854775808::HUGEINT
             THEN a$i - 18446744073709551616::HUGEINT ELSE a$i END) AS sm$i"""
    }.mkString(",\n             ")
    val unsignedCols = (0 until nPerm).map { i =>
      s"""CASE WHEN sm$i < 0 THEN sm$i + 18446744073709551616::HUGEINT
             ELSE sm$i END AS m$i"""
    }.mkString(",\n             ")
    s"""toks AS (
           SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\\s+'),
             tk -> list_reduce(
               list_prepend(14695981039346656037::HUGEINT,
                 list_transform(string_split(tk, ''), c -> ord(c)::HUGEINT)),
               (h, c) -> (xor(h, c) * 1099511628211::HUGEINT)
                         % 18446744073709551616::HUGEINT)) AS th
           FROM documents
         ), sh_pos AS (
           SELECT doc_id, th, unnest(range(1, len(th) - 1)) AS i
           FROM toks WHERE len(th) >= 3
         ), shr AS (
           SELECT DISTINCT doc_id, a3 AS shingle FROM (
             SELECT doc_id,
               ${splitmixChainSql("1",
                   "11400714819323198485::HUGEINT", "th[CAST(i AS INT)]")},
               ${splitmixChainSql("2", "a1", "th[CAST(i + 1 AS INT)]")},
               ${splitmixChainSql("3", "a2", "th[CAST(i + 2 AS INT)]")}
             FROM sh_pos)
         ), perm AS (
           SELECT doc_id,
             $permChains
           FROM shr
         ), mins AS (
           SELECT doc_id,
             $minCols
           FROM perm GROUP BY doc_id
         ), minsu AS MATERIALIZED (
           SELECT doc_id,
             $unsignedCols
           FROM mins
         )"""
  }

  /** Parametric band-key CTE chain over `minsu` at `bandsN` bands
    * (rows = 64/bandsN), CTEs suffixed `sfx` — emits
    * `keys$sfx(doc_id, band, key)`. bandsN=16, sfx="" reproduces the
    * d16 layers exactly (same bandInit inits, same per-row splitmix
    * chains). */
  private def bandKeyCtes(bandsN: Int, sfx: String): String = {
    val hash = graft.functions.Hashing
    val nPerm = hash.NumPerm
    require(nPerm % bandsN == 0, s"bands=$bandsN must divide $nPerm")
    val rpb = nPerm / bandsN
    def u(v: Long) = java.lang.Long.toUnsignedString(v) + "::HUGEINT"
    val mAll = (0 until nPerm).map(i => s"m$i").mkString(", ")
    def bandLayer(r: Int): String = {
      val chains = (0 until bandsN).map { b =>
        val prev = if (r == 0) u(hash.bandInit(b)) else s"ab${b}r${r - 1}"
        splitmixChainSql(s"b${b}r$r", prev, s"m${b * rpb + r}")
      }.mkString(",\n             ")
      s"""SELECT doc_id, $mAll,
             $chains
           FROM ${if (r == 0) "minsu" else s"bnd$sfx${r - 1}"}"""
    }
    val layers = (0 until rpb)
      .map(r => s"bnd$sfx$r AS (${bandLayer(r)})").mkString(",\n         ")
    val keyList = (0 until bandsN).map(b => s"ab${b}r${rpb - 1}")
      .mkString("[", ", ", "]")
    s"""$layers,
         keys$sfx AS MATERIALIZED (
           SELECT doc_id, CAST(bb.b AS INT) AS band,
             ($keyList)[CAST(bb.b AS INT) + 1] AS key
           FROM bnd$sfx${rpb - 1}
           CROSS JOIN (SELECT unnest(range(0, $bandsN)) AS b) bb
         )"""
  }

  /** d19 replay — the shared minima chain, one parametric band-key
    * fold per geometry in [[graft.operators.Dedup.D19Bands]],
    * candidates per geometry from the (band, key) self-joins, and the
    * d16-contract string-shingle truth at
    * [[graft.operators.Dedup.D19Tau]]. */
  private[graft] lazy val d19OracleSql: String = {
    val tau = graft.operators.Dedup.D19Tau
    val geoms = graft.operators.Dedup.D19Bands
    val geomCtes = geoms.map(b => bandKeyCtes(b, s"_g$b"))
      .mkString(",\n         ")
    val candCtes = geoms.map { b =>
      s"""cand_g$b AS MATERIALIZED (
           SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           FROM keys_g$b x JOIN keys_g$b y
             ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)"""
    }.mkString(",\n         ")
    val arms = geoms.map { b =>
      s"""SELECT $b AS bands, ${64 / b} AS rows_per_band,
             (SELECT CAST(count(*) AS BIGINT) FROM cand_g$b) AS n_candidates,
             (SELECT n_truth FROM tcount) AS n_truth,
             (SELECT CAST(count(*) AS BIGINT)
              FROM cand_g$b c JOIN truth t
                ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS n_caught"""
    }.mkString("\n           UNION ALL\n           ")
    s"""WITH $minhashMinimaCtes,
         $geomCtes,
         $candCtes,
         stoks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
           FROM documents
         ), ssh AS (
           SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
             for i in range(1, len(tk)-1)]) AS shingles
           FROM stoks WHERE len(tk) >= 3
         ), truth AS MATERIALIZED (
           SELECT doc_a, doc_b FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.shingles, b.shingles)) AS inter,
               len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles)) AS uni
             FROM ssh a JOIN ssh b ON a.doc_id < b.doc_id)
           WHERE round(inter * 1.0 / uni, 4) >= $tau
         ), tcount AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth)
         SELECT bands, rows_per_band, n_candidates, n_truth, n_caught,
           CASE WHEN n_truth = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(n_caught * 1000.0 / n_truth + 0.5) AS BIGINT)
           END AS recall_milli,
           CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(n_caught * 1000.0 / n_candidates + 0.5)
                  AS BIGINT)
           END AS precision_milli
         FROM (
           $arms)
         ORDER BY bands"""
  }

  private[graft] lazy val d16OracleSql: String = {
    val minJ = graft.operators.Dedup.D16MinJaccard
    s"""WITH $minhashMinimaCtes,
         ${bandKeyCtes(graft.functions.Hashing.Bands, "")},
         cand AS (
           SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           FROM keys x JOIN keys y
             ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
         ), stoks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
           FROM documents
         ), ssh AS (
           SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
             for i in range(1, len(tk)-1)]) AS shingles
           FROM stoks WHERE len(tk) >= 3
         ), truth AS (
           SELECT doc_a, doc_b, round(inter * 1.0 / uni, 4) AS jaccard FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.shingles, b.shingles)) AS inter,
               len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles)) AS uni
             FROM ssh a JOIN ssh b ON a.doc_id < b.doc_id)
           WHERE round(inter * 1.0 / uni, 4) >= $minJ)
         SELECT bin, n_pairs, n_caught,
           CAST(floor(CAST(n_caught AS DOUBLE) * 1000.0
             / CAST(n_pairs AS DOUBLE) + 0.5) AS BIGINT) AS recall_milli
         FROM (
           SELECT CAST(least(floor(t.jaccard * 10), 9) AS INT) AS bin,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_caught
           FROM truth t LEFT JOIN cand c
             ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
           GROUP BY 1)
         ORDER BY bin"""
  }


  /** d18 replay — ONE shared string-shingle Jaccard pair CTE at
    * min(τ), then one recursive-CC arm per swept threshold from
    * [[graft.operators.Dedup.D18Taus]] (the d05 reach CTE, suffixed
    * per arm); counts per arm. */
  private[graft] lazy val d18OracleSql: String = {
    val taus = graft.operators.Dedup.D18Taus
    def deci(t: Double) = math.floor(t * 10 + 0.5).toInt
    val parts = taus.map { tau =>
      val d = deci(tau)
      s"""e$d AS (
           SELECT doc_a AS a, doc_b AS b FROM jp WHERE j >= $tau
           UNION ALL SELECT doc_b, doc_a FROM jp WHERE j >= $tau
         ), nd$d AS (SELECT DISTINCT a AS n FROM e$d),
         r$d(n, m) AS (
           SELECT n, n FROM nd$d
           UNION
           SELECT r.n, e.b FROM r$d r JOIN e$d e ON r.m = e.a
         ), cl$d AS (SELECT n, min(m) AS cluster FROM r$d GROUP BY n)"""
    }.mkString(",\n         ")
    val arms = taus.map { tau =>
      val d = deci(tau)
      s"""SELECT $d AS tau_deci,
             (SELECT CAST(count(*) AS BIGINT) FROM jp WHERE j >= $tau)
               AS n_pairs,
             CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
             CAST(count(*) - count(DISTINCT cluster) AS BIGINT) AS n_removed
           FROM cl$d"""
    }.mkString("\n           UNION ALL\n           ")
    s"""WITH RECURSIVE vtoks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
           FROM documents
         ), vsh AS (
           SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
             for i in range(1, len(tk)-1)]) AS shingles
           FROM vtoks WHERE len(tk) >= 3
         ), jp AS (
           SELECT doc_a, doc_b, j FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(len(list_intersect(a.shingles, b.shingles)) * 1.0 /
                 (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles))), 4) AS j
             FROM vsh a JOIN vsh b ON a.doc_id < b.doc_id)
           WHERE j >= ${taus.min}
         ), $parts
         SELECT tau_deci, n_pairs, n_clusters, n_removed FROM (
           $arms)
         ORDER BY tau_deci"""
  }


  /** x14: nearest pinned cell (the s05 argmax arithmetic, ties to the
    * lower index) + the x13-style deterministic md5 pick, ranked per
    * cell — cluster-balanced sampling. */
  private lazy val x14OracleSql: String = {
    val dts = centroidDotsList(Pinned.ivfCentroids)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         n AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt($unrolledNorm)) AS sv FROM e),
         asg AS (SELECT vec_id,
                 CAST(list_position(dts, list_max(dts)) - 1 AS INT) AS cell,
                 md5(CAST(vec_id AS VARCHAR)) AS pick
               FROM (SELECT vec_id, sv, $dts AS dts FROM n))
         SELECT cell, rk, vec_id FROM (
           SELECT cell, vec_id,
             CAST(row_number() OVER (PARTITION BY cell
               ORDER BY pick ASC, vec_id ASC) AS BIGINT) AS rk
           FROM asg)
         WHERE rk <= ${Sampling.X14PerCell} ORDER BY cell, rk"""
  }


  /** d09 = multi-table LSH pairs + connected components: the pair CTE
    * is the 12-table OR-construction, the CC tail is the d05 oracle's
    * reach/min recursive CTE over the pair edges; per-(table, bucket)
    * sizes asserted under the engine cap by the guard. */
  private[graft] lazy val d09OracleSql: String =
    s"""WITH RECURSIVE ${lshBucketsCte(nTables = 12, nPlanes = 8)},
         ${capGuardCte("d09",
           "SELECT count(*) AS cnt FROM buckets GROUP BY tb, bucket")},
         pairs AS (
           SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM buckets a JOIN buckets b
             ON a.tb = b.tb AND a.bucket = b.bucket AND a.vec_id < b.vec_id
           JOIN e ea ON ea.vec_id = a.vec_id
           JOIN e eb ON eb.vec_id = b.vec_id
           CROSS JOIN guard
           WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.4),
         $ccTailSql"""


  private[graft] val oracles: Map[String, String] = Map(
    "x20_mixture_waterfill" -> x20OracleSql,
    "x23_token_budget_mix" -> x23OracleSql,
    "x24_decontaminated_budget" -> x24OracleSql,
    "x25_epoch_budget" -> x25OracleSql,
    "x26_quality_fit" -> x26OracleSql,
    "x26s_fitted_serve" -> x26ServeOracleSql,
    "x27_packed_shards" -> x27OracleSql,
    "x27e1_epoch_export" -> x27e1OracleSql,
    "d19_band_plan" -> d19OracleSql,
    "x21_family_split" -> x21OracleSql,
    "x22_pack_efficiency" -> x22OracleSql,
    "d16_lsh_scurve" -> d16OracleSql,
    "d17_incremental_simhash" -> d17OracleSql,
    "d18_threshold_curve" -> d18OracleSql,
    "d13_fuzzy_pairs" -> d13OracleSql,
    "d14_dup_spans" -> d14OracleSql,
    "d15_incremental_fuzzy" -> d15OracleSql,
    "x01_split_counts" ->
      """SELECT lang,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d' THEN 'test'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'val'
              ELSE 'train' END AS split,
         count(*) AS n
         FROM documents GROUP BY 1, 2 ORDER BY 1, 2""",
    "x02_stratified_sample" ->
      """SELECT lang, doc_id, n_chars FROM (
           SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
           FROM documents)
         WHERE rk <= 3 ORDER BY lang, doc_id""",
    "x03_token_shards" ->
      """WITH d AS (
           SELECT lang, doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS hk
           FROM documents
         ), c AS (
           SELECT lang, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY hk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM d)
         SELECT lang, CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard,
           count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
         FROM c GROUP BY 1, 2 ORDER BY 1, 2""",
    "x04_curation_funnel" ->
      """WITH f AS (
           SELECT doc_id, text,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS n_tok,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
               x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) AS n_stop,
             CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS n_nonspace
           FROM documents),
         q AS (
           SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
             floor((least(1.0, n_tok/20.0)*0.4
                   + least(1.0, (n_stop/n_tok)*5.0)*0.3
                   + (CASE WHEN n_nonspace/n_tok BETWEEN 3.0 AND 10.0
                           THEN 1.0 ELSE 0.0 END)*0.3)*1e4 + 0.5)/1e4 AS quality
           FROM f),
         passing AS (SELECT * FROM q WHERE quality >= 0.5),
         keepers AS (SELECT fp, min(doc_id) AS doc_id FROM passing GROUP BY 1),
         sp AS (
           SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d' THEN 'test'
                       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'val'
                       ELSE 'train' END AS split
           FROM keepers)
         SELECT stage, n FROM (
           SELECT '1_raw' AS stage, count(*) AS n FROM q
           UNION ALL SELECT '2_quality_pass', count(*) FROM passing
           UNION ALL SELECT '3_dedup_keepers', count(*) FROM keepers
           UNION ALL SELECT concat('4_', split), count(*) FROM sp GROUP BY split)
         ORDER BY stage""",
    "x07_proportional_sample" ->
      """WITH r AS (
           SELECT lang, source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk,
             count(*) OVER (PARTITION BY source) AS n_stratum
           FROM documents)
         SELECT lang, source, count(*) AS n FROM r
         WHERE rk <= ceil(n_stratum * 0.2)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "x08_temperature_mix" ->
      """WITH r AS (
           SELECT source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk,
             count(*) OVER (PARTITION BY source) AS n
           FROM documents
         ), samp AS (
           SELECT source, count(*) AS n_sampled FROM r
           WHERE rk <= least(n, CAST(ceil(4.0 * sqrt(n)) AS BIGINT))
           GROUP BY source
         ), tot AS (
           SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
         SELECT source, n_docs, n_sampled
         FROM tot JOIN samp USING (source) ORDER BY source""",
    "x09_domain_caps" ->
      """SELECT source, doc_id FROM (
           SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
           FROM documents)
         WHERE rk <= 20 ORDER BY source, doc_id""",
    // x10: the oracle's single-window ordered prefix sum IS the spec;
    // the engine computes the same numbering with the two-phase
    // bucket-splice (no single-task window) — integer-exact, so the
    // hashes agree on any partitioning.,
    "x10_pack_sequences" ->
      raw"""WITH n AS (
           SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
           FROM documents
         ), c AS (
           SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
               AS BIGINT) AS start_tok
           FROM n)
         SELECT doc_id, n_tokens, start_tok,
           start_tok // ${Sampling.X22Budget} AS seq_first,
           ((start_tok + n_tokens - 1) // ${Sampling.X22Budget})
             - (start_tok // ${Sampling.X22Budget}) + 1 AS n_seqs,
           start_tok % ${Sampling.X22Budget} AS pos_in_seq
         FROM c ORDER BY doc_id""",
    "x11_dsir_weights" ->
      """WITH w AS (
           SELECT doc_id, lang,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS wd
           FROM documents
         ), fb AS (
           SELECT doc_id, (lang = 'en') AS is_target,
             substring(md5(wd), 1, 2) AS f
           FROM w
         ), buckets AS (
           SELECT f, count(*) AS n_raw,
             sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS n_tgt
           FROM fb GROUP BY 1
         ), tot AS (
           SELECT CAST(sum(n_raw) AS DOUBLE) AS r_total,
             CAST(sum(n_tgt) AS DOUBLE) AS t_total
           FROM buckets
         ), lam AS (
           SELECT f,
             CAST(floor(ln(((CAST(n_tgt AS DOUBLE) + 0.5) / (t_total + 128.0))
               / ((CAST(n_raw AS DOUBLE) + 0.5) / (r_total + 128.0)))*1e6 + 0.5)
               AS BIGINT) AS lam_micro
           FROM buckets, tot
         ), dc AS (
           SELECT doc_id, f, count(*) AS c FROM fb GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(c * lam_micro) AS BIGINT) AS weight_micro
         FROM dc JOIN lam USING (f)
         GROUP BY doc_id ORDER BY doc_id""",
    "x12_curriculum_bins" ->
      """WITH f AS (
           SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)
               AS n_tok,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
               x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
               AS n_stop,
             CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
               AS n_nonspace
           FROM documents
         ), q AS (
           SELECT doc_id,
             floor((least(1.0, n_tok/20.0)*0.4
                   + least(1.0, (n_stop/n_tok)*5.0)*0.3
                   + (CASE WHEN n_nonspace/n_tok BETWEEN 3.0 AND 10.0
                           THEN 1.0 ELSE 0.0 END)*0.3)*1e4 + 0.5)/1e4
               AS quality
           FROM f
         ), r AS (
           SELECT doc_id, quality,
             CAST(row_number() OVER (ORDER BY quality, doc_id) AS BIGINT)
               AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n
           FROM q)
         SELECT doc_id, quality, rk, ((rk - 1) * 4) // n AS bin
         FROM r ORDER BY doc_id""",
    // x13: 52 md5 bits → u ∈ (0,1], key = ln(u)/w floored to 1e-9
    // before ranking — the Efraimidis–Spirakis draw, engine-exact.,
    "x13_weighted_sample" ->
      """WITH d AS (
           SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS w,
             (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                AS BIGINT) + 1) / 4503599627370496.0 AS u
           FROM documents
         ), k AS (
           SELECT doc_id, w,
             floor((ln(u) / w)*1e9 + 0.5)/1e9 AS sk
           FROM d WHERE w > 0)
         SELECT rk, doc_id, w, sk FROM (
           SELECT doc_id, w, sk,
             CAST(row_number() OVER (ORDER BY sk DESC, doc_id ASC) AS BIGINT)
               AS rk
           FROM k)
         WHERE rk <= 50 ORDER BY rk""",
    // x14: the s05 pinned-centroid argmax assignment + the x13-style
    // deterministic md5 pick, ranked per cell.,
    "x14_cluster_sample" -> x14OracleSql,
    // x15: pinned linear quality model — weights interpolated from the
    // SAME fixture the engine serves; pure int64 micro arithmetic up
    // to the one r4-floored reporting division.,
    "x15_quality_classifier" -> x15OracleSql,
    // t22: flagged fraction over the pinned blocklist; keep compares
    // the r4-floored fraction so the boundary is engine-exact. Terms
    // and threshold are single-sourced from TextOps (the s18/capGuard
    // discipline).,
    "x05_decontaminate" -> x05OracleSql,
    // x16: exact cross-split Jaccard verdicts (string shingles replay
    // the engine's hashed sets — sizes/intersections identical modulo
    // 64-bit collisions, the documented docShingles equivalence);
    // threshold interpolated from Dedup.X16Threshold.,
    "x16_fuzzy_decontaminate" -> x16OracleSql,
    "x06_range_shards" ->
      """WITH o AS (
           SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders
         ), b AS (SELECT min(cents) AS mn, max(cents) AS mx FROM o)
         SELECT (cents - mn) * 8 // (mx - mn + 1) AS shard,
           count(*) AS n_orders,
           min(cents) AS min_cents, max(cents) AS max_cents
         FROM o, b GROUP BY 1 ORDER BY 1""",
    "d01_exact_dedup" ->
      """SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
         min(doc_id) AS keeper, count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY keeper""",
    "x17_soft_dedup_weights" ->
      """WITH f AS (
           SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
           FROM documents
         ), fam AS (
           SELECT fp, CAST(count(*) AS BIGINT) AS n_copies FROM f GROUP BY fp)
         SELECT doc_id, n_copies,
           floor((1.0 / CAST(n_copies AS DOUBLE))*1e4 + 0.5)/1e4 AS weight
         FROM f JOIN fam USING (fp) ORDER BY doc_id""",
    "x18_bloom_decontaminate" -> x18OracleSql,
    "x19_epoch_shuffle" -> x19OracleSql,
    "d11_incremental_dedup" ->
      """WITH f AS (
           SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
           FROM documents
         ), store AS (SELECT DISTINCT fp FROM f WHERE doc_id < 250),
         batch AS (SELECT * FROM f WHERE doc_id >= 250)
         SELECT b.fp, min(b.doc_id) AS keeper, count(*) AS n_copies
         FROM batch b LEFT JOIN store s ON b.fp = s.fp
         WHERE s.fp IS NULL
         GROUP BY b.fp ORDER BY keeper""",
    "d02_minhash_lsh" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents
         ), sh AS (
           SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
             for i in range(1, len(tk)-1)]) AS shingles
           FROM toks WHERE len(tk) >= 3
         ), pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.shingles, b.shingles)) AS inter,
             len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)) AS uni
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, round(inter * 1.0 / uni, 4) AS jaccard
         FROM pairs WHERE round(inter * 1.0 / uni, 4) >= 0.7
         ORDER BY doc_a, doc_b""",
    "d03_ngram_jaccard" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents
         ), sh AS (
           SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
             for i in range(1, len(tk)-1)]) AS shingles
           FROM toks WHERE len(tk) >= 3
         ), pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.shingles, b.shingles)) AS inter,
             len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)) AS uni
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, round(inter * 1.0 / uni, 4) AS jaccard
         FROM pairs WHERE round(inter * 1.0 / uni, 4) >= 0.7
         ORDER BY doc_a, doc_b""",
    // d12: the EXACT batch×store Jaccard replay (the engine's banded
    // probe carries it at band-recall 1.0 — the pinned d02 ≡ d03
    // regime restricted to cross-split pairs).,
    "d12_incremental_neardup" ->
      s"""WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk FROM documents
         ), sh AS (
           SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
             for i in range(1, len(tk)-1)]) AS shingles
           FROM toks WHERE len(tk) >= 3
         ), m AS (
           SELECT b.doc_id AS doc_id, a.doc_id AS store_id,
             round(len(list_intersect(a.shingles, b.shingles)) * 1.0
               / (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles))), 4) AS jaccard
           FROM sh a JOIN sh b
             ON a.doc_id < ${graft.operators.Dedup.D12SplitAt}
             AND b.doc_id >= ${graft.operators.Dedup.D12SplitAt}
           WHERE round(len(list_intersect(a.shingles, b.shingles)) * 1.0
               / (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles))), 4) >= 0.7)
         SELECT doc_id, store_id AS best_match, jaccard, n_matches FROM (
           SELECT doc_id, store_id, jaccard,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY jaccard DESC, store_id ASC) AS rk,
             CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_matches
           FROM m)
         WHERE rk = 1 ORDER BY doc_id""",
    // d04: the 64-bit simhash replayed exactly in integer SQL — FNV-1a
    // token hashes, SplitMix64-mixed 3-gram shingles, per-bit majority.
    // All math is HUGEINT mod 2^64; the two ~2^63.5 SplitMix64 constants
    // would overflow INT128 under direct multiply, so those use the
    // split form (a_lo·c + ((a_hi·c mod 2^32) << 32)) mod 2^64. The
    // oracle skips the engine's 16-bit-chunk pigeonhole bucketing and
    // brute-forces all pairs: the bucketing guarantees recall for
    // hamming ≤ 3 and the exact hamming filter makes both forms equal.
    // ASCII/BMP-only equivalence assumption: ord(c) over string_split
    // yields Unicode CODE POINTS while the engine's fnv64 iterates
    // UTF-16 code units — identical for every BMP character, divergent
    // only for surrogate pairs (non-BMP, absent from the synthetic
    // corpus).,
    "d04_simhash" -> d04OracleSql,
    "d05_dup_clusters" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents
         ), sh AS (
           SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
             for i in range(1, len(tk)-1)]) AS shingles
           FROM toks WHERE len(tk) >= 3
         ), pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sh a
           JOIN sh b ON a.doc_id < b.doc_id
           WHERE round(len(list_intersect(a.shingles, b.shingles)) * 1.0 /
             (len(a.shingles) + len(b.shingles)
              - len(list_intersect(a.shingles, b.shingles))), 4) >= 0.7
         ), edges AS (
           SELECT doc_a AS a, doc_b AS b FROM pairs
           UNION ALL SELECT doc_b, doc_a FROM pairs
         ), nodes AS (SELECT DISTINCT a AS n FROM edges),
         reach(n, m) AS (
           SELECT n, n FROM nodes
           UNION
           SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a
         )
         SELECT n AS doc_id, min(m) AS cluster FROM reach
         GROUP BY n ORDER BY doc_id""",
    "d06_capped_jaccard" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents
         ), sh AS (
           SELECT doc_id, unnest(list_distinct([array_to_string(tk[i:i+2], ' ')
             for i in range(1, len(tk)-1)])) AS shingle
           FROM toks WHERE len(tk) >= 3
         ), rare AS (
           SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 50
         ), kept AS (
           SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)
         ), sized AS (
           SELECT doc_id, count(*) AS n FROM kept GROUP BY 1
         ), inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             sa.n AS n_a, sb.n AS n_b, count(*) AS i
           FROM kept a JOIN kept b
             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           JOIN sized sa ON sa.doc_id = a.doc_id
           JOIN sized sb ON sb.doc_id = b.doc_id
           GROUP BY 1, 2, 3, 4)
         SELECT doc_a, doc_b, round(i * 1.0 / (n_a + n_b - i), 4) AS jaccard
         FROM inter WHERE round(i * 1.0 / (n_a + n_b - i), 4) >= 0.7
         ORDER BY doc_a, doc_b""",
    "d08_keep_best" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents
         ), sh AS (
           SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
             for i in range(1, len(tk)-1)]) AS shingles
           FROM toks WHERE len(tk) >= 3
         ), pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sh a
           JOIN sh b ON a.doc_id < b.doc_id
           WHERE round(len(list_intersect(a.shingles, b.shingles)) * 1.0 /
             (len(a.shingles) + len(b.shingles)
              - len(list_intersect(a.shingles, b.shingles))), 4) >= 0.7
         ), edges AS (
           SELECT doc_a AS a, doc_b AS b FROM pairs
           UNION ALL SELECT doc_b, doc_a FROM pairs
         ), nodes AS (SELECT DISTINCT a AS n FROM edges),
         reach(n, m) AS (
           SELECT n, n FROM nodes
           UNION
           SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a
         ), clusters AS (
           SELECT n AS doc_id, min(m) AS cluster FROM reach GROUP BY n
         ), sel AS (
           SELECT c.cluster, d.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY c.cluster
               ORDER BY d.n_chars DESC, d.doc_id ASC) AS rk,
             count(*) OVER (PARTITION BY c.cluster) AS n_members
           FROM clusters c JOIN documents d USING (doc_id))
         SELECT cluster, doc_id AS kept_doc_id, n_chars AS kept_chars, n_members
         FROM sel WHERE rk = 1 ORDER BY cluster""",
    // d10 = the minhash-banded composition; it carries d08's EXACT
    // oracle because the band recall is 1.0 on this corpus at the 0.7
    // threshold (d02 ≡ d03; DedupSpec pins pair-set equality at the
    // correctness SFs), so LSH-sourced clusters == exact clusters.,
    "d10_keep_best_lsh" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents
         ), sh AS (
           SELECT doc_id, list_distinct([array_to_string(tk[i:i+2], ' ')
             for i in range(1, len(tk)-1)]) AS shingles
           FROM toks WHERE len(tk) >= 3
         ), pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sh a
           JOIN sh b ON a.doc_id < b.doc_id
           WHERE round(len(list_intersect(a.shingles, b.shingles)) * 1.0 /
             (len(a.shingles) + len(b.shingles)
              - len(list_intersect(a.shingles, b.shingles))), 4) >= 0.7
         ), edges AS (
           SELECT doc_a AS a, doc_b AS b FROM pairs
           UNION ALL SELECT doc_b, doc_a FROM pairs
         ), nodes AS (SELECT DISTINCT a AS n FROM edges),
         reach(n, m) AS (
           SELECT n, n FROM nodes
           UNION
           SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a
         ), clusters AS (
           SELECT n AS doc_id, min(m) AS cluster FROM reach GROUP BY n
         ), sel AS (
           SELECT c.cluster, d.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY c.cluster
               ORDER BY d.n_chars DESC, d.doc_id ASC) AS rk,
             count(*) OVER (PARTITION BY c.cluster) AS n_members
           FROM clusters c JOIN documents d USING (doc_id))
         SELECT cluster, doc_id AS kept_doc_id, n_chars AS kept_chars, n_members
         FROM sel WHERE rk = 1 ORDER BY cluster""",
    "d07_embedding_clusters" ->
      """WITH RECURSIVE e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         ), pairs AS (
           SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
           FROM e a JOIN e b ON a.vec_id < b.vec_id
           WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
         ), edges AS (
           SELECT doc_a AS a, doc_b AS b FROM pairs
           UNION ALL SELECT doc_b, doc_a FROM pairs
         ), nodes AS (SELECT DISTINCT a AS n FROM edges),
         reach(n, m) AS (
           SELECT n, n FROM nodes
           UNION
           SELECT r.n, e2.b FROM reach r JOIN edges e2 ON r.m = e2.a
         )
         SELECT n AS vec_id, min(m) AS cluster FROM reach
         GROUP BY n ORDER BY vec_id""",
    "d09_embedding_clusters_lsh" -> d09OracleSql,
    // s05/s09 serve PINNED model fixtures (Pinned.ivfCentroids /
    // Pinned.pq), so cell assignment, PQ codes, ADC scores and the
    // exact re-rank are pure functions the SQL replays with unrolled
    // LEFT-ASSOCIATIVE sums — the same sequential float-op order as
    // the codegen'd loops, so even the argmax comparisons see
    // bit-identical doubles.
  )

  /** x05/x16 Spark-dialect forms — x05's is also the first CTE of
    * [[x24SparkSql]]. */
  private lazy val x05SparkSql: String =
    """WITH toks AS (
           SELECT doc_id,
             substring(md5(CAST(doc_id AS STRING)), 1, 2) AS bucket,
             split(trim(text), '\\s+') AS tk
           FROM documents
         ), sh AS (
           SELECT doc_id, bucket,
             array_distinct(transform(sequence(1, size(tk) - 2),
               i -> array_join(slice(tk, i, 3), ' '))) AS shingles
           FROM toks WHERE size(tk) >= 3
         ), test_sh AS (
           SELECT DISTINCT explode(shingles) AS shingle
           FROM sh WHERE bucket < '0d'
         ), train AS (
           SELECT doc_id, CAST(size(shingles) AS BIGINT) AS n_shingles,
             explode(shingles) AS shingle
           FROM sh WHERE bucket >= '1a')
         SELECT t.doc_id,
           count(*) AS n_contaminated,
           n_shingles,
           floor((count(*) / CAST(n_shingles AS DOUBLE))*1e4 + 0.5)/1e4
             AS contamination
         FROM train t JOIN test_sh USING (shingle)
         GROUP BY t.doc_id, n_shingles ORDER BY t.doc_id"""

  private lazy val x16SparkSql: String =
    s"""WITH toks AS (
           SELECT doc_id,
             substring(md5(CAST(doc_id AS STRING)), 1, 2) AS bucket,
             split(trim(text), '\\\\s+') AS tk
           FROM documents
         ), sh AS (
           SELECT doc_id, bucket,
             array_distinct(transform(sequence(1, size(tk) - 2),
               i -> array_join(slice(tk, i, 3), ' '))) AS shingles
           FROM toks WHERE size(tk) >= 3
         ), m AS (
           SELECT t.doc_id AS doc_id, b.doc_id AS bench_id,
             round(size(array_intersect(t.shingles, b.shingles)) * 1.0
               / (size(t.shingles) + size(b.shingles)
                  - size(array_intersect(t.shingles, b.shingles))), 4)
               AS jaccard
           FROM sh t JOIN sh b ON t.bucket >= '1a' AND b.bucket < '0d'
         ), f AS (
           SELECT * FROM m
           WHERE jaccard >= ${graft.operators.Dedup.X16Threshold}
         )
         SELECT doc_id, bench_id, jaccard, n_matches FROM (
           SELECT doc_id, bench_id, jaccard,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY jaccard DESC, bench_id ASC) AS rk,
             count(*) OVER (PARTITION BY doc_id) AS n_matches
           FROM f)
         WHERE rk = 1 ORDER BY doc_id"""

  /** x23 Spark-dialect form: the t29 `graft_unigram_segment_unk`
    * kernel face for the per-word fertility, then the SAME portable
    * [[waterfillTailSql]] the DuckDB replay appends. */
  private[graft] def x23SparkChainSql(docsRel: String,
                                      availScale: Int = 1,
                                      frac: Double =
                                        graft.operators.Sampling.X20BudgetFrac)
      : String = {
    val T = graft.operators.TextOps
    val pcs = T.pinnedUnigramPieces
      .map(p => s"'$p'").mkString("array(", ", ", ")")
    val cts = T.pinnedUnigram
      .map(_._2.toString + "L").mkString("array(", ", ", ")")
    s"""tok AS (
           SELECT source, explode(split(trim(text), '\\\\s+')) AS w
           FROM $docsRel
         ), v AS (
           SELECT w,
             CAST(size(graft_unigram_segment_unk(w, $pcs,
               transform($cts, c -> ln(CAST(c + 1 AS DOUBLE) /
                 CAST(${T.pinnedUnigramDenom}L AS DOUBLE))),
               CAST(${T.T29UnkScore} AS DOUBLE))) AS BIGINT) AS n_sub
           FROM (SELECT DISTINCT w FROM tok)
         ), a AS (
           SELECT source,
             CAST(sum(v.n_sub) AS BIGINT) * $availScale AS avail
           FROM tok JOIN v USING (w) GROUP BY source
         ), ${waterfillTailSql(frac)}"""
  }

  private[graft] lazy val x23SparkSql: String =
    s"WITH ${x23SparkChainSql("documents")}"

  private[graft] lazy val x25SparkSql: String = {
    val e = graft.operators.Sampling.X25MaxEpochs
    val frac = graft.operators.Sampling.X25BudgetFrac
    s"""SELECT source,
           CAST(avail / $e AS BIGINT) AS unique_avail,
           weight, alloc,
           CASE WHEN avail > 0
             THEN CAST(ceil(alloc * 1.0 / (avail / $e)) AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS epochs_used,
           saturated
         FROM (WITH ${x23SparkChainSql("documents", availScale = e,
           frac = frac)}
         ) t ORDER BY source"""
  }

  /** x24 Spark-dialect form — the same member composition as the
    * DuckDB replay, in the Spark spellings (md5 CAST AS STRING, the
    * x05 Spark-dialect form). */
  private[graft] lazy val x24SparkSql: String = {
    val thr = graft.operators.Sampling.X24ContaminationMin
    s"""WITH x05r AS (
           $x05SparkSql
         ), flagged AS (
           SELECT doc_id FROM x05r
           WHERE contamination >= CAST($thr AS DOUBLE)
         ), sp AS (
           SELECT doc_id, source, text,
             substring(md5(CAST(doc_id AS STRING)), 1, 2) AS bucket
           FROM documents
         ), clean AS (
           SELECT s.doc_id, s.source, s.text FROM sp s
           LEFT JOIN flagged f ON f.doc_id = s.doc_id
           WHERE s.bucket >= '1a' AND f.doc_id IS NULL
         ), ${x23SparkChainSql("clean")}"""
  }

  private[graft] val spark: Map[String, String] = Map(
    "x23_token_budget_mix" -> x23SparkSql,
    "x24_decontaminated_budget" -> x24SparkSql,
    "x25_epoch_budget" -> x25SparkSql,
    "x26_quality_fit" -> x26SparkSql,
    "x26s_fitted_serve" -> x26ServeSparkSql,
    "x27_packed_shards" -> x27SparkSql,
    "x27e1_epoch_export" -> x27e1SparkSql,
    "x01_split_counts" ->
      """SELECT lang,
           CASE WHEN substring(md5(CAST(doc_id AS STRING)), 1, 2) < '0d' THEN 'test'
                WHEN substring(md5(CAST(doc_id AS STRING)), 1, 2) < '1a' THEN 'val'
                ELSE 'train' END AS split,
           count(*) AS n
         FROM documents GROUP BY 1, 2 ORDER BY 1, 2""",
    "x02_stratified_sample" ->
      """SELECT lang, doc_id, n_chars FROM (
           SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS STRING)) ASC, doc_id ASC) AS rk
           FROM documents)
         WHERE rk <= 3 ORDER BY lang, doc_id""",
    "x03_token_shards" ->
      """WITH d AS (
           SELECT lang, doc_id,
             CAST(size(split(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
             md5(CAST(doc_id AS STRING)) AS hk
           FROM documents
         ), c AS (
           SELECT lang, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY hk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM d)
         SELECT lang, (cum - n_tokens) div 2000 AS shard,
           count(*) AS n_docs, sum(n_tokens) AS shard_tokens
         FROM c GROUP BY 1, 2 ORDER BY 1, 2""",
    "x05_decontaminate" -> x05SparkSql,
    "x16_fuzzy_decontaminate" -> x16SparkSql,
    "x06_range_shards" ->
      """WITH o AS (
           SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders
         ), b AS (SELECT min(cents) AS mn, max(cents) AS mx FROM o)
         SELECT (cents - mn) * 8 div (mx - mn + 1) AS shard,
           count(*) AS n_orders,
           min(cents) AS min_cents, max(cents) AS max_cents
         FROM o CROSS JOIN b GROUP BY 1 ORDER BY 1""",
    "x07_proportional_sample" ->
      """WITH r AS (
           SELECT lang, source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS STRING)) ASC, doc_id ASC) AS rk,
             count(*) OVER (PARTITION BY source) AS n_stratum
           FROM documents)
         SELECT lang, source, count(*) AS n FROM r
         WHERE rk <= ceil(n_stratum * 0.2)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "x08_temperature_mix" ->
      """WITH r AS (
           SELECT source,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS STRING)) ASC, doc_id ASC) AS rk,
             count(*) OVER (PARTITION BY source) AS n
           FROM documents
         ), samp AS (
           SELECT source, count(*) AS n_sampled FROM r
           WHERE rk <= least(n, CAST(ceil(4.0 * sqrt(n)) AS BIGINT))
           GROUP BY source
         ), tot AS (
           SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
         SELECT source, n_docs, n_sampled
         FROM tot JOIN samp USING (source) ORDER BY source""",
    "x09_domain_caps" ->
      """SELECT source, doc_id FROM (
           SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS STRING)) ASC, doc_id ASC) AS rk
           FROM documents)
         WHERE rk <= 20 ORDER BY source, doc_id""",
    "x10_pack_sequences" ->
      raw"""WITH n AS (
           SELECT doc_id,
             CAST(size(split(trim(text), '\\s+')) AS BIGINT) AS n_tokens
           FROM documents
         ), c AS (
           SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
               AS start_tok
           FROM n)
         SELECT doc_id, n_tokens, start_tok,
           start_tok div ${Sampling.X22Budget} AS seq_first,
           ((start_tok + n_tokens - 1) div ${Sampling.X22Budget})
             - (start_tok div ${Sampling.X22Budget})
             + CAST(1 AS BIGINT) AS n_seqs,
           start_tok % ${Sampling.X22Budget} AS pos_in_seq
         FROM c ORDER BY doc_id""",
    "x11_dsir_weights" ->
      """WITH w AS (
           SELECT doc_id, lang, explode(split(trim(text), '\\s+')) AS wd
           FROM documents
         ), fb AS (
           SELECT doc_id, (lang = 'en') AS is_target,
             substring(md5(wd), 1, 2) AS f
           FROM w
         ), buckets AS (
           SELECT f, count(*) AS n_raw,
             sum(CASE WHEN is_target THEN CAST(1 AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END) AS n_tgt
           FROM fb GROUP BY 1
         ), tot AS (
           SELECT CAST(sum(n_raw) AS DOUBLE) AS r_total,
             CAST(sum(n_tgt) AS DOUBLE) AS t_total
           FROM buckets
         ), lam AS (
           SELECT f,
             CAST(floor(ln(((CAST(n_tgt AS DOUBLE) + 0.5) / (t_total + 128.0))
               / ((CAST(n_raw AS DOUBLE) + 0.5) / (r_total + 128.0)))*1e6 + 0.5)
               AS BIGINT) AS lam_micro
           FROM buckets CROSS JOIN tot
         ), dc AS (
           SELECT doc_id, f, count(*) AS c FROM fb GROUP BY 1, 2)
         SELECT doc_id, sum(c) AS n_tokens,
           sum(c * lam_micro) AS weight_micro
         FROM dc JOIN lam USING (f)
         GROUP BY doc_id ORDER BY doc_id""",
    "x12_curriculum_bins" ->
      """WITH f AS (
           SELECT doc_id,
             CAST(size(split(trim(text), '\\s+')) AS DOUBLE) AS n_tok,
             CAST(size(filter(split(trim(text), '\\s+'),
               x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
               AS n_stop,
             CAST(length(regexp_replace(text, '\\s+', '')) AS DOUBLE)
               AS n_nonspace
           FROM documents
         ), q AS (
           SELECT doc_id,
             floor((least(1.0, n_tok/20.0)*0.4
                   + least(1.0, (n_stop/n_tok)*5.0)*0.3
                   + (CASE WHEN n_nonspace/n_tok BETWEEN 3.0 AND 10.0
                           THEN 1.0 ELSE 0.0 END)*0.3)*1e4 + 0.5)/1e4
               AS quality
           FROM f
         ), r AS (
           SELECT doc_id, quality,
             CAST(row_number() OVER (ORDER BY quality, doc_id) AS BIGINT)
               AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n
           FROM q)
         SELECT doc_id, quality, rk, ((rk - 1) * 4) div n AS bin
         FROM r ORDER BY doc_id""",
    "x13_weighted_sample" ->
      """WITH d AS (
           SELECT doc_id,
             CAST(size(split(trim(text), '\\s+')) AS BIGINT) AS w,
             (CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 13), 16, 10)
                AS BIGINT) + 1) / 4503599627370496.0 AS u
           FROM documents
         ), k AS (
           SELECT doc_id, w,
             floor((ln(u) / w)*1e9 + 0.5)/1e9 AS sk
           FROM d WHERE w > 0)
         SELECT rk, doc_id, w, sk FROM (
           SELECT doc_id, w, sk,
             CAST(row_number() OVER (ORDER BY sk DESC, doc_id ASC) AS BIGINT)
               AS rk
           FROM k)
         WHERE rk <= 50 ORDER BY rk""",
    "d01_exact_dedup" ->
      """SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' '))) AS fp,
           min(doc_id) AS keeper, count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY keeper""",
    "x17_soft_dedup_weights" ->
      """WITH f AS (
           SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\\s+', ' '))) AS fp
           FROM documents
         ), fam AS (
           SELECT fp, count(*) AS n_copies FROM f GROUP BY fp)
         SELECT doc_id, n_copies,
           floor((1.0 / CAST(n_copies AS DOUBLE))*1e4 + 0.5)/1e4 AS weight
         FROM f JOIN fam USING (fp) ORDER BY doc_id""",
    "x18_bloom_decontaminate" -> x18SparkSqlText,
    "x21_family_split" ->
      """WITH f AS (
           SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\\s+', ' '))) AS fp
           FROM documents
         ), sp AS (
           SELECT fp,
             CASE WHEN substring(md5(fp), 1, 2) < '0d' THEN 'test'
                  WHEN substring(md5(fp), 1, 2) < '1a' THEN 'val'
                  ELSE 'train' END AS split
           FROM f)
         SELECT split, count(*) AS n_docs,
           count(DISTINCT fp) AS n_families
         FROM sp GROUP BY split ORDER BY split""",
    "d11_incremental_dedup" ->
      """WITH f AS (
           SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\\s+', ' '))) AS fp
           FROM documents
         ), store AS (SELECT DISTINCT fp FROM f WHERE doc_id < 250),
         batch AS (SELECT * FROM f WHERE doc_id >= 250)
         SELECT b.fp, min(b.doc_id) AS keeper, count(*) AS n_copies
         FROM batch b LEFT ANTI JOIN store s ON b.fp = s.fp
         GROUP BY b.fp ORDER BY keeper""",
    "x04_curation_funnel" ->
      """WITH f AS (
           SELECT doc_id, text,
             CAST(size(split(trim(text), '\\s+')) AS DOUBLE) AS n_tok,
             CAST(size(filter(split(trim(text), '\\s+'),
               x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) AS n_stop,
             CAST(length(regexp_replace(text, '\\s+', '')) AS DOUBLE) AS n_nonspace
           FROM documents),
         q AS (
           SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\\s+', ' '))) AS fp,
             floor((least(1.0, n_tok/20.0)*0.4
                   + least(1.0, (n_stop/n_tok)*5.0)*0.3
                   + (CASE WHEN n_nonspace/n_tok BETWEEN 3.0 AND 10.0
                           THEN 1.0 ELSE 0.0 END)*0.3)*1e4 + 0.5)/1e4 AS quality
           FROM f),
         passing AS (SELECT * FROM q WHERE quality >= 0.5),
         keepers AS (SELECT fp, min(doc_id) AS doc_id FROM passing GROUP BY 1),
         sp AS (
           SELECT CASE WHEN substring(md5(CAST(doc_id AS STRING)), 1, 2) < '0d' THEN 'test'
                       WHEN substring(md5(CAST(doc_id AS STRING)), 1, 2) < '1a' THEN 'val'
                       ELSE 'train' END AS split
           FROM keepers)
         SELECT stage, n FROM (
           SELECT '1_raw' AS stage, count(*) AS n FROM q
           UNION ALL SELECT '2_quality_pass', count(*) FROM passing
           UNION ALL SELECT '3_dedup_keepers', count(*) FROM keepers
           UNION ALL SELECT concat('4_', split), count(*) FROM sp GROUP BY split)
         ORDER BY stage"""
  )
}
