package graft

import graft.operators.{Checks, Curation, Dedup, Multimodal, Pca, Pinned, Sampling, Similarity, TemporalJoins, TextOps, Warehouse}

/** GENERATED-BY-SPLIT (r14, from the monolithic SparkEntry): the
  * DuckDB oracle SQL and hand-written Spark-dialect forms for the
  * warehouse/TPC-H-ish (q*) and temporal-join (j*) queries —
  * [[SparkEntry.oracleSql]]/[[SparkEntry.sparkSql]] compose the
  * family maps; shared SQL builders live in [[OracleSqlHelpers]].
  * The SQL texts are verbatim moves — the r14 split diffed the
  * composed maps byte-for-byte against the pre-split dump. */
object OracleSqlWh {
  import OracleSqlHelpers._

  /** j06 replay — dialect-portable: the bucketed range-aggregate join
    * collapses to one LEFT JOIN + GROUP BY at oracle scale; the
    * 30-minute window interpolates from
    * [[graft.operators.TemporalJoins.J06WidthUs]]. */
  private[graft] lazy val j06OracleSql: String = {
    val mins = graft.operators.TemporalJoins.J06WidthUs / 60000000L
    s"""WITH p AS (
           SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'
         ), c AS (
           SELECT user_id, ts, value FROM events WHERE event_type = 'click')
         SELECT p.event_id, p.user_id,
           CAST(count(c.value) AS BIGINT) AS n_clicks,
           round(sum(c.value), 4) AS sum_click_value,
           round(max(c.value), 4) AS max_click_value
         FROM p LEFT JOIN c ON p.user_id = c.user_id
           AND c.ts >= p.ts - INTERVAL $mins MINUTE AND c.ts < p.ts
         GROUP BY p.event_id, p.user_id
         ORDER BY p.event_id"""
  }


  /** j07 replay — dialect-PORTABLE (runs verbatim in DuckDB and via
    * spark.sql): the brute-force interval join the engine's bucketed
    * equi-join is exactly equal to; last-touch rule ts DESC,
    * click_id DESC (the engine's max-struct tiebreak); window minutes
    * from [[graft.operators.TemporalJoins.J06WidthUs]]. */
  private[graft] lazy val j07OracleSql: String = {
    val mins = graft.operators.TemporalJoins.J06WidthUs / 60000000L
    s"""WITH p AS (
           SELECT event_id AS purchase_id, user_id, ts, value FROM events
           WHERE event_type = 'purchase'
         ), c AS (
           SELECT user_id, event_id AS click_id, ts FROM events
           WHERE event_type = 'click'
         ), m AS (
           SELECT p.purchase_id, p.value, c.click_id,
             row_number() OVER (PARTITION BY p.purchase_id
               ORDER BY c.ts DESC, c.click_id DESC) AS rk,
             CAST(count(*) OVER (PARTITION BY p.purchase_id) AS BIGINT)
               AS n_touches
           FROM p JOIN c ON p.user_id = c.user_id
             AND c.ts >= p.ts - INTERVAL $mins MINUTE AND c.ts < p.ts)
         SELECT purchase_id, n_touches, click_id AS last_click_id,
           CAST(floor(value * 100.0 / n_touches + 0.5) AS BIGINT)
             AS credit_cents
         FROM m WHERE rk = 1 ORDER BY purchase_id"""
  }


  private[graft] val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity),4) AS sum_qty,
         round(sum(l_extendedprice),4) AS sum_base_price,
         round(sum(l_extendedprice*(1-l_discount)),4) AS sum_disc_price,
         round(avg(l_quantity),4) AS avg_qty,
         round(avg(l_extendedprice),4) AS avg_price,
         round(avg(l_discount),4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY 1,2 ORDER BY 1,2""",
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
         round(l_extendedprice*(1-l_discount),4) AS net_price
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate <  TIMESTAMP '1997-02-01'
           AND l_discount >= 0.08
         ORDER BY l_orderkey, l_linenumber""",
    "q03_ship_priority" ->
      """SELECT l_orderkey, o_orderdate,
         round(sum(l_extendedprice*(1-l_discount)),4) AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate  > TIMESTAMP '1998-01-01'
         GROUP BY 1,2 ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""",
    "q04_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate <  TIMESTAMP '1996-07-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY 1 ORDER BY 1""",
    "q05_region_revenue" ->
      """SELECT n_name,
         round(sum(l_extendedprice*(1-l_discount)),4) AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
         JOIN nation   ON s_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         WHERE r_name IN ('ASIA','AMERICA')
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate <  TIMESTAMP '1998-01-01'
         GROUP BY 1 ORDER BY revenue DESC, n_name ASC""",
    "q06_forecast" ->
      """SELECT round(sum(l_extendedprice*l_discount),4) AS revenue,
         count(*) AS n_rows
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate <  TIMESTAMP '1998-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24""",
    "q07_top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
         FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "q08_window_rank" ->
      """SELECT o_custkey, rn, o_orderkey, price, prev_price FROM (
           SELECT o_custkey, o_orderkey,
             row_number() OVER w AS rn,
             round(o_totalprice,4) AS price,
             round(coalesce(lag(o_totalprice,1) OVER w, 0.0),4) AS prev_price
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey ASC)
         ) WHERE rn <= 2 AND o_custkey < 100
         ORDER BY o_custkey, rn""",
    "q09_rollup" ->
      """SELECT coalesce(l_returnflag,'ALL') AS returnflag,
         coalesce(l_linestatus,'ALL') AS linestatus,
         count(*) AS n, round(sum(l_quantity),4) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY returnflag, linestatus""",
    "q10_set_ops" ->
      """WITH big AS (SELECT DISTINCT o_custkey FROM orders
                      WHERE o_totalprice > 400000),
         early AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE o_orderdate < TIMESTAMP '1996-01-01')
         SELECT 'both' AS tag, o_custkey AS custkey
           FROM (SELECT * FROM big INTERSECT SELECT * FROM early)
         UNION ALL
         SELECT 'big_only' AS tag, o_custkey AS custkey
           FROM (SELECT * FROM big EXCEPT SELECT * FROM early)
         ORDER BY tag, custkey""",
    "q11_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey
             AND o_orderdate >= TIMESTAMP '1995-01-01'
             AND o_orderdate <  TIMESTAMP '1996-01-01')
         ORDER BY c_custkey""",
    "q12_distinct_agg" ->
      """SELECT l_returnflag,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT l_partkey) AS n_part,
         count(*) AS n_rows
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q13_events_tumbling" ->
      """SELECT strftime(make_timestamp(CAST(floor(epoch(ts)/1200)*1200*1000000 AS BIGINT)),
                         '%Y-%m-%d %H:%M:%S') AS w_start,
         event_type, count(*) AS n, round(sum(value),4) AS sum_value
         FROM events GROUP BY 1,2 ORDER BY 1,2""",
    "q14_normalize_events" ->
      """SELECT strftime(make_timestamp(CAST(floor(epoch(ts)/1200)*1200*1000000 AS BIGINT)),
                         '%Y-%m-%d %H:%M:%S') AS w_start,
         event_type, count(*) AS n,
         CAST(sum(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS sum_k
         FROM events
         WHERE json_extract_string(props,'$.k') IS NOT NULL
         GROUP BY 1,2 ORDER BY 1,2""",
    "q15_having" ->
      """SELECT o_custkey, count(*) AS n_orders,
         round(sum(o_totalprice),4) AS total
         FROM orders GROUP BY 1 HAVING count(*) >= 15
         ORDER BY n_orders DESC, o_custkey ASC""",
    "q16_percentiles" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
         round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
         count(*) AS n_rows
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q17_cube" ->
      """SELECT coalesce(year(o_orderdate), 0) AS yr,
         coalesce(o_orderpriority, 'ALL') AS priority,
         count(*) AS n, round(sum(o_totalprice), 4) AS total
         FROM orders GROUP BY CUBE(year(o_orderdate), o_orderpriority)
         ORDER BY yr, priority""",
    "q18_above_cust_avg" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS price,
         floor((avg_cents / 100) * 1e4 + 0.5) / 1e4 AS cust_avg FROM (
           SELECT o_orderkey, o_custkey, o_totalprice,
             floor(o_totalprice * 100 + 0.5) AS cents,
             avg(floor(o_totalprice * 100 + 0.5))
               OVER (PARTITION BY o_custkey) AS avg_cents
           FROM orders)
         WHERE cents > avg_cents * 1.5 ORDER BY o_orderkey""",
    "q19_sessions" ->
      """WITH x AS (
           SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         y AS (
           SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS grp
           FROM x)
         SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS w_start,
           strftime(max(ts) + INTERVAL 10 MINUTE,
                    '%Y-%m-%d %H:%M:%S.%f') AS w_end,
           count(*) AS n
         FROM y GROUP BY user_id, grp ORDER BY user_id, w_start""",
    // q20: exact distinct counts reproduced; the ε-band verdicts on the
    // HLL estimates (ε = 0.15 = 3× the default 5% rsd) are asserted
    // literally TRUE — a drifting sketch hash-fails the compare,
    "q20_approx_distinct" ->
      """SELECT l_returnflag,
         CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
         CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_part,
         TRUE AS supp_ok,
         TRUE AS part_ok,
         count(*) AS n_rows
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q21_market_share" ->
      """WITH asia_supp AS (
           SELECT s_suppkey FROM supplier
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'ASIA')
         SELECT o_year, asia_rev, total_rev, n_items,
           floor(asia_rev / total_rev * 1e4 + 0.5) / 1e4 AS share
         FROM (
           SELECT year(o_orderdate) AS o_year,
             round(sum(CASE WHEN s_suppkey IS NOT NULL
               THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END), 4) AS asia_rev,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_rev,
             count(*) AS n_items
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           LEFT JOIN asia_supp ON l_suppkey = s_suppkey
           GROUP BY 1)
         ORDER BY o_year""",
    "q22_string_match" ->
      """SELECT p_brand, count(*) AS n,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_type LIKE '%PROMO%'
         GROUP BY 1 ORDER BY 1""",
    "q23_monthly_trend" ->
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         count(*) AS n_orders, round(sum(o_totalprice), 4) AS total
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q24_dormant_rich" ->
      """SELECT c_custkey, c_nationkey, round(c_acctbal, 4) AS acctbal
         FROM customer
         WHERE floor(c_acctbal * 100 + 0.5) >
           (SELECT avg(floor(c_acctbal * 100 + 0.5)) FROM customer
            WHERE c_acctbal > 0.0)
           AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                           AND o_orderdate >= TIMESTAMP '1997-06-01')
         ORDER BY c_custkey""",
    "q25_pivot" ->
      """SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
         CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
         CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
         CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
         CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
         CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
         FROM events GROUP BY 1 ORDER BY 1""",
    "q26_multiset_ops" ->
      """WITH cheap AS (SELECT l_partkey FROM lineitem WHERE l_quantity < 10),
         ret AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
         tagged AS (
           SELECT 'cheap_minus_returned' AS tag, l_partkey
           FROM (SELECT * FROM cheap EXCEPT ALL SELECT * FROM ret)
           UNION ALL
           SELECT 'both' AS tag, l_partkey
           FROM (SELECT * FROM cheap INTERSECT ALL SELECT * FROM ret))
         SELECT tag, l_partkey, count(*) AS n FROM tagged
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q27_running_window" ->
      """SELECT o_custkey, o_orderkey,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate ASC, o_orderkey ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
           AS running_total,
         round(percent_rank() OVER w, 6) AS pr,
         CAST(ntile(4) OVER w AS INT) AS quartile
         FROM orders WHERE o_custkey < 50
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate ASC, o_orderkey ASC)
         ORDER BY o_custkey, o_orderkey""",
    "q28_stateful_batch" ->
      """SELECT user_id, count(*) AS n_events,
         round(CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) / 100.0, 4)
           AS total_value,
         strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
         FROM events GROUP BY 1 ORDER BY 1""",
    "q29_sliding" ->
      """SELECT strftime(make_timestamp(
           CAST((floor(epoch(ts) / 300) - k) * 300 * 1000000 AS BIGINT)),
           '%Y-%m-%d %H:%M:%S') AS w_start,
         event_type, count(*) AS n
         FROM events, unnest(range(0, 4)) AS t(k)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q30_grouping_sets" ->
      """SELECT coalesce(o_year, 0) AS yr,
         coalesce(o_orderpriority, 'ALL') AS priority,
         CAST(GROUPING(o_year, o_orderpriority) AS BIGINT) AS gid,
         count(*) AS n, round(sum(o_totalprice), 4) AS total
         FROM (SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                      o_orderpriority, o_totalprice FROM orders)
         GROUP BY GROUPING SETS ((o_year, o_orderpriority), (o_year),
                                 (o_orderpriority))
         ORDER BY gid, yr, priority""",
    "q31_topk_per_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
           FROM orders)
         WHERE rk <= 3 ORDER BY o_orderpriority, o_orderkey""",
    // q32: exact percentiles reproduced; the rank-band verdicts on the
    // GK-sketch estimates (δ = 0.02 vs the theoretical 1/accuracy =
    // 1e-4 rank error) are asserted literally TRUE,
    "q32_approx_percentiles" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
         round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
         TRUE AS median_ok,
         TRUE AS p90_ok,
         count(*) AS n_rows
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q33_scd2_intervals" ->
      """SELECT o_custkey, o_orderkey, o_orderstatus,
           round(o_totalprice, 4) AS price,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(lead(o_orderdate, 1) OVER w, '%Y-%m-%d %H:%M:%S')
             AS valid_to,
           lead(o_orderdate, 1) OVER w IS NULL AS is_current
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate ASC, o_orderkey ASC)
         ORDER BY o_custkey, valid_from, o_orderkey""",
    "q34_latest_snapshot" ->
      """SELECT user_id, event_id, event_type, value, ts FROM (
           SELECT user_id, event_id, event_type,
             round(value, 4) AS value,
             strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
             row_number() OVER (PARTITION BY user_id
               ORDER BY strftime(ts, '%Y-%m-%d %H:%M:%S.%f') DESC,
                        event_id DESC) AS rk
           FROM events)
         WHERE rk = 1 ORDER BY user_id""",
    // q35: dialect-portable — runs VERBATIM in Spark (SqlParitySpec's
    // `portable` list); output carries no timestamps, so the events.ts
    // physical-encoding hazard never reaches the compare.,
    "q35_funnel" ->
      """WITH v AS (
           SELECT user_id, min(ts) AS tv FROM events
           WHERE event_type = 'view' GROUP BY user_id
         ), c AS (
           SELECT e.user_id, min(e.ts) AS tc FROM events e
           JOIN v ON v.user_id = e.user_id
           WHERE e.event_type = 'click' AND e.ts > v.tv
           GROUP BY e.user_id
         ), p AS (
           SELECT e.user_id, min(e.ts) AS tp FROM events e
           JOIN c ON c.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND e.ts > c.tc
           GROUP BY e.user_id
         ), s AS (
           SELECT 1 AS stage, 'view' AS step, count(*) AS n_users FROM v
           UNION ALL SELECT 2, 'click', count(*) FROM c
           UNION ALL SELECT 3, 'purchase', count(*) FROM p
         )
         SELECT stage, step, n_users,
           floor((CAST(n_users AS DOUBLE)
                  / CAST(max(n_users) OVER () AS DOUBLE))*1e4 + 0.5)/1e4
             AS conv_frac
         FROM s ORDER BY stage""",
    // q36: integer day arithmetic + one r4 division; only the
    // datediff spelling differs between dialects (DuckDB 3-arg),
    "q36_cohort_retention" ->
      """WITH ev AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
         ), cohorts AS (
           SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id
         ), sizes AS (
           SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_n
           FROM cohorts GROUP BY cohort_day
         ), act AS (
           SELECT c.cohort_day,
             CAST(datediff('day', c.cohort_day, e.day) AS INT) AS day_offset,
             CAST(count(*) AS BIGINT) AS n_active
           FROM ev e JOIN cohorts c USING (user_id)
           GROUP BY 1, 2
         )
         SELECT strftime(a.cohort_day, '%Y-%m-%d') AS cohort_day,
           day_offset, n_active, cohort_n,
           floor((CAST(n_active AS DOUBLE) / CAST(cohort_n AS DOUBLE))*1e4
             + 0.5)/1e4 AS retention
         FROM act a JOIN sizes s ON s.cohort_day = a.cohort_day
         ORDER BY 1, 2""",
    "j04_nearest_event" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS p_value FROM events
                    WHERE event_type = 'purchase' GROUP BY 1, 2),
         c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click')
         SELECT c.event_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           strftime(pp.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           round(pp.p_value, 4) AS purchase_value
         FROM c LEFT JOIN LATERAL (
           SELECT ts, p_value FROM p
           WHERE p.user_id = c.user_id
           ORDER BY abs(epoch_us(CAST(p.ts AS TIMESTAMP))
                      - epoch_us(CAST(c.ts AS TIMESTAMP))) ASC, ts ASC
           LIMIT 1) pp ON true
         ORDER BY event_id""",
    "j01_asof_join" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS p_value FROM events
                    WHERE event_type = 'purchase' GROUP BY 1, 2),
         c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click')
         SELECT c.event_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           strftime(pp.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           round(pp.p_value, 4) AS purchase_value
         FROM c LEFT JOIN LATERAL (
           SELECT ts, p_value FROM p
           WHERE p.user_id = c.user_id AND p.ts <= c.ts
           ORDER BY ts DESC LIMIT 1) pp ON true
         ORDER BY event_id""",
    // j05: tolerance inside the lateral ≡ the engine's match-then-void
    // (the latest at-or-before IS the latest inside any backward
    // window that contains it; if IT is stale, every earlier match is
    // staler),
    "j05_asof_tolerance" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS p_value FROM events
                    WHERE event_type = 'purchase' GROUP BY 1, 2),
         c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click')
         SELECT c.event_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           strftime(pp.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           round(pp.p_value, 4) AS purchase_value
         FROM c LEFT JOIN LATERAL (
           SELECT ts, p_value FROM p
           WHERE p.user_id = c.user_id AND p.ts <= c.ts
             AND p.ts >= c.ts - INTERVAL 30 MINUTE
           ORDER BY ts DESC LIMIT 1) pp ON true
         ORDER BY event_id""",
    "j02_range_join" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click'),
         p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
         SELECT c.event_id, c.user_id,
           CAST(count(p.ts) AS BIGINT) AS n_purchases
         FROM c LEFT JOIN p ON p.user_id = c.user_id
           AND p.ts >= c.ts - INTERVAL 10 MINUTE AND p.ts < c.ts
         GROUP BY 1, 2 ORDER BY 1""",
    "j03_asof_forward" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS p_value FROM events
                    WHERE event_type = 'purchase' GROUP BY 1, 2),
         c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click')
         SELECT c.event_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           strftime(pp.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
           round(pp.p_value, 4) AS purchase_value
         FROM c LEFT JOIN LATERAL (
           SELECT ts, p_value FROM p
           WHERE p.user_id = c.user_id AND p.ts >= c.ts
           ORDER BY ts ASC LIMIT 1) pp ON true
         ORDER BY event_id""",
    "j06_window_features" -> j06OracleSql,
    "j07_attribution" -> j07OracleSql
  )

  private[graft] val spark: Map[String, String] = Map(
    "q33_scd2_intervals" ->
      """SELECT o_custkey, o_orderkey, o_orderstatus,
           round(o_totalprice, 4) AS price,
           date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss') AS valid_from,
           date_format(lead(o_orderdate, 1) OVER w, 'yyyy-MM-dd HH:mm:ss')
             AS valid_to,
           lead(o_orderdate, 1) OVER w IS NULL AS is_current
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate ASC, o_orderkey ASC)
         ORDER BY o_custkey, valid_from, o_orderkey""",
    "q34_latest_snapshot" ->
      """SELECT user_id, event_id, event_type, value, ts FROM (
           SELECT user_id, event_id, event_type,
             round(value, 4) AS value,
             date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS ts,
             row_number() OVER (PARTITION BY user_id
               ORDER BY date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') DESC,
                        event_id DESC) AS rk
           FROM events)
         WHERE rk = 1 ORDER BY user_id""",
    "q13_events_tumbling" ->
      """SELECT date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS w_start,
           event_type, count(*) AS n, round(sum(value), 4) AS sum_value
         FROM events GROUP BY window(ts, '20 minutes'), event_type
         ORDER BY w_start, event_type""",
    "q14_normalize_events" ->
      """WITH p AS (
           SELECT ts, event_type, from_json(props, 'k BIGINT').k AS k FROM events)
         SELECT date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS w_start,
           event_type, count(*) AS n, sum(k) AS sum_k
         FROM p WHERE k IS NOT NULL
         GROUP BY window(ts, '20 minutes'), event_type
         ORDER BY w_start, event_type""",
    "q16_percentiles" ->
      """SELECT l_returnflag,
           round(percentile(l_quantity, 0.5), 4) AS median_qty,
           round(percentile(l_extendedprice, 0.9), 4) AS p90_price,
           count(*) AS n_rows
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q23_monthly_trend" ->
      """SELECT date_format(date_trunc('month', o_orderdate), 'yyyy-MM') AS month,
           count(*) AS n_orders, round(sum(o_totalprice), 4) AS total
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q25_pivot" ->
      """SELECT date_format(date_trunc('month', ts), 'yyyy-MM') AS month,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'error') AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY 1 ORDER BY 1""",
    "q29_sliding" ->
      """SELECT date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS w_start,
           event_type, count(*) AS n
         FROM events GROUP BY window(ts, '20 minutes', '5 minutes'), event_type
         ORDER BY w_start, event_type""",
    "q30_grouping_sets" ->
      """SELECT coalesce(o_year, 0) AS yr,
           coalesce(o_orderpriority, 'ALL') AS priority,
           grouping_id() AS gid,
           count(*) AS n, round(sum(o_totalprice), 4) AS total
         FROM (SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                      o_orderpriority, o_totalprice FROM orders)
         GROUP BY GROUPING SETS ((o_year, o_orderpriority), (o_year),
                                 (o_orderpriority))
         ORDER BY gid, yr, priority""",
    "q19_sessions" ->
      """WITH x AS (
           SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         y AS (
           SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS grp
           FROM x)
         SELECT user_id,
           date_format(min(ts), 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS w_start,
           date_format(max(ts) + INTERVAL 10 MINUTE,
                       'yyyy-MM-dd HH:mm:ss.SSSSSS') AS w_end,
           count(*) AS n
         FROM y GROUP BY user_id, grp ORDER BY user_id, w_start""",
    "j01_asof_join" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS p_value FROM events
                    WHERE event_type = 'purchase' GROUP BY 1, 2),
         c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click')
         SELECT c.event_id, c.user_id,
           date_format(c.ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS ts_s,
           date_format(pp.ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS purchase_ts,
           round(pp.p_value, 4) AS purchase_value
         FROM c LEFT JOIN LATERAL (
           SELECT ts, p_value FROM p
           WHERE p.user_id = c.user_id AND p.ts <= c.ts
           ORDER BY ts DESC LIMIT 1) pp ON true
         ORDER BY event_id""",
    "j03_asof_forward" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS p_value FROM events
                    WHERE event_type = 'purchase' GROUP BY 1, 2),
         c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click')
         SELECT c.event_id, c.user_id,
           date_format(c.ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS ts_s,
           date_format(pp.ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS purchase_ts,
           round(pp.p_value, 4) AS purchase_value
         FROM c LEFT JOIN LATERAL (
           SELECT ts, p_value FROM p
           WHERE p.user_id = c.user_id AND p.ts >= c.ts
           ORDER BY ts ASC LIMIT 1) pp ON true
         ORDER BY event_id""",
    // j05's Spark form: the j04 ranked-join workaround (Spark rejects
    // correlated references in a LATERAL ORDER BY) with the tolerance
    // riding in the join predicate,
    "j05_asof_tolerance" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS p_value FROM events
                    WHERE event_type = 'purchase' GROUP BY 1, 2),
         c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'),
         j AS (
           SELECT c.event_id, c.user_id, c.ts, p.ts AS pts, p.p_value,
             row_number() OVER (PARTITION BY c.event_id
               ORDER BY p.ts DESC) AS rk
           FROM c LEFT JOIN p ON p.user_id = c.user_id
             AND p.ts <= c.ts AND p.ts >= c.ts - INTERVAL 30 MINUTE)
         SELECT event_id, user_id,
           date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS ts_s,
           date_format(pts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS purchase_ts,
           round(p_value, 4) AS purchase_value
         FROM j WHERE rk = 1 ORDER BY event_id""",
    "q36_cohort_retention" ->
      """WITH ev AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
         ), cohorts AS (
           SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id
         ), sizes AS (
           SELECT cohort_day, count(*) AS cohort_n
           FROM cohorts GROUP BY cohort_day
         ), act AS (
           SELECT c.cohort_day,
             datediff(e.day, c.cohort_day) AS day_offset,
             count(*) AS n_active
           FROM ev e JOIN cohorts c USING (user_id)
           GROUP BY 1, 2
         )
         SELECT date_format(a.cohort_day, 'yyyy-MM-dd') AS cohort_day,
           day_offset, n_active, cohort_n,
           floor((CAST(n_active AS DOUBLE) / CAST(cohort_n AS DOUBLE))*1e4
             + 0.5)/1e4 AS retention
         FROM act a JOIN sizes s ON s.cohort_day = a.cohort_day
         ORDER BY 1, 2""",
    // Spark rejects correlated references in a LATERAL subquery's ORDER
    // BY, so the nearest-event pick is a ranked join instead (same
    // tie-break: abs distance, then earlier purchase ts),
    "j04_nearest_event" ->
      """WITH p AS (SELECT user_id, ts, max(value) AS p_value FROM events
                    WHERE event_type = 'purchase' GROUP BY 1, 2),
         c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'),
         j AS (
           SELECT c.event_id, c.user_id, c.ts, p.ts AS pts, p.p_value,
             row_number() OVER (PARTITION BY c.event_id
               ORDER BY abs(unix_micros(p.ts) - unix_micros(c.ts)) ASC,
                        p.ts ASC) AS rk
           FROM c LEFT JOIN p ON p.user_id = c.user_id)
         SELECT event_id, user_id,
           date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS ts_s,
           date_format(pts, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS purchase_ts,
           round(p_value, 4) AS purchase_value
         FROM j WHERE rk = 1 ORDER BY event_id""",
    "q28_stateful_batch" ->
      """SELECT user_id, count(*) AS n_events,
           round(CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) / CAST(100.0 AS DOUBLE), 4)
             AS total_value,
           date_format(max(ts), 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS last_ts
         FROM events GROUP BY 1 ORDER BY 1""",
    "q20_approx_distinct" ->
      """SELECT l_returnflag,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT l_partkey) AS n_part,
         CAST(abs(approx_count_distinct(l_suppkey) - count(DISTINCT l_suppkey)) AS DOUBLE)
           <= 0.15 * count(DISTINCT l_suppkey) AS supp_ok,
         CAST(abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey)) AS DOUBLE)
           <= 0.15 * count(DISTINCT l_partkey) AS part_ok,
         count(1) AS n_rows
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q32_approx_percentiles" ->
      """SELECT l_returnflag,
         round(percentile(l_quantity, 0.5), 4) AS median_qty,
         round(percentile(l_extendedprice, 0.9), 4) AS p90_price,
         approx_percentile(l_quantity, 0.5, 10000)
           BETWEEN percentile(l_quantity, 0.48) AND percentile(l_quantity, 0.52) AS median_ok,
         approx_percentile(l_extendedprice, 0.9, 10000)
           BETWEEN percentile(l_extendedprice, 0.88) AND percentile(l_extendedprice, 0.92) AS p90_ok,
         count(1) AS n_rows
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
  )
}
