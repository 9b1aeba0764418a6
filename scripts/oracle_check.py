#!/usr/bin/env python3
"""Dev-side replica of the driver's t2 correctness gate.

Usage: oracle_check.py <sfDir> <outDir> [--json <path>]
  <outDir> is what graft.Verify wrote: one parquet dir per query name +
  oracle_sql.json. Runs each oracle SQL in DuckDB over views named after
  the parquet tables in <sfDir>, sorts columns by name, and compares
  values row-by-row (in result order) against the Spark parquet. Each
  [ok]/[FAIL] line ends with the seconds DuckDB took for that oracle, and
  lines are flushed as they print, so a sweep cut by a timeout shows how
  far it got and which oracles were slow.

  --json <path>: additionally write a driver-shaped per-query map
  {name: {rows_match, schema_match, hash_match, err, oracle_s}} so each round close
  can commit a CORRECTNESS_dev_r{N}.json even when the driver pipeline
  records nothing (VERDICT r13 task 1).

  --decompose <n1,n2>: verify the named queries via their DECOMPOSED
  checks (DECOMPOSED registry below) instead of their monolithic oracle
  SQL — for SFs where that SQL is infeasible (v06's recursive-CTE CC +
  all-pairs join blew a 40-minute cap at sf0.1). A decomposed check
  replays only the cheap glue in DuckDB and takes the expensive member
  frames from the SAME Verify dump, where the normal sweep has already
  hash-verified them against their own oracles. Report entries carry
  "decomposed": true so one artifact records both kinds (VERDICT r14
  task 5; absorbs the former scripts/v06_check.py).
"""
import json, sys, glob, os, time
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)

def v06_decomposed(con, sf_dir: str, out_dir: str):
    """v06 == composition of the independently verified d01 rule /
    d05 clusters / t26 coverage (the former v06_check.py, verbatim)."""
    for name, view in [("d05_dup_clusters", "d05"),
                       ("t26_span_coverage", "t26"),
                       ("v06_dedup_impact", "v06")]:
        if not glob.glob(f"{out_dir}/{name}/*.parquet"):
            return False, f"decomposed check needs {name}/ in the dump"
        con.execute(f"""CREATE OR REPLACE VIEW {view} AS
            SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')""")
    expected = con.execute(r"""
      WITH vbase AS (
        SELECT doc_id, n_chars,
          md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
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
      ), vkeep AS (
        -- keep-best over the VERIFIED d05 clusters: longest doc wins,
        -- ties to the lower id (the d08/d10 rule v06 composes)
        SELECT cluster, doc_id AS kept FROM (
          SELECT c.cluster, c.doc_id,
            row_number() OVER (PARTITION BY c.cluster
              ORDER BY d.n_chars DESC, d.doc_id ASC) AS rk
          FROM d05 c JOIN documents d USING (doc_id))
        WHERE rk = 1
      ), near AS (
        SELECT 'near_dedup' AS stage,
          CAST(coalesce(sum(CASE WHEN c.doc_id <> k.kept
            THEN 1 ELSE 0 END), 0) AS BIGINT) AS docs_affected,
          CAST(coalesce(sum(CASE WHEN c.doc_id <> k.kept
            THEN b.n_tokens ELSE 0 END), 0) AS BIGINT) AS tokens_removed
        FROM d05 c JOIN vkeep k USING (cluster)
        JOIN vbase b USING (doc_id)
      ), span AS (
        -- the engine's span stage IS this aggregate of the VERIFIED
        -- t26 frame
        SELECT 'span_dedup' AS stage,
          CAST(coalesce(sum(CASE WHEN covered_tokens > 0 THEN 1 ELSE 0 END),
            0) AS BIGINT) AS docs_affected,
          CAST(coalesce(sum(covered_tokens), 0) AS BIGINT) AS tokens_removed
        FROM t26)
      SELECT * FROM exact UNION ALL SELECT * FROM near
      UNION ALL SELECT * FROM span ORDER BY stage
    """).fetchall()
    got = con.execute(
        "SELECT stage, docs_affected, tokens_removed FROM v06 ORDER BY stage"
    ).fetchall()
    if got != expected:
        return False, f"engine={got} decomposed-expected={expected}"
    return True, ""

# decomposed verifiers: name -> fn(con, sf_dir, out_dir) -> (ok, why)
DECOMPOSED = {"v06_dedup_impact": v06_decomposed}

def main(sf_dir: str, out_dir: str, json_path: str = None,
         decompose=()) -> int:
    sys.stdout.reconfigure(line_buffering=True)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    failures = 0
    report = {}
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    for name in names:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        spark_df = norm(pd.concat([pd.read_parquet(f) for f in sorted(files)])
                        if files else pd.DataFrame())
        if name in decompose:
            if name not in DECOMPOSED:
                print(f"[FAIL] {name}: no decomposed check registered")
                failures += 1
                report[name] = {"rows_match": False, "schema_match": False,
                                "hash_match": False, "decomposed": True,
                                "err": "no decomposed check registered"}
                continue
            ok, why = DECOMPOSED[name](con, sf_dir, out_dir)
            if ok:
                print(f"[ok]   {name}: {len(spark_df)} rows (decomposed check)")
            else:
                print(f"[FAIL] {name}: decomposed check: {why}")
                failures += 1
            report[name] = {"rows_match": ok, "schema_match": ok,
                            "hash_match": ok, "decomposed": True,
                            "err": None if ok else why}
            continue
        if name not in oracles:
            nonempty = len(spark_df) > 0
            print(f"[rows-only] {name}: {len(spark_df)} rows "
                  f"{'OK' if nonempty else 'EMPTY (suspicious?)'}")
            report[name] = {"rows_match": nonempty, "schema_match": None,
                            "hash_match": None,
                            "err": None if nonempty else "rows-only check: empty result"}
            continue
        t0 = time.perf_counter()
        try:
            duck_df = norm(con.execute(oracles[name]).fetchdf())
        except Exception as e:
            oracle_s = round(time.perf_counter() - t0, 3)
            print(f"[FAIL] {name}: oracle SQL error: {e} (oracle {oracle_s:.2f} s)")
            failures += 1
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "err": f"oracle SQL error: {e}",
                            "oracle_s": oracle_s}
            continue
        oracle_s = round(time.perf_counter() - t0, 3)
        ok, why = compare(spark_df, duck_df)
        if ok:
            print(f"[ok]   {name}: {len(spark_df)} rows, "
                  f"{len(spark_df.columns)} cols (oracle {oracle_s:.2f} s)")
            report[name] = {"rows_match": True, "schema_match": True,
                            "hash_match": True, "err": None,
                            "oracle_s": oracle_s}
        else:
            print(f"[FAIL] {name}: {why} (oracle {oracle_s:.2f} s)")
            failures += 1
            report[name] = {
                "rows_match": len(spark_df) == len(duck_df),
                "schema_match": list(spark_df.columns) == list(duck_df.columns),
                "hash_match": False, "err": why, "oracle_s": oracle_s}
    if json_path:
        with open(json_path, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        print(f"[json] wrote {len(report)} entries to {json_path}")
    return failures

def compare(a: pd.DataFrame, b: pd.DataFrame):
    if list(a.columns) != list(b.columns):
        return False, f"columns differ: spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return False, f"row count differs: spark={len(a)} duck={len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        try:
            if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
                av_f = av.astype(float)
                bv_f = bv.astype(float)
                bad = ~((av_f == bv_f) | (av_f.isna() & bv_f.isna()))
            else:
                av_s = av.astype(str)
                bv_s = bv.astype(str)
                bad = av_s != bv_s
        except Exception as e:
            return False, f"col {c}: compare error {e}"
        if bad.any():
            i = bad.idxmax()
            return False, (f"col {c} differs at row {i}: "
                           f"spark={a[c][i]!r} duck={b[c][i]!r} "
                           f"({int(bad.sum())}/{len(a)} rows differ)")
    return True, ""

if __name__ == "__main__":
    argv = sys.argv[1:]
    jp = None
    dec = ()
    if "--json" in argv:
        i = argv.index("--json")
        jp = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    if "--decompose" in argv:
        i = argv.index("--decompose")
        dec = tuple(argv[i + 1].split(","))
        argv = argv[:i] + argv[i + 2:]
    sys.exit(main(argv[0], argv[1], jp, dec))
