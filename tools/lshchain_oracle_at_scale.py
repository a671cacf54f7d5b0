"""At-scale oracle check for the two remaining LSH-chain entries:
``llm_dedup_threshold_sweep`` and ``llm_minhash_estimate_audit``.

Both registry oracles embed the MinHash WITH-chain plus the
co-shingle row self-join verify (``_JACCARD_CTES``) -- the shape that
spills at 500k docs (SCALE.md round 6).  This tool stages the chain
exactly like ``tools/lsh_oracle_at_scale.py`` (materialized temp
tables, ``preserve_insertion_order=false``, linear ``list_intersect``
verify producing the full candidate-pair ``jac`` table), then runs
each entry's final SELECT over the staged tables.

Usage: python tools/lshchain_oracle_at_scale.py [sf_dir] [sweep|audit]
       (defaults: /root/repo/scratch/sf10, sweep)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402


def main() -> int:
    # round-10 post-mortem: refuse disk-bound runs without
    # headroom instead of dying 20 minutes in (SCALE.md)
    from tools.scale_common import disk_preflight
    disk_preflight(15)
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/repo/scratch/sf10"
    which = args[1] if len(args) > 1 else "sweep"
    entry = ("llm_dedup_threshold_sweep" if which == "sweep"
             else "llm_minhash_estimate_audit")

    from graphdb_cia_factbook_spark.queries_llm import (
        _BANDS,
        _EST_MATCH_SQL,
        _LSH_CAND_SQL,
        _NUM_HASHES,
        _SWEEP_THRESHOLDS,
        _band_selects_sql,
        _sig_cols_sql,
        SHINGLE_LIST,
        TOKS,
    )
    from graphdb_cia_factbook_spark.registry import queries
    from graphdb_cia_factbook_spark.session import get_spark

    spark = get_spark("lshchain-oracle-at-scale")
    t0 = time.perf_counter()
    rows = queries()[entry](spark, sf_dir).collect()
    if which == "sweep":
        got = {(r.threshold, r.n_pairs, r.n_docs_removed) for r in rows}
    else:
        got = {(r.id_a, r.id_b, round(r.est_jaccard, 9),
                round(r.exact_jaccard, 9), round(r.abs_err, 9))
               for r in rows}
    print(f"spark {entry}: {len(got)} rows "
          f"[{time.perf_counter() - t0:.1f}s]")

    con = duckdb.connect()
    con.execute("SET preserve_insertion_order=false")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    t0 = time.perf_counter()
    con.execute(f"""CREATE TEMP TABLE sh AS
WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents)
SELECT DISTINCT doc_id, unnest({SHINGLE_LIST}) AS shingle FROM tk""")
    con.execute(f"CREATE TEMP TABLE sig AS "
                f"SELECT doc_id, {_sig_cols_sql(_NUM_HASHES)} FROM sh "
                f"GROUP BY doc_id")
    con.execute(f"""CREATE TEMP TABLE cand AS
WITH bands AS (
  {_band_selects_sql(_BANDS, _NUM_HASHES // _BANDS)}
),
{_LSH_CAND_SQL.replace('cand AS (', 'candq AS (')}
SELECT * FROM candq""")
    con.execute("""CREATE TEMP TABLE docsets AS
SELECT sh.doc_id, list(shingle) AS shs FROM sh
JOIN (SELECT id_a AS doc_id FROM cand
      UNION SELECT id_b FROM cand) c USING (doc_id)
GROUP BY sh.doc_id""")
    # the full candidate-pair jac table (no threshold filter -- both
    # entries consume sub-threshold pairs too)
    con.execute("""CREATE TEMP TABLE jac AS
WITH scored AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(a.shs, b.shs)) AS n_inter,
         len(a.shs) AS sza, len(b.shs) AS szb
  FROM cand c
  JOIN docsets a ON a.doc_id = c.id_a
  JOIN docsets b ON b.doc_id = c.id_b
)
SELECT id_a, id_b,
       n_inter / CAST(sza + szb - n_inter AS DOUBLE) AS jaccard
FROM scored""")
    if which == "sweep":
        final = f"""
WITH ths AS (SELECT unnest({list(_SWEEP_THRESHOLDS)!r}) AS th)
SELECT ths.th AS threshold,
       COUNT(CASE WHEN j.jaccard >= ths.th THEN 1 END) AS n_pairs,
       COUNT(DISTINCT CASE WHEN j.jaccard >= ths.th
                           THEN j.id_b END) AS n_docs_removed
FROM ths LEFT JOIN jac j ON j.jaccard >= ths.th
GROUP BY ths.th"""
        # unnest of the literal threshold list yields DECIMAL -- float
        # it for the set compare (the gate's pandas canonicalization
        # does the same)
        want = {(float(w[0]), w[1], w[2])
                for w in con.execute(final).fetchall()}
    else:
        final = f"""
WITH est AS (
  SELECT c.id_a, c.id_b,
         CAST({_EST_MATCH_SQL} AS DOUBLE) / {_NUM_HASHES}
           AS est_jaccard
  FROM cand c
  JOIN sig a ON a.doc_id = c.id_a
  JOIN sig b ON b.doc_id = c.id_b
)
SELECT e.id_a, e.id_b, e.est_jaccard,
       COALESCE(j.jaccard, 0.0) AS exact_jaccard,
       ROUND(ABS(e.est_jaccard - COALESCE(j.jaccard, 0.0)), 8)
         AS abs_err
FROM est e
LEFT JOIN jac j ON j.id_a = e.id_a AND j.id_b = e.id_b"""
        want = {(w[0], w[1], round(w[2], 9), round(w[3], 9),
                 round(w[4], 9))
                for w in con.execute(final).fetchall()}
    print(f"duckdb staged oracle: {len(want)} rows "
          f"[{time.perf_counter() - t0:.1f}s]")
    if got == want:
        print(f"ORACLE MATCH: {entry} at {sf_dir} -- "
              f"{len(got)} rows identical")
        return 0
    print(f"ORACLE MISMATCH: only-spark={list(got - want)[:3]} "
          f"only-duck={list(want - got)[:3]}")
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
