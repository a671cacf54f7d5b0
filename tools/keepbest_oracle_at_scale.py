"""At-scale oracle check for ``llm_dedup_keep_best``.

The registry oracle = the MinHash-LSH WITH-chain (spills at 500k
docs, SCALE.md round 6) + a recursive connected-components closure +
the keep-longest survivor windows.  Staged form: the LSH candidate
pairs materialize via the spill-free stages from
``tools/lsh_oracle_at_scale.py``; the recursive closure then runs
over the PAIR table only (tens of thousands of rows at sf10 -- tiny),
and the survivor windows over the documents table.

Usage: python tools/keepbest_oracle_at_scale.py [sf_dir]
       (default: /root/repo/scratch/sf10)
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

    from graphdb_cia_factbook_spark.queries_llm import (
        _BANDS,
        _LSH_CAND_SQL,
        _NUM_HASHES,
        _band_selects_sql,
        _sig_cols_sql,
        SHINGLE_LIST,
        TOKS,
    )
    from graphdb_cia_factbook_spark.registry import queries
    from graphdb_cia_factbook_spark.session import get_spark

    spark = get_spark("keepbest-oracle-at-scale")
    t0 = time.perf_counter()
    got = {(r.doc_id, r.cluster_id, r.cluster_size, r.is_kept,
            round(r.survivor_score, 9))
           for r in queries()["llm_dedup_keep_best"](
               spark, sf_dir).collect()}
    print(f"spark llm_dedup_keep_best: {len(got)} rows "
          f"[{time.perf_counter() - t0:.1f}s]")

    con = duckdb.connect()
    con.execute("SET preserve_insertion_order=false")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    t0 = time.perf_counter()
    # staged LSH candidate pairs (identical stages to
    # lsh_oracle_at_scale.py, wide operating point)
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
    con.execute("""CREATE TEMP TABLE pairs AS
WITH scored AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(a.shs, b.shs)) AS n_inter,
         len(a.shs) AS sza, len(b.shs) AS szb
  FROM cand c
  JOIN docsets a ON a.doc_id = c.id_a
  JOIN docsets b ON b.doc_id = c.id_b
)
SELECT id_a, id_b FROM scored
WHERE n_inter / CAST(sza + szb - n_inter AS DOUBLE) >= 0.5""")
    n_pairs = con.execute("SELECT COUNT(*) FROM pairs").fetchone()[0]
    print(f"staged LSH pairs: {n_pairs}")
    # recursive closure over the PAIR table only, then keep-best
    want = {(w[0], w[1], w[2], w[3], round(w[4], 9))
            for w in con.execute("""
WITH RECURSIVE
bi AS (SELECT id_a AS a, id_b AS b FROM pairs
       UNION ALL SELECT id_b AS a, id_a AS b FROM pairs),
reach(a, b) AS (
  SELECT DISTINCT a, a FROM bi
  UNION
  SELECT r.a, bi.b FROM reach r JOIN bi ON r.b = bi.a
),
comp AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
alldocs AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         d.n_chars
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       ROW_NUMBER() OVER (PARTITION BY cluster_id
                          ORDER BY n_chars DESC, doc_id) = 1 AS is_kept,
       CAST(n_chars AS DOUBLE) AS survivor_score
FROM alldocs""").fetchall()}
    print(f"duckdb staged oracle: {len(want)} rows "
          f"[{time.perf_counter() - t0:.1f}s]")
    if got == want:
        n_kept = sum(1 for _, _, _, k, _ in got if k)
        print(f"ORACLE MATCH: llm_dedup_keep_best at {sf_dir} -- "
              f"{len(got)} rows identical ({n_kept} kept)")
        return 0
    print(f"ORACLE MISMATCH: only-spark={list(got - want)[:3]} "
          f"only-duck={list(want - got)[:3]}")
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
