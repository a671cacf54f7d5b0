"""At-scale oracle check for the MinHash-LSH registry entries.

The registry oracles for ``llm_minhash_lsh`` / ``llm_minhash_lsh_sharp``
are single WITH-chains (exact and cheap at the driver's sf0.01 gate),
but at 500k docs DuckDB re-evaluates the shingle CTE per consumer and
the co-shingle verify join spills >90 GB of temp.  This tool verifies
the SAME pair set at any rung with the staged, spill-free oracle shape
from ``tools/composed_dedup.py``: materialized temp tables,
``preserve_insertion_order=false``, and a linear-in-candidates verify
(``list_intersect`` per pair) -- the DuckDB mirror of
operators.dedup.pair_jaccard.

Usage: python tools/lsh_oracle_at_scale.py [sf_dir] [wide|sharp]
       (defaults: /root/repo/scratch/sf10, sharp)
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
    point = args[1] if len(args) > 1 else "sharp"

    from graphdb_cia_factbook_spark.queries_llm import (
        _BANDS,
        _LSH_CAND_SQL,
        _NUM_HASHES,
        _ROWS_PER_BAND,
        _SHARP_BANDS,
        _SHARP_HASHES,
        _SHARP_ROWS,
        _band_selects_sql,
        _sig_cols_sql,
        SHINGLE_LIST,
        TOKS,
    )
    from graphdb_cia_factbook_spark.registry import queries
    from graphdb_cia_factbook_spark.session import get_spark

    if point == "sharp":
        nh, b, r = _SHARP_HASHES, _SHARP_BANDS, _SHARP_ROWS
        entry = "llm_minhash_lsh_sharp"
    else:
        nh, b, r = _NUM_HASHES, _BANDS, _ROWS_PER_BAND
        entry = "llm_minhash_lsh"

    spark = get_spark("lsh-oracle-at-scale")
    t0 = time.perf_counter()
    got = {(row.id_a, row.id_b, round(row.jaccard, 9))
           for row in queries()[entry](spark, sf_dir).collect()}
    print(f"spark {entry}: {len(got)} pairs "
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
                f"SELECT doc_id, {_sig_cols_sql(nh)} FROM sh "
                f"GROUP BY doc_id")
    con.execute(f"""CREATE TEMP TABLE cand AS
WITH bands AS (
  {_band_selects_sql(b, r)}
),
{_LSH_CAND_SQL.replace('cand AS (', 'candq AS (')}
SELECT * FROM candq""")
    con.execute("""CREATE TEMP TABLE docsets AS
SELECT sh.doc_id, list(shingle) AS shs FROM sh
JOIN (SELECT id_a AS doc_id FROM cand
      UNION SELECT id_b FROM cand) c USING (doc_id)
GROUP BY sh.doc_id""")
    want = {(w[0], w[1], round(w[2], 9)) for w in con.execute("""
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
FROM scored
WHERE n_inter / CAST(sza + szb - n_inter AS DOUBLE) >= 0.5
""").fetchall()}
    print(f"duckdb staged oracle: {len(want)} pairs "
          f"[{time.perf_counter() - t0:.1f}s]")
    if got == want:
        print(f"ORACLE MATCH: {entry} at {sf_dir} -- "
              f"{len(got)} pairs identical")
        return 0
    print(f"ORACLE MISMATCH: only-spark={list(got - want)[:3]} "
          f"only-duck={list(want - got)[:3]}")
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
