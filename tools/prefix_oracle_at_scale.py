"""At-scale oracle check for ``llm_prefix_join`` (PPJoin).

The registry oracle is a single shingle WITH-chain whose
``_JACCARD_TAIL`` re-evaluates the shingle CTE per consumer and
verifies via a co-shingle row self-join -- the same shape that
spilled >90 GB at 500k docs for the LSH oracles (SCALE.md round 6).
This tool verifies the SAME pair set at any rung with the staged,
spill-free form from ``tools/lsh_oracle_at_scale.py``: materialized
temp tables, ``preserve_insertion_order=false``, and the
linear-in-candidates ``list_intersect`` verify.

Usage: python tools/prefix_oracle_at_scale.py [sf_dir]
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
        SHINGLE_LIST,
        TOKS,
    )
    from graphdb_cia_factbook_spark.registry import queries
    from graphdb_cia_factbook_spark.session import get_spark

    spark = get_spark("prefix-oracle-at-scale")
    t0 = time.perf_counter()
    got = {(row.id_a, row.id_b, round(row.jaccard, 9))
           for row in queries()["llm_prefix_join"](
               spark, sf_dir).collect()}
    print(f"spark llm_prefix_join: {len(got)} pairs "
          f"[{time.perf_counter() - t0:.1f}s]")

    con = duckdb.connect()
    con.execute("SET preserve_insertion_order=false")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    t0 = time.perf_counter()
    con.execute(f"""CREATE TEMP TABLE sh AS
WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents)
SELECT DISTINCT doc_id, unnest({SHINGLE_LIST}) AS shingle FROM tk""")
    # rarest-first prefix: rank each doc's shingles by global df,
    # keep the Jaccard-0.5 prefix (sz - ceil(t*sz) + 1 rarest)
    con.execute("""CREATE TEMP TABLE ranked AS
SELECT s.doc_id, s.shingle,
       ROW_NUMBER() OVER (PARTITION BY s.doc_id
                          ORDER BY d.dfc, s.shingle) AS rn
FROM sh s
JOIN (SELECT shingle, COUNT(*) AS dfc FROM sh GROUP BY shingle) d
  ON s.shingle = d.shingle""")
    con.execute("""CREATE TEMP TABLE cand AS
WITH szs AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
prefix AS (
  SELECT r.doc_id, r.shingle
  FROM ranked r JOIN szs z ON r.doc_id = z.doc_id
  WHERE r.rn <= z.sz - CAST(ceil(0.5 * z.sz) AS BIGINT) + 1
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM prefix a JOIN prefix b
  ON a.shingle = b.shingle AND a.doc_id < b.doc_id""")
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
        print(f"ORACLE MATCH: llm_prefix_join at {sf_dir} -- "
              f"{len(got)} pairs identical")
        return 0
    print(f"ORACLE MISMATCH: only-spark={list(got - want)[:3]} "
          f"only-duck={list(want - got)[:3]}")
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
