"""At-scale oracle check for ``llm_ngram_jaccard`` (and the staged
pattern for any rare+hot count-decomposed verifier).

The registry oracle's WITH-chain enumerates the full candidate pair
space in one query; at the sf10 rung that is a measured 3.54B raw
co-occurrence rows (``sum(df^2)/2`` over the 4.28M rare shingle
buckets) -- one hash aggregate of that volume spills DuckDB past this
host's disk, the same ceiling SCALE.md round 6 hit on the MinHash
WITH-chain.  The staged twin keeps the semantics bit-for-bit and
bounds the peak by mirroring the engine's round-10 count
decomposition (operators/dedup.py ngram_jaccard_dedup):

- ``|A∩B∩rare|`` is a grouped COUNT over the same-shingle self-join,
  computed in HASH SLICES of the (id_a, id_b) key space (each slice
  re-runs the cheap join but aggregates only 1/S of the pairs, so the
  grouping state is bounded; slicing a GROUP BY on the group key is
  exact by construction);
- ``|A∩B∩hot|`` comes from per-doc hot-shingle lists
  (df > cap; at most |sh|/cap docs-lists of a bounded dictionary),
  LEFT-joined per surviving slice;
- jaccard = n_inter / CAST(sz_a + sz_b - n_inter AS DOUBLE), the
  registered oracle's exact expression, threshold applied per slice
  so only survivors materialize.

Self-validation: run at sf0.01/sf0.1 first -- the plain
``hash_parity.py`` gate is green for this entry there, and this
tool's staged result must MATCH the Spark side at those rungs before
the sf10 run is trusted.

Usage: python tools/ngram_oracle_at_scale.py [sf_dir] [n_slices]
       (defaults: /root/repo/scratch/sf10, 8)
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
    disk_preflight(60)
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/repo/scratch/sf10"
    n_slices = int(args[1]) if len(args) > 1 else 8

    from graphdb_cia_factbook_spark.queries_llm import (
        _NGRAM_DF_CAP, SHINGLE_CTE)
    from graphdb_cia_factbook_spark.registry import queries
    from graphdb_cia_factbook_spark.session import get_spark

    import os

    # the Spark result caches to parquet so a rerun after a DuckDB-
    # phase failure (the first sf10 attempt was OOM-KILLED by the
    # kernel when the uncapped DuckDB ran next to a live Spark JVM)
    # skips the ~20-min engine side; --fresh forces a re-run
    cache = "/root/repo/scratch/ngram_sf10_spark_cache" \
        if "sf10" in sf_dir else None
    t0 = time.perf_counter()
    if cache and os.path.isdir(cache) and "--fresh" not in sys.argv:
        got = {tuple(r) for r in duckdb.connect().execute(
            f"SELECT * FROM read_parquet('{cache}/*.parquet')"
        ).fetchall()}
    else:
        spark = get_spark("ngram-oracle-at-scale")
        res = queries()["llm_ngram_jaccard"](spark, sf_dir)
        if cache:
            res.write.mode("overwrite").parquet(cache)
            got = {tuple(r) for r in duckdb.connect().execute(
                f"SELECT * FROM read_parquet('{cache}/*.parquet')"
            ).fetchall()}
        else:
            got = {(r.id_a, r.id_b, r.jaccard) for r in res.collect()}
        spark.stop()  # free the JVM before the DuckDB phase
    print(f"spark llm_ngram_jaccard: {len(got)} rows "
          f"[{time.perf_counter() - t0:.1f}s]", flush=True)

    con = duckdb.connect()
    con.execute("SET preserve_insertion_order=false")
    # spill, don't die, when a Spark JVM shares the host
    con.execute("SET memory_limit='48GB'")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    t0 = time.perf_counter()
    con.execute(f"CREATE TEMP TABLE sh AS WITH {SHINGLE_CTE} "
                f"SELECT doc_id, shingle FROM sh")
    con.execute("CREATE TEMP TABLE dfs AS "
                "SELECT shingle, COUNT(*) AS c FROM sh GROUP BY shingle")
    con.execute(f"CREATE TEMP TABLE rare AS SELECT shingle FROM dfs "
                f"WHERE c > 1 AND c <= {_NGRAM_DF_CAP}")
    con.execute(f"CREATE TEMP TABLE hotsets AS "
                f"SELECT s.doc_id, list_sort(list(s.shingle)) AS hs "
                f"FROM sh s JOIN dfs d ON d.shingle = s.shingle "
                f"WHERE d.c > {_NGRAM_DF_CAP} GROUP BY s.doc_id")
    con.execute("CREATE TEMP TABLE sz AS "
                "SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id")
    n_raw = con.execute(
        "SELECT CAST(SUM(c * (c - 1) / 2) AS BIGINT) FROM dfs "
        f"WHERE c > 1 AND c <= {_NGRAM_DF_CAP}").fetchone()[0]
    print(f"staged tables ready: raw pair volume {n_raw} "
          f"[{time.perf_counter() - t0:.1f}s]", flush=True)

    want = set()
    for s in range(n_slices):
        t1 = time.perf_counter()
        rows = con.execute(f"""
WITH counts AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS nr
  FROM sh a
  JOIN rare r ON r.shingle = a.shingle
  JOIN sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
  WHERE hash(a.doc_id * 1000003 + b.doc_id) % {n_slices} = {s}
  GROUP BY 1, 2),
j AS (
  SELECT c.id_a, c.id_b,
         c.nr + COALESCE(len(list_intersect(ha.hs, hb.hs)), 0)
           AS n_inter,
         sa.sz AS sza, sb.sz AS szb
  FROM counts c
  JOIN sz sa ON sa.doc_id = c.id_a
  JOIN sz sb ON sb.doc_id = c.id_b
  LEFT JOIN hotsets ha ON ha.doc_id = c.id_a
  LEFT JOIN hotsets hb ON hb.doc_id = c.id_b)
SELECT id_a, id_b,
       n_inter / CAST(sza + szb - n_inter AS DOUBLE) AS jaccard
FROM j
WHERE n_inter / CAST(sza + szb - n_inter AS DOUBLE) >= 0.5
""").fetchall()
        want.update((r[0], r[1], r[2]) for r in rows)
        print(f"slice {s + 1}/{n_slices}: +{len(rows)} survivors "
              f"[{time.perf_counter() - t1:.1f}s]", flush=True)

    print(f"duckdb staged oracle: {len(want)} rows total", flush=True)
    if got == want:
        print(f"ORACLE MATCH: llm_ngram_jaccard at {sf_dir} -- "
              f"{len(got)} pairs identical (raw volume {n_raw}, "
              f"{n_slices} slices)")
        return 0
    print(f"ORACLE MISMATCH: only-spark={list(got - want)[:3]} "
          f"only-duck={list(want - got)[:3]}")
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
