"""At-scale oracle check for ``llm_winnow_containment`` -- the
ordered-pair twin of ``tools/ngram_oracle_at_scale.py``.

The registered oracle's ``shared`` CTE joins FULL fingerprint sets
per candidate pair; at the sf10 rung the raw ordered co-occurrence
volume is ``sum(df * (df-1))`` over the rare-fp buckets (~2x the
ngram entry's 3.54B) -- unbounded in one DuckDB aggregate on this
host.  The staged twin mirrors the engine's round-10 count
decomposition (operators/dedup.py winnow_containment):

- ``|fp(a) ∩ fp(b) ∩ rare|`` is a grouped COUNT over the rare-fp
  self-join, hash-sliced on the ordered (id_a, id_b) key (exact: a
  slice is a partition of the group-key space);
- the hot remainder uses per-doc hot-fp lists (df > cap, dictionary
  bounded by |fp| / cap);
- ``containment = n_shared / CAST(n_fp(id_a) AS DOUBLE)``, the
  registered oracle's exact expression, thresholded per slice.

Self-validation: MATCH required at sf0.01/sf0.1 (where the plain
``hash_parity.py`` gate is green) before the sf10 run is trusted.

Usage: python tools/winnow_oracle_at_scale.py [sf_dir] [n_slices]
       (defaults: /root/repo/scratch/sf10, 4)
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
    n_slices = int(args[1]) if len(args) > 1 else 4

    from graphdb_cia_factbook_spark.queries_llm import (
        _WINNOW_MAX_DF, _WINNOW_W, SHINGLE_LIST, TOKS)
    from graphdb_cia_factbook_spark.registry import queries
    from graphdb_cia_factbook_spark.session import get_spark

    import os

    # Spark-result parquet cache + capped DuckDB: see
    # tools/ngram_oracle_at_scale.py (the sf10 receipt lesson)
    cache = "/root/repo/scratch/winnow_sf10_spark_cache" \
        if "sf10" in sf_dir else None
    t0 = time.perf_counter()
    if cache and os.path.isdir(cache) and "--fresh" not in sys.argv:
        got = {tuple(r) for r in duckdb.connect().execute(
            f"SELECT * FROM read_parquet('{cache}/*.parquet')"
        ).fetchall()}
    else:
        spark = get_spark("winnow-oracle-at-scale")
        res = queries()["llm_winnow_containment"](spark, sf_dir)
        if cache:
            res.write.mode("overwrite").parquet(cache)
            got = {tuple(r) for r in duckdb.connect().execute(
                f"SELECT * FROM read_parquet('{cache}/*.parquet')"
            ).fetchall()}
        else:
            got = {(r.id_a, r.id_b, r.n_shared, r.containment)
                   for r in res.collect()}
        spark.stop()  # free the JVM before the DuckDB phase
    print(f"spark llm_winnow_containment: {len(got)} rows "
          f"[{time.perf_counter() - t0:.1f}s]", flush=True)

    con = duckdb.connect()
    con.execute("SET preserve_insertion_order=false")
    # spill, don't die, when a Spark JVM shares the host
    con.execute("SET memory_limit='48GB'")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    t0 = time.perf_counter()
    # fingerprints: the registered oracle's winnow chain, staged
    con.execute(f"""CREATE TEMP TABLE fp AS
WITH tk AS (SELECT doc_id, {TOKS} AS toks FROM documents),
shp AS (
  SELECT doc_id,
         unnest({SHINGLE_LIST}) AS shingle,
         generate_subscripts({SHINGLE_LIST}, 1) AS pos
  FROM tk
),
h AS (SELECT doc_id, pos, md5(shingle) AS hx FROM shp),
wmin AS (
  SELECT doc_id, pos,
         min(hx) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW
                       AND {_WINNOW_W - 1} FOLLOWING) AS sel,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM h
)
SELECT DISTINCT doc_id, sel AS fp
FROM wmin WHERE pos <= n - {_WINNOW_W} + 1""")
    con.execute("CREATE TEMP TABLE dfs AS "
                "SELECT fp, COUNT(*) AS c FROM fp GROUP BY fp")
    con.execute(f"CREATE TEMP TABLE rare AS SELECT fp FROM dfs "
                f"WHERE c > 1 AND c <= {_WINNOW_MAX_DF}")
    con.execute(f"CREATE TEMP TABLE hotsets AS "
                f"SELECT f.doc_id, list_sort(list(f.fp)) AS hs "
                f"FROM fp f JOIN dfs d ON d.fp = f.fp "
                f"WHERE d.c > {_WINNOW_MAX_DF} GROUP BY f.doc_id")
    con.execute("CREATE TEMP TABLE sz AS "
                "SELECT doc_id, COUNT(*) AS sz FROM fp GROUP BY doc_id")
    n_raw = con.execute(
        "SELECT CAST(SUM(c * (c - 1)) AS BIGINT) FROM dfs "
        f"WHERE c > 1 AND c <= {_WINNOW_MAX_DF}").fetchone()[0]
    print(f"staged tables ready: raw ordered-pair volume {n_raw} "
          f"[{time.perf_counter() - t0:.1f}s]", flush=True)

    want = set()
    for s in range(n_slices):
        t1 = time.perf_counter()
        rows = con.execute(f"""
WITH counts AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS nr
  FROM fp a
  JOIN rare r ON r.fp = a.fp
  JOIN fp b ON b.fp = a.fp AND a.doc_id <> b.doc_id
  WHERE hash(a.doc_id * 1000003 + b.doc_id) % {n_slices} = {s}
  GROUP BY 1, 2),
j AS (
  SELECT c.id_a, c.id_b,
         c.nr + COALESCE(len(list_intersect(ha.hs, hb.hs)), 0)
           AS n_shared,
         sa.sz AS sza
  FROM counts c
  JOIN sz sa ON sa.doc_id = c.id_a
  LEFT JOIN hotsets ha ON ha.doc_id = c.id_a
  LEFT JOIN hotsets hb ON hb.doc_id = c.id_b)
SELECT id_a, id_b, n_shared,
       n_shared / CAST(sza AS DOUBLE) AS containment
FROM j
WHERE n_shared / CAST(sza AS DOUBLE) >= 0.5
""").fetchall()
        want.update((r[0], r[1], r[2], r[3]) for r in rows)
        print(f"slice {s + 1}/{n_slices}: +{len(rows)} survivors "
              f"[{time.perf_counter() - t1:.1f}s]", flush=True)

    print(f"duckdb staged oracle: {len(want)} rows total", flush=True)
    if got == want:
        print(f"ORACLE MATCH: llm_winnow_containment at {sf_dir} -- "
              f"{len(got)} ordered pairs identical (raw volume "
              f"{n_raw}, {n_slices} slices)")
        return 0
    print(f"ORACLE MISMATCH: only-spark={list(got - want)[:3]} "
          f"only-duck={list(want - got)[:3]}")
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
