"""At-scale oracle check for ``llm_bitext_mining``.

The registry oracle ranks ALL src x tgt cosine pairs through one
``ROW_NUMBER`` window -- at the sf10 rung that is 2.3B scored rows
(28,080 de x 82,360 en) which DuckDB materializes for the window:
measured 104 GB RSS before the OOM killer ended it.  Same ceiling the
LSH/temporal oracles hit in rounds 6-7; same cure: stage the
computation so no superquadratic intermediate ever materializes.

The src side is processed in fixed-size chunks (row_number ranges);
each chunk scores against the FULL tgt side, takes its top-2 per
query inside the chunk (the global top-2 of a query equals its top-2
within the one chunk that contains it -- chunks partition queries,
not candidates), and appends to a result table.  Peak memory is
chunk_size x |tgt| scored rows (~165M x 28B = 4.6 GB), constant in
the number of chunks.  The scored expression is the unrolled
left-associated chain (bit-equal to the registry oracle's) with
per-vector norms hoisted, and tgt drives the scan so DuckDB's
morsel parallelism applies.

Both sides then hash through ``hash_parity.canon_hash`` -- the same
canonical serialization the plain sweep uses.

Usage: python tools/bitext_oracle_at_scale.py [sf_dir] [chunk]
       (default: /root/repo/scratch/sf10, 2000)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

from hash_parity import canon_hash  # noqa: E402


def main() -> int:
    # round-10 post-mortem: refuse disk-bound runs without
    # headroom instead of dying 20 minutes in (SCALE.md)
    from tools.scale_common import disk_preflight
    disk_preflight(15)
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/repo/scratch/sf10"
    chunk = int(args[1]) if len(args) > 1 else 2000

    import __spark_entry__ as entrymod
    from graphdb_cia_factbook_spark.queries_llm import (
        _BT_SRC_LANG,
        _BT_TGT_LANG,
        _dot_sql_unrolled,
    )
    from graphdb_cia_factbook_spark.session import get_spark

    spark = get_spark("bitext-oracle-at-scale")
    t0 = time.perf_counter()
    spdf = entrymod.queries()["llm_bitext_mining"](spark, sf_dir) \
        .toPandas()
    sh, scols = canon_hash(spdf)
    print(f"spark : {len(spdf)} rows hash={sh[:12]} "
          f"[{time.perf_counter() - t0:.1f}s]")

    con = duckdb.connect()
    con.execute("SET preserve_insertion_order=false")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    t0 = time.perf_counter()
    nq = _dot_sql_unrolled("e.embedding", "e.embedding")
    for name, lang in (("src", _BT_SRC_LANG), ("tgt", _BT_TGT_LANG)):
        con.execute(f"""CREATE TEMP TABLE {name} AS
SELECT e.vec_id AS vid, e.embedding AS v, {nq} AS n,
       ROW_NUMBER() OVER (ORDER BY e.vec_id) AS rn
FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
WHERE d.lang = '{lang}'""")
    n_src = con.execute("SELECT COUNT(*) FROM src").fetchone()[0]
    con.execute("""CREATE TEMP TABLE top2 (
query_id BIGINT, cand_id BIGINT, cos DOUBLE, rn BIGINT)""")
    dot = _dot_sql_unrolled("s.v", "t.v")
    for lo in range(1, n_src + 1, chunk):
        con.execute(f"""INSERT INTO top2
SELECT query_id, cand_id, cos, rn FROM (
  SELECT query_id, cand_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, cand_id) AS rn
  FROM (SELECT s.vid AS query_id, t.vid AS cand_id,
               {dot} / sqrt(s.n * t.n) AS cos
        FROM tgt t, (SELECT * FROM src
                     WHERE rn >= {lo} AND rn < {lo + chunk}) s)
) WHERE rn <= 2""")
        done = min(lo + chunk - 1, n_src)
        print(f"  chunk {lo}-{done}/{n_src} "
              f"[{time.perf_counter() - t0:.1f}s]", flush=True)
    dpdf = con.execute("""
SELECT a.query_id, a.cand_id AS match_id,
       ROUND(a.cos, 6) AS cos_top1,
       ROUND(a.cos - b.cos, 6) AS margin
FROM top2 a JOIN top2 b
  ON b.query_id = a.query_id AND a.rn = 1 AND b.rn = 2""").fetchdf()
    dh, dcols = canon_hash(dpdf)
    print(f"duckdb: {len(dpdf)} rows hash={dh[:12]} "
          f"[{time.perf_counter() - t0:.1f}s]")

    ok = sh == dh and scols == dcols
    print("MATCH" if ok else "MISMATCH")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
