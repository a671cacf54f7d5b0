"""At-scale oracle check for ``g_temporal_reachability``.

The registry oracle is a single recursive WITH-chain whose per-round
``e`` CTE materializes the per-bucket ALL-PAIRS contact edges; DuckDB
re-evaluates it per superstep and exceeds local temp at 10M events
(the same WITH-chain ceiling the LSH oracles hit, SCALE.md round 6).
This tool verifies the SAME result at any rung with the staged,
spill-free shape from ``tools/lsh_oracle_at_scale.py`` -- materialized
temp tables per superstep -- AND the bucket-factored relay instead of
the pair join, which is the DuckDB mirror of
``operators.graph.temporal_reachability_cooccurrence``:

  for a member v of bucket t, a contact transmits at t iff some OTHER
  member u has arr_u <= t.  Per bucket that is: nq = count of members
  with arr <= t; uq = the single such member when nq = 1.  v gets
  candidate t iff nq >= 2, or nq = 1 and uq <> v.  Exactly the pair
  form's EXISTS(u <> v, arr_u <= t) -- no pairs ever materialize, each
  superstep is two membership-sized joins + two GROUP BYs.

Usage: python tools/temporal_oracle_at_scale.py [sf_dir]
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

    from graphdb_cia_factbook_spark.queries_graph import (
        _TEMP_BIG,
        _TEMP_BUCKET_CAP,
        _TEMP_BUCKET_US,
        _TEMP_ROUNDS,
    )
    from graphdb_cia_factbook_spark.registry import queries
    from graphdb_cia_factbook_spark.session import get_spark

    spark = get_spark("temporal-oracle-at-scale")
    t0 = time.perf_counter()
    got = {(row.user_id, row.arrival_bucket, row.reached)
           for row in queries()["g_temporal_reachability"](
               spark, sf_dir).collect()}
    print(f"spark g_temporal_reachability: {len(got)} rows "
          f"[{time.perf_counter() - t0:.1f}s]")

    con = duckdb.connect()
    con.execute("SET preserve_insertion_order=false")
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{sf_dir}/events.parquet')")
    t0 = time.perf_counter()
    con.execute(f"""CREATE TEMP TABLE b AS
SELECT DISTINCT
       epoch_us(CAST(ts AS TIMESTAMP)) // {_TEMP_BUCKET_US} AS t,
       user_id
FROM events""")
    con.execute(f"""CREATE TEMP TABLE bb AS
SELECT b.t, b.user_id FROM b
JOIN (SELECT t FROM b GROUP BY t
      HAVING COUNT(*) <= {_TEMP_BUCKET_CAP}) bc ON bc.t = b.t""")
    con.execute(f"""CREATE TEMP TABLE a0 AS
WITH seed AS (SELECT MIN(user_id) AS s FROM b)
SELECT user_id,
       CASE WHEN user_id = (SELECT s FROM seed)
            THEN (SELECT MIN(t) FROM b
                  WHERE user_id = (SELECT s FROM seed))
            ELSE {_TEMP_BIG} END AS arr
FROM (SELECT DISTINCT user_id FROM b)""")
    for i in range(_TEMP_ROUNDS):
        # bucket-factored relay superstep (see module docstring)
        con.execute(f"""CREATE TEMP TABLE q{i} AS
SELECT bb.t,
       COUNT(*) FILTER (WHERE a.arr <= bb.t) AS nq,
       MIN(bb.user_id) FILTER (WHERE a.arr <= bb.t) AS uq
FROM bb JOIN a{i} a USING (user_id)
GROUP BY bb.t""")
        con.execute(f"""CREATE TEMP TABLE a{i + 1} AS
SELECT a.user_id, LEAST(a.arr, COALESCE(m.t, a.arr)) AS arr
FROM a{i} a LEFT JOIN (
  SELECT bb.user_id, MIN(bb.t) AS t
  FROM bb JOIN q{i} q ON q.t = bb.t
  WHERE q.nq >= 2 OR (q.nq = 1 AND bb.user_id <> q.uq)
  GROUP BY bb.user_id
) m ON m.user_id = a.user_id""")
        con.execute(f"DROP TABLE a{i}")
        con.execute(f"DROP TABLE q{i}")
    want = {(w[0], w[1], w[2]) for w in con.execute(f"""
SELECT user_id,
       CASE WHEN arr < {_TEMP_BIG} THEN arr END AS arrival_bucket,
       arr < {_TEMP_BIG} AS reached
FROM a{_TEMP_ROUNDS}""").fetchall()}
    print(f"duckdb staged oracle: {len(want)} rows "
          f"[{time.perf_counter() - t0:.1f}s]")
    if got == want:
        n_reached = sum(1 for _, _, r in got if r)
        print(f"ORACLE MATCH: g_temporal_reachability at {sf_dir} -- "
              f"{len(got)} rows identical ({n_reached} reached)")
        return 0
    print(f"ORACLE MISMATCH: only-spark={list(got - want)[:3]} "
          f"only-duck={list(want - got)[:3]}")
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
