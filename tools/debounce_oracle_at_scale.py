"""At-scale oracle check for ``st_alert_debounce``.

The registry oracle folds per-user LIST columns (list_transform /
list_reduce over every event): exact and cheap at gate scale, but at
10M events DuckDB materializes ~20M list elements with per-element
allocations and dies with Out of Memory (reproduced standalone on an
idle 128 GB host).  This staged twin computes the identical result
without any list column:

- threshold UP-crossings via a LAG window (event-sized, streaming);
- the cooldown fold -- inherently sequential per user -- as a
  recursive CTE that advances ONE crossing per iteration for every
  user in parallel: depth = max crossings per user (tens), width =
  number of alerting users.  Same [last_kept_ts, n_kept] state
  transition, same DOUBLE timestamp arithmetic as the registry
  oracle's list_reduce.

Usage: python tools/debounce_oracle_at_scale.py [sf_dir]
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

    from graphdb_cia_factbook_spark.queries_streaming import (
        _DEB_COOLDOWN_US,
        _DEB_TH,
    )
    from graphdb_cia_factbook_spark.registry import queries
    from graphdb_cia_factbook_spark.session import get_spark

    spark = get_spark("debounce-oracle-at-scale")
    t0 = time.perf_counter()
    got = {(r.user_id, r.n_raw_alerts, r.n_debounced_alerts)
           for r in queries()["st_alert_debounce"](
               spark, sf_dir).collect()}
    print(f"spark st_alert_debounce: {len(got)} rows "
          f"[{time.perf_counter() - t0:.1f}s]")

    con = duckdb.connect()
    con.execute("SET preserve_insertion_order=false")
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{sf_dir}/events.parquet')")
    t0 = time.perf_counter()
    con.execute(f"""CREATE TEMP TABLE c AS
WITH x AS (
  SELECT user_id, event_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS t,
         CAST(value AS DOUBLE) AS v,
         LAG(CAST(value AS DOUBLE)) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS pv
  FROM events
)
SELECT user_id, t,
       ROW_NUMBER() OVER (PARTITION BY user_id
                          ORDER BY t, event_id) AS rn
FROM x WHERE v > {_DEB_TH!r} AND (pv IS NULL OR pv <= {_DEB_TH!r})""")
    want = {(w[0], w[1], w[2]) for w in con.execute(f"""
WITH RECURSIVE r(user_id, rn, last_t, n) AS (
  SELECT user_id, CAST(0 AS BIGINT),
         CAST(-9223372036854775807 AS DOUBLE), CAST(0.0 AS DOUBLE)
  FROM (SELECT DISTINCT user_id FROM c)
  UNION ALL
  SELECT c.user_id, c.rn,
         CASE WHEN CAST(c.t AS DOUBLE) - r.last_t
                   >= {_DEB_COOLDOWN_US}
              THEN CAST(c.t AS DOUBLE) ELSE r.last_t END,
         CASE WHEN CAST(c.t AS DOUBLE) - r.last_t
                   >= {_DEB_COOLDOWN_US}
              THEN r.n + 1.0 ELSE r.n END
  FROM r JOIN c ON c.user_id = r.user_id AND c.rn = r.rn + 1
),
m AS (SELECT user_id, MAX(rn) AS nr FROM c GROUP BY user_id)
SELECT r.user_id, CAST(m.nr AS BIGINT) AS n_raw_alerts,
       CAST(r.n AS BIGINT) AS n_debounced_alerts
FROM r JOIN m ON m.user_id = r.user_id AND r.rn = m.nr
""").fetchall()}
    print(f"duckdb staged oracle: {len(want)} rows "
          f"[{time.perf_counter() - t0:.1f}s]")
    if got == want:
        print(f"ORACLE MATCH: st_alert_debounce at {sf_dir} -- "
              f"{len(got)} rows identical")
        return 0
    print(f"ORACLE MISMATCH: only-spark={list(got - want)[:3]} "
          f"only-duck={list(want - got)[:3]}")
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
