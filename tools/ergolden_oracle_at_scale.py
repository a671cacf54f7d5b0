"""At-scale oracle check for ``er_golden_record``.

The registry oracle's blocked levenshtein self-join is exact but
expensive at the sf10 rung: the scale generator tiles customer names
verbatim (100 copies of every name), so the name-substring blocks
hold ~1,100 members each and the raw in-block pair space is ~825M --
the receipt round 8 abandoned.  The staged twin keeps the semantics
bit-for-bit and prunes where the predicate allows:

- the match requires ``length(a.name) <> length(b.name)`` AND
  ``levenshtein <= 1`` -- so the cheap length inequality moves INTO
  the join condition and only cross-length pairs (base x planted
  ``~``-suffixed variants, ~18% of the block pair space) ever reach
  the levenshtein;
- the recursive transitive closure runs over the PAIR table only
  (linear in matches, never in the corpus), exactly as the Spark
  side's ``dedup_clusters`` does.

This mirrors the Spark entry's round-9 shape (queries_analytics.py:
one groupBy, in-lambda length prune, 10k hot-block cap -- every
verified rung sits far under the cap, so capped == uncapped here).

Self-validation: run at sf0.01/sf0.1 first, where the plain
``hash_parity.py`` gate is green for this entry; the staged twin must
MATCH there before the sf10 run is trusted.

Usage: python tools/ergolden_oracle_at_scale.py [sf_dir]
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

    from graphdb_cia_factbook_spark.registry import queries
    from graphdb_cia_factbook_spark.session import get_spark

    spark = get_spark("ergolden-oracle-at-scale")
    t0 = time.perf_counter()
    got = {(r.cluster_id, r.n_members, r.canonical_name,
            r.total_acctbal)
           for r in queries()["er_golden_record"](
               spark, sf_dir).collect()}
    print(f"spark er_golden_record: {len(got)} rows "
          f"[{time.perf_counter() - t0:.1f}s]")

    con = duckdb.connect()
    con.execute("SET preserve_insertion_order=false")
    con.execute(f"CREATE VIEW customer AS SELECT * FROM "
                f"read_parquet('{sf_dir}/customer.parquet')")
    t0 = time.perf_counter()
    con.execute("""CREATE TEMP TABLE dirty AS
SELECT c_custkey AS rid, c_name AS name, c_acctbal AS acctbal
FROM customer
UNION ALL
SELECT c_custkey + 10000000 AS rid, c_name || '~' AS name, 0.0
FROM customer WHERE c_custkey % 10 = 0""")
    # QUALIFY mirrors the engine's max_block_size=10000 hot-block cap
    # (and the registered oracle's capped CTE) -- blocks here are
    # ~1,100 members, far under it, so capped == uncapped at this rung
    con.execute("""CREATE TEMP TABLE blocked AS
SELECT rid, name, acctbal, substr(name, 10, 8) AS blk,
       length(name) AS ln
FROM dirty
QUALIFY COUNT(*) OVER (PARTITION BY blk) <= 10000""")
    # length inequality INSIDE the join condition: only cross-length
    # pairs pay the levenshtein (same predicate as the registry
    # oracle's WHERE, reordered -- conjunction order cannot change
    # the result set)
    con.execute("""CREATE TEMP TABLE pairs AS
SELECT a.rid AS id_a, b.rid AS id_b
FROM blocked a JOIN blocked b
  ON a.blk = b.blk AND a.ln <> b.ln AND a.rid < b.rid
WHERE levenshtein(a.name, b.name) <= 1""")
    n_pairs = con.execute("SELECT COUNT(*) FROM pairs").fetchone()[0]
    print(f"staged match pairs: {n_pairs}")
    want = {(w[0], w[1], w[2], w[3]) for w in con.execute("""
WITH RECURSIVE
bi AS (SELECT id_a AS a, id_b AS b FROM pairs
       UNION ALL SELECT id_b AS a, id_a AS b FROM pairs),
reach(a, b) AS (
  SELECT DISTINCT a, a FROM bi
  UNION
  SELECT r.a, bi.b FROM reach r JOIN bi ON r.b = bi.a
),
comp AS (SELECT a AS rid, MIN(b) AS cluster_id FROM reach GROUP BY a),
resolved AS (
  SELECT d.rid, d.name, d.acctbal,
         COALESCE(c.cluster_id, d.rid) AS cluster_id
  FROM dirty d LEFT JOIN comp c ON c.rid = d.rid
)
SELECT r.cluster_id,
       COUNT(*) AS n_members,
       MIN(CASE WHEN r.rid = r.cluster_id THEN r.name END)
         AS canonical_name,
       CAST(SUM(CAST(r.acctbal AS DECIMAL(27,4))) AS DOUBLE)
         AS total_acctbal
FROM resolved r
GROUP BY r.cluster_id""").fetchall()}
    print(f"duckdb staged oracle: {len(want)} rows "
          f"[{time.perf_counter() - t0:.1f}s]")
    if got == want:
        n_merged = sum(1 for _, m, _, _ in got if m > 1)
        print(f"ORACLE MATCH: er_golden_record at {sf_dir} -- "
              f"{len(got)} golden records identical ({n_merged} "
              f"merged clusters)")
        return 0
    print(f"ORACLE MISMATCH: only-spark={list(got - want)[:3]} "
          f"only-duck={list(want - got)[:3]}")
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
