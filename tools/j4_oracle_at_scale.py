"""At-scale oracle check for ``j4_derived_share`` (round-8 item).

``j4_derived_share`` returns one row PER LINEITEM (60,012,150 rows at
sf10) -- the only bench headline whose sf10 receipt the plain
``hash_parity.py`` sweep cannot produce, because that tool collects
both result sets to the driver and canonicalizes them in Python
(fine at <=2M rows, hopeless at 60M).  This tool closes the gap with
an ENGINE-SIDE order-independent checksum: each engine reduces its
own result to ``(row_count, SUM(48-bit md5 prefix of the canonical
row string))`` -- one 1-row aggregate crosses to the driver per side,
nothing else.

Canonical row string: ``l_orderkey <US> l_linenumber <US>
floor(l_share * 1e15)`` -- the two keys plus the share's first ~50
bits.  ``l_share`` is an IEEE double computed by the identical
operation sequence on both engines (``x*(1-d)/total`` with the total
a DECIMAL sum cast to double), so bit-identical values -- which
``hash_parity`` PROVES at sf0.01/sf0.1 via shortest-round-trip repr --
floor to identical integers; flooring (exact, monotone) sidesteps the
engines' float->string formatting differences entirely.  The digest
SUM is order-independent (row order differs across engines by
construction) and collision-resistant enough for a receipt: a single
wrong/missing/extra row shifts the 38-digit sum with probability
1 - 2^-48.

Self-validation: run at sf0.01 first -- a scale where the full
``hash_parity.py`` gate is green -- and the digests' agreement there
certifies the method before the 60M-row rung uses it.

Usage: python tools/j4_oracle_at_scale.py [sf_dir]
       (default: /root/repo/scratch/sf10)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

US = "\x1f"  # unit separator, same row-string delimiter hash_parity uses


def main() -> int:
    # round-10 post-mortem: refuse disk-bound runs without
    # headroom instead of dying 20 minutes in (SCALE.md)
    from tools.scale_common import disk_preflight
    disk_preflight(15)
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/repo/scratch/sf10"

    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F
    from graphdb_cia_factbook_spark.session import get_spark

    spark = get_spark("j4-oracle-at-scale")
    t0 = time.perf_counter()
    df = entrymod.queries()["j4_derived_share"](spark, sf_dir)
    row_str = F.concat_ws(
        US,
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.floor(F.col("l_share") * F.lit(1e15)).cast("string"))
    digest = F.conv(F.substring(F.md5(row_str), 1, 12), 16, 10) \
        .cast("decimal(38,0)")
    srow = df.agg(F.count(F.lit(1)).alias("n"),
                  F.sum(digest).alias("digest")).collect()[0]
    print(f"spark : n={srow['n']} digest={srow['digest']} "
          f"[{time.perf_counter() - t0:.1f}s]")

    con = duckdb.connect()
    con.execute("SET preserve_insertion_order=false")
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"read_parquet('{sf_dir}/lineitem.parquet')")
    oracle = entrymod.oracle_sql()["j4_derived_share"]
    t0 = time.perf_counter()
    drow = con.execute(f"""
SELECT COUNT(*) AS n,
       SUM(('0x' || substr(md5(
             l_orderkey::VARCHAR || '{US}' ||
             l_linenumber::VARCHAR || '{US}' ||
             floor(l_share * 1e15)::BIGINT::VARCHAR
           ), 1, 12))::BIGINT::HUGEINT) AS digest
FROM ({oracle}) q""").fetchone()
    print(f"duckdb: n={drow[0]} digest={drow[1]} "
          f"[{time.perf_counter() - t0:.1f}s]")

    # SUM over 0 rows is NULL on both engines: compare None-ness
    # first so an empty side reports MISMATCH instead of crashing
    # (same contract as checksum_oracle_at_scale.py)
    ok = int(srow["n"]) == int(drow[0]) and \
        (srow["digest"] is None) == (drow[1] is None) and \
        (srow["digest"] is None or int(srow["digest"]) == int(drow[1]))
    print("MATCH" if ok else "MISMATCH")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
