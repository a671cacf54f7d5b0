"""Generic engine-side checksum receipt for entries whose results are
too large to collect.

``hash_parity.py`` collects BOTH engines' results to the driver --
impossible for entries whose output is fact-sized at the sf10 rung
(``j7_semi_endpoints`` dies on spark.driver.maxResultSize at 1 GiB of
serialized rows).  This is the ``tools/j4_oracle_at_scale.py`` method
generalized: each engine reduces its own result to
``(row_count, SUM of 48-bit md5 prefix over the canonical row
string))`` and only two 1-row aggregates ever cross to the driver.

Cross-engine canonical formatting is guaranteed by REFUSING columns
whose engine string forms can diverge: integer, string, boolean, and
date columns are accepted as-is (they render identically on both
engines), timestamps canonicalize EXACTLY through epoch microseconds
(``unix_micros`` / ``epoch_us`` -- session tz is UTC on both sides),
and float/double columns are refused UNLESS ``--float-scale=N`` is
passed, which canonicalizes them as ``floor(x * N)`` BIGINT on both
engines (the j4 flooring pattern generalized: identical IEEE doubles
give identical products and floors, so bit-equal values match and
diverged values mismatch -- the receipt's granularity is 1/N and the
flag records that choice in the receipt line).  NULLs map to a
sentinel both sides; columns concatenate in sorted-name order.

Self-validation: at sf0.01/sf0.1 the plain ``hash_parity.py`` gate is
green for every registry entry, so digests agreeing there certifies
the method before any big rung relies on it.

Usage: python tools/checksum_oracle_at_scale.py [--float-scale=N]
       sf_dir name [name...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

US = "\x1f"
NULL = "\x01N"  # \x01: never in the data; \x00 would end DuckDB's parser
OK_SPARK = {"tinyint", "smallint", "int", "bigint", "string",
            "boolean", "date"}  # DataType.simpleString() forms
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def main() -> int:
    # round-10 post-mortem: refuse disk-bound runs without
    # headroom instead of dying 20 minutes in (SCALE.md)
    from tools.scale_common import disk_preflight
    disk_preflight(15)
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir, names = args[0], args[1:]
    float_scale = None
    for a in sys.argv[1:]:
        if a.startswith("--float-scale="):
            float_scale = float(a.split("=", 1)[1])

    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F
    from graphdb_cia_factbook_spark.session import clear_scratch, get_spark

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    spark = get_spark("checksum-oracle-at-scale")

    con = duckdb.connect()
    con.execute("SET preserve_insertion_order=false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")

    ts_types = {"timestamp", "timestamp_ntz"}
    float_types = {"float", "double"}

    def canon_pair(c: str, simple: str):
        """(spark Column, duckdb expr) canonical forms for one column,
        or None if the type has no cross-engine-exact form."""
        if simple in OK_SPARK:
            return (F.col(c).cast("string"), f"CAST({c} AS VARCHAR)")
        if simple in ts_types:
            # exact: epoch microseconds, both sessions UTC
            return (F.unix_micros(F.col(c).cast("timestamp"))
                    .cast("string"),
                    f"CAST(epoch_us({c}) AS VARCHAR)")
        if simple in float_types and float_scale is not None:
            # opt-in flooring at 1/float_scale granularity: identical
            # IEEE doubles -> identical products -> identical floors
            return (F.floor(F.col(c).cast("double") * float_scale)
                    .cast("long").cast("string"),
                    f"CAST(CAST(floor(CAST({c} AS DOUBLE) * "
                    f"{float_scale!r}) AS BIGINT) AS VARCHAR)")
        return None

    n_ok = n_fail = 0
    for name in names:
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        simples = {f.name: f.dataType.simpleString()
                   for f in df.schema.fields}
        bad = [f"{c}:{s}" for c, s in simples.items()
               if canon_pair(c, s) is None]
        if bad:
            print(f"SKIP  {name}: non-canonical column types {bad}")
            n_fail += 1
            continue
        cols = sorted(df.columns)
        pairs = {c: canon_pair(c, simples[c]) for c in cols}
        row_str = F.concat_ws(US, *[
            F.coalesce(pairs[c][0], F.lit(NULL)) for c in cols])
        digest = F.conv(F.substring(F.md5(row_str), 1, 12), 16, 10) \
            .cast("decimal(38,0)")
        srow = df.agg(F.count(F.lit(1)).alias("n"),
                      F.sum(digest).alias("d")).collect()[0]
        clear_scratch(spark)
        ts = time.perf_counter() - t0

        t0 = time.perf_counter()
        dexpr = (" || '" + US + "' || ").join(
            f"COALESCE({pairs[c][1]}, '{NULL}')" for c in cols)
        drow = con.execute(f"""
SELECT COUNT(*),
       SUM(('0x' || substr(md5({dexpr}), 1, 12))::BIGINT::HUGEINT)
FROM ({oracles[name]}) q""").fetchone()
        td = time.perf_counter() - t0

        ok = int(srow["n"]) == int(drow[0]) and \
            (srow["d"] is None) == (drow[1] is None) and \
            (srow["d"] is None or int(srow["d"]) == int(drow[1]))
        tag = "OK   " if ok else "FAIL "
        n_ok += ok
        n_fail += not ok
        scale_note = ""
        if any(simples[c] in float_types for c in cols):
            scale_note = f" float-scale={float_scale!r}"
        print(f"{tag} {name}: n={srow['n']} digest={srow['d']} "
              f"[spark {ts:.1f}s / duckdb {td:.1f}s]{scale_note}",
              flush=True)
    print(f"{n_ok} ok, {n_fail} fail/skip")
    return 0 if n_fail == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
