"""Local replica of the driver's t2 correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB
at the same sf, normalize (sort columns by name, sort rows), and
compare values exactly.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def fix(v):
        if isinstance(v, np.ndarray):
            return tuple(v.tolist())
        if isinstance(v, (list, tuple)):
            return tuple(v)
        return v

    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(fix)
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(list(df.columns), ignore_index=True)


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str:
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    if list(s.columns) != list(d.columns):
        return f"COLS mismatch: spark={list(s.columns)} duck={list(d.columns)}"
    if len(s) != len(d):
        return f"ROWS mismatch: spark={len(s)} duck={len(d)}"
    for c in s.columns:
        sv, dv = s[c].tolist(), d[c].tolist()
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(sv, dv))
               if not values_equal(a, b)]
        if bad:
            i, a, b = bad[0]
            approx = ""
            if isinstance(a, float) and isinstance(b, float):
                close = sum(1 for _, x, y in bad
                            if not (math.isfinite(x) and math.isfinite(y))
                            or abs(x - y) <= 1e-9 * max(1, abs(x), abs(y)))
                approx = f" ({close}/{len(bad)} within 1e-9 rel)"
            return (f"VALUE mismatch col={c}: {len(bad)}/{len(sv)} differ"
                    f"{approx}; first row {i}: spark={a!r} duck={b!r}")
    return "OK"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    con = duckdb.connect()
    # ordering is irrelevant (both sides are row-sorted before
    # hashing) and preserving it is what made the WITH-chain oracles
    # spill ~90 GB of temp at 500k docs -- see tools/composed_dedup.py
    con.execute("SET preserve_insertion_order=false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")

    from graphdb_cia_factbook_spark.session import clear_scratch, get_spark
    spark = get_spark("oracle-check")

    n_ok = n_fail = n_noracle = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
            clear_scratch(spark)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: rows={len(spark_pdf)} (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            n_noracle += 1
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        verdict = compare(name, spark_pdf, duck_pdf)
        status = "OK   " if verdict == "OK" else "FAIL "
        if verdict == "OK":
            n_ok += 1
        else:
            n_fail += 1
        print(f"{status} {name}: rows={len(spark_pdf)} {verdict} "
              f"[{time.time()-t0:.1f}s]")
    print(f"\n{n_ok} ok, {n_fail} fail, {n_noracle} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
