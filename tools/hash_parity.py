"""Driver-hash parity harness (VERDICT round 3 item 7).

The driver's correctness gate compares a VALUE HASH of the Spark
result against the DuckDB oracle (sorted rows, canonical formatting).
``check_oracle.py`` compares cell-by-cell with ``values_equal``, which
is deliberately forgiving (``3 == 3.0`` passes) -- so a result that is
value-equal but TYPE- or FORMATTING-divergent can be replica-green yet
red under the driver's hash, which is exactly what happened to
``llm_pack_sequences`` in round 3 (CORRECTNESS_r03.json: rows+schema
match, hash mismatch; local replica bit-exact).

This tool hashes both sides through ONE canonical serialization and
compares the digests, catching the formatting-level divergence class
pre-submission:

- columns sorted by name, rows sorted by their serialized form,
  sha256 over the concatenation (the shape every sane gate uses);
- floats serialize via ``repr`` (shortest round-trip), with -0.0
  canonicalized to 0.0 and NaN spelled literally;
- integral values serialize WITHOUT a fractional part regardless of
  the pandas dtype they arrived in, so the VALUE hash tolerates the
  pandas NULL-widening asymmetry (a column with NULLs arrives float64
  from both engines anyway -- verified duckdb 1.0 ``fetchdf``);
- **int-vs-float dtype-kind drift on a fully-populated column is a
  HARD FAILURE** (round-4 lesson: the driver's gate serializes raw
  pandas values, so a null-free DuckDB float64 from an uncast
  ``SUM(BIGINT)`` prints ``123.0`` against Spark's int64 ``123`` and
  reds the entry even though every value matches -- all four r4 reds
  were this).  Pass ``--forgiving`` to demote kind drift back to a
  note (the pre-round-5 behavior).

Usage: python tools/hash_parity.py [--vanilla] [--forgiving]
       [sf_dir] [query_name ...]
Exit 1 if any entry's canonical hashes differ, or (strict mode) if
any null-free column disagrees on int-vs-float dtype kind.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
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


def canon_value(v) -> str:
    """Canonical, engine-independent string form of one cell."""
    if v is None:
        return "NULL"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if f == 0.0:
            f = 0.0  # collapses -0.0
        if math.isfinite(f) and f == int(f) and abs(f) < 2**53:
            return str(int(f))
        return repr(f)
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        f = float(v)
        return canon_value(f)
    if isinstance(v, str):
        return v
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        # driver testdata is tz-naive micros; normalize to that
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def canon_hash(pdf: pd.DataFrame) -> tuple[str, list[str]]:
    """(sha256 hex over sorted canonical rows, sorted column names).

    Iterates per COLUMN (``Series.tolist`` + zip), not ``iterrows``:
    byte-identical output -- ``canon_value`` normalizes every numeric
    through ``float()``/``int()`` before formatting, so the
    numpy-scalar vs Python-native difference between the two
    iteration styles cannot reach the serialization -- but ~20x
    faster, which is what makes sf10-scale (million-row) results
    hashable in seconds instead of tens of minutes."""
    cols = sorted(pdf.columns)
    if len(pdf):
        col_vals = [[canon_value(v) for v in pdf[c].tolist()]
                    for c in cols]
        rows = ["\x1f".join(vals) for vals in zip(*col_vals)]
    else:
        rows = []
    rows.sort()
    h = hashlib.sha256()
    h.update(("\x1e".join(cols)).encode())
    for r in rows:
        h.update(b"\x1e")
        h.update(r.encode())
    return h.hexdigest(), cols


def dtype_kinds(pdf: pd.DataFrame) -> dict[str, str]:
    return {c: pdf[c].dtype.kind for c in pdf.columns}


def kind_drift_failures(spdf: pd.DataFrame, dpdf: pd.DataFrame
                        ) -> list[str]:
    """Null-free columns whose dtype kinds disagree on int-vs-float.

    The driver serializes raw pandas values, so ``123`` (int64) vs
    ``123.0`` (float64) hash-mismatches even when values are equal.
    Columns containing NULLs are exempt: pandas widens BOTH engines'
    sides to float64 there, so the representations agree.
    """
    bad = []
    for c in sorted(set(spdf.columns) & set(dpdf.columns)):
        sk, dk = spdf[c].dtype.kind, dpdf[c].dtype.kind
        if {sk, dk} == {"i", "f"} or {sk, dk} == {"u", "f"}:
            if not spdf[c].isna().any() and not dpdf[c].isna().any():
                bad.append(f"{c}={sk}/{dk}")
    return bad


def main() -> int:
    args = [a for a in sys.argv[1:]
            if a not in ("--vanilla", "--forgiving")]
    vanilla = "--vanilla" in sys.argv[1:]
    forgiving = "--forgiving" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

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
    if vanilla:
        # replicate the DRIVER's environment: a bare SparkSession with
        # none of session.get_spark's tuning -- correctness must not
        # depend on our own builder (registry._prepare_session applies
        # the per-entry hygiene under ANY session)
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[*]")
                 .appName("hash-parity-vanilla").getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
    else:
        spark = get_spark("hash-parity")

    n_ok = n_fail = n_noracle = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
            clear_scratch(spark)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            n_noracle += 1
            print(f"ROWS  {name}: no oracle [{time.time()-t0:.1f}s]")
            continue
        try:
            dpdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        sh, scols = canon_hash(spdf)
        dh, dcols = canon_hash(dpdf)
        notes = []
        sk, dk = dtype_kinds(spdf), dtype_kinds(dpdf)
        for c in sorted(set(sk) & set(dk)):
            if sk[c] != dk[c]:
                notes.append(f"dtype:{c}={sk[c]}/{dk[c]}")
        note = (" " + ",".join(notes)) if notes else ""
        drift = [] if forgiving else kind_drift_failures(spdf, dpdf)
        if sh == dh and drift:
            n_fail += 1
            print(f"KIND  {name}: int-vs-float drift on null-free "
                  f"column(s) {','.join(drift)} -- values match but "
                  f"the driver gate would red this "
                  f"[{time.time()-t0:.1f}s]")
        elif sh == dh:
            n_ok += 1
            print(f"OK    {name}: hash={sh[:12]}{note} "
                  f"[{time.time()-t0:.1f}s]")
        else:
            n_fail += 1
            detail = ""
            if scols != dcols:
                detail = f" cols spark={scols} duck={dcols}"
            else:
                # surface the first differing canonical row
                srows = sorted("\x1f".join(
                    canon_value(r[c]) for c in scols)
                    for _, r in spdf.reindex(scols, axis=1).iterrows())
                drows = sorted("\x1f".join(
                    canon_value(r[c]) for c in dcols)
                    for _, r in dpdf.reindex(dcols, axis=1).iterrows())
                for a, b in zip(srows, drows):
                    if a != b:
                        detail = (f" first-diff spark={a.split(chr(31))} "
                                  f"duck={b.split(chr(31))}")
                        break
                else:
                    if len(srows) != len(drows):
                        detail = f" nrows {len(srows)} vs {len(drows)}"
            print(f"HASH  {name}: MISMATCH{note}{detail} "
                  f"[{time.time()-t0:.1f}s]")
    print(f"\n{n_ok} ok, {n_fail} hash-fail, {n_noracle} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
