"""Seeded input generator for the benchmark workloads.

Writes the ten tables the registry queries read (``region nation
customer supplier part orders lineitem events documents embeddings``)
as one parquet file each, with the schemas, value domains and row
counts of the engine's sf0.1 test tables times ``scale``.  Everything
but the two fixed dimension tables is drawn from ``--seed``, so trade
weights (lineitem prices), near-duplicate clusters (documents),
embedding geometry and every aggregate differ between seeds, while the
shape of the work (row counts, key fan-out, near-dup rate) stays fixed.

Properties the workloads rely on:

- referential integrity: every foreign key is drawn from its parent's
  key range, so joins fan out as at sf0.1;
- a constant near-dup rate: 5% of documents are a copy of an earlier
  document with one token appended (the `` dup`` suffix of the test
  tables), and the near-dup graph grows linearly with the corpus;
- unit-norm embeddings with a per-seed jitter around ten label centres.

``prepare`` also computes the DuckDB oracle answers of the named
registry queries once per generated dataset and caches them beside it.
The benchmark runs it in a child process, so neither the generator's
nor DuckDB's memory shows in the benchmark process's peak.

Usage: python3 perfbench/gen.py SEED SCALE OUT_DIR [QUERY ...]
"""

from __future__ import annotations

import os
import pickle
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: sf0.1 row counts; ``scale`` multiplies all but nation and region.
BASE_ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
             "orders": 150_000, "lineitem": 600_000, "events": 100_000,
             "documents": 5_000, "embeddings": 2_000, "users": 1_500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod",
             "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()


def _rows(name: str, scale: float) -> int:
    return max(1, int(round(BASE_ROWS[name] * scale)))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(seed: int, scale: float, out: str) -> None:
    """Write every table for (seed, scale) into ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    n = _rows("customer", scale)
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)]})
    n_cust = n

    n = _rows("supplier", scale)
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n_supp = n

    n = _rows("part", scale)
    keys = np.arange(n)
    _write(out, "part", {
        "p_partkey": pa.array(keys, i64),
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    n_part = n

    n = _rows("orders", scale)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]})
    n_ord = n

    n = _rows("lineitem", scale)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n)})

    n = _rows("events", scale)
    month_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts,
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, _rows("users", scale), n), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    n = _rows("documents", scale)
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), m)])
             for m in lengths]
    # near-dups: a copy of an earlier document plus one token
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    n = _rows("embeddings", scale)
    labels = rng.integers(0, 10, n)
    centres = rng.normal(0.0, 0.03, (10, 64))
    vecs = centres[labels] + rng.normal(0.0, 0.125, (n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(vecs.astype("float32")),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


def _oracle_answers(data: str, names: list[str]) -> None:
    """Add the DuckDB answers of ``names`` missing from
    ``data/oracles.pkl``."""
    path = os.path.join(data, "oracles.pkl")
    cached = {}
    if os.path.isfile(path):
        with open(path, "rb") as f:
            cached = pickle.load(f)
    missing = [n for n in names if n not in cached]
    if not missing:
        return
    import duckdb

    from graphdb_cia_factbook_spark import registry
    from tools.check_oracle import TABLES

    oracle_sql = registry.oracle_sql()
    con = duckdb.connect()
    con.execute("SET preserve_insertion_order=false")
    con.execute("SET threads=%d" % len(os.sched_getaffinity(0)))
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    for n in missing:
        cached[n] = con.execute(oracle_sql[n]).fetchdf()
    con.close()
    with open(path + ".tmp", "wb") as f:
        pickle.dump(cached, f)
    os.replace(path + ".tmp", path)


def prepare(seed: int, scale: float, out: str, names: list[str]) -> None:
    """Tables for (seed, scale) in ``out`` unless already complete, and
    the oracle answers of ``names`` beside them."""
    if not os.path.isfile(os.path.join(out, "_SUCCESS")):
        partial = out + ".partial"
        shutil.rmtree(partial, ignore_errors=True)
        generate(seed, scale, partial)
        open(os.path.join(partial, "_SUCCESS"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(partial, out)
    _oracle_answers(out, names)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    prepare(int(sys.argv[1]), float(sys.argv[2]), sys.argv[3], sys.argv[4:])
