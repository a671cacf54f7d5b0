"""Measure partition skew of the hot-path shuffles at a real scale
factor (VERDICT round 3 item 4).

For each hot path, rebuild the DataFrame that feeds its PRIMARY
exchange, hash-repartition it on the actual shuffle key (what the real
Exchange does), and report the rows-per-partition histogram --
max/mean ratio is the number that predicts straggler tasks at 1000
executors.  Results are pasted into SCALE.md §Measured skew.

Usage: python tools/measure_skew.py [sf_dir] [n_partitions]
"""

from __future__ import annotations

import statistics
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def hist_stats(name: str, key_desc: str, df, keys, n_parts: int) -> str:
    from graphdb_cia_factbook_spark.plans import partition_histogram
    h = [c for c in partition_histogram(
        df.repartition(n_parts, *keys)) if True]
    total = sum(h)
    nonzero = [c for c in h if c]
    mx = max(h) if h else 0
    mean = total / len(h) if h else 0.0
    p99 = (sorted(h)[max(0, int(len(h) * 0.99) - 1)] if h else 0)
    ratio = (mx / mean) if mean else 0.0
    line = (f"| {name} | {key_desc} | {total:,} | {len(nonzero)}/{len(h)} "
            f"| {mx:,} | {mean:,.0f} | {p99:,} | {ratio:.2f}x |")
    print(line)
    return line


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_parts = int(sys.argv[2]) if len(sys.argv) > 2 else 32

    from graphdb_cia_factbook_spark.operators.dedup import (
        lsh_bands,
        minhash_signatures,
        shingle_sets,
    )
    from graphdb_cia_factbook_spark.operators.graph import build_trade_graph
    from graphdb_cia_factbook_spark.operators.similarity import (
        _nearest_centroids,
        lloyd_refine,
    )
    from graphdb_cia_factbook_spark.session import clear_scratch, get_spark
    from graphdb_cia_factbook_spark.sources import read_parallel, read_table

    spark = get_spark("measure-skew")
    print(f"sf_dir={sf_dir} partitions={n_parts}")
    print("| shuffle | key | rows | used/parts | max | mean | p99 | "
          "max/mean |")
    print("|---|---|---|---|---|---|---|---|")

    docs = read_parallel(spark, sf_dir, "documents")

    # 1. MinHash: shingle rows -> per-doc signature agg (key = doc_id)
    sh = shingle_sets(docs, "doc_id", "text", 3)
    hist_stats("minhash signature agg", "doc_id", sh, ["doc_id"], n_parts)
    clear_scratch(spark)

    # 2. MinHash-LSH: band rows -> bucket grouping (key = band, bucket)
    bands = lsh_bands(minhash_signatures(sh, "doc_id", 12), "doc_id", 4, 3)
    hist_stats("LSH bucket grouping", "(band, bucket)", bands,
               ["band", "bucket"], n_parts)
    clear_scratch(spark)

    # 3. IVF: corpus list assignment -> probe equi-join (key = centroid)
    emb = read_parallel(spark, sf_dir, "embeddings")
    cents = (emb.where(F.col("vec_id") < 16)
             .select(F.col("vec_id").alias("centroid_id"),
                     F.col("embedding").alias("__cent")))
    cents = lloyd_refine(emb, cents, 1, "vec_id", "embedding")
    assign = _nearest_centroids(emb, cents, "neighbor_id", 1,
                                "vec_id", "embedding")
    hist_stats("IVF probe join (corpus side)", "centroid_id", assign,
               ["centroid_id"], n_parts)
    clear_scratch(spark)

    # 4. PageRank superstep: edge contributions -> dst aggregate
    g = build_trade_graph(spark, sf_dir)
    hist_stats("PageRank dst aggregate", "dst", g.edges, ["dst"], n_parts)
    clear_scratch(spark)

    # 5. Trade-graph build: the one fact-fact shuffle (key = orderkey)
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    hist_stats("graph build fact join", "l_orderkey", li,
               ["l_orderkey"], n_parts)


if __name__ == "__main__":
    main()
