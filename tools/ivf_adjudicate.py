"""Adjudicate the open llm_ann_ivf bench question (VERDICT rounds 8-9).

``llm_ann_ivf`` is the only registry entry >30% slower than its
round-1 anchor (1.56s -> ~2.4-2.5s since round 5).  The standing
hypothesis: round 5 added the deterministic Lloyd refinement pass
(``similarity.lloyd_refine``, one full corpus scan + decimal-exact
centroid means per iteration) to make the IVF quantizer reproducible
by a generated DuckDB oracle -- a correctness feature with a real
price.  This tool CONFIRMS OR REFUTES that attribution on a clean
host by interleaving bench-style passes of

- A: the registry entry exactly as benched (``lloyd_iters=1``), and
- B: the identical pipeline with ``lloyd_iters=0`` (the round-1-era
  seeded-centroids shape -- ``lloyd_refine`` with 0 iters returns the
  seeded table untouched, so B is a faithful counterfactual),

in ONE fresh session with ``clear_scratch`` between passes (the bench
harness's interleaved min-of-N posture: the host's burst throttling
inflates individual passes; the min is the honest value).

Usage: python tools/ivf_adjudicate.py [sf_dir] [n_passes]
       (defaults: /root/testdata/sf0.1, 6)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 6

    from graphdb_cia_factbook_spark.operators.similarity import ivf_topk
    from graphdb_cia_factbook_spark.queries_llm import (
        _IVF_K, _IVF_LLOYD, _IVF_NPROBE)
    from graphdb_cia_factbook_spark.registry import queries
    from graphdb_cia_factbook_spark.session import clear_scratch, get_spark
    from graphdb_cia_factbook_spark.sources import read_parallel

    spark = get_spark("ivf-adjudicate")
    entry = queries()["llm_ann_ivf"]

    def run_a() -> float:
        t0 = time.perf_counter()
        entry(spark, sf).collect()
        return time.perf_counter() - t0

    def run_b() -> float:
        t0 = time.perf_counter()
        emb = read_parallel(spark, sf, "embeddings")
        ivf_topk(emb, emb.where(F.col("vec_id") < 8), k=3,
                 n_centroids=_IVF_K, nprobe=_IVF_NPROBE,
                 lloyd_iters=0).collect()
        return time.perf_counter() - t0

    # warm the JIT/scan caches once per variant so pass 1 is not a
    # cold-start outlier (bench.py warms via its first pass; here we
    # discard it explicitly)
    run_a(); clear_scratch(spark)
    run_b(); clear_scratch(spark)

    a, b = [], []
    for _ in range(n):
        a.append(round(run_a(), 3)); clear_scratch(spark)
        b.append(round(run_b(), 3)); clear_scratch(spark)

    lloyd_price = min(a) - min(b)
    print(json.dumps({
        "sf": sf, "passes": n,
        "lloyd1_entry_passes": a, "lloyd1_min": min(a),
        "lloyd0_counterfactual_passes": b, "lloyd0_min": min(b),
        "lloyd_price_sec": round(lloyd_price, 3),
        "anchor_r1": 1.564, "recent_r9": 2.489,
        "attribution_confirmed": bool(
            lloyd_price >= 0.5 * (2.489 - 1.564)),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
