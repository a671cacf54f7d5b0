"""Exercise ``near_dup_pairs_arrow`` at a production ``nbits`` once
(VERDICT round 10, item 6).

Every oracle run uses nbits=4 (16 buckets < 32 cores, so the
bucket-parallelism RuntimeWarning fires -- correct at oracle scale),
which means no receipt has ever shown the kernel at the docstring's
"production sizes nbits ~ log2(N / target_bucket)" where one-task-
per-bucket parallelism is real.  This tool runs the kernel at
nbits=4 (the oracle point) and a production point (default 10: 1024
buckets >= the host's 32 cores) in ONE fresh session and reports:

- pair counts at both points and EXACT recall: ``sign_signature``
  takes the signs of the FIRST nbits dimensions (nested prefixes),
  so bucket agreement at nbits=10 implies agreement at nbits=4 and
  pairs@10 is a strict subset of pairs@4 -- recall is
  ``|pairs@10| / |pairs@4|`` with no estimation;
- wall time per point (min of N interleaved passes, the bench
  posture, so host drift cancels in the comparison);
- whether the parallelism warning fired (it must NOT at the
  production point on this host).

Usage: python tools/nbits_receipt.py [sf_dir] [nbits_prod] [passes]
       (defaults: /root/repo/scratch/sf1, 10, 3)
"""

from __future__ import annotations

import os
import sys
import time
import warnings

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/repo/scratch/sf1"
    nbits_prod = int(args[1]) if len(args) > 1 else 10
    passes = int(args[2]) if len(args) > 2 else 3

    from graphdb_cia_factbook_spark.operators.similarity import (
        near_dup_pairs_arrow)
    from graphdb_cia_factbook_spark.queries_llm import _EMBED_DIM
    from graphdb_cia_factbook_spark.session import (clear_scratch,
                                                    get_spark)
    from graphdb_cia_factbook_spark.sources import read_parallel

    spark = get_spark("nbits-receipt")
    emb = read_parallel(spark, sf_dir, "embeddings")
    n_vec = emb.count()
    par = spark.sparkContext.defaultParallelism
    print(f"{n_vec} vectors, defaultParallelism={par}, "
          f"points: nbits=4 (oracle) vs nbits={nbits_prod} "
          f"(production, {1 << nbits_prod} buckets)", flush=True)

    results: dict[int, dict] = {}
    for nbits in (4, nbits_prod):
        results[nbits] = {"times": [], "pairs": None, "warned": False}
    # interleave passes so host drift cancels in the comparison
    for p in range(passes):
        for nbits in (4, nbits_prod):
            clear_scratch(spark)
            with warnings.catch_warnings(record=True) as w:
                warnings.simplefilter("always")
                t0 = time.perf_counter()
                rows = near_dup_pairs_arrow(
                    emb, threshold=0.35, dim=_EMBED_DIM,
                    nbits=nbits).count()
                dt = time.perf_counter() - t0
            rec = results[nbits]
            rec["times"].append(round(dt, 3))
            rec["warned"] = rec["warned"] or any(
                issubclass(x.category, RuntimeWarning) for x in w)
            if rec["pairs"] is None:
                rec["pairs"] = rows
            elif rec["pairs"] != rows:
                print(f"UNSTABLE: nbits={nbits} pass {p} gave {rows} "
                      f"!= {rec['pairs']}")
                return 1

    p4, pp = results[4], results[nbits_prod]
    recall = pp["pairs"] / p4["pairs"] if p4["pairs"] else float("nan")
    print(f"nbits=4:  pairs={p4['pairs']} times={p4['times']} "
          f"min={min(p4['times'])}s warned={p4['warned']}")
    print(f"nbits={nbits_prod}: pairs={pp['pairs']} times={pp['times']} "
          f"min={min(pp['times'])}s warned={pp['warned']}")
    print(f"recall@nbits={nbits_prod} vs nbits=4: {recall:.4f} "
          f"(exact -- nested sign prefixes make pairs@{nbits_prod} "
          f"a subset of pairs@4)")
    if pp["warned"]:
        print("FINDING: parallelism warning fired at the production "
              "point -- host cores exceed bucket count")
        return 1
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
