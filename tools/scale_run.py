"""Scale-rung runner (VERDICT round 4 item 5).

Runs the hot-path queries at two scale factors (default sf0.1 and the
``tools/gen_scale.py``-generated sf1) and reports wall time plus the
rows-per-partition histogram of each result's final stage, so SCALE.md
can show measured -- not argued -- scaling behavior one rung above the
bench scale.

A query whose wall time grows ~linearly (<= ~1.5x the 10x data ratio
on a fixed 32-core box once fixed costs amortize) and whose partition
max/mean ratio stays flat has no hidden skew or superlinear shuffle;
that is the signature the 100-TB posture rests on.

Usage: python tools/scale_run.py [query ...] [--passes=N]
       [--rungs=name:dir,name:dir]   (default sf0.1 + scratch/sf1)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_QUERIES = ["q9_product_profit", "llm_curation_pipeline",
                   "llm_minhash_lsh", "llm_ann_ivf", "g1_pagerank"]
RUNGS = [("sf0.1", "/root/testdata/sf0.1"),
         ("sf1", "/root/repo/scratch/sf1")]


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    passes = 2
    rungs = RUNGS
    for a in sys.argv[1:]:
        if a.startswith("--passes"):
            passes = int(a.split("=", 1)[1])
        elif a.startswith("--rungs"):
            # --rungs=sf0.1:/root/testdata/sf0.1,sf10:/root/repo/scratch/sf10
            rungs = [tuple(r.split(":", 1))
                     for r in a.split("=", 1)[1].split(",")]
    names = args or DEFAULT_QUERIES

    import __spark_entry__ as entrymod
    from graphdb_cia_factbook_spark.session import clear_scratch, get_spark
    qs = entrymod.queries()
    spark = get_spark("scale-run")

    # host-health stamp (bench.calibrate: fixed sha256 work) printed
    # before and after so a throttled ladder run is visible in the
    # SCALE.md receipt, same contract as bench.py round 6
    from bench import calibrate
    cal0 = calibrate()
    print(f"calibration before: {cal0}s")

    print("| query | rung | rows | best sec | parts used | part max/mean |")
    print("|---|---|---|---|---|---|")
    results = {}
    for name in names:
        fn = qs[name]
        # untimed warmup at the smallest rung: first execution of a
        # query in a session pays one-time JIT/codegen cost (measured
        # 5.4s vs 0.7s warm on g_triangles) that would otherwise land
        # entirely in the first rung's timings and fake a sub-1x ratio
        clear_scratch(spark)
        fn(spark, rungs[0][1]).count()
        for rung, sf_dir in rungs:
            best, rows, pstats = None, 0, ""
            for _ in range(passes):
                clear_scratch(spark)
                t0 = time.time()
                df = fn(spark, sf_dir)
                rows = df.count()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            # partition histogram of the final result (one extra pass)
            hist = (df.rdd.glom().map(len).collect())
            nz = [c for c in hist if c]
            mean = (sum(hist) / len(hist)) if hist else 0
            mx = max(hist) if hist else 0
            ratio = (mx / mean) if mean else 0.0
            pstats = f"{len(nz)}/{len(hist)}"
            print(f"| {name} | {rung} | {rows:,} | {best:.2f} | "
                  f"{pstats} | {ratio:.2f}x |", flush=True)
            results[(name, rung)] = best
        base_rung, top_rung = rungs[0][0], rungs[-1][0]
        r_lo = results.get((name, base_rung))
        r_hi = results.get((name, top_rung))
        if r_lo and r_hi and base_rung != top_rung:
            print(f"--  {name}: {top_rung}/{base_rung} wall ratio = "
                  f"{r_hi / r_lo:.2f}x", flush=True)

    cal1 = calibrate()
    print(f"calibration after: {cal1}s "
          f"(ratio {max(cal0, cal1) / min(cal0, cal1):.2f}x)")


if __name__ == "__main__":
    main()
