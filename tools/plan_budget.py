"""Per-entry physical-plan budget: the scan/shuffle regression gate.

The round-4 scan audit (SCALE.md) found three registry entries
re-reading the same corpus for first-occurrence bookkeeping; all three
were rewritten to one-scan/one-shuffle plans.  That audit was a one-off
sweep -- this tool makes it durable.  For every registry entry it
builds the DataFrame at sf0.001 (no execution beyond what the builder
itself does), extracts the physical plan, and records the
scale-discipline metrics:

- ``scans``     -- parquet scans ("simple" mode counts each node once);
- ``shuffles``  -- DATA exchanges (hash/range partitioning; the
  round-robin REPARTITION_BY_NUM that ``read_parallel`` injects to
  parallelize a single-file local scan is excluded, matching
  tests/test_plans._data_shuffles);
- ``broadcasts``-- BroadcastExchange nodes (cheap at 100 TB only while
  the broadcast side is dimension-sized; a regression from 0 is worth
  reviewing);
- ``python``    -- Arrow/Python eval nodes (MapInPandas, MapInArrow
  etc.; only the whitelisted entries of
  tests/test_plans.test_no_python_row_udfs_in_catalyst_paths may have
  any).

Against ``PLAN_BUDGET.json`` (checked in), any entry whose scans,
shuffles, or python count EXCEEDS its budget fails -- the shape of the
bug this exists to catch is an edit that quietly re-introduces a
join-back (extra scan + exchange) or a Python fallback into a Catalyst
path.  Counts BELOW budget print as improvements; ``--update`` rewrites
the budget (review the diff in git).

Builders that EXECUTE on construction (the checkpointed dedup
pipelines) return lineage-truncated plans whose counts are legal but
meaningless; they are skipped with a note, same set as
tests/test_plans.py.

Usage: python tools/plan_budget.py [--update] [sf_dir] [name ...]
Exit 1 on any budget excess (or, without --update, on entries missing
from the budget file).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BUDGET_PATH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "PLAN_BUDGET.json")

#: builders that execute on construction (see tests/test_plans.py) --
#: their returned plan is a truncated RDD scan, not the real dataflow.
#: agg_skyline and agg_equidepth_histogram _hold/localCheckpoint an
#: intermediate, so their visible counts are partial (the eager
#: customer-join / histogram stage is invisible): skipped rather than
#: stamped, per this file's own 'legal but meaningless' rule.
EAGER = {"llm_minhash_lsh", "llm_ngram_jaccard",
         "agg_skyline", "agg_equidepth_histogram"}

PY_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
            "MapInArrow", "FlatMapGroupsInPandas",
            "FlatMapGroupsInPandasWithState")


def _explain(df, mode: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def plan_metrics(df) -> dict[str, int]:
    simple = _explain(df, "simple")
    formatted = _explain(df, "formatted")
    return {
        "scans": simple.count("Scan parquet"),
        "shuffles": (formatted.count("Arguments: hashpartitioning")
                     + formatted.count("Arguments: rangepartitioning")),
        "broadcasts": simple.count("BroadcastExchange"),
        "python": sum(simple.count(n) for n in PY_NODES),
    }


def main() -> int:
    update = "--update" in sys.argv[1:]
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    import __spark_entry__ as entrymod
    from graphdb_cia_factbook_spark.session import clear_scratch, get_spark
    qs = entrymod.queries()
    spark = get_spark("plan-budget")

    budget: dict[str, dict[str, int]] = {}
    if os.path.exists(BUDGET_PATH):
        with open(BUDGET_PATH) as f:
            budget = json.load(f)

    current: dict[str, dict[str, int]] = {}
    n_over = n_under = n_err = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name in EAGER:
            print(f"SKIP  {name}: eager builder (lineage truncated)")
            continue
        try:
            m = plan_metrics(fn(spark, sf_dir))
            clear_scratch(spark)
        except Exception as e:  # noqa: BLE001
            n_err += 1
            print(f"ERR   {name}: {e}")
            continue
        current[name] = m
        b = budget.get(name)
        if b is None:
            status = "NEW "
        else:
            over = {k: (m[k], b[k]) for k in ("scans", "shuffles", "python")
                    if m[k] > b.get(k, 0)}
            under = {k: (m[k], b[k]) for k in m if m[k] < b.get(k, m[k])}
            if over:
                n_over += 1
                print(f"OVER  {name}: " + ", ".join(
                    f"{k} {got} > budget {want}"
                    for k, (got, want) in over.items()))
                continue
            if under:
                n_under += 1
                status = "DOWN"
            else:
                status = "OK  "
        print(f"{status}  {name}: scans={m['scans']} "
              f"shuffles={m['shuffles']} bcast={m['broadcasts']} "
              f"py={m['python']}")

    # budget keys no longer in the registry -- or now EAGER-skipped
    # (their stamped counts would be lineage-truncated) -- are stale
    # whatever mode we're in: prune on --update, report otherwise
    stale = sorted(n for n in budget if n not in qs or n in EAGER)

    if update:
        merged = dict(budget)
        merged.update(current)
        for n in stale:
            del merged[n]
        if stale:
            print(f"\npruned {len(stale)} stale budget entries "
                  f"(dropped from registry or EAGER-skipped): {stale}")
        with open(BUDGET_PATH, "w") as f:
            json.dump(dict(sorted(merged.items())), f, indent=1)
        print(f"\nwrote {len(merged)} budgets -> {BUDGET_PATH}")
        return 1 if n_err else 0

    missing = [n for n in current if n not in budget]
    if missing:
        print(f"\n{len(missing)} entries missing from budget "
              f"(run --update): {missing[:10]}...")
    if stale:
        print(f"{len(stale)} stale budget entries "
              f"(pruned on next --update): {stale}")
    print(f"\n{n_over} over budget, {n_under} improved, {n_err} errors")
    return 1 if (n_over or n_err or missing) else 0


if __name__ == "__main__":
    raise SystemExit(main())
