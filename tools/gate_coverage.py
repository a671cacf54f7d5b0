"""Official-gate coverage ledger.

The driver's correctness gate records only the FIRST 50 registry
entries per round (CORRECTNESS_r{N}.json).  Rotating the gate each
round is how the whole registry eventually earns official rows; this
tool reads every CORRECTNESS file and reports, per registry entry,
its official status -- so the next rotation can be chosen from the
never-recorded pool instead of re-recording greens.

Usage: python tools/gate_coverage.py [--next K]
  --next K: print K never-recorded entries in registry order (the
            natural candidates for the next _GATE_PRIORITY rotation,
            after the current round's 50).
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    k = 0
    if "--next" in sys.argv:
        k = int(sys.argv[sys.argv.index("--next") + 1])

    import __spark_entry__ as entrymod
    names = list(entrymod.queries())

    # latest record per entry wins (rounds processed in order): a
    # later-round red on a previously-green entry is a REGRESSION and
    # must be reported, not masked by the old green
    latest: dict[str, tuple[str, bool]] = {}
    ever_green: dict[str, str] = {}
    for path in sorted(glob.glob("/root/repo/CORRECTNESS_r*.json")):
        rnd = os.path.basename(path)[len("CORRECTNESS_"):-len(".json")]
        with open(path) as f:
            rows = json.load(f)
        for name, rec in rows.items():
            ok = (rec.get("rows_match") and rec.get("schema_match")
                  and rec.get("hash_match", True) and not rec.get("err"))
            latest[name] = (rnd, bool(ok))
            if ok:
                ever_green.setdefault(name, rnd)
    green = {n for n, (_, ok) in latest.items() if ok}
    stale_red = {n: r for n, (r, ok) in latest.items() if not ok}
    regressed = sorted(n for n in stale_red if n in ever_green)
    never = [n for n in names if n not in latest]

    print(f"registry entries:        {len(names)}")
    print(f"official green (latest): {len([n for n in names if n in green])}")
    print(f"official red, unhealed:  {len(stale_red)} {sorted(stale_red)}")
    if regressed:
        print(f"REGRESSED (green earlier, red later): {regressed}")
    print(f"never recorded:          {len(never)}")
    if k:
        print(f"\nnext {k} rotation candidates (registry order):")
        for n in never[:k]:
            print(f"  {n}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
