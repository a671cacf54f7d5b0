"""Cross-check the prose ledgers' cumulative claims against artifacts.

Round-10's one judge-flagged defect was a ledger line that counted a
PENDING receipt as landed (SCALE.md claimed a 349/349 sf10 ledger
while the `llm_ngram_jaccard` DuckDB rerun was still in flight).
Receipts are this repo's whole epistemology, so the class gets a
mechanical check, not just a one-time correction:

1. **Official ledger recompute** -- fold all CORRECTNESS_r*.json
   files to each entry's LATEST record and assert: every registry
   entry recorded, zero latest-record reds, no phantom entries
   (recorded but not in the registry).  Prints the oldest record's
   round so rotation claims ("no record predates rN") are checkable.
2. **Citation existence** -- every ``tools/<name>.py`` cited in
   SCALE.md / COVERAGE.md / README.md must exist; a receipt line
   naming a tool that was never committed is an overclaim.
3. **Claim-vs-recompute guard** -- every ``N/349`` or ``N of 349``
   cumulative-official claim in the ledgers must not EXCEED the
   recomputed green count (claims below it are history, fine;
   claims above it are the round-10 defect).

Usage: python tools/ledger_audit.py   (exit 1 on any finding)
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LEDGERS = ("SCALE.md", "COVERAGE.md", "README.md")


def recompute_official(root: str = "/root/repo"):
    """Latest-record fold over all CORRECTNESS files.

    Returns (latest: {name: (round, green)}, greens, reds)."""
    latest = {}
    for f in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", f).group(1))
        for name, rec in json.load(open(f)).items():
            green = (bool(rec.get("rows_match"))
                     and rec.get("schema_match") is not False
                     and rec.get("hash_match") is not False
                     and not rec.get("err"))
            latest[name] = (rnd, green)
    greens = sum(1 for _, g in latest.values() if g)
    reds = [n for n, (_, g) in latest.items() if not g]
    return latest, greens, reds


def audit(root: str = "/root/repo") -> list[str]:
    """Returns a list of findings (empty == ledgers are honest)."""
    findings: list[str] = []

    import __spark_entry__ as entrymod
    registry = set(entrymod.queries())
    latest, greens, reds = recompute_official(root)

    missing = sorted(registry - set(latest))
    phantom = sorted(set(latest) - registry)
    if missing:
        findings.append(f"never officially recorded: {missing}")
    if phantom:
        findings.append(f"recorded but not in registry: {phantom}")
    if reds:
        findings.append(f"latest-record reds: {sorted(reds)}")

    for ledger in LEDGERS:
        path = os.path.join(root, ledger)
        txt = open(path).read()
        for tool in sorted(set(re.findall(r"tools/([a-z0-9_]+\.py)", txt))):
            if not os.path.exists(os.path.join(root, "tools", tool)):
                findings.append(f"{ledger} cites missing tools/{tool}")
        n_reg = len(registry)
        for m in re.finditer(
                rf"(\d+)\s*(?:/|of)\s*{n_reg}\b", txt):
            claimed = int(m.group(1))
            if claimed > greens:
                findings.append(
                    f"{ledger} claims {claimed}/{n_reg} but recompute "
                    f"says {greens} green")
    return findings


def main() -> int:
    latest, greens, reds = recompute_official()
    oldest = min(r for r, _ in latest.values()) if latest else None
    findings = audit()
    print(f"official recompute: {greens}/{len(latest)} green, "
          f"{len(reds)} red, oldest record r{oldest}")
    if findings:
        for f in findings:
            print("FINDING:", f)
        return 1
    print("ledger audit clean: every citation exists, no cumulative "
          "claim exceeds the recomputed ledger")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
