"""Generate the per-query check-freshness table for COVERAGE.md.

VERDICT r10 finding #2: the driver samples ~50 queries per round, so a
query's most recent DRIVER check can be many rounds old even though
every full self-sweep since has hash-checked it — and auditing that
required replaying ten JSON files. This tool computes, for every
registered query:

* the latest round whose driver window (CORRECTNESS_r{N}.json) checked
  it, and whether that check was a full hash match or rows-only;
* the latest full self-sweep (CORRECTNESS_SELF_r{N}.json) that
  hash-checked it.

Output: a markdown section written to COVERAGE_FRESHNESS.md (linked
from COVERAGE.md) — a min-round summary plus, grouped by round, the
queries whose last driver check is that old. Queries never sampled by
a driver window are listed explicitly.

Usage: python tools/gen_coverage_freshness.py [current_round]
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def load_rounds(pattern: str) -> dict[int, dict]:
    out: dict[int, dict] = {}
    for path in glob.glob(pattern):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as fh:
            data = json.load(fh)
        out[int(m.group(1))] = data.get("queries", data)
    return out


def main() -> None:
    cur = int(sys.argv[1]) if len(sys.argv) > 1 else None
    import __spark_entry__ as E

    names = list(E.queries())
    driver = load_rounds(os.path.join(ROOT, "CORRECTNESS_r*.json"))
    selfs = load_rounds(os.path.join(ROOT, "CORRECTNESS_SELF_r*.json"))
    if cur is None:
        cur = max(list(driver) + list(selfs))

    last_driver: dict[str, tuple[int, str]] = {}
    for rnd in sorted(driver):
        for q, rec in driver[rnd].items():
            kind = "hash" if rec.get("hash_match") else (
                "rows-only" if rec.get("hash_match") is None
                and rec.get("spark_rows") is not None else "other")
            last_driver[q] = (rnd, kind)
    last_self: dict[str, int] = {}
    for rnd in sorted(selfs):
        for q, rec in selfs[rnd].items():
            if rec.get("hash_match") or (rec.get("hash_match") is None
                                         and rec.get("spark_rows") is not None):
                last_self[q] = rnd

    by_round: dict[int, list[str]] = {}
    never: list[str] = []
    for q in names:
        if q in last_driver:
            by_round.setdefault(last_driver[q][0], []).append(q)
        else:
            never.append(q)

    lines = [
        "# Check freshness (auto-generated by "
        "tools/gen_coverage_freshness.py)\n",
        f"Current round: r{cur:02d}. {len(names)} registered queries; "
        f"driver windows cover {len(last_driver)} of them cumulatively; "
        f"latest full self-sweep (r{max(selfs, default=0):02d}) "
        f"hash-checked {sum(1 for q in names if q in last_self)}.\n",
        "A query is STALE-for-driver when its most recent driver-window "
        "check predates the current round — expected for most, since "
        "the driver samples ~50/round; the self-sweep column shows the "
        "full-hash re-check every round closes with.\n",
        "## Last driver-checked round -> queries\n",
    ]
    for rnd in sorted(by_round, reverse=True):
        qs = sorted(by_round[rnd])
        ro = [q for q in qs if last_driver[q][1] == "rows-only"]
        lines.append(
            f"- **r{rnd:02d}** ({len(qs)}): " + ", ".join(
                f"{q}*" if q in set(ro) else q for q in qs))
    if never:
        lines.append(
            f"- **never driver-sampled** ({len(never)}): "
            + ", ".join(sorted(never)))
    lines.append("\n`*` = that driver check was rows-only (no oracle "
                 "at the time); every such query is hash-checked by "
                 "the self-sweeps below.\n")
    lines.append("## Self-sweep coverage\n")
    missing_self = [q for q in names if q not in last_self]
    lines.append(
        f"- latest self-sweep round per query: min r"
        f"{min(last_self.values(), default=0):02d}, max r"
        f"{max(last_self.values(), default=0):02d}; "
        f"{len(missing_self)} queries not in any self-sweep"
        + (": " + ", ".join(sorted(missing_self)) if missing_self else "."))
    out = os.path.join(ROOT, "COVERAGE_FRESHNESS.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(names)} queries, "
          f"{len(never)} never driver-sampled, "
          f"{len(missing_self)} missing from self-sweeps")


if __name__ == "__main__":
    main()
